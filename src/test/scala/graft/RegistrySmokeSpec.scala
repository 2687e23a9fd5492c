package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.util.control.NonFatal

/** Registry-construction smoke gate (round-9 post-mortem).
  *
  * A silent testdata regeneration changed events.ts from INT64 nanos
  * to TIMESTAMP(MICROS) and zeroed 73 driver queries with no local
  * signal: every query failed at PLAN CONSTRUCTION, which nothing
  * exercised cheaply. This spec constructs every registry query
  * against each available sf dir and forces analysis ONLY (no jobs,
  * no actions) — seconds of wall-clock — and on failure names the
  * offending query plus the raw parquet dtypes of the events table,
  * so the next input-schema drift is a one-line diagnosis.
  *
  * The streaming family's registry fns drain a real stream when
  * called, so the sweep covers their SOURCE construction instead
  * (StreamingQueries.eventStream, exposed package-private for this):
  * that is exactly the path that broke in round 9.
  */
class RegistrySmokeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  // batch constructions may run small bounded jobs (keyset cursor
  // fetch, sink roundtrip writes), so the full sweep runs on the
  // smallest SF only; the per-table contract checks in Tables fire on
  // whichever dir a query touches, and the cheap source-level checks
  // below cover every generated dir.
  private val smallSf = "/root/testdata/sf0.001"
  // ALL three driver-generated dirs, asserted present — a missing dir
  // must fail the gate loudly, not silently shrink the sweep (this
  // spec exists because round 9's drift had no local signal; a
  // vacuous pass would recreate that hole).
  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")

  test("the driver-generated testdata dirs exist (TESTDATA.md contract)") {
    val missing = sfDirs.filterNot(d => new java.io.File(d).isDirectory)
    assert(missing.isEmpty,
      s"testdata dirs missing: ${missing.mkString(", ")} — the smoke " +
        "gate cannot run; was the testdata tree moved or regenerated?")
  }

  private def eventsDtypes(dir: String): String =
    try spark.read.parquet(s"$dir/events.parquet").schema.simpleString
    catch { case NonFatal(e) => s"<unreadable: ${e.getMessage}>" }

  test("every batch registry query analyzes against sf0.001") {
    val skip = (n: String) => n.startsWith("ev_stream_")
    for ((name, qd) <- SparkEntry.registry.toSeq.sortBy(_._1) if !skip(name)) {
      try qd.fn(spark, smallSf).queryExecution.assertAnalyzed()
      catch { case NonFatal(e) =>
        fail(s"query '$name' fails analysis against $smallSf: " +
          s"${e.getMessage}\nevents file schema: ${eventsDtypes(smallSf)}", e)
      }
    }
  }

  test("query construction runs Spark jobs ONLY in the documented sink/merge set") {
    // The wart list, frozen: sink/merge/MV roundtrips WRITE during
    // construction (the write IS the operator under test) and the
    // incremental-dedup pair needs its corpus fingerprint table
    // materialized. Every other constructor must be plan-only — the
    // property that makes the analysis sweep above a real gate (a
    // construction that silently runs jobs is a construction whose
    // cost explodes with the table at 100 TB). This test DECLARES the
    // full set both ways: a new job-running constructor fails loud,
    // and an entry that stops running jobs must leave the list.
    // Runs after the analysis sweep, so per-dir caches are warm — the
    // audited state is steady-state construction. `allowed` is an
    // UPPER bound, not an exact set: a warm cluster cache or an
    // already-written sink output legitimately skips an entry's jobs
    // in a given sweep, so absence is not asserted — only that no
    // constructor OUTSIDE the documented set ever runs one.
    val allowed = Set(
      // sink/merge/MV roundtrips: the WRITE is the operator under test
      "k1_latest_wins", "k1_partition_pruned", "k1_cross_month_reconcile",
      "k1_sharded_merge",
      // builds + merges + RESHARDS an on-disk table (two geometry
      // generations) before the read-back aggregate
      "k1_reshard",
      // same, via the generation-pointer protocol: month-by-month
      // migration with mid-flight readMonthTable fingerprint probes —
      // every probe IS the reader-liveness property under test
      "k1_reshard_online",
      // same protocol with three merges injected mid-migration — the
      // merges ARE the writer-liveness property under test
      "k1_reshard_live_merge",
      "k2_json_roundtrip", "k3_csv_roundtrip", "k4_markdown_roundtrip",
      "k6_retention_drop", "k7_scd2_census", "s1_json_roundtrip",
      "s2_calendar_roundtrip", "s3_staging_roundtrip", "s5_table_copy",
      "d3_merge_log", "d4_merge_audit", "d5_snapshot_diff",
      "mv_incremental_refresh", "mv_retract_refresh",
      // bucketed/partitioned table SETUP writes (the layout under test)
      "j_bucket_colocated", "j_dpp_month",
      // iterative fixpoints: localCheckpoint per round is the lineage
      // bound that makes them 100TB-viable (Mining/Dedup/BpeCount docs)
      "pg_pagerank", "dd_canonical_docs", "dd_degree_cap", "ta_bpe_train",
      // r21: multiply-referenced bounded intermediates pinned once at
      // construction (skyline's per-bucket frontier, the triangle
      // census's edge/degree frames, Apriori's frequent-pair set) —
      // the dd_degree_cap discipline: each pin replaces 3-5
      // re-executions of the aggregation above a reused exchange
      "a19_skyline", "pg_triangles", "mb_frequent_triples",
      // bounded driver artifacts, each documented at its collect site:
      // Bloom bits (Bloom.scala), CMS table embed (Sketches.scala), IVF
      // centroid sample (Similarity.scala / IvfCentroids), LM count
      // table checkpoint (LmScore.scala), IDF table checkpoint
      // (TextAnalysis), corpus fingerprint table (Dedup incremental)
      "j_bloom_prefilter", "a22_heavy_hitters",
      "sim_ann_ivf", "sim_ann_lsh", "sim_cosine_fast",
      // persisted-index lifecycle: the build/append WRITES and the
      // probe's bounded probed-cell collect (≤ nlist) are the
      // operators under test
      "sim_index_build", "sim_index_probe", "sim_index_compact",
      "sim_index_probe_recall90",
      // liveness + latest-wins rows: the hooked maintenance ops and
      // the mid-flight fingerprint probes ARE the properties under test
      "sim_index_probe_live", "sim_index_append_update",
      "sim_ivf_nprobe_sweep", "sim_recall_report",
      // recall-curve + exact-pair checkpoint: bounded queries×k×nlist
      // artifacts each read twice (Similarity.knnJoinIvfAtRecall)
      "sim_knn_join_recall90",
      // same discipline for the PQ shortlist dial: the exact-scored
      // candidate table (<= queries×maxShortlist) and the exact pairs
      // are checkpointed, each feeding curve + returned pairs
      "sim_knn_join_pq_recall90",
      "dd_embedding_neardup",
      "ta_bigram_lm", "ta_lm_quality_filter", "ta_tfidf_topk",
      // NB count-table checkpoint (PipelineQueries ta_nb_classifier)
      "ta_nb_classifier",
      // LM table + bpb-histogram checkpoints (ta_lm_terciles two-pass)
      "ta_lm_terciles",
      // stem-dictionary checkpoints: the vocab barrier stops Catalyst
      // pushing the 70-regex stem filter below the distinct and
      // inferring it onto the probe side (TextQueries stem2 scaladoc)
      "t9_text_search_stem2",
      "dd_incremental_novel", "dd_incremental_neardup",
      "etl_shuffle_shards")
    val skip = (n: String) => n.startsWith("ev_stream_")
    val current = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // spark.read.parquet runs one O(1) "parquet at ..." job per
        // call to read a single footer for schema inference — metadata,
        // not a scan; every constructor pays it and it is not a wart
        val metadataOnly = js.stageInfos.nonEmpty &&
          js.stageInfos.forall(_.name.startsWith("parquet at "))
        if (!metadataOnly) current.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val ranJobs = scala.collection.mutable.SortedMap[String, Int]()
    try {
      for ((name, qd) <- SparkEntry.registry.toSeq.sortBy(_._1) if !skip(name)) {
        org.apache.spark.GraftListenerHooks
          .waitUntilListenerBusEmpty(spark.sparkContext)
        current.set(0)
        qd.fn(spark, smallSf)
        org.apache.spark.GraftListenerHooks
          .waitUntilListenerBusEmpty(spark.sparkContext)
        if (current.get() > 0) ranJobs(name) = current.get()
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val offenders = ranJobs.keySet -- allowed
    assert(offenders.isEmpty,
      s"constructors ran Spark jobs outside the documented set: " +
        offenders.map(n => s"$n(${ranJobs(n)})").mkString(", "))
  }

  test("every testdata table honors the Tables schema contract in each sf dir") {
    for (dir <- sfDirs;
         tbl <- Seq("lineitem", "orders", "customer", "supplier", "part",
                    "nation", "region", "events", "documents", "embeddings")) {
      try {
        if (tbl == "events") Tables.events(spark, dir)
        else Tables.t(spark, dir, tbl)
      } catch { case NonFatal(e) =>
        fail(s"table '$tbl' in $dir violates the schema contract: " +
          e.getMessage, e)
      }
    }
  }

  test("the stem2 dictionary collect is capped — a pathological vocab fails loud") {
    // The production cap is a frozen constant: changing it is a
    // deliberate decision, not drift.
    assert(graft.operators.TextQueries.stem2DictCap == 100000)
    import org.apache.spark.sql.functions._
    // consonant+digit tokens are stem2 fixpoints (no rule's [a-z]/vowel
    // pattern matches), so stem == tok and `terms` can name them
    // directly — the guard logic is exercised with a tiny cap instead
    // of materializing 100k+1 rows.
    val toks = (0 to 11).map(i => s"bcdn$i")
    val vocab = spark.createDataFrame(
      spark.sparkContext.parallelize(toks.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType.fromDDL("tok STRING"))
    val e = intercept[IllegalArgumentException] {
      graft.operators.TextQueries.collectStemDict(vocab, toks, cap = 10)
    }
    assert(e.getMessage.contains("stem2 dictionary exceeded"))
    // within the cap the complete matched set comes back (limit(cap+1)
    // never truncates a passing result)
    val ok = graft.operators.TextQueries.collectStemDict(
      vocab, toks, cap = toks.size)
    assert(ok.toSet == toks.toSet)
  }

  test("the streaming events source analyzes against each sf dir") {
    for (dir <- sfDirs) {
      try graft.streaming.StreamingQueries.eventStream(spark, dir)
        .queryExecution.assertAnalyzed()
      catch { case NonFatal(e) =>
        fail(s"streaming events source fails analysis against $dir: " +
          s"${e.getMessage}\nevents file schema: ${eventsDtypes(dir)}", e)
      }
    }
  }

  test("Probe rejects unknown rows by name before any session work") {
    val e = intercept[IllegalArgumentException](graft.tools.Probe.checkRows(
      Seq("q1_pricing_summary", "q1_pricing_sumary", "no_such_row",
        graft.tools.Probe.annProbe)))
    assert(e.getMessage.contains("q1_pricing_sumary"))
    assert(e.getMessage.contains("no_such_row"))
    assert(!e.getMessage.contains("q1_pricing_summary"))
    assert(!e.getMessage.contains(graft.tools.Probe.annProbe))
    graft.tools.Probe.checkRows(Seq("q1_pricing_summary"))
  }

  test("Probe measures a registry row with Bench's timing") {
    val laps = graft.tools.Probe.measure(spark, smallSf,
      Seq("q1_pricing_summary", graft.tools.Probe.annProbe), reps = 1)
    assert(laps.map(l => (l.rep, l.row, l.ok)) ==
      Seq((1, "q1_pricing_summary", true)))
    assert(laps.head.sec > 0)
  }
}
