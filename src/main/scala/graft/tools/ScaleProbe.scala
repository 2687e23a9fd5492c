package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Unify, V2Fixtures}

/** Scaling probe for the central adapter+scorer operator
  * (etl_unify_score): replicates the sf0.1 documents corpus N× with
  * offset doc_ids (pure column arithmetic — no testdata writes), runs
  * the FULL unify+score pipeline over every row (aggregated output, no
  * limit — nothing is skippable), and prints rows/sec per scale.
  *
  * What linear rows/sec across scales demonstrates: the operator is
  * one scan + one narrow repartition + per-row column algebra — no
  * join, no aggregation keyed on data values — so its cost is
  * O(rows/cores) with no term that grows with corpus size. That is
  * the shape that survives 100 TB; this probe is the measured
  * evidence at the scales this container can hold.
  *
  * A second probe (`minhash`) scales the MinHash-LSH candidate-pair
  * generation the same way: replicas get a per-replica text suffix so
  * they are NEAR-duplicates (shared shingles, distinct signatures) —
  * the realistic dedup load — and the probe reports pairs found per
  * second alongside rows/sec.
  *
  * A third probe (`funnel`) runs the FULL dedup funnel over the same
  * near-duplicate replicas: MinHash-LSH pairs → connected-component
  * clustering (rounds to convergence reported — the O(log diameter)
  * claim as data) → canonical-document selection. Replication by N
  * makes every base doc an N-clone cluster, so the funnel's output
  * must collapse back to ~base_rows canonical docs at every factor —
  * a correctness invariant riding along with the timing curve.
  *
  * Usage: runMain graft.tools.ScaleProbe [maxFactor] [sfDir] [probe]
  *   probe ∈ unify (default) | minhash | funnel | funnelcap | asof |
  *   merge | mergeshard | reshard | reshardonline | annprobe |
  *   annappend | anncompact |
  *   bpe | ppjoin | ppjoinz | pagerank | rolling | lm | nb |
  *   noveltyb | neardup | neardupb | neardupt |
  *   neardupcap | neardupauto | embedt | embedcap | curate | curatecap |
  *   ingest | ingestcap | ingestcapm | spandedup
  *   (`curate`/`curatecap` time ONE fixed 500-doc micro-batch through
  *   the composed five-gate chain against a factor-scaled curated
  *   corpus — the composition's cost curve, uncapped vs capped;
  *   the `ingest*` trio adds the topology's two extra actions —
  *   verdict-log write + month-pruned merge — against a factor-scaled
  *   events table, months constant vs scaled with the corpus)
  *   (`funnelcap` clones ONE doc ×factor — the adversarial duplicate
  *   cluster — through degree-capped clustering; the `neardup`/
  *   `neardupb` pair measures the standing near-dup gate's full-scan
  *   baseline vs its persistent-index layout as the table grows)
  */
object ScaleProbe {

  /** One measured factor: the probe's count in its unit, the timed
    * seconds, the probe's extra fields in print order (doubles print
    * to 10 ms), and the input rows where they are not base × factor.
    */
  private final case class Lap(n: Long, sec: Double,
      extras: Seq[(String, Any)] = Nil, inputRows: Option[Long] = None)

  def main(args: Array[String]): Unit = {
    val maxFactor = if (args.nonEmpty) args(0).toInt else 10
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val probe = if (args.length > 2) args(2) else "unify"
    graft.GraftSession.run()(sweep(_, maxFactor, sfDir, probe))
  }

  private def sweep(spark: SparkSession, maxFactor: Int, sfDir: String,
      probe: String): Unit = {
    val base = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val baseRows = base.count()

    def replicate(factor: Int, perturbText: Boolean) =
      // replicate via range-crossjoin (broadcast of a k-row range);
      // offsets keep doc_ids distinct while id-derived field variety
      // (mod-small-prime arithmetic) is preserved per replica
      if (factor == 1) base
      else base.crossJoin(broadcast(
          spark.range(factor).select(col("id").as("_rep"))))
        .select((col("doc_id") + col("_rep") * 10000000L).as("doc_id"),
          (if (perturbText)
             concat(col("text"), lit(" rep"), col("_rep").cast("string"))
           else col("text")).as("text"))

    def runAt(factor: Int): Lap = {
      val raw = V2Fixtures.rawFrom(replicate(factor, perturbText = false))
        .repartition(spark.sparkContext.defaultParallelism)
      val unified = Unify.unify(raw, "ibiza-spotlight",
        lit(V2Fixtures.nowTs).cast("timestamp"), keep = Seq("doc_id"))
      val t0 = System.nanoTime()
      val agg = unified.agg(
        count(lit(1)).as("n"),
        avg(col("data_quality.overall_score")).as("avg_q"),
        countDistinct(col("venue.name")).as("venues"))
        .collect()(0)
      Lap(agg.getLong(0), (System.nanoTime() - t0) / 1e9)
    }

    // near-duplicate replicas through the FULL banded pipeline:
    // signatures, band join (bucket-capped), signature re-join, the
    // estimated-jaccard filter. Counts pairs found.
    def runMinhashAt(factor: Int): Lap = {
      val docs = replicate(factor, perturbText = true)
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup.minhashCandidatePairs(
        docs, "doc_id", "text", minEstimate = 0.5).count()
      Lap(pairs, (System.nanoTime() - t0) / 1e9)
    }

    // full funnel: pairs → clusters (rounds recorded) → canonical.
    // Counts canonical docs; rounds ride along.
    def runFunnelAt(factor: Int): Lap = {
      val docs = replicate(factor, perturbText = true)
        .withColumn("n_chars", length(col("text")))
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup.minhashCandidatePairs(
        docs, "doc_id", "text", minEstimate = 0.5)
      val (clusters, rounds) =
        graft.operators.Dedup.duplicateClustersWithRounds(pairs)
      val canon = graft.operators.Dedup.canonicalDocuments(
        docs, clusters, "doc_id", "n_chars").count()
      Lap(canon, (System.nanoTime() - t0) / 1e9, Seq("rounds" -> rounds))
    }

    // Adversarial-cluster probe: clone ONE document `factor` times
    // (near-duplicate perturbation) on top of the 1× corpus — the
    // pathological shape where candidate pairs grow QUADRATICALLY in
    // clone count and maxBucketSize can't bound them (the clique
    // spans every band's buckets). Runs the funnel through
    // capDegree-d clustering: edge volume is linear in clones, the
    // clone cluster still collapses to ONE canonical doc (clique →
    // star keeps it connected), and the capped-cluster count is the
    // loud report of where the approximation touched.
    def runFunnelAdversarialAt(factor: Int): Lap = {
      val clones = base.orderBy(col("doc_id")).limit(1)
        .crossJoin(broadcast(spark.range(factor).select(col("id").as("_rep"))))
        .select((lit(20000000L) + col("_rep")).as("doc_id"),
          concat(col("text"), lit(" rep"), col("_rep").cast("string"))
            .as("text"))
      val corpus = base.union(clones).withColumn("n_chars", length(col("text")))
      val t0 = System.nanoTime()
      // maxBucketSize lifted ABOVE the clone count: this probe measures
      // the case the bucket cap does NOT catch (the judge scenario — a
      // duplicate cluster whose per-bucket slices each pass the cap but
      // whose cross-bucket pair total is quadratic). The degree cap is
      // then the only bound between pair generation and clustering.
      val pairs = graft.operators.Dedup.minhashCandidatePairs(
        corpus, "doc_id", "text", minEstimate = 0.5,
        maxBucketSize = Int.MaxValue)
      val (clusters, capped, rounds) = graft.operators.Dedup
        .duplicateClustersCapped(pairs, maxDegree = 8)
      val canon = graft.operators.Dedup.canonicalDocuments(
        corpus, clusters, "doc_id", "n_chars").count()
      Lap(canon, (System.nanoTime() - t0) / 1e9,
        Seq("rounds" -> rounds, "capped_clusters" -> capped),
        Some(baseRows + factor))
    }

    // As-of hot-key probe: ONE user's events replicated ×factor with
    // shifted timestamps — the skewed-key case where the naive
    // formulation (inequality join per key, then per-left argmax)
    // goes quadratic in the key's row count while the window
    // formulation (TemporalJoins.asofJoin) stays at sort cost. Both
    // run per factor (naive skipped past 500× where its pair count
    // explodes); the invariant is an identical matched-purchase
    // count.
    def runAsofAt(factor: Int): Lap = {
      val one = graft.Tables.events(spark, sfDir)
        .filter(col("user_id") === 1)
        .select(col("event_id"), col("event_type"), col("ts"))
      val hot = one.crossJoin(broadcast(
          spark.range(factor).select(col("id").as("_rep"))))
        .select((col("event_id") + col("_rep") * 10000000L).as("event_id"),
          col("event_type"),
          expr("timestampadd(SECOND, _rep, ts)").as("ts"))
        .withColumn("user_id", lit(1L))
      val purchases = hot.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = hot.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_event_id"))
      val t0 = System.nanoTime()
      val matched = graft.operators.TemporalJoins.asofJoin(
          purchases, views, Seq("user_id"), "ts", Seq("view_event_id"))
        .filter(col("view_event_id").isNotNull).count()
      val windowSec = (System.nanoTime() - t0) / 1e9
      var naiveSec = -1.0
      if (factor <= 500) {
        def naive(p: DataFrame, v: DataFrame): Long = {
          val j = p.join(v.withColumnRenamed("ts", "vts"), Seq("user_id"))
            .filter(col("vts") <= col("ts"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_id")).orderBy(col("vts").desc)
          j.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
            .filter(col("rn") === 1).count()
        }
        val t1 = System.nanoTime()
        val nMatched = naive(purchases, views)
        naiveSec = (System.nanoTime() - t1) / 1e9
        require(nMatched == matched,
          s"asof window ($matched) != naive ($nMatched) at factor $factor")
      }
      Lap(matched, windowSec, Seq("sec_naive" -> naiveSec))
    }

    // Month-merge probe: a table of `factor` months (one replica per
    // month), then ONE batch merged into a single month — timed both
    // through the partition-pruned month merge and the full-table
    // rewrite. The point on record: month-merge cost stays flat as the
    // table grows (it reads/writes one month), while the full rewrite
    // grows linearly with table size — the difference between an
    // incremental crawl batch costing O(batch) and O(100 TB).
    def runMergeAt(factor: Int): Lap = {
      import graft.operators.MergeOps
      val dirRoot = new java.io.File(
        s"target/merge_probe/f$factor").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(dirRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      def monthOf(rep: Column) = concat(lit("2"),
        format_string("%03d", (rep / 12).cast("int")), lit("-"),
        format_string("%02d", (rep % 12 + 1).cast("int")))
      val table = replicate(factor, perturbText = false)
        .withColumn("_rep", (col("doc_id") / 10000000L).cast("long"))
        .select(col("doc_id"), col("text"), lit(1).as("version"),
          monthOf(col("_rep")).as("start_month"))
      table.write.partitionBy("start_month").parquet(s"$dirRoot/bymonth")
      table.write.parquet(s"$dirRoot/flat")
      val batch = base.limit(1000)
        .select(col("doc_id"), col("text"), lit(2).as("version"),
          monthOf(lit(0L)).as("start_month"))
      val t0 = System.nanoTime()
      MergeOps.upsertParquetByMonth(spark, s"$dirRoot/bymonth", batch,
        Seq("doc_id"), "version")
      val monthSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      MergeOps.upsertParquet(spark, s"$dirRoot/flat",
        batch, Seq("doc_id"), "version")
      val fullSec = (System.nanoTime() - t1) / 1e9
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      Lap(1000L, monthSec, Seq("sec_full_rewrite" -> fullSec))
    }

    // Sharded-month-merge probe (`mergeshard`): the `merge` probe
    // scales the NUMBER of months; this one scales ONE month's volume
    // — the month layout's named knee (a month outgrowing its rewrite
    // budget). The sharded table sizes numShards to volume (16·factor:
    // constant target shard size, i.e. the deployment's per-rewrite
    // budget — sized like a Bloom front sizes bits to capacity), so
    // the timed 20-key batch rewrites ≤20 constant-size shards: FLAT
    // in month volume. The comparison line is the unsharded month
    // merge of the same batch, which rewrites the whole month: linear.
    def runMergeShardAt(factor: Int): Lap = {
      import graft.operators.MergeOps
      val dirRoot = new java.io.File(
        s"target/merge_shard_probe/f$factor").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(dirRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      val month = replicate(factor, perturbText = false)
        .select(col("doc_id"), col("text"), lit(1).as("version"),
          lit("2025-01").as("start_month"))
      MergeOps.upsertParquetByMonthShard(spark, s"$dirRoot/sharded",
        month, Seq("doc_id"), "version", numShards = 16 * factor)
      month.write.partitionBy("start_month").parquet(s"$dirRoot/bymonth")
      val batch = base.limit(20)
        .select(col("doc_id"), col("text"), lit(2).as("version"),
          lit("2025-01").as("start_month"))
        .localCheckpoint()
      val t0 = System.nanoTime()
      MergeOps.upsertParquetByMonthShard(spark, s"$dirRoot/sharded",
        batch, Seq("doc_id"), "version", numShards = 16 * factor)
      val shardSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      MergeOps.upsertParquetByMonth(spark, s"$dirRoot/bymonth", batch,
        Seq("doc_id"), "version")
      val monthSec = (System.nanoTime() - t1) / 1e9
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      Lap(20L, shardSec, Seq("sec_month_rewrite" -> monthSec))
    }

    // Reshard probe (`reshard`): the drifted deployment the sizing
    // warning exists for — ONE month's volume scales with factor but
    // the table was built at a FIXED numShards=2 (the guess that
    // stopped fitting), so the timed 20-key merge rewrites month/2
    // bytes: linear in month volume. MergeOps.reshard to 16·factor
    // (the budget-sized geometry the mergeshard probe builds
    // directly) and the SAME-SIZE batch merges at constant shard
    // size again: flat. sec = the post-reshard merge; extras carry
    // the drifted pre-reshard merge (the linear term the operator
    // removes) and the reshard's own one-off full-rewrite cost.
    def runReshardAt(factor: Int): Lap = {
      import graft.operators.MergeOps
      val dirRoot = new java.io.File(
        s"target/reshard_probe/f$factor").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(dirRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      val month = replicate(factor, perturbText = false)
        .select(col("doc_id"), col("text"), lit(1).as("version"),
          lit("2025-01").as("start_month"))
      MergeOps.upsertParquetByMonthShard(spark, s"$dirRoot/t",
        month, Seq("doc_id"), "version", numShards = 2)
      def batch(v: Int) = base.limit(20)
        .select(col("doc_id"), col("text"), lit(v).as("version"),
          lit("2025-01").as("start_month"))
        .localCheckpoint()
      val b2 = batch(2)
      val t0 = System.nanoTime()
      MergeOps.upsertParquetByMonthShard(spark, s"$dirRoot/t",
        b2, Seq("doc_id"), "version", numShards = 2)
      val driftedSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      MergeOps.reshard(spark, s"$dirRoot/t", 16 * factor)
      val reshardSec = (System.nanoTime() - t1) / 1e9
      val b3 = batch(3)
      val t2 = System.nanoTime()
      MergeOps.upsertParquetByMonthShard(spark, s"$dirRoot/t",
        b3, Seq("doc_id"), "version", numShards = 16 * factor)
      val sec = (System.nanoTime() - t2) / 1e9
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      Lap(20L, sec,
        Seq("sec_drifted_merge" -> driftedSec, "sec_reshard" -> reshardSec))
    }

    // Online-reshard probe (`reshardonline`): month volume scales
    // with factor (4 fixed months, 2→8 shards), and the sweep records
    // the two costs the generation-pointer protocol trades: total
    // migration time (expected LINEAR in month volume — each month is
    // one shuffle+rewrite) and the mid-migration readMonthTable
    // overhead vs the flat read after exit (expected FLAT — the
    // resolver adds O(months) directory listings and one manifest
    // read, never a data term).
    def runReshardOnlineAt(factor: Int): Lap = {
      import graft.operators.MergeOps
      val dirRoot = new java.io.File(
        s"target/rsonline_probe/f$factor").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(dirRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      val t = s"$dirRoot/t"
      val months = replicate(factor, perturbText = false)
        .select(col("doc_id"), col("text"), lit(1).as("version"),
          concat(lit("2025-0"), (col("doc_id") % 4 + 1).cast("string"))
            .as("start_month"))
      MergeOps.upsertParquetByMonthShard(spark, t, months,
        Seq("doc_id"), "version", numShards = 2)
      var readMid = -1.0
      val t0 = System.nanoTime()
      MergeOps.reshardOnline(spark, t, 8, hook = (p, _) => {
        if (p == "month_committed" && readMid < 0) {
          val r0 = System.nanoTime()
          MergeOps.readMonthTable(spark, t)
            .agg(count(lit(1))).head()
          readMid = (System.nanoTime() - r0) / 1e9
        }
      })
      val sec = (System.nanoTime() - t0) / 1e9 - math.max(readMid, 0.0)
      val r1 = System.nanoTime()
      MergeOps.readMonthTable(spark, t).agg(count(lit(1))).head()
      val readFlat = (System.nanoTime() - r1) / 1e9
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      Lap(4L, sec, Seq("sec_read_mid" -> readMid, "sec_read_flat" -> readFlat))
    }

    // Persisted-ANN probe (`annprobe`): the corpus scales with factor
    // but the probe workload is FIXED (20 queries, k=3, nprobe=2,
    // shortlist=32). Per factor the sweep records the index BUILD
    // (one-off, linear — it pays the encode the inline join pays per
    // call), the PROBE from the artifact, and the INLINE join over
    // the same corpus. The curve the build/probe split exists for:
    // inline grows with the corpus (per-call re-encode), probe grows
    // only with the pruned compressed scan.
    lazy val annCorpusRows = graft.Tables.embeddings(spark, sfDir).count()
    def runAnnProbeAt(factor: Int): Lap = {
      import graft.operators.{AnnIndex, IvfCentroids, PqCodebooks, Similarity}
      val emb = graft.Tables.embeddings(spark, sfDir)
      val corpus = (0 until factor).map(i =>
        emb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          col("embedding"))).reduce(_ unionByName _)
      val queries = emb.filter(col("vec_id") % 50 === 0).limit(20)
        .localCheckpoint()
      val dirRoot = new java.io.File(
        s"target/annprobe/f$factor").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(dirRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      val t0 = System.nanoTime()
      AnnIndex.build(spark, s"$dirRoot/idx", corpus, "vec_id",
        "embedding", IvfCentroids.pinned, PqCodebooks.pinned)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val n = AnnIndex.probe(spark, s"$dirRoot/idx", queries, "vec_id",
        "embedding", k = 3, nprobe = 2, shortlist = 32).count()
      val probeSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      Similarity.knnJoinIvfPq(corpus, queries, "vec_id", "embedding",
        k = 3, IvfCentroids.pinned, PqCodebooks.pinned, nprobe = 2,
        shortlist = 32).count()
      val inlineSec = (System.nanoTime() - t2) / 1e9
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      Lap(n, probeSec, Seq("sec_build" -> buildSec, "sec_inline" -> inlineSec),
        Some(annCorpusRows * factor))
    }

    // Persisted-ANN APPEND (`annappend`): the corpus scales with
    // factor, the appended batch is FIXED — the curve the incremental
    // contract promises: append encodes ONLY the batch and never
    // opens base or prior deltas, so its cost is flat in corpus size
    // and linear in batch size. Per factor the sweep records the
    // one-off build (sec_build), the fixed-batch append (the measured
    // sec), a double-batch append (sec_batch_2x — the linear-in-batch
    // leg), and the written-files census: base_files_changed MUST be
    // 0 (name/length/mtime equality across the append — the
    // no-re-encode proof at scale) and delta_files is bounded by the
    // batch's cells, not the corpus.
    def annShift(emb: org.apache.spark.sql.DataFrame, off: Long) =
      emb.select((col("vec_id") + lit(off)).as("vec_id"),
        col("embedding"))
    def runAnnAppendAt(factor: Int): Lap = {
      import graft.operators.{AnnIndex, IvfCentroids, PqCodebooks}
      val emb = graft.Tables.embeddings(spark, sfDir)
      val corpus = (0 until factor).map(i =>
        annShift(emb, i * 10000000L)).reduce(_ unionByName _)
      val batch = annShift(emb, 900000000L).localCheckpoint()
      val batchRows = batch.count()
      val batch2 = annShift(emb, 910000000L)
        .unionByName(annShift(emb, 920000000L)).localCheckpoint()
      val dirRoot = new java.io.File(
        s"target/annappend/f$factor").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(dirRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      val idx = s"$dirRoot/idx"
      val t0 = System.nanoTime()
      AnnIndex.build(spark, idx, corpus, "vec_id", "embedding",
        IvfCentroids.pinned, PqCodebooks.pinned)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val gen = AnnIndex.currentGeneration(spark, idx)
      val before = graft.operators.AnnIndex.fileCensus(spark,
        s"$idx/$gen/base")
      val t1 = System.nanoTime()
      AnnIndex.append(spark, idx, batch, "vec_id", "embedding")
      val sec = (System.nanoTime() - t1) / 1e9
      val baseChanged = graft.operators.AnnIndex.fileCensus(spark,
        s"$idx/$gen/base").diff(before).size.toLong
      val deltaFiles = graft.operators.AnnIndex.fileCensus(spark,
        s"$idx/$gen/delta-000001")
        .count(_._1.endsWith(".parquet")).toLong
      val t2 = System.nanoTime()
      AnnIndex.append(spark, idx, batch2, "vec_id", "embedding")
      val append2xSec = (System.nanoTime() - t2) / 1e9
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      Lap(batchRows, sec, Seq("sec_build" -> buildSec,
          "sec_batch_2x" -> append2xSec, "base_files_changed" -> baseChanged,
          "delta_files" -> deltaFiles),
        Some(annCorpusRows * factor))
    }

    // Persisted-ANN COMPACT (`anncompact`): the total index size
    // scales with factor (corpus base + one appended delta); the
    // measured sec is the fold. The claim on record: compact is
    // I/O-shaped — linear in carried rows with ZERO quantization
    // work (it moves stored codes; sec_build over the same rows pays
    // the full encode, so the build−compact gap IS the skipped
    // encode). n_folded pins that every delta folded.
    def runAnnCompactAt(factor: Int): Lap = {
      import graft.operators.{AnnIndex, IvfCentroids, PqCodebooks}
      val emb = graft.Tables.embeddings(spark, sfDir)
      val corpus = (0 until factor).map(i =>
        annShift(emb, i * 10000000L)).reduce(_ unionByName _)
      val batch = annShift(emb, 900000000L)
      val dirRoot = new java.io.File(
        s"target/anncompact/f$factor").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(dirRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      val idx = s"$dirRoot/idx"
      val t0 = System.nanoTime()
      AnnIndex.build(spark, idx, corpus, "vec_id", "embedding",
        IvfCentroids.pinned, PqCodebooks.pinned)
      val buildSec = (System.nanoTime() - t0) / 1e9
      AnnIndex.append(spark, idx, batch, "vec_id", "embedding")
      val total = annCorpusRows * factor + annCorpusRows
      val t1 = System.nanoTime()
      val folded = AnnIndex.compact(spark, idx).toLong
      val sec = (System.nanoTime() - t1) / 1e9
      fs.delete(new org.apache.hadoop.fs.Path(dirRoot), true)
      Lap(total, sec, Seq("sec_build" -> buildSec, "n_folded" -> folded),
        Some(annCorpusRows * factor))
    }

    // Prefix-filter similarity-join probe: near-duplicate replicas
    // (each replica appends a RARE " repN" token, so clones cluster
    // across replicas — quadratic true-pair growth, same wall as the
    // minhash probe) through BOTH the prefix-filtered exact join and
    // the full-inverted-index formulation. The invariant on record:
    // IDENTICAL pair sets (the filter is lossless); the measurement:
    // the prefix path indexes only the rarest ~half of each doc's
    // tokens, so its candidate join stays ahead of the full index as
    // the corpus grows.
    def runPpjoinAt(factor: Int): Lap = {
      val docs = replicate(factor, perturbText = true)
        .filter(col("doc_id") % 10000000L < 500)
      val t0 = System.nanoTime()
      val nPrefix = graft.operators.Mining.prefixJaccardPairs(
        docs, "doc_id", "text", 1, 2).count()
      val prefixSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val fullPairs = graft.operators.Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", n = 1, minJaccard = 0.5).count()
      val fullSec = (System.nanoTime() - t1) / 1e9
      require(fullPairs == nPrefix,
        s"prefix join ($nPrefix) != full index ($fullPairs) at ×$factor")
      Lap(nPrefix, prefixSec,
        Seq("pairs_full" -> fullPairs, "sec_full_index" -> fullSec))
    }

    // Zipf-vocabulary variant of the ppjoin probe — the regime prefix
    // filtering EXISTS for. Deterministic synthetic corpus: two docs
    // per seed share 23 tokens and differ in a doc-unique tail token
    // (Jaccard 23/25 — exactly one true partner each); token j draws
    // from a bucket of 2^min(j,16) values, so low-j tokens are
    // stopword-common (df = N) and high-j tokens near-unique. The
    // full inverted index joins N² rows on token 0 ALONE (quadratic in
    // corpus size — it is skipped past 4× for that reason); the prefix
    // path indexes only the rarest ~half per doc, so its candidate
    // volume stays near-linear. Same losslessness invariant as
    // `ppjoin` while both paths run.
    def zipfDocs(n: Long) =
      spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ",
          (0 until 23).map(j => concat(lit(s"w${j}_"),
            pmod(xxhash64(expr("id div 2"), lit(j)),
              lit(1L << math.min(j, 16))).cast("string")))
          :+ concat(lit("tail_"), col("id").cast("string")): _*).as("text"))
    def runPpjoinZipfAt(factor: Int): Lap = {
      val docs = zipfDocs(5000L * factor)
      val t0 = System.nanoTime()
      val nPrefix = graft.operators.Mining.prefixJaccardPairs(
        docs, "doc_id", "text", 1, 2).count()
      val prefixSec = (System.nanoTime() - t0) / 1e9
      var fullPairs = -1L
      var fullSec = -1.0
      if (factor <= 4) {
        val t1 = System.nanoTime()
        fullPairs = graft.operators.Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", n = 1, minJaccard = 0.5).count()
        fullSec = (System.nanoTime() - t1) / 1e9
        require(fullPairs == nPrefix,
          s"prefix ($nPrefix) != full ($fullPairs) at ×$factor")
      }
      Lap(nPrefix, prefixSec,
        Seq("pairs_full" -> fullPairs, "sec_full_index" -> fullSec),
        Some(5000L * factor))
    }

    // PageRank iteration-scaling probe: the factor axis is the
    // ITERATION COUNT over the fixed sf co-purchase graph. The claim
    // on record: one dst-keyed shuffle per iteration, so wall-clock is
    // linear in iterations (no plan blowup from the unrolled loop, no
    // recomputation of the checkpointed edges). The checksum is the
    // integral top-50 rank sum — identical on any partitioning.
    def runPagerankAt(iters: Int): Lap = {
      val b = graft.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
        .distinct()
      val pairs = b.as("a").join(b.as("bb"),
          col("a.bk") === col("bb.bk") && col("a.it") < col("bb.it"))
        .groupBy(col("a.it").as("p1"), col("bb.it").as("p2"))
        .agg(count(lit(1)).as("n_xy"))
        .filter(col("n_xy") >= 2)
      val edges = pairs.select(col("p1").as("src"), col("p2").as("dst"))
        .unionAll(pairs.select(col("p2").as("src"), col("p1").as("dst")))
      val t0 = System.nanoTime()
      val top = graft.operators.Mining.pageRank(edges, "src", "dst", iters)
        .orderBy(col("pr").desc, col("node")).limit(50)
        .agg(sum(col("pr"))).head().getLong(0)
      Lap(top, (System.nanoTime() - t0) / 1e9)
    }

    // BPE throughput: total subword tokens over the replicated corpus
    // (per-row codegen'd merge loops; zipfian word repetition is what
    // the per-word memo in BpeImpl exploits).
    def runBpeAt(factor: Int): Lap = {
      val docs = replicate(factor, perturbText = false)
      val t0 = System.nanoTime()
      val n = docs.select(graft.operators.TextAnalysis
          .subwordCountBpe(col("text")).as("n"))
        .agg(sum(col("n"))).head().getLong(0)
      Lap(n, (System.nanoTime() - t0) / 1e9)
    }

    // Rolling 7-day distinct: the register-table path
    // (ev_rolling_mau) vs the exact ×7-explode-over-distinct-pairs
    // path, replicated along the USER axis (days fixed — the shape of
    // a growing service). On one node both are map-bound (the
    // sketch's md5 portable hash costs ~2× the exact path's native
    // hashing — the price of cross-engine replayability, on record
    // below), so the decisive quantity reported is SHUFFLE ROWS:
    // the sketch's rolling shuffle is days×256 registers NO MATTER
    // how many users exist, while the exact path moves every distinct
    // (day, user) pair ×7 — the divergence that, with real network
    // and real state stores, decides the operator at 100 TB.
    def runRollingAt(factor: Int): Lap = {
      val ev0 = graft.Tables.events(spark, sfDir)
        .select(expr("unix_millis(ts) div 86400000").as("day"),
          col("user_id"))
      val ev =
        if (factor == 1) ev0
        else ev0.crossJoin(broadcast(
            spark.range(factor).select(col("id").as("_rep"))))
          .select(col("day"),
            (col("user_id") + col("_rep") * 1000000L).as("user_id"))
      val days = ev.select(col("day")).distinct()
      val t0 = System.nanoTime()
      val regs = graft.operators.Sketches.hllRegistersBy(ev,
        col("user_id").cast("string"), Seq("day"), p = 8)
      val nDays = graft.operators.Sketches
        .hllRollingEstimateBy(regs, days, windowDays = 7, p = 8)
        .count()
      val sketchSec = (System.nanoTime() - t0) / 1e9
      val exactPairs = ev.distinct()
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("tday"))
        .join(broadcast(days.select(col("day").as("tday"))), "tday")
      val t1 = System.nanoTime()
      exactPairs.groupBy(col("tday"))
        .agg(countDistinct(col("user_id")))
        .count()
      val exactSec = (System.nanoTime() - t1) / 1e9
      Lap(nDays, sketchSec, Seq("sec_exact" -> exactSec,
        // rolling fan-out rows shuffled
        "sketch_shuffle_rows" -> regs.count() * 7,
        "exact_shuffle_rows" -> exactPairs.count()))
    }

    // LM quality-filter probe (ta_lm_quality_filter): train the bigram
    // count table on the even-id half, score the odd-id half —
    // replicated along the corpus axis with UNPERTURBED text, so the
    // vocabulary (and with it the count table's row count) stays FIXED
    // while raw bigram volume scales ×factor. The two claims measured:
    // the train aggregation collapses ×factor input into the same
    // vocab²-bounded table (lm_table_rows flat — partial aggregation
    // absorbs the growth map-side), and scoring cost grows linearly
    // with eval rows (one (w1,w2)-keyed join + one per-doc partial
    // agg — no term that grows with the TRAIN corpus).
    // Shared implementation with ta_lm_quality_filter (LmScore) so the
    // probe measures exactly the shipped pipeline. Train and score are
    // timed SEPARATELY: the train section ends once the checkpointed
    // table is materialized (lm row count doubles as the flat-table
    // evidence), and `sec` is the SCORING pass alone — the per-batch
    // cost a standing filter pays.
    def runLmAt(factor: Int): Lap = {
      import graft.operators.LmScore
      val docs = replicate(factor, perturbText = false)
        .select(col("doc_id"),
          graft.operators.TextAnalysis.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val t0 = System.nanoTime()
      val lm = LmScore.trainBigramTable(
        LmScore.bigrams(docs.filter(col("doc_id") % 2 === 0)))
      val lmRows = lm.count()
      val trainSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nScored = LmScore.scoreDocs(
        LmScore.bigrams(docs.filter(col("doc_id") % 2 === 1)), lm).count()
      Lap(nScored, (System.nanoTime() - t1) / 1e9,
        Seq("sec_train" -> trainSec, "lm_table_rows" -> lmRows))
    }

    // NB classifier probe (ta_nb_classifier): the same claim as the
    // LM probe for the classifier gate — the trained count table must
    // stay FLAT at the vocab bound as the corpus replicates (map-side
    // partial agg absorbs the growth before the one token-keyed
    // shuffle), with scoring cost linear in eval tokens only. The
    // label here is doc_id-derived (replicas carry no lang column);
    // the label source is irrelevant to the cost shape being measured.
    def runNbAt(factor: Int): Lap = {
      import graft.operators.TextClassify
      val docs = replicate(factor, perturbText = false)
        .select(col("doc_id"),
          (col("doc_id") % 3 === 0).cast("int").as("y"),
          graft.operators.TextAnalysis.tokens(col("text")).as("t"))
      val tok = docs
        .select(col("doc_id"), col("y"), explode(col("t")).as("token"))
        .filter(col("token") =!= "")
      val t0 = System.nanoTime()
      val counts = TextClassify.nbTrainCounts(
        tok.filter(col("doc_id") % 2 === 0))
      val nbVocab = counts.count()
      val trainSec = (System.nanoTime() - t0) / 1e9
      val priors = docs.filter(col("doc_id") % 2 === 0)
        .agg(sum(col("y")).as("d1"), sum(lit(1) - col("y")).as("d0"))
      val t1 = System.nanoTime()
      val n = TextClassify.nbPredict(
        tok.filter(col("doc_id") % 2 === 1), counts, priors).count()
      Lap(n, (System.nanoTime() - t1) / 1e9,
        Seq("sec_train" -> trainSec, "nb_vocab_rows" -> nbVocab))
    }

    // Standing novelty-gate probe (ev_stream_novelty): the table is
    // seeded with factor-1 perturbed replicas THROUGH THE GATE ITSELF
    // (base excluded; same code path: bloom deltas +
    // prefix-partitioned appends), then the
    // constant-sized, fully-novel base batch is timed against a
    // STANDING NoveltyGate (bloom cached, as in the stream — the
    // one-time load is the stream-start cost, not the per-batch
    // cost). Bits are sized to the probe's top capacity (2^25 for
    // 1.6M fps — the gate's documented sizing rule); with the Bloom
    // front a novel batch is ~all bloom-negative and the rare false
    // positives resolve via a driver-collected INSET probe of their
    // buckets, so the measured claim is per-batch cost FLAT in table
    // rows.
    def runNoveltyBucketedAt(factor: Int): Lap = {
      val out = new java.io.File("target/probe_noveltyb").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val tableRoot = out + "/fp"
      val gate = new graft.operators.NoveltyGate(tableRoot, bits = 1 << 25)
      val seed = replicate(factor, perturbText = true)
        .filter(col("doc_id") >= 10000000L)
        .select(col("text"))
      if (factor > 1) gate.admit(seed)
      val tableRows = graft.operators.Dedup
        .readBucketedFingerprints(spark, tableRoot).count()
      // the seed admit is up to 320× the timed batch — give the JVM a
      // GC breath so the seed's garbage is not billed to the timed
      // batch (the same hygiene Bench applies between phases)
      System.gc()
      val t0 = System.nanoTime()
      gate.admit(base.select(col("text")))
      val sec = (System.nanoTime() - t0) / 1e9
      val after = graft.operators.Dedup
        .readBucketedFingerprints(spark, tableRoot).count()
      Lap(after - tableRows, sec, Seq("table_rows" -> tableRows))
    }


    // Near-dup gate probes, mirroring the novelty pair. The corpus is
    // factor× near-duplicate replicas; the TIMED batch is the base
    // corpus with every token md5-scrambled — genuinely novel traffic
    // (disjoint vocab → disjoint signatures → no true band
    // collisions), so what is measured is the standing-gate fixed
    // cost plus whatever each layout spends discovering "no match".
    def scrambled = base.select(col("doc_id"),
      array_join(transform(split(trim(col("text")), "\\s+"),
        t => substring(md5(concat(t, lit("z"))), 1, 8)), " ").as("text"))

    // Seed corpus for the near-dup probes: every doc's tokens hashed
    // with a per-DOC salt, so all seed docs are mutually novel — the
    // table grows by factor x without the replicas near-dup'ing each
    // other (a near-dup-heavy seed would make the gate's untimed seed
    // admit quadratic in factor via its batch-internal self-probe,
    // measuring corpus pathology instead of table growth).
    def uniqueSeed(factor: Int) = replicate(factor, perturbText = false)
      .select(col("doc_id"),
        array_join(transform(split(trim(col("text")), "\\s+"),
          t => substring(md5(concat(t, lit("s"),
            col("doc_id").cast("string"))), 1, 8)), " ").as("text"))

    // Baseline: the r12 one-shot gate shape — the sigs table is the
    // only durable artifact; every batch RECOMPUTES the corpus band
    // index from it and scans it whole (batch side broadcast), then
    // writes verdicts and appends its sigs. O(corpus) per batch in
    // both compute and scan — the cost model NearDupGate's persistent
    // index + bloom front exists to beat.
    def runNeardupAt(factor: Int): Lap = {
      val out = new java.io.File("target/probe_neardup").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      def sigsOf(df: org.apache.spark.sql.DataFrame) =
        df.repartition(spark.sparkContext.defaultParallelism)
          .select(col("doc_id").as("id"),
            graft.operators.Dedup.minhashSignaturePortable(
              col("text"), 32, 1).as("sig"))
      sigsOf(uniqueSeed(factor))
        .write.mode("overwrite").parquet(s"$out/sigs")
      val tableRows = spark.read.parquet(s"$out/sigs").count() * 16
      System.gc()
      val t0 = System.nanoTime()
      val batchSigs = sigsOf(scrambled).localCheckpoint()
      val corpusSigs = spark.read.parquet(s"$out/sigs")
      val corpusB = graft.operators.Dedup
        .lshBands(corpusSigs, "id", "sig", 16)
      val batchB = graft.operators.Dedup
        .lshBands(batchSigs, "id", "sig", 16)
      val pairs = broadcast(batchB).as("q").join(corpusB.as("c"),
          col("q.band") === col("c.band") &&
            col("q.band_hash") === col("c.band_hash") &&
            col("c.id") < col("q.id"))
        .select(col("q.id").as("id"), col("c.id").as("cid")).distinct()
      pairs
        .join(corpusSigs.toDF("cid", "csig"), "cid")
        .join(batchSigs.toDF("id", "qsig"), "id")
        .select(col("id"),
          graft.functions.VecOps.arrayEqCount(col("qsig"), col("csig"))
            .as("n_eq"))
        .groupBy(col("id")).agg(max(col("n_eq")).as("best_eq"))
        .unionByName(batchSigs.select(col("id"), lit(0).as("best_eq")))
        .groupBy(col("id")).agg(max(col("best_eq")).as("best_eq"))
        .write.mode("append").parquet(s"$out/verdicts")
      batchSigs.filter(col("sig").isNotNull)
        .coalesce(1).write.mode("append").parquet(s"$out/sigs")
      val sec = (System.nanoTime() - t0) / 1e9
      Lap(spark.read.parquet(s"$out/verdicts").count(), sec,
        Seq("table_rows" -> tableRows))
    }

    // The standing NearDupGate: band-hash bloom cached across
    // batches, sized per the per-band rule (index keys = 16×docs;
    // 2^26 bits / k=12 holds the 4M-band top factor near the optimal
    // occupancy). Seeded THROUGH the gate; the timed admit is the
    // same novel batch the baseline sees.
    def runNeardupGateAt(factor: Int): Lap = {
      val out = new java.io.File("target/probe_neardupb").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val gate = new graft.operators.NearDupGate(out,
        bits = 1 << 26, k = 12)
      gate.admit(uniqueSeed(factor), "doc_id", "text")
      val tableRows = spark.read.parquet(s"$out/bands").count()
      fs.delete(new org.apache.hadoop.fs.Path(s"$out/verdicts"), true)
      System.gc()
      val t0 = System.nanoTime()
      gate.admit(scrambled, "doc_id", "text")
      val sec = (System.nanoTime() - t0) / 1e9
      Lap(spark.read.parquet(s"$out/verdicts").count(), sec,
        Seq("table_rows" -> tableRows))
    }

    // Hot-band-key adversarial pair: the corpus index holds
    // factor×1000 docs that are ALL sharers of one template (byte-
    // identical text → identical signatures → every band key hot with
    // the full corpus behind it). The index is seeded DIRECTLY as
    // bands+sigs tables — a gate-admitted template seed would itself
    // be quadratic in its own self-probe, measuring the pathology
    // instead of the probe against it. The timed admit is 200 more
    // template docs: uncapped (`neardupt`), candidate-pair volume is
    // batch × corpus — linear in factor per batch, the scale-killer a
    // skewed 100 TB corpus would hit; capped (`neardupcap`,
    // bandKeyCap=8) it is batch·bands·cap — flat, with the shed
    // reported in every verdict's n_capped_keys.
    def runHotKeyAt(cap: Int, auto: Boolean = false)(factor: Int): Lap = {
      val out = new java.io.File(
        s"target/probe_neardup_hot$cap").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      def templateDocs(n: Int, idOffset: Long) =
        spark.range(n).select((col("id") + idOffset).as("doc_id"),
          lit("hotkey alpha beta gamma delta epsilon zeta eta theta iota")
            .as("text"))
      val sigsDf = templateDocs(1000 * factor, 0)
        .select(col("doc_id").as("id"),
          graft.operators.Dedup.minhashSignaturePortable(
            col("text"), 32, 1).as("sig"))
        .localCheckpoint()
      sigsDf.coalesce(4).write.mode("overwrite").parquet(s"$out/sigs")
      graft.operators.Dedup.lshBands(sigsDf, "id", "sig", 16)
        .withColumn("bh_b", col("band_hash").bitwiseAND(lit(15L)))
        .repartition(col("bh_b"))
        .write.mode("overwrite").partitionBy("bh_b").parquet(s"$out/bands")
      val tableRows = spark.read.parquet(s"$out/bands").count()
      // auto mode (`neardupauto`): the cap arrives via the SELF-SIZING
      // policy instead of the hand-picked knob — targetKeyLoad=cap,
      // constructor cap 0 (exact). The un-timed compact is where the
      // policy measures the hottest key and engages; the timed admit
      // then runs under the engaged cap, so the curve is directly
      // comparable to the hand-capped `neardupcap` line. The engaged
      // width is read back from the layout manifest and reported.
      val gate =
        if (auto) new graft.operators.NearDupGate(out,
          targetKeyLoad = cap)
        else new graft.operators.NearDupGate(out, bandKeyCap = cap)
      val engaged = if (!auto) Nil else {
        gate.compact(spark)
        Seq("engaged_cap" -> graft.operators.GateLayout.read(fs,
            new org.apache.hadoop.fs.Path(s"$out/_layout"))
          .get("band_key_cap").map(_.toLong).getOrElse(0L))
      }
      System.gc()
      val t0 = System.nanoTime()
      gate.admit(templateDocs(200, 900000000L), "doc_id", "text")
      val sec = (System.nanoTime() - t0) / 1e9
      val v = spark.read.parquet(s"$out/verdicts")
        .agg(count(lit(1)), coalesce(sum(col("n_capped_keys")), lit(0L)))
        .head()
      Lap(v.getLong(0), sec, Seq("table_rows" -> tableRows,
        "capped_keys_sum" -> v.getLong(1)) ++ engaged)
    }

    // The embedding gate's hot-key pair (`embedt` uncapped /
    // `embedcap` bandKeyCap=8), mirroring the MinHash pair: the
    // corpus is factor×1000 byte-identical template vectors (every
    // sign-band key hot with the whole corpus behind it), seeded
    // DIRECTLY as keys+vecs tables through the gate's own shared
    // key expression; the timed admit is 200 more template vectors.
    // Uncapped pair volume = batch × corpus; capped = batch·bands·cap
    // with the shed in every verdict's n_capped_keys.
    def runEmbedHotAt(cap: Int)(factor: Int): Lap = {
      val out = new java.io.File(
        s"target/probe_embed_hot$cap").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val tmpl = (0 until 64)
        .map(i => ((i * 2654435761L % 1000L) / 1000.0f) - 0.5f)
      def tvecs(n: Int, off: Long) = spark.range(n)
        .select((col("id") + off).as("vec_id"),
          typedLit(tmpl).as("embedding"))
      val corpus = tvecs(1000 * factor, 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
        .localCheckpoint()
      corpus.coalesce(4).write.mode("overwrite").parquet(s"$out/vecs")
      corpus.select(col("id"), posexplode(array(
          graft.operators.Similarity.signBandKeyCols(
            col("v"), 4, 4, 64, 7L): _*)).as(Seq("band", "bkey")))
        .repartition(col("band")).sortWithinPartitions(col("bkey"))
        .write.mode("overwrite").partitionBy("band").parquet(s"$out/keys")
      val tableRows = spark.read.parquet(s"$out/keys").count()
      val gate = new graft.operators.EmbedNearDupGate(out, dim = 64,
        bands = 4, rowBits = 4, minCosine = 0.5, bandKeyCap = cap)
      System.gc()
      val t0 = System.nanoTime()
      gate.admit(tvecs(200, 900000000L), "vec_id", "embedding")
      val sec = (System.nanoTime() - t0) / 1e9
      val v = spark.read.parquet(s"$out/verdicts")
        .agg(count(lit(1)), coalesce(sum(col("n_capped_keys")), lit(0L)))
        .head()
      Lap(v.getLong(0), sec,
        Seq("table_rows" -> tableRows, "capped_keys_sum" -> v.getLong(1)))
    }

    // Composed-curation probe (`curate` uncapped / `curatecap`
    // bandKeyCap=8): the gates have individual cost curves; this
    // measures the COMPOSITION (whose planner traps — frozen AQE
    // coalesce, join-shaped stat overestimates — were found by bench
    // discipline, see BENCH_NOTES). Standing state is seeded with a
    // factor-scaled curated corpus (near-dup replicas, the realistic
    // skew); models train ONCE over the base corpus (the pre-trained
    // shared artifacts, sec_train on record, outside the timed
    // admit); the timed unit is ONE fixed 500-doc micro-batch through
    // all five stages — half genuinely novel (reversed text), half
    // near-dups of corpus docs — so the curve isolates how per-batch
    // cost grows with corpus size, capped vs uncapped.
    // Shared setup for the curate/ingest probe families (one
    // workload definition — the two curves must measure the SAME
    // chain or a change to the batch shape or census would silently
    // diverge them): wipe `out`, seed both gates with the
    // factor-scaled near-dup corpus, record the band-table size,
    // train the shared models (sec_train on record, outside every
    // timed unit). Returns the seeded gates, the pinned corpus, the
    // models and the setup's extra fields.
    final case class CurateSetup(ngate: graft.operators.NoveltyGate,
        ndgate: graft.operators.NearDupGate, corpus: DataFrame,
        models: graft.streaming.Curation.Models, tableRows: Long,
        trainSec: Double)
    def curateProbeSetup(out: String, cap: Int, factor: Int)
        : CurateSetup = {
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val corpus = replicate(factor, perturbText = true)
        .localCheckpoint()
      val ngate = new graft.operators.NoveltyGate(s"$out/nov")
      val ndgate = new graft.operators.NearDupGate(s"$out/nd",
        bits = 1 << 26, k = 12, bandKeyCap = cap)
      ngate.admit(corpus)
      ndgate.admit(corpus, "doc_id", "text")
      val tableRows = spark.read.parquet(s"$out/nd/bands").count()
      val t1 = System.nanoTime()
      val models = graft.streaming.Curation.trainModels(
        graft.Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text"), col("lang")))
      CurateSetup(ngate, ndgate, corpus, models, tableRows,
        (System.nanoTime() - t1) / 1e9)
    }
    // the probe micro-batch: half genuinely novel (reversed text),
    // half near-dups of corpus docs
    def curateProbeBatch() = base.limit(250)
      .select((col("doc_id") + 800000000L).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
      .unionByName(base.limit(250)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          reverse(col("text")).as("text")))
      .localCheckpoint()
    def curateExtras(out: String, setup: CurateSetup) = Seq(
      "table_rows" -> setup.tableRows,
      "capped_keys_sum" -> spark.read.parquet(s"$out/nd/verdicts")
        .agg(coalesce(sum(col("n_capped_keys")), lit(0L)))
        .head().getLong(0),
      "sec_train" -> setup.trainSec)

    def runCurateAt(cap: Int)(factor: Int): Lap = {
      val out = new java.io.File(
        s"target/probe_curate$cap").getAbsolutePath
      val setup = curateProbeSetup(out, cap, factor)
      val batch = curateProbeBatch()
      System.gc()
      val t0 = System.nanoTime()
      graft.streaming.Curation.curateBatch(batch, setup.ngate, setup.ndgate,
          setup.models)
        .write.mode("overwrite").parquet(s"$out/scored")
      val sec = (System.nanoTime() - t0) / 1e9
      Lap(spark.read.parquet(s"$out/scored").count(), sec,
        curateExtras(out, setup))
    }

    // Composed-INGEST probe (`ingest` uncapped / `ingestcap` capped,
    // months held constant; `ingestcapm` capped, months varied): the
    // curate probe measures the five-gate chain alone; the ingest
    // topology (ev_stream_ingest_curated / IncrementalIngest
    // curation mode) adds two actions per batch — the verdict-log
    // write and the partition-pruned month merge. Standing state: the
    // factor-scaled curated corpus seeded into both gates AND a
    // factor-scaled events table laid out by month. Months-CONSTANT
    // keeps 6 months total, so each touched month partition grows
    // with the corpus and the pruned merge rewrites corpus/6 rows per
    // batch even though pruning holds — a linear merge term.
    // Months-VARIED grows the month count with the corpus (6·factor)
    // while the batch still touches a fixed 6 — the merge term stays
    // flat. The knee, if any, is month-partition sizing, not the
    // gates; sec_merge on record isolates it from the gate curve.
    def runIngestAt(cap: Int, varyMonths: Boolean)(factor: Int): Lap = {
      val tag = s"$cap${if (varyMonths) "m" else ""}"
      val out = new java.io.File(s"target/probe_ingest$tag")
        .getAbsolutePath
      val setup = curateProbeSetup(out, cap, factor)
      def monthCol(nMonths: Int) =
        concat(lit("m"), (col("doc_id") % nMonths).cast("string"))
      val seedMonths = if (varyMonths) 6 * factor else 6
      graft.operators.MergeOps.upsertParquetByMonth(spark,
        s"$out/events",
        setup.corpus.select(col("doc_id"),
          monthCol(seedMonths).as("start_month"),
          col("doc_id").as("updated_seq")),
        Seq("doc_id"), "updated_seq")
      val batch = curateProbeBatch()
      System.gc()
      val t0 = System.nanoTime()
      graft.streaming.Curation.curateBatch(batch, setup.ngate, setup.ndgate,
          setup.models)
        .write.mode("append").parquet(s"$out/log")
      val tm = System.nanoTime()
      // the batch always touches 6 months (a micro-batch carries a
      // bounded month set regardless of table-wide month count)
      graft.operators.MergeOps.upsertParquetByMonth(spark,
        s"$out/events",
        batch.select(col("doc_id"), monthCol(6).as("start_month"),
          col("doc_id").as("updated_seq")),
        Seq("doc_id"), "updated_seq")
      val tEnd = System.nanoTime()
      Lap(spark.read.parquet(s"$out/log").count(), (tEnd - t0) / 1e9,
        curateExtras(out, setup) :+ ("sec_merge" -> (tEnd - tm) / 1e9))
    }

    // Span-removal probe (etl_span_dedup): near-duplicate replicas
    // (unique " repN" tail per replica) mean every BODY 8-gram repeats
    // across replicas at factor >= 2, so duplicated span mass — the
    // quantity the operator joins on and cuts — grows linearly with
    // the corpus. The claim measured: wall-clock tracks that mass
    // (explode + two shingle-keyed shuffles + one positions collect),
    // with no all-pairs term; words_cut on record is the mass itself.
    def runSpanDedupAt(factor: Int): Lap = {
      val docs = replicate(factor, perturbText = true)
      val t0 = System.nanoTime()
      val agg = graft.operators.Dedup
        .removeDupSpans(docs, "doc_id", "text")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("n_words") - col("n_kept")), lit(0L)).as("cut"))
        .head()
      Lap(agg.getLong(0), (System.nanoTime() - t0) / 1e9,
        Seq("words_cut" -> agg.getLong(1)))
    }

    val probes: Map[String, (String, String, Int => Lap)] = Map(
      "unify"       -> ("etl_unify_score", "rows", runAt),
      "minhash"     -> ("dd_minhash_pairs", "pairs", runMinhashAt),
      "funnel"      -> ("dedup_funnel", "canonical", runFunnelAt),
      "funnelcap"   -> ("dedup_funnel_capped", "canonical",
                        runFunnelAdversarialAt),
      "asof"        -> ("asof_hotkey", "matched", runAsofAt),
      "merge"       -> ("month_merge", "batch_rows", runMergeAt),
      "mergeshard"  -> ("month_merge_sharded", "batch_rows", runMergeShardAt),
      "reshard"     -> ("merge_after_reshard", "batch_rows", runReshardAt),
      "reshardonline" -> ("reshard_online", "months", runReshardOnlineAt),
      "annprobe"    -> ("ann_index_probe", "pairs", runAnnProbeAt),
      "annappend"   -> ("ann_index_append", "batch_rows", runAnnAppendAt),
      "anncompact"  -> ("ann_index_compact", "carried_rows", runAnnCompactAt),
      "bpe"         -> ("ta_subword_bpe", "tokens", runBpeAt),
      "ppjoin"      -> ("dd_prefix_jaccard", "pairs", runPpjoinAt),
      "ppjoinz"     -> ("dd_prefix_jaccard_zipf", "pairs", runPpjoinZipfAt),
      "pagerank"    -> ("pg_pagerank", "top50_pr_sum", runPagerankAt),
      "rolling"     -> ("ev_rolling_mau", "days", runRollingAt),
      "lm"          -> ("ta_lm_quality_filter", "scored_docs", runLmAt),
      "nb"          -> ("ta_nb_classifier", "scored_docs", runNbAt),
      "noveltyb"    -> ("ev_stream_novelty_bucketed", "novel_appended",
                        runNoveltyBucketedAt),
      "neardup"     -> ("ev_stream_neardup_fullscan", "verdicts", runNeardupAt),
      "neardupb"    -> ("ev_stream_neardup_gate", "verdicts", runNeardupGateAt),
      "neardupt"    -> ("neardup_hotkey_uncapped", "verdicts", runHotKeyAt(0)),
      "neardupcap"  -> ("neardup_hotkey_capped", "verdicts", runHotKeyAt(8)),
      "neardupauto" -> ("neardup_hotkey_selfsized", "verdicts",
                        runHotKeyAt(8, auto = true)),
      "embedt"      -> ("embed_neardup_hotkey_uncapped", "verdicts",
                        runEmbedHotAt(0)),
      "embedcap"    -> ("embed_neardup_hotkey_capped", "verdicts",
                        runEmbedHotAt(8)),
      "curate"      -> ("curate_pipeline_uncapped", "verdicts", runCurateAt(0)),
      "curatecap"   -> ("curate_pipeline_capped", "verdicts", runCurateAt(8)),
      "ingest"      -> ("ingest_pipeline_uncapped", "verdicts",
                        runIngestAt(0, varyMonths = false)),
      "ingestcap"   -> ("ingest_pipeline_capped", "verdicts",
                        runIngestAt(8, varyMonths = false)),
      "ingestcapm"  -> ("ingest_pipeline_capped_monthscaled", "verdicts",
                        runIngestAt(8, varyMonths = true)),
      "spandedup"   -> ("etl_span_dedup", "docs", runSpanDedupAt))
    val (label, unit, run) = probes.getOrElse(probe, sys.error(
      s"unknown probe $probe; expected one of ${probes.keys.toSeq.sorted.mkString(", ")}"))
    run(1) // warmup: JIT + codegen + parquet footers
    val factors = Seq(1, 2, 5, maxFactor).distinct.filter(_ <= maxFactor)
    println(f"""{"probe":"$label%s","base_rows":$baseRows%d,"runs":[""")
    val lines = factors.map { f =>
      val lap = run(f)
      val extra = lap.extras.map {
        case (k, v: Double) => f""","$k%s":$v%.2f"""
        case (k, v) => s""","$k":$v"""
      }.mkString
      val inRows = lap.inputRows.getOrElse(baseRows * f)
      f"""{"factor":$f%d,"input_rows":$inRows%d,"$unit%s":${lap.n}%d,"sec":${lap.sec}%.2f$extra%s}"""
    }
    println(lines.mkString(",\n"))
    println("]}")
  }
}
