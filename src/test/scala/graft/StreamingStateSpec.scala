package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.IncrementalIngest
import java.nio.file.Files

class StreamingStateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def eventsStream(dir: String) = {
    Tables.events(spark, "/root/testdata/sf0.001")
      .limit(300).write.mode("overwrite").parquet(s"$dir/src")
    val schema = spark.read.parquet(s"$dir/src").schema
    spark.readStream.schema(schema).parquet(s"$dir/src")
  }

  test("streaming dedup within watermark drops duplicate keys") {
    val dir = Files.createTempDirectory("graft_sdedup").toFile.getAbsolutePath
    // duplicate every event id by unioning the source with itself
    Tables.events(spark, "/root/testdata/sf0.001").limit(100)
      .write.mode("overwrite").parquet(s"$dir/src")
    spark.read.parquet(s"$dir/src")
      .write.mode("append").parquet(s"$dir/src")
    val schema = spark.read.parquet(s"$dir/src").schema
    val q = IncrementalIngest.dedupStream(
        spark.readStream.schema(schema).parquet(s"$dir/src"), "event_id", "ts")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("sdedup")
    assert(out.count() === 100) // 200 in, dups dropped
    assert(out.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
  }

  test("mapGroupsWithState keeps running per-user counts") {
    val dir = Files.createTempDirectory("graft_state").toFile.getAbsolutePath
    val q = IncrementalIngest.statefulUserCounts(eventsStream(dir))
      .writeStream.format("memory").queryName("ucounts")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("ucounts")
    val expected = spark.read.parquet(s"$dir/src")
      .groupBy("user_id").count()
    val joined = out.join(expected, "user_id")
      .filter(col("n_events") =!= col("count"))
    assert(joined.isEmpty, "state counts must equal batch counts")
  }

  test("streaming SCD2 closes an interval opened in an EARLIER batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, String)]
    val src = ms.toDF().toDF("user_id", "event_id", "sec", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = IncrementalIngest.scdType2State(src)
      .writeStream.format("memory").queryName("sscd2_batches")
      .outputMode("update").start()
    // batch 1: A opens at 10 (the repeat at 20 must fold in)
    ms.addData((1L, 1L, 10L, "A"), (1L, 2L, 20L, "A"))
    q.processAllAvailable()
    // batch 2: B at 30 closes A — interval and state CROSS the batch
    ms.addData((1L, 3L, 30L, "B"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sscd2_batches")
      .groupBy("user_id", "version")
      .agg(min(col("state")).as("state"), min(col("since_sec")).as("since"),
        max(col("valid_to")).as("vt"))
      .orderBy("version").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getLong(3),
        Option(r.get(4)))).toSeq
    assert(got === Seq((1, "A", 10L, Some(30L)), (2, "B", 30L, None)))
  }

  test("bucketed novelty gate keeps its semantics across batches (cached bloom)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = new java.io.File(
      "target/test_stream_noveltyb").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val root = s"$out/fingerprints"
    // ONE gate for the stream — batch 2's duplicate must be caught via
    // the IN-MEMORY bloom (set by batch 1's delta fold) driving the
    // possible-member bucket probe, the exact path ev_stream_novelty
    // runs
    val gate = new graft.operators.NoveltyGate(root)
    val ms = MemoryStream[(Long, String)]
    val src = ms.toDF().toDF("doc_id", "text")
    val q = src.writeStream
      .option("checkpointLocation", s"$out/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) gate.admit(batch)
      }
      .start()
    ms.addData((1L, "alpha beta"), (2L, "alpha  beta"), (3L, "gamma"))
    q.processAllAvailable()
    ms.addData((4L, "alpha beta"), (5L, "delta"),
      (6L, null.asInstanceOf[String]))
    q.processAllAvailable()
    ms.addData((7L, null.asInstanceOf[String]))
    q.processAllAvailable()
    q.stop()
    val fps = graft.operators.Dedup.readBucketedFingerprints(spark, root)
      .collect().map(_.getString(0))
    assert(fps.length === 3, s"expected 3 novel fingerprints: ${fps.toSeq}")
    assert(fps.distinct.length === 3, "table must never hold a dup")
    assert(!fps.contains(null), "null fingerprints must never persist")
    // a FRESH gate (cold restart: bloom re-read from disk) must reach
    // the same verdicts — durability of the bitmap, not just the cache
    val gate2 = new graft.operators.NoveltyGate(root)
    gate2.admit(Seq((8L, "alpha beta"), (9L, "epsilon"))
      .toDF("doc_id", "text"))
    val fps2 = graft.operators.Dedup.readBucketedFingerprints(spark, root)
      .collect().map(_.getString(0))
    assert(fps2.length === 4, "restart gate must admit only the novel doc")
  }

  test("novelty-gate compaction dedups rows, restores one file per bucket, heals the bloom") {
    val out = new java.io.File(
      "target/test_gate_compact").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val root = s"$out/fp"
    val gate = new graft.operators.NoveltyGate(root)
    gate.admit(Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text"))
    gate.admit(Seq((3L, "delta"), (4L, "epsilon zeta")).toDF("doc_id", "text"))
    // simulate the at-least-once decay the scaladoc documents: a
    // replayed batch re-appends rows the table already holds
    val dup = spark.read.parquet(s"$root/data")
    dup.write.mode("append").partitionBy("fp_b").parquet(s"$root/data")
    assert(spark.read.parquet(s"$root/data").count() === 8)
    gate.compact(spark)
    val fps = graft.operators.Dedup.readBucketedFingerprints(spark, root)
      .collect().map(_.getString(0))
    assert(fps.length === 4 && fps.distinct.length === 4,
      "compaction must remove replay duplicates")
    // one data file per bucket directory
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
      .filter(_.isDirectory)
    dirs.foreach { d =>
      val parts = fs.listStatus(d.getPath)
        .count(_.getPath.getName.startsWith("part-"))
      assert(parts === 1, s"bucket ${d.getPath.getName} has $parts files")
    }
    // the standing gate continues on the rebuilt bitmap: known fp
    // rejected, novel admitted
    gate.admit(Seq((5L, "alpha beta"), (6L, "eta")).toDF("doc_id", "text"))
    assert(graft.operators.Dedup.readBucketedFingerprints(spark, root)
      .count() === 5)
    // a FRESH gate (cold load of the rebuilt bloom) reaches the same
    // verdicts — the rebuilt file is complete, not just the cache
    val gate2 = new graft.operators.NoveltyGate(root)
    gate2.admit(Seq((7L, "gamma"), (8L, "theta")).toDF("doc_id", "text"))
    assert(graft.operators.Dedup.readBucketedFingerprints(spark, root)
      .count() === 6)
    // widening the bucket layout at compaction time: the gate follows
    // the new width for probes and appends
    gate2.compact(spark, newPrefixChars = Some(2))
    gate2.admit(Seq((9L, "iota"), (10L, "theta")).toDF("doc_id", "text"))
    assert(graft.operators.Dedup.readBucketedFingerprints(spark, root)
      .count() === 7)
    val widths = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
      .filter(_.isDirectory).map(_.getPath.getName.stripPrefix("fp_b=").length)
    assert(widths.nonEmpty && widths.forall(_ === 2),
      "compaction must have rewritten every bucket at the new width")
    // PROCESS RESTART after the widening: a fresh gate must restore
    // the live width from the layout manifest, not reset to the
    // constructor default — a width-1 probe against width-2 fp_b
    // partition values would match nothing, silently re-admitting
    // every known fingerprint and writing a mixed-width layout
    val gate3 = new graft.operators.NoveltyGate(root)
    gate3.admit(Seq((11L, "theta"), (12L, "kappa")).toDF("doc_id", "text"))
    assert(graft.operators.Dedup.readBucketedFingerprints(spark, root)
      .count() === 8, "restarted gate must keep the widened layout")
    val widths2 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
      .filter(_.isDirectory).map(_.getPath.getName.stripPrefix("fp_b=").length)
    assert(widths2.forall(_ === 2), "no mixed-width partitions after restart")
  }

  test("gate layout manifests: shape fails fast, live geometry adopts, resizes, self-sizes") {
    val out = new java.io.File("target/test_gate_layout").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val docs = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val ng = new graft.operators.NoveltyGate(s"$out/nov")
    ng.admit(docs)
    // bits is LIVE state (r14, the bucket-width discipline): a reopen
    // with a different constructor value ADOPTS the persisted width —
    // a smaller value would crash reading the delta file, a larger
    // one would misposition every stored bit, so disk truth wins and
    // dedup stays exact
    val adopted = new graft.operators.NoveltyGate(s"$out/nov",
      bits = 1 << 20)
    adopted.admit(Seq((3L, "alpha beta"), (4L, "delta"))
      .toDF("doc_id", "text"))
    assert(graft.operators.Dedup
      .readBucketedFingerprints(spark, s"$out/nov").count() === 3,
      "adopting gate must keep exact dedup against the stored bloom")
    def novBits() = graft.operators.GateLayout.read(fs,
      new org.apache.hadoop.fs.Path(s"$out/nov/_layout"))("bits").toInt
    assert(novBits() === graft.operators.Dedup.noveltyBloomBits)
    // k stays SEMANTIC shape — mismatched reopens still fail fast
    val errK = intercept[IllegalStateException] {
      new graft.operators.NoveltyGate(s"$out/nov", k = 5).admit(docs)
    }
    assert(errK.getMessage.contains("k="))
    // the explicit resize path: compact(newBits) rebuilds the bloom
    // file wholesale at the new width and persists it; a default
    // reopen then adopts it and dedup continues exact
    adopted.compact(spark, newBits = Some(1 << 20))
    assert(novBits() === (1 << 20))
    val reopened = new graft.operators.NoveltyGate(s"$out/nov")
    reopened.admit(Seq((5L, "delta"), (6L, "epsilon"))
      .toDF("doc_id", "text"))
    assert(graft.operators.Dedup
      .readBucketedFingerprints(spark, s"$out/nov").count() === 4)
    // self-sizing bloom: a tiny-bits gate under growBloomFactor grows
    // at compaction until k·n·2 ≤ bits (occupancy stays under the
    // probe-degradation threshold), and the grown width survives a
    // restart with dedup intact
    val groot = s"$out/grow"
    new graft.operators.NoveltyGate(groot, bits = 1 << 10,
        growBloomFactor = 4, autoCompactEvery = 1)
      .admit((1 to 300).map(i => (i.toLong, s"grow doc $i text"))
        .toDF("doc_id", "text"))
    val gb = graft.operators.GateLayout.read(fs,
      new org.apache.hadoop.fs.Path(s"$groot/_layout"))("bits").toInt
    // k=4, n=300 → k·n·2 = 2400 > 1024; one ×4 step lands at 4096
    assert(gb === (1 << 12), s"expected self-sized bits 4096, got $gb")
    val gv = new graft.operators.NoveltyGate(groot)
      .admitScored(Seq((1000L, "grow doc 5 text"), (1001L, "brand new"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gv === Map(1000L -> 0, 1001L -> 1),
      "restarted gate at the grown width must keep exact dedup")
    // the resize crash window: generation swap landed, process died
    // BEFORE the manifest refresh — the _bits marker rode the swap
    // and must win over the stale manifest (else the reopened gate
    // reads the grown file at the old width and dedup state is lost)
    val gmp = new org.apache.hadoop.fs.Path(s"$groot/_layout")
    val gm = graft.operators.GateLayout.read(fs, gmp)
    graft.operators.GateLayout.write(fs, gmp,
      gm.updated("bits", (1 << 10).toString).toSeq)
    val sv = new graft.operators.NoveltyGate(groot)
      .admitScored(Seq((1002L, "grow doc 7 text"), (1003L, "newer still"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sv === Map(1002L -> 0, 1003L -> 1),
      "the in-generation width marker must win over a stale manifest")
    assert(graft.operators.GateLayout.read(fs, gmp)("bits").toInt
      === (1 << 12), "the manifest must heal from the marker")
    val nd = new graft.operators.NearDupGate(s"$out/nd")
    nd.admit(docs, "doc_id", "text")
    // a signature-shape mismatch vs stored sigs/bands is a silent
    // false-negative factory — fail fast instead
    val err2 = intercept[IllegalStateException] {
      new graft.operators.NearDupGate(s"$out/nd", numHashes = 64,
        bands = 16).admit(docs, "doc_id", "text")
    }
    assert(err2.getMessage.contains("num_hashes"))
    // bits is NOT pinned for the near-dup gate (bitmap is in-memory,
    // rebuilt through the current geometry) — resizing it is free
    new graft.operators.NearDupGate(s"$out/nd", bits = 1 << 20)
      .admit(Seq((3L, "alpha beta")).toDF("doc_id", "text"),
        "doc_id", "text")
    val v = spark.read.parquet(s"$out/nd/verdicts")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(v(3L) === 1, "resized-bitmap gate still flags via rebuilt bloom")
  }

  test("near-dup gate per-band-key cap bounds template-heavy fan-out and reports shed") {
    val out = new java.io.File("target/test_nd_cap").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val gate = new graft.operators.NearDupGate(out, bandKeyCap = 2)
    // a template-heavy batch: five byte-identical docs share every
    // band key, so uncapped the 5th doc would score 4 candidates —
    // capped at 2, every doc beyond the cap scores exactly the 2
    // EARLIEST-seen sharers and reports its truncated keys
    gate.admit((1L to 5L).map(i => (i, "tmpl alpha beta gamma delta"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val v1 = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(3), r.getLong(4)))).toMap
    assert(v1(1L)._1 === 0L && v1(1L)._2 === 0, "first copy novel")
    assert(v1(2L) === ((1L, 1, 16L)), "one predecessor below the cap")
    Seq(3L, 4L, 5L).foreach { i =>
      assert(v1(i) === ((2L, 1, 16L)),
        s"doc $i must see exactly cap=2 earliest-seen candidates " +
          s"and report all 16 keys truncated, got ${v1(i)}")
    }
    // CROSS-probe cap: a later template doc probes the persistent
    // index (5 sharers per key) and still sees only the 2 earliest
    gate.admit(Seq((6L, "tmpl alpha beta gamma delta"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val v2 = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(3), r.getLong(4)))).toMap
    assert(v2(6L) === ((2L, 1, 16L)),
      s"cross probe must cap at 2 candidates, got ${v2(6L)}")
    // an UNRELATED doc sails through with no shed reported
    gate.admit(Seq((7L, "omega psi chi phi")).toDF("doc_id", "text"),
      "doc_id", "text")
    val v3 = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(3), r.getLong(4)))).toMap
    assert(v3(7L) === ((0L, 0, 0L)))
  }

  test("near-dup gate survives the bands-present/sigs-missing crash window") {
    val out = new java.io.File("target/test_nd_crashwin").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val gate = new graft.operators.NearDupGate(out)
    gate.admit(Seq((1L, "alpha beta gamma"), (2L, "delta eps zeta"))
      .toDF("doc_id", "text"), "doc_id", "text")
    // simulate a crash between the first-ever bands append and the
    // sigs append: bands (and the bloom rebuilt from them) say the
    // replayed docs collide, but there are no signatures to score
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/sigs"), true)
    val gate2 = new graft.operators.NearDupGate(out)
    // the replay must not wedge on a missing-path sigs read; docs
    // score novel (no signature evidence) and the appends heal the
    // table
    gate2.admit(Seq((1L, "alpha beta gamma"), (2L, "delta eps zeta"))
      .toDF("doc_id", "text"), "doc_id", "text")
    assert(spark.read.parquet(s"$out/sigs").count() === 2)
    // the healed gate detects near-dups again
    gate2.admit(Seq((3L, "alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text")
    val v = spark.read.parquet(s"$out/verdicts").distinct()
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(v(3L) === 1)
  }

  test("gates recover the generation-swap crash window at first open") {
    // swapGeneration's one crash window: between rename(cur→old) and
    // rename(tmp→cur) the live path exists at NEITHER location. The
    // _tmp sibling is the fully-written NEW generation (swaps only
    // run after the overwrite writes complete) — a reopened gate must
    // restore it instead of treating the table as empty and silently
    // re-admitting everything. Staged here for all three gates by
    // renaming each live table to its _tmp sibling.
    val out = new java.io.File("target/test_gate_swap_recover")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def crash(root: String, tables: Seq[String]): Unit =
      tables.foreach(n => fs.rename(p(s"$root/$n"), p(s"$root/${n}_tmp")))
    // novelty gate: the recovered fingerprint table must still
    // remember batch 1 (doc 3 is a whitespace-variant duplicate)
    val nroot = s"$out/nov"
    new graft.operators.NoveltyGate(nroot)
      .admit(Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text"))
    crash(nroot, Seq("data", "bloom"))
    val nv = new graft.operators.NoveltyGate(nroot)
      .admitScored(Seq((3L, "alpha  beta"), (4L, "delta"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(nv === Map(3L -> 0, 4L -> 1),
      "recovered novelty gate must remember batch-1 fingerprints")
    assert(!fs.exists(p(s"$nroot/data_tmp")) &&
      !fs.exists(p(s"$nroot/data_old")), "recovery must leave one live generation")
    // near-dup gate: the recovered band index + sigs must flag an
    // identical-text arrival (n_eq = 32 ≥ minEq)
    val ndroot = s"$out/nd"
    val base = "the quick brown fox jumps over the lazy dog with many tokens"
    new graft.operators.NearDupGate(ndroot)
      .admit(Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text")
    crash(ndroot, Seq("bands", "sigs", "verdicts"))
    val ndv = new graft.operators.NearDupGate(ndroot)
      .admitScored(Seq((2L, base)).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(ndv === Map(2L -> 1),
      "recovered near-dup gate must flag against the restored index")
    // embedding gate: the recovered keys + vecs must flag a parallel
    // arrival through the rebuilt seen-key set
    val eroot = s"$out/embed"
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("id", "v")
    new graft.operators.EmbedNearDupGate(eroot, dim = 4,
        bands = 2, rowBits = 2, minCosine = 0.5)
      .admit(vecs(1L -> Seq(1f, 0f, 0f, 0f)), "id", "v")
    crash(eroot, Seq("keys", "vecs", "verdicts"))
    val ev = spark.read.parquet {
      new graft.operators.EmbedNearDupGate(eroot, dim = 4,
          bands = 2, rowBits = 2, minCosine = 0.5)
        .admit(vecs(2L -> Seq(0.99f, 0.02f, 0f, 0f)), "id", "v")
      s"$eroot/verdicts"
    }.collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(ev === Map(1L -> 0, 2L -> 1),
      "recovered embedding gate must flag against the restored index")
    // the _old-only variant (defensive: not reachable from
    // swapGeneration's ordering) restores the old generation too
    fs.rename(p(s"$nroot/data"), p(s"$nroot/data_old"))
    val nv2 = new graft.operators.NoveltyGate(nroot)
      .admitScored(Seq((5L, "gamma")).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(nv2 === Map(5L -> 0),
      "an _old-only survivor must restore rather than start empty")
  }

  test("every generation-swap crash state recovers: stale tmp, stale old, missing live") {
    // swapGeneration's full state machine, enumerated: (a) crash
    // after the _tmp write but before any rename → live dir intact,
    // stale _tmp beside it (must be ignored at open and cleanly
    // overwritten by the next compact); (b) crash between the two
    // renames → live at NEITHER location (covered per-gate by the
    // first-open recovery test; re-asserted here in the enumeration);
    // (c) crash after rename(tmp→cur) before delete(old) → live +
    // stale _old (recovery clears the _old). All on the novelty gate,
    // whose machinery is the family's shared implementation.
    val out = new java.io.File("target/test_swap_states").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val root = s"$out/nov"
    new graft.operators.NoveltyGate(root)
      .admit(Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text"))
    def dup(): Int = new graft.operators.NoveltyGate(root)
      .admitScored(Seq((99L, "alpha  beta")).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(_.getInt(1)).sum // 0 iff remembered
    // (a) stale _tmp beside a live dir: build one by copying the live
    // dir, then reopen — the live generation must win, and a
    // subsequent compact must land cleanly over the leftover
    org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$root/data"),
      fs, p(s"$root/data_tmp"), false,
      spark.sparkContext.hadoopConfiguration)
    assert(dup() === 0, "live generation must win over a stale _tmp")
    val g2 = new graft.operators.NoveltyGate(root)
    g2.compact(spark)
    assert(!fs.exists(p(s"$root/data_tmp")) &&
      !fs.exists(p(s"$root/data_old")),
      "compact must consume/clear the stale siblings")
    assert(dup() === 0, "dedup intact after compacting over a stale tmp")
    // (c) live + stale _old (crash before the final delete): the
    // next open clears it without touching the live generation
    org.apache.hadoop.fs.FileUtil.copy(fs, p(s"$root/data"),
      fs, p(s"$root/data_old"), false,
      spark.sparkContext.hadoopConfiguration)
    assert(dup() === 0, "live generation must win over a stale _old")
    assert(!fs.exists(p(s"$root/data_old")),
      "first open must clear the stale _old beside a live dir")
    // (b) live at neither location — the promoted _tmp is the truth
    fs.rename(p(s"$root/data"), p(s"$root/data_tmp"))
    assert(dup() === 0, "missing live dir must restore from _tmp")
    assert(fs.exists(p(s"$root/data")) && !fs.exists(p(s"$root/data_tmp")))
  }

  test("streaming near-dup gate flags a near-duplicate arriving in a LATER batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = new java.io.File(
      "target/test_stream_neardup").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val ms = MemoryStream[(Long, String)]
    val src = ms.toDF().toDF("doc_id", "text")
    val q = src.writeStream
      .option("checkpointLocation", s"$out/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          new graft.operators.NearDupGate(out)
            .admit(batch, "doc_id", "text")
        }
      }
      .start()
    // batch 1: doc 1 novel; doc 2 is a BATCH-INTERNAL near-dup of 1
    // (identical token set → identical signature, flagged via the
    // smaller-id self-probe); doc 3 disjoint vocab
    ms.addData((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), (3L, "omega psi chi phi"))
    q.processAllAvailable()
    // batch 2: doc 4 is a CROSS-BATCH near-dup of doc 1 — it must be
    // flagged via the PERSISTENT sig table, the memory that outlives
    // the batch; doc 5 novel; doc 6 null text (no signature, novel,
    // never appended)
    ms.addData((4L, "alpha beta gamma delta"),
      (5L, "iota kappa lambda mu"), (6L, null.asInstanceOf[String]))
    q.processAllAvailable()
    q.stop()
    val v = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    assert(v.size === 6)
    assert(v(1L) === ((0L, 0)), "first copy is novel")
    assert(v(2L) === ((32L, 1)), "batch-internal near-dup flagged")
    assert(v(3L)._2 === 0)
    assert(v(4L) === ((32L, 1)), "cross-batch near-dup flagged via table")
    assert(v(5L)._2 === 0)
    assert(v(6L) === ((0L, 0)), "null doc verdicts as novel")
    // the sig table holds only non-null-signature docs
    val sigs = spark.read.parquet(s"$out/sigs").collect()
    assert(sigs.length === 5 && !sigs.exists(_.isNullAt(1)))
    // a FRESH gate (cold restart) rebuilds its bloom from the bands
    // table in one aggregation — a near-dup of a doc admitted before
    // the restart must still be flagged, and a novel doc admitted
    val gate2 = new graft.operators.NearDupGate(out)
    gate2.admit(Seq((7L, "alpha beta gamma delta"),
      (8L, "nu xi omicron pi")).toDF("doc_id", "text"), "doc_id", "text")
    val v2 = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    assert(v2(7L) === ((32L, 1)), "restart gate must flag via rebuilt bloom")
    assert(v2(8L)._2 === 0)
  }

  test("both gates survive a first batch of only null-text docs, then continue") {
    // the degenerate first batch appends nothing — the gates must not
    // create empty table directories that a later read or a restart
    // rebuild chokes on, and the NEXT real batch must behave normally
    val out = new java.io.File("target/test_gate_nullfirst").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val nulls = Seq((1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val ng = new graft.operators.NoveltyGate(s"$out/nov")
    ng.admit(nulls)
    assert(graft.operators.Dedup
      .readBucketedFingerprints(spark, s"$out/nov").count() === 0)
    ng.admit(Seq((3L, "alpha"), (4L, "alpha")).toDF("doc_id", "text"))
    assert(graft.operators.Dedup
      .readBucketedFingerprints(spark, s"$out/nov").count() === 1)
    val nd = new graft.operators.NearDupGate(s"$out/nd")
    nd.admit(nulls, "doc_id", "text")
    nd.admit(Seq((3L, "beta gamma"), (4L, "beta gamma"))
      .toDF("doc_id", "text"), "doc_id", "text")
    // restart rebuild over whatever the degenerate batch left behind
    val nd2 = new graft.operators.NearDupGate(s"$out/nd")
    nd2.admit(Seq((5L, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text")
    val v = spark.read.parquet(s"$out/nd/verdicts")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(v === Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1))
  }

  test("near-dup gate compaction dedups tables and the gate continues") {
    val out = new java.io.File("target/test_nd_compact").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val gate = new graft.operators.NearDupGate(out)
    gate.admit(Seq((1L, "alpha beta gamma"), (2L, "delta eps zeta"))
      .toDF("doc_id", "text"), "doc_id", "text")
    gate.admit(Seq((3L, "eta theta iota")).toDF("doc_id", "text"),
      "doc_id", "text")
    // simulate the at-least-once decay: re-append both tables' rows
    val b = spark.read.parquet(s"$out/bands")
    b.write.mode("append").partitionBy("bh_b").parquet(s"$out/bands")
    val g = spark.read.parquet(s"$out/sigs")
    g.write.mode("append").parquet(s"$out/sigs")
    assert(spark.read.parquet(s"$out/bands").count() === 96)
    gate.compact(spark)
    assert(spark.read.parquet(s"$out/bands").count() === 48)
    assert(spark.read.parquet(s"$out/sigs").count() === 3)
    // one sig file; buckets hold one file each
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/bands"))
      .filter(_.isDirectory).foreach { d =>
        assert(fs.listStatus(d.getPath)
          .count(_.getPath.getName.startsWith("part-")) === 1)
      }
    // the gate continues on its unchanged cache, and a FRESH gate's
    // rebuild over the compacted tables reaches the same verdicts
    gate.admit(Seq((4L, "alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text")
    val nd2 = new graft.operators.NearDupGate(out)
    nd2.admit(Seq((5L, "delta eps zeta"), (6L, "mu nu xi"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val v = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(v === Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1, 6L -> 0))
  }

  test("curation chain exercises every stage's population end to end") {
    // the sf fixtures never survive stage 3 (nothing passes Gopher ∧
    // NB there), so stages 4-5 run over empty populations in the
    // oracle rows — this spec constructs docs that exercise EVERY
    // stage outcome, including both decontamination drop reasons and
    // an LM perplexity rejection, through the Curation API
    val out = new java.io.File("target/test_curate_full").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val tT = "the quick brown fox jumps over the lazy dog and then " +
      "runs back to the barn with a happy smile on its face while " +
      "the farmer watches from the field and thinks about the " +
      "harvest that will come with the autumn rain and the long " +
      "days of work ahead for everyone there"
    val t2 = "a small boat drifted across the quiet lake as morning " +
      "light touched the water and birds called from the tall trees " +
      "near the shore where an old man sat with his fishing rod " +
      "waiting for the first catch of the day while soft wind moved " +
      "the leaves and the world felt calm"
    val t3 = "people walked through the busy market street looking " +
      "at fresh fruit and bright cloth while sellers called out " +
      "prices and children ran between the stalls carrying small " +
      "bags of sweet bread that their mothers bought from the baker " +
      "near the corner where music played all day and laughter " +
      "filled the warm air"
    val sEval = "children gathered near the old stone bridge to " +
      "watch boats sail slowly down the river"
    // reference corpus: three long en docs, the eval-slice sentence
    // (id 460 ∈ [400, 500)), and one non-en doc (NB needs both
    // classes)
    val corpus = Seq((1L, tT, "en"), (2L, t2, "en"), (3L, t3, "en"),
      (460L, sEval, "en"), (9L, "zz qq rr ss tt", "fr"))
      .toDF("doc_id", "text", "lang")
    val models = graft.streaming.Curation.trainModels(corpus)
    val ngate = new graft.operators.NoveltyGate(s"$out/nov")
    val ndgate = new graft.operators.NearDupGate(s"$out/nd")
    def run(batch: org.apache.spark.sql.DataFrame) =
      graft.streaming.Curation
        .curateBatch(batch, ngate, ndgate, models)
        .collect().map(r => r.getLong(0) -> (1 to 6).map(i =>
          if (r.isNullAt(i)) None else Some(r.getInt(i))).toList).toMap
    // contaminated doc: the eval sentence verbatim + enough trained
    // words to pass Gopher
    val contaminated = sEval + " " + t2.split(" ").take(40).mkString(" ")
    // perplexity reject: 20 trained tokens from each long doc,
    // deterministically scrambled — token-level NB evidence stays
    // en, but nearly every BIGRAM is unseen (20 bits each)
    val scrambled = (tT.split(" ").take(20) ++ t2.split(" ").take(20)
      ++ t3.split(" ").take(20)).reverse.mkString(" ")
    val b1 = run(Seq(100L -> tT, 101L -> "tmpl alpha beta gamma",
      300L -> contaminated).toDF("doc_id", "text"))
    assert(b1(100L) === List(Some(1), Some(0), Some(1), Some(1),
      Some(1), Some(1)), s"clean doc passes all five: ${b1(100L)}")
    assert(b1(101L) === List(Some(1), Some(0), Some(0), None, None,
      Some(0)), "short doc fails quality, later stages null")
    assert(b1(300L) === List(Some(1), Some(0), Some(1), Some(0), None,
      Some(0)), s"eval 13-gram overlap drops at stage 4: ${b1(300L)}")
    val b2 = run(Seq(
      110L -> "gamma beta alpha tmpl", // permutes the QUALITY-DROPPED
                                       // doc 101 — stage 2 indexes
                                       // survivors of stage 1, kept
                                       // or not
      111L -> tT,                      // cross-batch exact dup
      450L -> t3,                      // clean text, eval-range id
      600L -> scrambled                // unseen bigrams
    ).toDF("doc_id", "text"))
    assert(b2(110L) === List(Some(1), Some(1), None, None, None,
      Some(0)), s"near-dup of a quality-dropped doc flags: ${b2(110L)}")
    assert(b2(111L) === List(Some(0), None, None, None, None, Some(0)))
    assert(b2(450L) === List(Some(1), Some(0), Some(1), Some(0), None,
      Some(0)), s"eval-range id drops at stage 4: ${b2(450L)}")
    assert(b2(600L) === List(Some(1), Some(0), Some(1), Some(1),
      Some(0), Some(0)), s"unseen bigrams fail the LM: ${b2(600L)}")
    // full-chain replay: re-running batch 2 reproduces every verdict
    assert(run(Seq(110L -> "gamma beta alpha tmpl", 111L -> tT,
      450L -> t3, 600L -> scrambled).toDF("doc_id", "text")) === b2)
  }

  test("curate verdict columns respect the stage lattice") {
    // structural invariants of the composed pipeline's per-doc output
    // (cheap local guard for the big composed oracle): a verdict
    // column is NULL iff the doc never reached that stage, and kept=1
    // exactly when all five stages passed
    val out = graft.streaming.StreamingQueries
      .registry("ev_stream_curate")
      .fn(SparkTest.session, "/root/testdata/sf0.001")
      .cache()
    assert(out.count() > 0)
    def bad(cond: org.apache.spark.sql.Column, msg: String): Unit =
      assert(out.filter(cond).isEmpty, msg)
    bad(col("is_novel").isNull, "stage 1 verdicts every doc")
    bad(col("is_novel") === 0 && col("is_neardup").isNotNull,
      "a novelty drop must carry no stage-2 verdict")
    bad(col("is_novel") === 1 && col("is_neardup").isNull,
      "every novelty survivor must carry a stage-2 verdict")
    bad(col("is_neardup") === 1 && col("quality_kept").isNotNull,
      "a near-dup drop must carry no stage-3 verdict")
    bad(col("is_neardup") === 0 && col("quality_kept").isNull,
      "every near-dup survivor must carry a stage-3 verdict")
    bad(col("quality_kept") === 0 && col("decontam_kept").isNotNull,
      "a quality drop must carry no stage-4 verdict")
    bad(col("quality_kept") === 1 && col("decontam_kept").isNull,
      "every quality survivor must carry a stage-4 verdict")
    bad(col("decontam_kept") === 0 && col("lm_kept").isNotNull,
      "a decontam drop must carry no stage-5 verdict")
    bad(col("decontam_kept") === 1 && col("lm_kept").isNull,
      "every decontam survivor must carry a stage-5 verdict")
    bad(col("kept").isNull, "kept is total")
    bad(col("kept") === 1 && !(col("is_novel") === 1 &&
      col("is_neardup") === 0 && col("quality_kept") === 1 &&
      col("decontam_kept") === 1 && col("lm_kept") === 1),
      "kept=1 must mean all five stages passed")
    bad(col("kept") === 0 && col("lm_kept") === 1,
      "an lm-kept doc passed everything and must be kept")
    out.unpersist()
  }

  test("Curation.start passes the band-key cap through to its stage-2 gate") {
    // the text pipeline's production entry point must be able to
    // enable its own stage-2 scale remedy: capped-curate verdicts
    // must equal composing curateBatch with a capped NearDupGate by
    // hand, and the cap must demonstrably fire inside the started
    // pipeline (shed reported in the gate's own verdicts table)
    val out = new java.io.File("target/test_curate_cap").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    // a hot template family: 10 docs sharing 40 tokens with one
    // unique token each — distinct exact fingerprints (all pass
    // stage 1) but near-identical signatures, so band keys carry all
    // 10 sharers and a cap of 2 must truncate
    val common = (1 to 40).map(i => s"tok$i").mkString(" ")
    // both NB labels must be populated (an all-en corpus would zero
    // the label-0 prior denominator)
    val docs = (1L to 10L)
      .map(i => (i, s"$common unique$i", if (i % 3 == 0) "de" else "en"))
      .toDF("doc_id", "text", "lang")
    docs.write.mode("overwrite").parquet(s"$out/src")
    val models = graft.streaming.Curation.trainModels(docs)
    val schema = spark.read.parquet(s"$out/src").schema
    graft.streaming.Curation.start(spark, s"$out/src", schema,
        s"$out/run", models, bandKeyCap = 2)
      .awaitTermination()
    val scored = spark.read.parquet(s"$out/run/scored").distinct()
    // the knob reached the gate: its verdicts table reports shed
    val gateV = spark.read.parquet(s"$out/run/nd/verdicts").distinct()
    assert(gateV.filter(col("n_capped_keys") > 0).count() > 0,
      "the started pipeline's stage-2 gate must report truncated keys")
    // hand-composed capped chain reaches identical verdicts
    val ng = new graft.operators.NoveltyGate(s"$out/manual/nov")
    val nd = new graft.operators.NearDupGate(s"$out/manual/nd",
      bandKeyCap = 2)
    val manual = graft.streaming.Curation.curateBatch(
      docs.select(col("doc_id"), col("text")), ng, nd, models)
    assert(scored.exceptAll(manual).isEmpty &&
      manual.exceptAll(scored).isEmpty,
      "capped Curation.start must equal the capped-gate composition")
    // and the cap is semantically live: stage-2 candidate counts in
    // the capped run stay ≤ what an UNCAPPED gate sees for the same
    // batch (strictly fewer for at least one doc on this fixture)
    val ndFree = new graft.operators.NearDupGate(s"$out/free/nd")
    val freeV = ndFree.admitScored(
      docs.select(col("doc_id"), col("text")), "doc_id", "text")
    val joined = gateV.select(col("id"), col("n_cands").as("capped_n"))
      .join(freeV.select(col("id"), col("n_cands").as("free_n")), "id")
    assert(joined.filter(col("capped_n") > col("free_n")).isEmpty)
    assert(joined.filter(col("capped_n") < col("free_n")).count() > 0)
  }

  test("persisted curation models reproduce verdicts bit-exactly") {
    // the production separation: models trained on a cadence by a
    // batch job, loaded by every ingest worker — a loaded model must
    // be indistinguishable from the trained one, down to every
    // verdict bit, or steady-state ingest silently drifts from the
    // training run's census
    val out = new java.io.File("target/test_curate_models")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val trained = graft.streaming.Curation.trainModels(corpus)
    graft.streaming.Curation.Models.save(trained, s"$out/models")
    val loaded = graft.streaming.Curation.Models
      .load(spark, s"$out/models")
    assert(loaded.evalFrom === trained.evalFrom &&
      loaded.evalUntil === trained.evalUntil,
      "the eval window must travel with the gram index")
    val batch = corpus.select(col("doc_id"), col("text")).limit(120)
    def run(tag: String, m: graft.streaming.Curation.Models) =
      graft.streaming.Curation.curateBatch(batch,
        new graft.operators.NoveltyGate(s"$out/$tag/nov"),
        new graft.operators.NearDupGate(s"$out/$tag/nd"), m)
    val a = run("trained", trained)
    val b = run("loaded", loaded)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "loaded models must reproduce every verdict bit-exactly")
  }

  test("capped near-dup gate composes per-probe across a multi-batch split") {
    // spec-freezes the documented multi-batch semantics of the cap
    // (the ev_stream_neardup_capped row's single-batch oracle caveat):
    // "earliest-seen per key" composes PER PROBE — the index kept-set
    // (cap smallest stored ids) plus the self-probe kept-set (cap
    // smallest in-batch ids) — so a doc whose hot key straddles the
    // split sees at most 2×cap candidates, deterministically.
    // Fixture: 15 identical-text docs (every band key carries every
    // doc), cap=4, split 10/5.
    val out = new java.io.File("target/test_cap_multibatch")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def docs(ids: Range) = ids.map(i => (i.toLong, text))
      .toDF("doc_id", "text")
    def vMap() = {
      val rows = spark.read.parquet(s"$out/nd/verdicts").distinct()
        .collect()
      // one row per id BEFORE toMap — toMap would silently collapse a
      // divergent replay's second row for the same id, masking the
      // exact regression the replay assertion exists to catch
      assert(rows.map(_.getLong(0)).distinct.length === rows.length,
        "verdict table must hold exactly one row per id")
      rows.map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4)))).toMap
    }
    val gate = new graft.operators.NearDupGate(s"$out/nd", bandKeyCap = 4)
    gate.admitScored(docs(1 to 10), "doc_id", "text")
    gate.admitScored(docs(11 to 15), "doc_id", "text")
    // hand-computed: batch 1 is the global-rank shape (kept = ids
    // 1..4; doc q sees kept ∩ {<q}); batch 2 composes per-probe:
    // 4 from the index (ids 1..4, the stored earliest) + up to 4
    // in-batch predecessors (ids 11..14) — doc 15 hits the 2×cap
    // ceiling at 8. All 16 band keys exceed the cap on both probes,
    // so every doc reports n_capped_keys = 16.
    val expect = Map(
      1L -> ((0L, 0L, 0, 16L)),
      2L -> ((1L, 32L, 1, 16L)), 3L -> ((2L, 32L, 1, 16L)),
      4L -> ((3L, 32L, 1, 16L)), 5L -> ((4L, 32L, 1, 16L)),
      6L -> ((4L, 32L, 1, 16L)), 7L -> ((4L, 32L, 1, 16L)),
      8L -> ((4L, 32L, 1, 16L)), 9L -> ((4L, 32L, 1, 16L)),
      10L -> ((4L, 32L, 1, 16L)),
      11L -> ((4L, 32L, 1, 16L)), 12L -> ((5L, 32L, 1, 16L)),
      13L -> ((6L, 32L, 1, 16L)), 14L -> ((7L, 32L, 1, 16L)),
      15L -> ((8L, 32L, 1, 16L)))
    assert(vMap() === expect,
      "multi-batch capped verdicts must match the per-probe composition")
    // replay determinism with the cap on: a restarted gate re-admitting
    // batch 2 finds its own ids indexed, the exclusion removes them
    // BEFORE the cap ranks, so the kept sets — and every verdict —
    // reproduce exactly
    val replay = new graft.operators.NearDupGate(s"$out/nd", bandKeyCap = 4)
    replay.admitScored(docs(11 to 15), "doc_id", "text")
    assert(vMap() === expect,
      "a replayed capped batch must reproduce its verdicts bit-for-bit")
  }

  test("verdict-table schema generation is manifest-pinned: heal older, reject newer") {
    // the manifest entry makes verdict files written by newer code,
    // read by this one, fail fast instead of silently dropping
    // columns
    val out = new java.io.File("target/test_verdict_schema")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val root = s"$out/nd"
    val mp = new org.apache.hadoop.fs.Path(s"$root/_layout")
    new graft.operators.NearDupGate(root)
      .admit(Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
        "doc_id", "text")
    val m0 = graft.operators.GateLayout.read(fs, mp)
    assert(m0.get("verdict_schema") === Some("2"))
    // a HIGHER generation's files must not be silently column-dropped
    graft.operators.GateLayout.write(fs, mp,
      m0.updated("verdict_schema", "99").toSeq)
    val err = intercept[IllegalStateException] {
      new graft.operators.NearDupGate(root)
        .admit(Seq((3L, "eta theta iota")).toDF("doc_id", "text"),
          "doc_id", "text")
    }
    assert(err.getMessage.contains("verdict_schema"))
    // same contract on the embedding gate
    val eroot = s"$out/embed"
    new graft.operators.EmbedNearDupGate(eroot, dim = 4,
        bands = 2, rowBits = 2)
      .admit(Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("id", "v"), "id", "v")
    val emp = new org.apache.hadoop.fs.Path(s"$eroot/_layout")
    val em0 = graft.operators.GateLayout.read(fs, emp)
    assert(em0.get("verdict_schema") === Some("2"))
    graft.operators.GateLayout.write(fs, emp,
      em0.updated("verdict_schema", "99").toSeq)
    val eerr = intercept[IllegalStateException] {
      new graft.operators.EmbedNearDupGate(eroot, dim = 4,
          bands = 2, rowBits = 2)
        .admit(Seq((2L, Seq(0f, 1f, 0f, 0f))).toDF("id", "v"), "id", "v")
    }
    assert(eerr.getMessage.contains("verdict_schema"))
  }

  test("Curation.start over loaded models equals the trained-models stream") {
    // the full production path: a batch job trains + saves, the
    // ingest worker LOADS and streams — the scored table must be
    // byte-identical to streaming under the in-memory trained models
    val out = new java.io.File("target/test_curate_loaded").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    corpus.select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$out/src")
    val trained = graft.streaming.Curation.trainModels(corpus)
    graft.streaming.Curation.Models.save(trained, s"$out/models")
    val loaded = graft.streaming.Curation.Models
      .load(spark, s"$out/models")
    val schema = spark.read.parquet(s"$out/src").schema
    graft.streaming.Curation.start(spark, s"$out/src", schema,
      s"$out/a", trained).awaitTermination()
    graft.streaming.Curation.start(spark, s"$out/src", schema,
      s"$out/b", loaded).awaitTermination()
    val a = spark.read.parquet(s"$out/a/scored").distinct()
    val b = spark.read.parquet(s"$out/b/scored").distinct()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "a loaded-models stream must reproduce the trained-models stream")
    assert(a.count() === corpus.count())
  }

  test("near-dup gates reach the same verdicts through the dup-heavy fallback paths") {
    // candCap forced tiny so BOTH overflow branches run: the
    // possible-hash set exceeds the cap (index scanned instead of
    // INSET-pruned) and the candidate-id set exceeds it (signatures
    // fetched via the semi-join against collected pairs instead of
    // an id INSET) — the 100 TB dup-heavy shapes, which must agree
    // with the pruned path's verdicts exactly
    val out = new java.io.File("target/test_fallback").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val nd = new graft.operators.NearDupGate(s"$out/nd", candCap = 2)
    nd.admit((1L to 4L).map(i => (i, "tmpl alpha beta gamma delta"))
      .toDF("doc_id", "text"), "doc_id", "text")
    nd.admit(Seq((10L, "tmpl alpha beta gamma delta"),
      (11L, "omega psi chi phi")).toDF("doc_id", "text"),
      "doc_id", "text")
    val v = spark.read.parquet(s"$out/nd/verdicts").distinct()
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(3)))).toMap
    assert(v(10L) === ((4L, 1)),
      s"fallback cross probe must find all 4 corpus candidates: ${v(10L)}")
    assert(v(11L) === ((0L, 0)))
    val en = new graft.operators.EmbedNearDupGate(s"$out/en", dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5, candCap = 2)
    en.admit((1L to 4L).map(i => (i, Seq(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding")
    en.admit(Seq((10L, Seq(0.99f, 0.05f, 0f, 0f)),
      (11L, Seq(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val ve = spark.read.parquet(s"$out/en/verdicts").distinct()
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(3)))).toMap
    assert(ve(10L) === ((4L, 1)),
      s"embed fallback must score all 4 corpus candidates: ${ve(10L)}")
    assert(ve(11L)._2 === 0)
  }

  test("scored-gate verdicts are replay-stable after state committed") {
    // the at-least-once window the curate pipeline lives in: gate
    // state (bloom/table/index) committed, then the batch is replayed
    // because a LATER write in the same foreachBatch turn failed —
    // the replay must reproduce the original verdicts bit-for-bit,
    // not flip first occurrences to "seen before"
    val out = new java.io.File("target/test_replay_stable").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val ng = new graft.operators.NoveltyGate(s"$out/nov")
    val b1 = Seq((10L, "alpha beta"), (11L, "alpha  beta"),
      (12L, "gamma"), (13L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    def novMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val first = novMap(ng.admitScored(b1, "doc_id", "text"))
    assert(first === Map(10L -> 1, 11L -> 0, 12L -> 1, 13L -> 0))
    // replay through the SAME gate and through a fresh (restarted)
    // one: ownership is read from the table, so both reproduce
    assert(novMap(ng.admitScored(b1, "doc_id", "text")) === first)
    val ng2 = new graft.operators.NoveltyGate(s"$out/nov")
    assert(novMap(ng2.admitScored(b1, "doc_id", "text")) === first)
    // a later batch still verdicts correctly against the owned rows
    val b2 = Seq((20L, "alpha beta"), (21L, "delta"))
      .toDF("doc_id", "text")
    assert(novMap(ng2.admitScored(b2, "doc_id", "text"))
      === Map(20L -> 0, 21L -> 1))
    // CAPPED near-dup replay under out-of-order arrival: the batch's
    // own replayed ids must not consume cap slots (they are excluded
    // BEFORE the per-key ranking), so the kept candidate set — and
    // the verdicts — reproduce exactly
    val nd = new graft.operators.NearDupGate(s"$out/nd", bandKeyCap = 2)
    nd.admit((10L to 12L).map(i => (i, "tmpl alpha beta gamma"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val small = Seq((1L, "tmpl alpha beta gamma"),
      (2L, "tmpl alpha beta gamma")).toDF("doc_id", "text")
    def vMap() = spark.read.parquet(s"$out/nd/verdicts").distinct()
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(3), r.getLong(4)))).toMap
    nd.admit(small, "doc_id", "text")
    val afterFirst = vMap()
    nd.admit(small, "doc_id", "text") // the replay
    assert(vMap() === afterFirst,
      "replayed capped verdicts must dedup to the original rows")
  }

  test("embedding near-dup gate flags across batches, restarts, and compaction") {
    val out = new java.io.File("target/test_embed_nd").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def vecs(rows: (Long, Seq[Float])*) =
      rows.toSeq.toDF("vec_id", "embedding")
    def nullVec(id: Long) = Seq((id, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val gate = new graft.operators.EmbedNearDupGate(out, dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5)
    // batch 1: v1 novel; v2 nearly parallel to v1 (cos ≈ 0.999) —
    // must flag via the smaller-id self-probe; a null vector verdicts
    // novel and is never indexed
    gate.admit(vecs(1L -> Seq(1f, 0f, 0f, 0f),
      2L -> Seq(0.99f, 0.05f, 0f, 0f))
      .union(nullVec(3L)), "vec_id", "embedding")
    val v1 = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(v1 === Map(1L -> 0, 2L -> 1, 3L -> 0))
    assert(spark.read.parquet(s"$out/vecs").count() === 2)
    // COLD RESTART: a fresh gate rebuilds its exact seen-key set from
    // the keys table; a near-parallel arrival must flag via the
    // PERSISTENT index, an orthogonal one must not (cosine 0 < 0.5
    // even where a sign band happens to collide)
    val gate2 = new graft.operators.EmbedNearDupGate(out, dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5)
    gate2.admit(vecs(4L -> Seq(0.98f, -0.05f, 0f, 0f),
      5L -> Seq(0f, 0f, 1f, 0f)), "vec_id", "embedding")
    val v2 = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(v2(4L) === 1, "cross-batch embedding near-dup must flag")
    assert(v2(5L) === 0)
    // compaction collapses per-batch files; the gate continues and a
    // fresh gate over the compacted tables reaches the same verdicts
    gate2.compact(spark)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/keys"))
      .filter(_.isDirectory).foreach(d => assert(fs.listStatus(d.getPath)
        .count(_.getPath.getName.startsWith("part-")) === 1))
    val gate3 = new graft.operators.EmbedNearDupGate(out, dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5)
    gate3.admit(vecs(6L -> Seq(-0.99f, 0f, 0.05f, 0f),
      7L -> Seq(1f, 0.01f, 0f, 0f)), "vec_id", "embedding")
    val v3 = spark.read.parquet(s"$out/verdicts").distinct()
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(v3(6L) === 0, "antipodal vector (cosine ≈ -1) is novel")
    assert(v3(7L) === 1)
    // family-standard layout manifest: a geometry mismatch against
    // the stored keys/vectors is a silent false-negative factory —
    // reopening with different bands must fail fast
    val err = intercept[IllegalStateException] {
      new graft.operators.EmbedNearDupGate(out, dim = 4,
        bands = 4, rowBits = 2).admit(
        vecs(8L -> Seq(1f, 0f, 0f, 0f)), "vec_id", "embedding")
    }
    assert(err.getMessage.contains("bands"))
    // family-standard auto-compaction: two admits at every=2 end the
    // run at one file per table with verdicts intact
    val out2 = new java.io.File("target/test_embed_nd_auto").getAbsolutePath
    fs.delete(new org.apache.hadoop.fs.Path(out2), true)
    val auto = new graft.operators.EmbedNearDupGate(out2, dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5, autoCompactEvery = 2)
    auto.admit(vecs(1L -> Seq(1f, 0f, 0f, 0f)), "vec_id", "embedding")
    auto.admit(vecs(2L -> Seq(0.99f, 0.02f, 0f, 0f)), "vec_id", "embedding")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$out2/vecs"))
      .count(_.getPath.getName.startsWith("part-")) === 1)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$out2/verdicts"))
      .count(_.getPath.getName.startsWith("part-")) === 1)
    val va = spark.read.parquet(s"$out2/verdicts")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(va === Map(1L -> 0, 2L -> 1))
    // per-band-key cap (the NearDupGate discipline transplanted):
    // five identical vectors share every sign-band key; capped at 2,
    // each doc beyond the cap sees exactly the 2 earliest-seen
    // sharers and reports both its keys truncated
    val out3 = new java.io.File("target/test_embed_nd_cap").getAbsolutePath
    fs.delete(new org.apache.hadoop.fs.Path(out3), true)
    val capped = new graft.operators.EmbedNearDupGate(out3, dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5, bandKeyCap = 2)
    capped.admit(vecs((1L to 5L).map(i => i -> Seq(1f, 0f, 0f, 0f)): _*),
      "vec_id", "embedding")
    val vc = spark.read.parquet(s"$out3/verdicts")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(3), r.getLong(4)))).toMap
    assert(vc(1L) === ((0L, 0, 2L)))
    assert(vc(2L) === ((1L, 1, 2L)))
    Seq(3L, 4L, 5L).foreach(i => assert(vc(i) === ((2L, 1, 2L)),
      s"doc $i must see cap=2 candidates with both keys reported"))
  }

  test("embedding gate rowBits widening re-bands the corpus equivalently") {
    // the sizing rule says raise rowBits with the corpus; widening
    // through compact(newRowBits) must leave the gate
    // indistinguishable from one CONSTRUCTED at the new width over
    // the same corpus — same index, same seen-key set, same future
    // verdicts — and the width must survive a restart via the
    // manifest (constructor default ignored thereafter)
    val out = new java.io.File("target/test_embed_widen").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("id", "v")
    val b1 = vecs(1L -> Seq(1f, 0.2f, -0.3f, 0.5f),
      2L -> Seq(-0.7f, 0.1f, 0.9f, -0.2f),
      3L -> Seq(0.99f, 0.21f, -0.28f, 0.52f))
    val b2 = vecs(4L -> Seq(1f, 0.19f, -0.31f, 0.51f),
      5L -> Seq(0.1f, -0.9f, 0.2f, 0.7f))
    val b3 = vecs(6L -> Seq(-0.69f, 0.12f, 0.88f, -0.19f))
    val gw = new graft.operators.EmbedNearDupGate(s"$out/w", dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5)
    gw.admit(b1, "id", "v")
    gw.compact(spark, Some(8))
    gw.admit(b2, "id", "v")
    val gf = new graft.operators.EmbedNearDupGate(s"$out/f", dim = 4,
      bands = 2, rowBits = 8, minCosine = 0.5)
    gf.admit(b1, "id", "v")
    gf.admit(b2, "id", "v")
    def v(root: String, ids: Seq[Long]) =
      spark.read.parquet(s"$root/verdicts").distinct()
        .filter(col("id").isin(ids: _*)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    assert(v(s"$out/w", Seq(4L, 5L)) === v(s"$out/f", Seq(4L, 5L)),
      "post-widening verdicts must equal a fresh gate at the new width")
    // the widened index genuinely flags: v4 is near-parallel to v1/v3
    assert(v(s"$out/w", Seq(4L)).head._4 === 1)
    // restart: the constructor still says rowBits=2; the manifest
    // restores the widened width and behavior stays equivalent
    val gr = new graft.operators.EmbedNearDupGate(s"$out/w", dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5)
    gr.admit(b3, "id", "v")
    gf.admit(b3, "id", "v")
    assert(v(s"$out/w", Seq(6L)) === v(s"$out/f", Seq(6L)),
      "a restarted gate must continue at the persisted width")
    assert(graft.operators.GateLayout.read(fs,
        new org.apache.hadoop.fs.Path(s"$out/w/_layout"))
      .get("row_bits") === Some("8"))
    // self-sizing (targetKeyLoad, the growBloomFactor twin): 40
    // vectors at rowBits=2 put 40/4 = 10 per key past a load target
    // of 2 — compaction widens until load ≤ target (40/16 ≤ 2 needs
    // rowBits ≥ ... 40/2^rb ≤ 2 → rb = 5, but bands=2 allows up to
    // 15, so it lands exactly at 5) and the width persists
    val sroot = s"$out/auto"
    val sg = new graft.operators.EmbedNearDupGate(sroot, dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5, targetKeyLoad = 2,
      autoCompactEvery = 1)
    sg.admit(vecs((1L to 40L).map(i => i -> Seq(
      (if (i % 2 == 0) 1f else -1f) * (i.toFloat / 40f),
      (if (i % 3 == 0) 1f else -1f) * 0.5f,
      (if (i % 5 == 0) 1f else -1f) * 0.25f,
      0.1f)): _*), "id", "v")
    assert(graft.operators.GateLayout.read(fs,
        new org.apache.hadoop.fs.Path(s"$sroot/_layout"))
      .get("row_bits") === Some("5"))
    // and a default-constructor restart continues at the grown width
    val sg2 = new graft.operators.EmbedNearDupGate(sroot, dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5)
    sg2.admit(vecs(100L -> Seq(0.5f, 0.5f, 0.25f, 0.1f)), "id", "v")
    assert(spark.read.parquet(s"$sroot/verdicts").distinct()
      .filter(col("id") === 100L).count() === 1)
    // the widening crash window: swap landed, manifest refresh did
    // not — the keys generation's _row_bits marker must win over the
    // stale manifest and heal it (a stale-width reopen would mis-key
    // every probe against the already re-banded table)
    val smp = new org.apache.hadoop.fs.Path(s"$sroot/_layout")
    val sm = graft.operators.GateLayout.read(fs, smp)
    graft.operators.GateLayout.write(fs, smp,
      sm.updated("row_bits", "2").toSeq)
    val sg3 = new graft.operators.EmbedNearDupGate(sroot, dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5)
    sg3.admit(vecs(101L -> Seq(0.5f, 0.5f, 0.25f, 0.1f)), "id", "v")
    val v101 = spark.read.parquet(s"$sroot/verdicts").distinct()
      .filter(col("id") === 101L)
      .collect().map(r => r.getInt(3)).toSeq
    assert(v101 === Seq(1),
      "marker-restored width must flag the identical stored vector")
    assert(graft.operators.GateLayout.read(fs, smp)("row_bits") === "5",
      "the manifest must heal from the marker")
  }

  test("curate composition: stateful gates chain across batches without interference") {
    // the ev_stream_curate topology's stateful prefix — novelty gate
    // feeding the near-dup gate, so the band index holds ONLY
    // novelty-survivors — staged over two batches
    val out = new java.io.File("target/test_curate_chain").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val ng = new graft.operators.NoveltyGate(s"$out/nov")
    val nd = new graft.operators.NearDupGate(s"$out/nd")
    def curate(batch: org.apache.spark.sql.DataFrame)
        : Map[Long, (Int, Option[Int])] = {
      val nov = ng.admitScored(batch, "doc_id", "text")
      val s1 = batch.join(nov.filter(col("is_novel") === 1)
        .select(col("id").as("doc_id")), Seq("doc_id"))
      val ndv = nd.admitScored(s1, "doc_id", "text")
      nov.select(col("id"), col("is_novel"))
        .join(ndv.select(col("id"), col("is_neardup")), Seq("id"), "left")
        .collect().map(r => r.getLong(0) -> ((r.getInt(1),
          if (r.isNullAt(2)) None else Some(r.getInt(2))))).toMap
    }
    // batch 1: doc 1 novel; doc 2 exact-dups doc 1 (whitespace-only
    // difference) — dropped at stage 1 and NEVER indexed by stage 2;
    // doc 3 disjoint
    val b1 = curate(Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha  beta gamma delta"), (3L, "omega psi chi phi"))
      .toDF("doc_id", "text"))
    assert(b1(1L) === ((1, Some(0))))
    assert(b1(2L) === ((0, None)),
      "stage-1 drop must carry NO stage-2 verdict")
    assert(b1(3L) === ((1, Some(0))))
    // batch 2: doc 4 permutes doc 1's tokens — a DIFFERENT exact
    // fingerprint (novel at stage 1) but the identical MinHash
    // signature, so stage 2 must flag it via the PERSISTENT index of
    // batch 1's survivors; doc 5 exact-dups doc 1 cross-batch
    // (dropped at stage 1 via the fingerprint table); doc 6 novel
    val b2 = curate(Seq((4L, "delta gamma beta alpha"),
      (5L, "alpha beta gamma delta"), (6L, "nu xi omicron pi"))
      .toDF("doc_id", "text"))
    assert(b2(4L) === ((1, Some(1))),
      "cross-batch near-dup of a curated doc must flag")
    assert(b2(5L) === ((0, None)),
      "cross-batch exact dup must drop at stage 1")
    assert(b2(6L) === ((1, Some(0))))
    // the band index must hold exactly the four stage-1 survivors
    assert(spark.read.parquet(s"$out/nd/sigs")
      .select("id").distinct().count() === 4)
  }

  test("auto-compaction bounds standing-gate file counts with unchanged verdicts") {
    val out = new java.io.File("target/test_gate_autocompact").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def partFiles(p: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .count(_.getPath.getName.startsWith("part-"))
    // six admits at autoCompactEvery=2: without the policy the
    // verdicts/sigs tables would hold six files and every band bucket
    // six — the policy compacts after batches 2, 4, 6, so the run
    // ends at ONE file per table/bucket with verdicts identical to
    // the policy-free gate's
    val nd = new graft.operators.NearDupGate(s"$out/nd",
      autoCompactEvery = 2)
    (0 until 6).foreach { b =>
      nd.admit(Seq(
        (10L * b + 1L, s"uniq$b alpha$b beta$b gamma$b"),
        (10L * b + 2L, "tmpl alpha beta gamma delta"))
        .toDF("doc_id", "text"), "doc_id", "text")
    }
    val v = spark.read.parquet(s"$out/nd/verdicts")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(v.size === 12, "compaction must not lose or duplicate verdicts")
    assert(v(2L) === 0, "first template copy is novel")
    (1 until 6).foreach(b => assert(v(10L * b + 2L) === 1,
      s"template copy in batch $b must flag against the compacted index"))
    assert((0 until 6).forall(b => v(10L * b + 1L) === 0))
    assert(partFiles(s"$out/nd/verdicts") === 1)
    assert(partFiles(s"$out/nd/sigs") === 1)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/nd/bands"))
      .filter(_.isDirectory).foreach(d => assert(fs.listStatus(d.getPath)
        .count(_.getPath.getName.startsWith("part-")) === 1))
    // novelty gate under the same policy PLUS the self-tending width:
    // widenBucketBytes=1 makes every auto-compaction widen by one hex
    // digit, and dedup must hold seamlessly across the width changes
    val ng = new graft.operators.NoveltyGate(s"$out/nov",
      autoCompactEvery = 2, widenBucketBytes = 1L)
    (0 until 4).foreach { b =>
      ng.admit(Seq((10L * b + 1L, s"novel text $b"),
        (10L * b + 2L, "repeat me")).toDF("doc_id", "text"))
    }
    val fps = graft.operators.Dedup
      .readBucketedFingerprints(spark, s"$out/nov")
      .collect().map(_.getString(0))
    assert(fps.length === 5 && fps.distinct.length === 5,
      "4 novel + 1 first-seen repeat, deduped across width changes")
    val widths = fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/nov/data"))
      .filter(_.isDirectory).map(_.getPath.getName.stripPrefix("fp_b=").length)
    assert(widths.forall(_ === 3),
      s"two widening compactions: 1 -> 2 -> 3 hex chars, got ${widths.toSeq}")
    // a restart keeps both the width and the policy working
    val ng2 = new graft.operators.NoveltyGate(s"$out/nov")
    ng2.admit(Seq((100L, "repeat me"), (101L, "fresh")).toDF("doc_id", "text"))
    assert(graft.operators.Dedup
      .readBucketedFingerprints(spark, s"$out/nov").count() === 6)
  }

  test("ingest curation mode passes the cap knobs through to its stage-2 gate") {
    // r14's last recurring knob gap: the PRODUCTION ingest topology
    // must be able to enable the stage-2 cap whose flat ScaleProbe
    // curve is the 100 TB posture — exactly as Curation.start can.
    // Fixture: a hot template family (10 records sharing 40 title
    // tokens with one unique token each — distinct exact fingerprints,
    // near-identical MinHash signatures) lands in ONE batch; capped at
    // 2 the gate must truncate and report shed, while the flag-don't-
    // drop merge still lands every record.
    val dir = java.nio.file.Files.createTempDirectory("graft_ingcap")
      .toFile.getAbsolutePath
    val landing = s"$dir/landing"; new java.io.File(landing).mkdirs()
    val models = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "en"),
        (901L, "andere referenz woerter fuer das geteilte modell", "de"))
        .toDF("doc_id", "text", "lang"))
    val common = (1 to 40).map(i => s"tok$i").mkString(" ")
    val recs = (1 to 10).map { i =>
      s"""{"title": "$common unique$i", "venue": "pacha",
         |  "url": "https://x.com/$i",
         |  "scraped_at": "2025-07-0${i % 9 + 1}T00:00:00"}""".stripMargin
    }.mkString("[", ",\n", "]")
    java.nio.file.Files.writeString(
      new java.io.File(s"$landing/c1.json").toPath, recs)
    assert(IncrementalIngest.start(spark, landing, s"$dir/cap",
        curation = Some(models), bandKeyCap = 2)
      .awaitTermination(180000), "capped ingest drain must finish")
    // the knob reached the gate: shed reported in ITS verdicts table
    val gateV = spark.read.parquet(s"$dir/cap/curation/nd/verdicts")
      .distinct()
    assert(gateV.filter(col("n_capped_keys") > 0).count() > 0,
      "the ingest stage-2 gate must report truncated keys")
    // flag-don't-drop held with the cap on: every record logged AND
    // merged (cap changes candidate volume, never the merge census)
    val clog = spark.read.parquet(s"$dir/cap/curation_log").distinct()
    assert(clog.count() === 10)
    assert(spark.read.parquet(s"$dir/cap/events").count() === 10)
    // the cap is semantically live vs an UNCAPPED ingest of the same
    // landing data: doc_ids (full-record hashes) agree across runs, so
    // the two gates' verdicts join exactly — capped n_cands never
    // exceeds free, and is strictly fewer for at least one record
    assert(IncrementalIngest.start(spark, landing, s"$dir/free",
        curation = Some(models))
      .awaitTermination(180000), "uncapped ingest drain must finish")
    val freeV = spark.read.parquet(s"$dir/free/curation/nd/verdicts")
      .distinct()
    val joined = gateV.select(col("id"), col("n_cands").as("capped_n"))
      .join(freeV.select(col("id"), col("n_cands").as("free_n")), "id")
    assert(joined.count() > 0, "verdict ids must line up across runs")
    assert(joined.filter(col("capped_n") > col("free_n")).isEmpty)
    assert(joined.filter(col("capped_n") < col("free_n")).count() > 0)
    // and the verdict LOGS agree wherever the cap didn't change the
    // outcome columns' structure: same ids, same stage-1 verdicts
    val ids = clog.select(col("ingest_id"), col("is_novel"))
    val fids = spark.read.parquet(s"$dir/free/curation_log").distinct()
      .select(col("ingest_id"), col("is_novel"))
    assert(ids.exceptAll(fids).isEmpty && fids.exceptAll(ids).isEmpty)
    // the census operator reads the INGEST layout too (log + gate
    // state under different roots): stage-1 sees all 10 records and
    // the capped run's shed surfaces in the 2_neardup row
    val rep = graft.streaming.Curation.curationReportFrom(spark,
        s"$dir/cap/curation_log", s"$dir/cap/curation/nd/verdicts")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rep.size === 6)
    assert(rep("1_novelty")._1 === 10L)
    assert(rep("1_novelty")._2 === 10L, "distinct payloads are all novel")
    assert(rep("2_neardup")._4 > 0L,
      "the capped ingest census must surface the shed")
    assert(rep("6_overall")._1 === 10L)
  }

  test("ingest over a loaded models dir equals ingest over in-memory models") {
    // the production cadence path: a batch job trains + saves, the
    // ingest worker passes curationModelsDir and never constructs
    // models by hand — the curation log must be bit-identical
    val dir = java.nio.file.Files.createTempDirectory("graft_ingmdl")
      .toFile.getAbsolutePath
    val landing = s"$dir/landing"; new java.io.File(landing).mkdirs()
    val corpus = Seq(
      (900L, "reference corpus tokens for the shared models", "en"),
      (901L, "andere referenz woerter fuer das geteilte modell", "de"))
      .toDF("doc_id", "text", "lang")
    val models = graft.streaming.Curation.trainModels(corpus)
    graft.streaming.Curation.Models.save(models, s"$dir/models")
    java.nio.file.Files.writeString(
      new java.io.File(s"$landing/c1.json").toPath,
      """[{"title": "Loaded Models Event", "time": "Friday 15 July 2025",
        |  "venue": "pacha", "url": "https://x.com/1",
        |  "scraped_at": "2025-07-01T00:00:00"},
        | {"title": "Second Event", "time": "Saturday 16 July 2025",
        |  "venue": "amnesia", "url": "https://x.com/2",
        |  "scraped_at": "2025-07-01T00:00:00"}]""".stripMargin)
    assert(IncrementalIngest.start(spark, landing, s"$dir/mem",
        curation = Some(models))
      .awaitTermination(180000), "in-memory drain must finish")
    assert(IncrementalIngest.start(spark, landing, s"$dir/loaded",
        curationModelsDir = Some(s"$dir/models"))
      .awaitTermination(180000), "loaded-dir drain must finish")
    val a = spark.read.parquet(s"$dir/mem/curation_log").distinct()
    val b = spark.read.parquet(s"$dir/loaded/curation_log").distinct()
    assert(a.count() === 2)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "a loaded-dir ingest must reproduce the in-memory verdicts")
    assert(spark.read.parquet(s"$dir/loaded/events").count() ===
      spark.read.parquet(s"$dir/mem/events").count())
  }

  test("pipeline-level logs compact on the gate cadence with verdicts unchanged") {
    // the gates' state tables self-compact; the sinks OUTSIDE them
    // (Curation.start's scored, ingest's curation_log)
    // accumulate one file set per batch forever without this — the
    // classic sustained-ingest small-files leak. Cadence=1 makes every
    // drain compact; across three drains the logs must stay at ONE
    // part file each with censuses identical to an uncompacted run.
    def partFiles(p: String): Int = {
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .count(_.getPath.getName.startsWith("part-"))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_logcmp")
      .toFile.getAbsolutePath
    val landing = s"$dir/landing"; new java.io.File(landing).mkdirs()
    val models = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "en"),
        (901L, "andere referenz woerter fuer das geteilte modell", "de"))
        .toDF("doc_id", "text", "lang"))
    def rec(i: Int): String =
      s"""[{"title": "Compaction Event $i", "venue": "pacha",
         |  "url": "https://x.com/$i",
         |  "scraped_at": "2025-07-0${i}T00:00:00"}]""".stripMargin
    (1 to 3).foreach { i =>
      java.nio.file.Files.writeString(
        new java.io.File(s"$landing/c$i.json").toPath, rec(i))
      assert(IncrementalIngest.start(spark, landing, s"$dir/t",
          curation = Some(models), autoCompactEvery = 1)
        .awaitTermination(180000), s"drain $i must finish")
    }
    // three drains = three appended batches, compacted after each:
    // one file per log, nothing lost, nothing duplicated
    assert(partFiles(s"$dir/t/curation_log") === 1)
    val clog = spark.read.parquet(s"$dir/t/curation_log")
    assert(clog.count() === 3 &&
      clog.filter(col("is_novel") === 1).count() === 3)
    // Curation.start's scored sink under the same cadence: two drains
    // over a growing source dir end at one file with the full census
    val docs1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "omega psi chi phi upsilon")).toDF("doc_id", "text")
    docs1.write.mode("overwrite").parquet(s"$dir/src")
    val schema = spark.read.parquet(s"$dir/src").schema
    graft.streaming.Curation.start(spark, s"$dir/src", schema,
        s"$dir/cur", models, autoCompactEvery = 1)
      .awaitTermination()
    Seq((3L, "nu xi omicron pi rho")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/src")
    graft.streaming.Curation.start(spark, s"$dir/src", schema,
        s"$dir/cur", models, autoCompactEvery = 1)
      .awaitTermination()
    assert(partFiles(s"$dir/cur/scored") === 1)
    val scored = spark.read.parquet(s"$dir/cur/scored")
    assert(scored.count() === 3, "compaction must not lose verdicts")
    assert(scored.select("doc_id").distinct().count() === 3)
    // verdicts unchanged vs the compaction-free reference run
    graft.streaming.Curation.start(spark, s"$dir/src", schema,
        s"$dir/ref", models)
      .awaitTermination()
    val ref = spark.read.parquet(s"$dir/ref/scored").distinct()
    assert(scored.exceptAll(ref).isEmpty && ref.exceptAll(scored).isEmpty,
      "log compaction must never change a verdict")
  }

  test("pipeline logs heal the compaction-swap crash window at stream start") {
    // compactLog's generation swap has the family's crash window
    // (live dir at neither cur nor _tmp); both entry points recover
    // their logs BEFORE seeding/appending, so a restart inside the
    // window must lose no verdicts
    val dir = java.nio.file.Files.createTempDirectory("graft_logheal")
      .toFile.getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val models = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "en"),
        (901L, "andere referenz woerter fuer das geteilte modell", "de"))
        .toDF("doc_id", "text", "lang"))
    // curate layout: drain one batch, simulate the crash (scored
    // left at _tmp only), drain a second batch — the restart heals
    Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "omega psi chi phi upsilon")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/src")
    val schema = spark.read.parquet(s"$dir/src").schema
    graft.streaming.Curation.start(spark, s"$dir/src", schema,
      s"$dir/cur", models).awaitTermination()
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/cur/scored"),
      new org.apache.hadoop.fs.Path(s"$dir/cur/scored_tmp"))
    Seq((3L, "nu xi omicron pi rho")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/src")
    graft.streaming.Curation.start(spark, s"$dir/src", schema,
      s"$dir/cur", models).awaitTermination()
    assert(spark.read.parquet(s"$dir/cur/scored").distinct()
      .count() === 3, "the healed scored log must carry every verdict")
    // ingest layout: same window on curation_log
    val landing = s"$dir/landing"; new java.io.File(landing).mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(s"$landing/c1.json").toPath,
      """[{"title": "Heal Event One", "venue": "pacha",
        |  "url": "https://x.com/1",
        |  "scraped_at": "2025-07-01T00:00:00"}]""".stripMargin)
    assert(IncrementalIngest.start(spark, landing, s"$dir/ing",
      curation = Some(models)).awaitTermination(180000))
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/ing/curation_log"),
      new org.apache.hadoop.fs.Path(s"$dir/ing/curation_log_tmp"))
    java.nio.file.Files.writeString(
      new java.io.File(s"$landing/c2.json").toPath,
      """[{"title": "Heal Event Two", "venue": "amnesia",
        |  "url": "https://x.com/2",
        |  "scraped_at": "2025-07-02T00:00:00"}]""".stripMargin)
    assert(IncrementalIngest.start(spark, landing, s"$dir/ing",
      curation = Some(models)).awaitTermination(180000))
    assert(spark.read.parquet(s"$dir/ing/curation_log").distinct()
      .count() === 2, "the healed curation log must carry every record")
  }

  test("incremental log compaction bounds per-tick work: epochs seal, census holds") {
    // the sustained-ingest tier of GateOps.compactLog: files below
    // maxMergeBytes merge into one epoch file, a file at/above it is
    // SEALED (never rewritten — per-tick cost stops growing with
    // stream age), duplicates spanning the crash window or sealed
    // epochs are absorbed by the read-side distinct, and no tick ever
    // leaves the dir unreadable
    val out = new java.io.File("target/test_inc_compact").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    // low-compressibility rows so file size tracks row count
    def fatRows(ids: Range) = ids.map { i =>
      (i.toLong, (1 to 400).map(j => (i * 31 + j * 7) % 97).mkString(","))
    }.toDF("doc_id", "text")
    def logFiles() = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$out/log"))
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    def census() = spark.read.parquet(s"$out/log").distinct().count()
    (1 to 3).foreach(b => fatRows(b * 10 until b * 10 + 3)
      .coalesce(1).write.mode("append").parquet(s"$out/log"))
    // tick 1 at a huge threshold: all loose files merge to ONE epoch
    graft.operators.GateOps.compactLog(spark, out, "log", "doc_id",
      maxMergeBytes = 1L << 20)
    val afterFirst = logFiles()
    assert(afterFirst.count(_.getPath.getName.startsWith("epoch_")) === 1)
    assert(census() === 9, "merge must not lose rows")
    val sealedName = afterFirst
      .find(_.getPath.getName.startsWith("epoch_")).get.getPath.getName
    val sealedLen = afterFirst.find(
      _.getPath.getName === sealedName).get.getLen
    // tick 2 with threshold = sealed length: the epoch is NOT below
    // it (sealed), the new loose files are (verified, not assumed)
    fatRows(100 until 102).coalesce(1)
      .write.mode("append").parquet(s"$out/log")
    val loose = logFiles().filterNot(_.getPath.getName === sealedName)
    assert(loose.forall(_.getLen < sealedLen),
      "fixture invariant: loose single-batch files are smaller than the 9-row epoch")
    graft.operators.GateOps.compactLog(spark, out, "log", "doc_id",
      maxMergeBytes = sealedLen)
    assert(logFiles().exists(_.getPath.getName === sealedName),
      "a sealed epoch must never be rewritten")
    assert(census() === 11)
    // crash window: epoch moved in, sources not yet deleted — rows
    // exist BOTH inside an epoch and in loose source files; the
    // duplicates are read-absorbed and the next huge-threshold tick
    // converges everything back to one file
    fatRows(100 until 102).coalesce(1)
      .write.mode("append").parquet(s"$out/log")
    assert(census() === 11, "duplicates from the crash window are read-absorbed")
    graft.operators.GateOps.compactLog(spark, out, "log", "doc_id",
      maxMergeBytes = 1L << 20)
    assert(logFiles().count(_.getPath.getName.startsWith("epoch_")) === 1)
    assert(census() === 11)
    // entry-point wiring: a capped-cadence Curation.start run with the
    // knob on produces epoch files and the same verdicts as wholesale
    val models = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "en"),
        (901L, "andere referenz woerter fuer das geteilte modell", "de"))
        .toDF("doc_id", "text", "lang"))
    Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "omega psi chi phi upsilon")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/src")
    val schema = spark.read.parquet(s"$out/src").schema
    graft.streaming.Curation.start(spark, s"$out/src", schema,
        s"$out/inc", models, autoCompactEvery = 1,
        logMergeBytes = 1L << 20)
      .awaitTermination()
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/inc/scored"))
      .exists(_.getPath.getName.startsWith("epoch_")),
      "the entry-point knob must reach the incremental tier")
    graft.streaming.Curation.start(spark, s"$out/src", schema,
        s"$out/ref", models)
      .awaitTermination()
    val a = spark.read.parquet(s"$out/inc/scored").distinct()
    val b = spark.read.parquet(s"$out/ref/scored").distinct()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "incremental compaction must never change a verdict")
  }

  test("incremental log tier warns early on a born-sealed threshold") {
    // a maxMergeBytes at/below the per-batch append size makes every
    // file "born sealed" and silently disables compaction; the
    // diagnostic must fire on unmergeable GROWTH across consecutive
    // zero-merge ticks (marker-tracked), not only at the 64-file
    // absolute backstop — and a tick that actually merges must clear
    // the tracker so healthy cadences never trip it
    val out = new java.io.File("target/test_inc_noop_warn").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def append(n: Int): Unit = (1 to n).foreach(i =>
      Seq((i.toLong, "x")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$out/log"))
    def marker() = graft.operators.GateOps.readMarker(
      fs, s"$out/log", "_noop_files")
    import graft.TestIO.withStderr
    append(3)
    // first no-op tick: seeds the tracker, growth unknown → no warning
    val first = withStderr {
      graft.operators.GateOps.compactLog(spark, out, "log", "doc_id",
        maxMergeBytes = 1L)
    }
    assert(!first.contains("[compact-log]"),
      "the seeding no-op tick has no growth evidence yet")
    assert(marker().contains("3"), "no-op tick must persist the count")
    // steady growth BELOW the per-tick threshold: the baseline is the
    // run's EARLIEST count (never rewritten on later no-op ticks), so
    // cumulative growth across the run trips the warning — an
    // adjacent-tick delta check would sleep through 4-file ticks
    // forever and degenerate to the 64-file backstop
    append(4)
    val second = withStderr {
      graft.operators.GateOps.compactLog(spark, out, "log", "doc_id",
        maxMergeBytes = 1L)
    }
    assert(!second.contains("[compact-log]"),
      "4 files over the baseline is still under the growth threshold")
    assert(marker().contains("3"),
      "later no-op ticks must NOT overwrite the run's baseline")
    append(4)
    val third = withStderr {
      graft.operators.GateOps.compactLog(spark, out, "log", "doc_id",
        maxMergeBytes = 1L)
    }
    assert(third.contains("[compact-log]"),
      s"cumulative growth of 8 (3→11) must warn; stderr was: $third")
    assert(marker().contains("3"))
    assert(spark.read.parquet(s"$out/log").distinct().count() === 4,
      "the marker must be invisible to parquet reads")
    // a merging tick clears the tracker (consecutive-no-op semantics)
    graft.operators.GateOps.compactLog(spark, out, "log", "doc_id",
      maxMergeBytes = 1L << 20)
    assert(marker().isEmpty, "a merge must clear the growth tracker")
    assert(spark.read.parquet(s"$out/log").distinct().count() === 4)
  }

  test("embed gate with both load remedies off warns loudly on a hot " +
      "key at compaction; any remedy silences it") {
    // a deployment that opts OUT of self-sizing (targetKeyLoad=0 —
    // the gate constructor's default and the exact-oracle anchors'
    // configuration; regenerateAtWidth's scaladoc carries the
    // collision-semantics contract) must not inherit unbounded
    // per-key load silently: with targetKeyLoad=0 and bandKeyCap=0,
    // each compaction measures the hottest (band, bkey) stored-id
    // count and warns past keyLoadWarnBudget, naming the remedies.
    val out = new java.io.File("target/test_embed_loadwarn")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import graft.TestIO.withStderr
    def vecs(ids: Range) = ids.map(i => (i.toLong, Seq(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    // identical vectors: every sign-band key carries every doc
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val bare = new graft.operators.EmbedNearDupGate(s"$out/bare",
      dim = 4, bands = 2, rowBits = 2, minCosine = 0.5,
      keyLoadWarnBudget = 4)
    bare.admit(vecs(1 to 6), "vec_id", "embedding")
    val warned = withStderr { bare.compact(spark) }
    assert(warned.contains("[embed-gate] hottest sign-band key") &&
      warned.contains("targetKeyLoad"),
      s"6 sharers over budget 4 with remedies off must warn: $warned")
    // a capped gate over the same corpus is bounded — no warning
    val capped = new graft.operators.EmbedNearDupGate(s"$out/capped",
      dim = 4, bands = 2, rowBits = 2, minCosine = 0.5,
      bandKeyCap = 4, keyLoadWarnBudget = 4)
    capped.admit(vecs(1 to 6), "vec_id", "embedding")
    val quiet = withStderr { capped.compact(spark) }
    assert(!quiet.contains("[embed-gate] hottest"),
      s"a remedy is on — the diagnostic must stay silent: $quiet")
    // under budget with remedies off: silent too
    val small = new graft.operators.EmbedNearDupGate(s"$out/small",
      dim = 4, bands = 2, rowBits = 2, minCosine = 0.5,
      keyLoadWarnBudget = 4)
    small.admit(vecs(1 to 3), "vec_id", "embedding")
    val quiet2 = withStderr { small.compact(spark) }
    assert(!quiet2.contains("[embed-gate] hottest"))
  }

  test("capped embedding gate composes per-probe across a multi-batch split") {
    // the EmbedNearDupGate twin of the MinHash multi-batch cap spec:
    // "earliest-seen per key" composes PER PROBE — index kept-set
    // (cap smallest stored ids) plus self-probe kept-set (cap
    // smallest in-batch ids) — so a doc whose hot sign-band key
    // straddles the split sees at most 2×cap candidates,
    // deterministically. Fixture: 15 identical unit vectors (every
    // band key carries every doc; cosine exactly 1.0 since the norm
    // is exactly 1), cap=4, split 10/5, bands=2.
    val out = new java.io.File("target/test_embed_cap_multibatch")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def vecs(ids: Range) = ids.map(i => (i.toLong, Seq(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    def vMap() = {
      val rows = spark.read.parquet(s"$out/verdicts").distinct()
        .collect()
      assert(rows.map(_.getLong(0)).distinct.length === rows.length,
        "verdict table must hold exactly one row per id")
      rows.map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getInt(3), r.getLong(4))))
        .toMap
    }
    val gate = new graft.operators.EmbedNearDupGate(out, dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5, bandKeyCap = 4)
    gate.admitScored(vecs(1 to 10), "vec_id", "embedding")
    gate.admitScored(vecs(11 to 15), "vec_id", "embedding")
    // hand-computed: batch 1 is the global-rank shape (kept = ids
    // 1..4; doc q sees kept ∩ {<q}); batch 2 composes per-probe: 4
    // from the index (ids 1..4, the stored earliest) + up to 4
    // in-batch predecessors (ids 11..14) — doc 15 hits the 2×cap
    // ceiling at 8. Both band keys exceed the cap on every probe, so
    // every doc reports n_capped_keys = 2; every candidate cosine is
    // exactly 1.0 (novel docs carry the -2.0 sentinel).
    val expect = Map(
      1L -> ((0L, -2.0, 0, 2L)),
      2L -> ((1L, 1.0, 1, 2L)), 3L -> ((2L, 1.0, 1, 2L)),
      4L -> ((3L, 1.0, 1, 2L)), 5L -> ((4L, 1.0, 1, 2L)),
      6L -> ((4L, 1.0, 1, 2L)), 7L -> ((4L, 1.0, 1, 2L)),
      8L -> ((4L, 1.0, 1, 2L)), 9L -> ((4L, 1.0, 1, 2L)),
      10L -> ((4L, 1.0, 1, 2L)),
      11L -> ((4L, 1.0, 1, 2L)), 12L -> ((5L, 1.0, 1, 2L)),
      13L -> ((6L, 1.0, 1, 2L)), 14L -> ((7L, 1.0, 1, 2L)),
      15L -> ((8L, 1.0, 1, 2L)))
    assert(vMap() === expect,
      "multi-batch capped embed verdicts must match the per-probe composition")
    // replay determinism with the cap on: a restarted gate
    // re-admitting batch 2 finds its own ids indexed, the exclusion
    // removes them BEFORE the cap ranks, so every verdict reproduces
    val replay = new graft.operators.EmbedNearDupGate(out, dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5, bandKeyCap = 4)
    replay.admitScored(vecs(11 to 15), "vec_id", "embedding")
    assert(vMap() === expect,
      "a replayed capped embed batch must reproduce its verdicts")
  }

  test("torn first-save models tmp is never promoted and never destroyed") {
    // Models.save writes five artifacts into current_tmp before the
    // swap; a crash mid-FIRST-save leaves a torn tmp beside NO live
    // generation — and the same on-disk state is what a load sees
    // while a first save is STILL IN FLIGHT. The _layout manifest is
    // written last — the completion sentinel — so load must neither
    // promote a sentinel-less tmp (installing a set every later load
    // fails on) nor delete it (destroying an in-flight save's
    // artifacts): it fails loudly and leaves the tmp for the next
    // save's wholesale clear.
    val out = new java.io.File("target/test_torn_models")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val corpus = Seq(
      (900L, "reference corpus tokens for the shared models", "en"),
      (901L, "andere referenz woerter fuer das geteilte modell", "de"))
      .toDF("doc_id", "text", "lang")
    val models = graft.streaming.Curation.trainModels(corpus)
    // simulate the crash window: two of five artifacts landed, no
    // _layout sentinel
    models.nbCounts.coalesce(1).write
      .parquet(s"$out/models/current_tmp/nb_counts")
    models.nbPriors.coalesce(1).write
      .parquet(s"$out/models/current_tmp/nb_priors")
    val torn = intercept[IllegalStateException] {
      graft.streaming.Curation.Models.load(spark, s"$out/models")
    }
    assert(torn.getMessage.contains("sentinel"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$out/models/current_tmp")),
      "a sentinel-less tmp must be left intact (a save may be in flight)")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$out/models/current")),
      "nothing may be promoted from a torn first save")
    // a retrain-save then clears the dead tmp wholesale and round-trips
    graft.streaming.Curation.Models.save(models, s"$out/models")
    val loaded = graft.streaming.Curation.Models
      .load(spark, s"$out/models")
    assert(loaded.evalFrom === models.evalFrom)
    // a COMPLETE surviving tmp (crash between the last artifact write
    // and the swap) is still promoted by recoverGeneration — delete
    // current and rebuild the window with the sentinel present
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/models2"), true)
    graft.streaming.Curation.Models.save(models, s"$out/models2")
    val m2 = new org.apache.hadoop.fs.Path(s"$out/models2")
    fs.rename(new org.apache.hadoop.fs.Path(s"$out/models2/current"),
      new org.apache.hadoop.fs.Path(s"$out/models2/current_tmp"))
    val loaded2 = graft.streaming.Curation.Models
      .load(spark, s"$out/models2")
    assert(loaded2.evalUntil === models.evalUntil,
      "a complete tmp (sentinel present) must still promote")
    // the mid-load swap detector's premise: every save stamps a
    // DISTINCT gen_id (load pins it before and re-checks it after
    // the four frame reads — identical ids ⇒ one generation)
    def genId(d: String) = graft.operators.GateLayout.read(fs,
      new org.apache.hadoop.fs.Path(s"$d/current/_layout"))("gen_id")
    val g1 = genId(s"$out/models2")
    graft.streaming.Curation.Models.save(models, s"$out/models2")
    assert(genId(s"$out/models2") !== g1,
      "a retrain save must stamp a fresh gen_id")
  }

  test("swapGeneration survives its tmp being promoted by a concurrent recover") {
    // the Models.load-racing-first-save interleaving: save completes
    // its tmp (sentinel written), a concurrent load's recoverGeneration
    // promotes it to `current`, THEN save's swapGeneration runs — it
    // retires the promoted generation to _old, finds its tmp gone, and
    // must RESTORE rather than fall through to delete(old) and destroy
    // the only generation
    val out = new java.io.File("target/test_swap_race").getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/t_tmp"))
    graft.operators.GateOps.writeMarker(fs, s"$out/t_tmp", "_m", "gen1")
    // the concurrent recover wins the promotion
    graft.operators.GateOps.recoverGeneration(fs, out, "t")
    assert(graft.operators.GateOps
      .readMarker(fs, s"$out/t", "_m") === Some("gen1"))
    // the saver's swap then runs against its vanished tmp: the
    // generation must survive at `t` and nothing may linger at _old
    graft.operators.GateOps.swapGeneration(fs, out, "t")
    assert(graft.operators.GateOps
      .readMarker(fs, s"$out/t", "_m") === Some("gen1"),
      "the promoted generation must survive the racing swap")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/t_old")))
    // pathological total loss (no tmp, no cur, no old) fails fast
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/t"), true)
    val err = intercept[IllegalStateException] {
      graft.operators.GateOps.swapGeneration(fs, out, "t")
    }
    assert(err.getMessage.contains("no generation survives"))
  }

  test("markers commit atomically and legacy bare-batchId markers " +
      "match only when written during the live checkpoint's lifetime") {
    val out = new java.io.File("target/test_marker_atomic")
      .getAbsolutePath
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.delete(p(out), true)
    fs.mkdirs(p(out))
    // a crashed prior staged write (garbage .wtmp) must not poison
    // the next commit, and the stage file must not outlive the rename
    val garbage = fs.create(p(s"$out/_last_commit.wtmp"), true)
    try garbage.write("torn".getBytes("UTF-8")) finally garbage.close()
    graft.operators.GateOps.writeMarker(fs, out, "_last_commit",
      "11111111-2222-3333-4444-555555555555:7")
    assert(graft.operators.GateOps.readMarker(fs, out, "_last_commit")
      === Some("11111111-2222-3333-4444-555555555555:7"))
    assert(!fs.exists(p(s"$out/_last_commit.wtmp")),
      "the staged write must be renamed away, not left behind")
    // overwrite of an existing marker lands the new value whole
    graft.operators.GateOps.writeMarker(fs, out, "_last_commit", "8")
    assert(graft.operators.GateOps.readMarker(fs, out, "_last_commit")
      === Some("8"))
    // identity-paired markers match
    assert(graft.operators.GateOps.replayCommitted(Some("q:9"), "q:9"))
  }

  test("novelty gate rejects a non-power-of-two bloom width at creation") {
    // bloomPos masks with bits-1 (power-of-two was always the
    // implicit contract) and reopen/compact enforce it against the
    // persisted value — creation must too, or a gate persists a width
    // it bricks itself on at the first restart
    val err = intercept[IllegalArgumentException] {
      new graft.operators.NoveltyGate("target/test_badbits", bits = 1000)
    }
    assert(err.getMessage.contains("power of two"))
  }

  test("startEmbedding self-sizes band width under a load target") {
    // the gate's targetKeyLoad policy surfaced through the streaming
    // entry point: 40 vectors at rowBits=2 put per-key load past 2 —
    // the in-stream auto-compaction must widen to rowBits=5
    // (manifest-persisted) and the widened index must still flag a
    // later-arriving near-identical vector (verdict semantics
    // preserved across the re-band)
    val out = new java.io.File("target/test_stream_selfsize")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val b1 = (1L to 40L).map(i => (i, Seq(
      (if (i % 2 == 0) 1f else -1f) * (i.toFloat / 40f),
      (if (i % 3 == 0) 1f else -1f) * 0.5f,
      (if (i % 5 == 0) 1f else -1f) * 0.25f,
      0.1f))).toDF("vec_id", "embedding")
    b1.write.mode("overwrite").parquet(s"$out/src")
    val schema = spark.read.parquet(s"$out/src").schema
    graft.streaming.Curation.startEmbedding(spark, s"$out/src", schema,
        s"$out/run", dim = 4, idCol = "vec_id", vecCol = "embedding",
        bands = 2, rowBits = 2, minCosine = 0.5,
        autoCompactEvery = 1, targetKeyLoad = 2)
      .awaitTermination()
    assert(graft.operators.GateLayout.read(fs,
        new org.apache.hadoop.fs.Path(s"$out/run/_layout"))
      .get("row_bits") === Some("5"),
      "the stream's auto-compaction must self-size the band width")
    // second drain: a vector identical to stored id 40 must flag via
    // the RE-BANDED persistent index
    Seq((100L, Seq(1f, -0.5f, 0.25f, 0.1f)))
      .toDF("vec_id", "embedding")
      .write.mode("append").parquet(s"$out/src")
    graft.streaming.Curation.startEmbedding(spark, s"$out/src", schema,
        s"$out/run", dim = 4, idCol = "vec_id", vecCol = "embedding",
        bands = 2, rowBits = 2, minCosine = 0.5,
        autoCompactEvery = 1, targetKeyLoad = 2)
      .awaitTermination()
    val v100 = spark.read.parquet(s"$out/run/verdicts").distinct()
      .filter(col("id") === 100L)
    assert(v100.count() === 1 && v100.head().getInt(3) === 1,
      "the widened index must flag a near-identical later arrival")
  }

  test("regenerateAtWidth migrates a live stream's band index: no " +
      "committed verdict flips, stored vectors keep index presence") {
    // the named width-migration contract, driven through the
    // streaming entry point: stream under width 2, migrate to 5
    // between drains, stream on. Already-committed verdicts are
    // append-only history (bit-identical after the migration), and a
    // post-migration arrival near-identical to a PRE-migration stored
    // vector must still flag — the re-band derives keys from the full
    // vectors, so no stored doc loses index presence at any width.
    val out = new java.io.File("target/test_regen_width")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val b1 = (1L to 12L).map(i => (i, Seq(
      (if (i % 2 == 0) 1f else -1f) * (i.toFloat / 12f),
      (if (i % 3 == 0) 1f else -1f) * 0.5f,
      0.25f, 0.1f))).toDF("vec_id", "embedding")
    b1.write.mode("overwrite").parquet(s"$out/src")
    val schema = spark.read.parquet(s"$out/src").schema
    def drain(): Unit =
      graft.streaming.Curation.startEmbedding(spark, s"$out/src",
          schema, s"$out/run", dim = 4, idCol = "vec_id",
          vecCol = "embedding", bands = 2, rowBits = 2,
          minCosine = 0.5, targetKeyLoad = 0)
        .awaitTermination()
    drain()
    val committed = spark.read.parquet(s"$out/run/verdicts")
      .distinct().orderBy("id").collect().toSeq
    assert(committed.size === 12)
    // the migration: same gate parameters, new width — crash-safe
    // generation swap inside (the _row_bits marker rides the rename)
    new graft.operators.EmbedNearDupGate(s"$out/run", dim = 4,
      bands = 2, rowBits = 2, minCosine = 0.5)
      .regenerateAtWidth(spark, 5)
    assert(graft.operators.GateLayout.read(fs,
        new org.apache.hadoop.fs.Path(s"$out/run/_layout"))
      .get("row_bits") === Some("5"))
    assert(graft.operators.GateOps.readMarker(fs, s"$out/run/keys",
      "_row_bits") === Some("5"),
      "the width marker must ride the re-banded generation")
    assert(spark.read.parquet(s"$out/run/verdicts").distinct()
      .orderBy("id").collect().toSeq === committed,
      "a width migration must not flip a committed verdict")
    // stream on: a near-identical twin of stored id 12 must flag
    // through the RE-BANDED index (the reopened gate restores width 5
    // from the manifest — rowBits=2 below only seeds a fresh table),
    // and a far vector stays novel (every stored vector has third
    // component +0.25, so cosine with (0,0,-1,0) is at most ~-0.2 —
    // well under the 0.5 threshold)
    Seq((100L, Seq(1f, 0.5f, 0.25f, 0.1f)),
      (101L, Seq(0f, 0f, -1f, 0f)))
      .toDF("vec_id", "embedding")
      .write.mode("append").parquet(s"$out/src")
    drain()
    val after = spark.read.parquet(s"$out/run/verdicts").distinct()
    assert(after.filter(col("id") === 100L).head().getInt(3) === 1,
      "a stored vector lost index presence across the migration")
    assert(after.filter(col("id") === 101L).head().getInt(3) === 0,
      "a far vector must stay novel")
    assert(after.filter(col("id") < 100L).orderBy("id")
      .collect().toSeq === committed,
      "streaming on after the migration must not rewrite history")
  }

  test("neardup gate self-sizes its cap under a hot-key stream") {
    // the MinHash twin of the embedding gate's targetKeyLoad policy:
    // a text band key cannot widen (it IS a 64-bit content hash —
    // collision is the similarity signal), so the policy's remedy is
    // to ENGAGE the per-key candidate cap at the target once an
    // auto-compaction measures a hotter key. Contract pinned here:
    // exact while under budget, engaged AT the target by the first
    // over-budget compaction (converged — no further movement),
    // verdicts from then on equal to a hand-capped gate over the same
    // corpus, shed reported, manifest-durable across a restart, and
    // never loosened by later compactions.
    val out = new java.io.File("target/test_neardup_selfsize")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    // identical texts: every doc shares every band key — the maximal
    // hot-key shape the policy exists for
    def docs(ids: Seq[Long]) = ids
      .map(i => (i, "hot template text shared by every doc"))
      .toDF("id", "text")
    def layout() = graft.operators.GateLayout.read(fs,
      new org.apache.hadoop.fs.Path(s"$out/a/_layout"))
    val g = new graft.operators.NearDupGate(s"$out/a",
      autoCompactEvery = 1, targetKeyLoad = 4)
    g.admitScored(docs(1L to 3L), "id", "text")
    assert(layout().get("band_key_cap").isEmpty,
      "an under-budget corpus (3 sharers ≤ 4) must stay exact")
    g.admitScored(docs(11L to 14L), "id", "text")
    assert(layout().get("band_key_cap") === Some("4"),
      "the first over-budget compaction (7 sharers > 4) must engage " +
        "the cap at the target")
    val vA = g.admitScored(docs(21L to 22L), "id", "text")
      .orderBy("id").collect().map(_.toSeq)
    assert(vA.forall(_.last.asInstanceOf[Long] > 0L),
      "shed under the engaged cap must be reported in n_capped_keys")
    // post-engagement verdicts equal a gate hand-capped from birth:
    // caps trim probe candidates, never what gets indexed, so the two
    // gates hold identical corpora by batch 3
    val h = new graft.operators.NearDupGate(s"$out/b",
      bandKeyCap = 4, autoCompactEvery = 1)
    h.admitScored(docs(1L to 3L), "id", "text")
    h.admitScored(docs(11L to 14L), "id", "text")
    val vB = h.admitScored(docs(21L to 22L), "id", "text")
      .orderBy("id").collect().map(_.toSeq)
    assert(vA.toSeq === vB.toSeq,
      "a converged self-sized cap must verdict exactly like the " +
        "hand-picked cap")
    // restart durability: a fresh gate object with no explicit cap
    // must restore the engaged value from the manifest BEFORE any
    // compaction of its own
    val g2 = new graft.operators.NearDupGate(s"$out/a",
      targetKeyLoad = 4)
    val v31 = g2.admitScored(docs(Seq(31L)), "id", "text").head()
    assert(v31.getLong(4) > 0L,
      "the restored cap must apply to the first post-restart admit")
    assert(v31.getLong(1) === 4L,
      "candidates under the restored cap = the 4 earliest-seen sharers")
    // monotone: a further compaction never loosens the engaged cap
    g2.compact(spark)
    assert(layout().get("band_key_cap") === Some("4"))
  }

  test("a restored policy cap is carried forward AT its manifest " +
      "value — a tighter seed narrows the process, never the table") {
    // the other half of the seed/policy separation: a manifest
    // refresh from a process opened with an explicit TIGHTER seed
    // (live cap = min(seed, policy)) must persist the POLICY value,
    // not the min — otherwise the one-off seed tightens durable table
    // state and the exact opt-out inherits it forever. The refresh
    // trigger here is a policy tightening (a target below the
    // restored policy) in a process whose seed is tighter still.
    val out = new java.io.File("target/test_neardup_polcarry")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def docs(ids: Seq[Long]) = ids
      .map(i => (i, "hot template text shared by every doc"))
      .toDF("id", "text")
    val mp = new org.apache.hadoop.fs.Path(s"$out/_layout")
    def layout() = graft.operators.GateLayout.read(fs, mp)
    val g = new graft.operators.NearDupGate(out,
      autoCompactEvery = 1, targetKeyLoad = 4)
    g.admitScored(docs(1L to 5L), "id", "text")
    assert(layout().get("band_key_cap") === Some("4"),
      "fixture must engage the policy at 4 first")
    val seeded = new graft.operators.NearDupGate(out, bandKeyCap = 2,
      targetKeyLoad = 3)
    seeded.compact(spark) // restores policy 4, engages 3 → refresh
    assert(layout().get("band_key_cap") === Some("3"),
      "the refresh persisted min(seed, policy) — the one-off " +
        "seed must never tighten the durable policy")
    // and the exact opt-out restores the policy, not the seed
    val exact = new graft.operators.NearDupGate(out)
    val v = exact.admitScored(docs(Seq(21L)), "id", "text").head()
    assert(v.getLong(1) === 3L,
      "exact reopen must run under the restored policy cap of 3")
    // A seed TIGHTER than the target must not suppress the policy
    // measurement: the live cap is already under budget, but the
    // TABLE has no engagement on record — a hot corpus must still
    // engage (and persist) the policy at the target, or a later
    // exact reopen runs uncapped against it.
    val out2 = s"${out}_seeded"
    fs.delete(new org.apache.hadoop.fs.Path(out2), true)
    val tightSeed = new graft.operators.NearDupGate(out2,
      bandKeyCap = 2, targetKeyLoad = 4, autoCompactEvery = 1)
    tightSeed.admitScored(docs(1L to 5L), "id", "text")
    assert(graft.operators.GateLayout.read(fs,
        new org.apache.hadoop.fs.Path(s"$out2/_layout"))
      .get("band_key_cap") === Some("4"),
      "a tighter seed suppressed the policy engagement")
    val exact2 = new graft.operators.NearDupGate(out2)
    assert(exact2.admitScored(docs(Seq(21L)), "id", "text")
      .head().getLong(1) === 4L,
      "the engaged policy must bound an exact reopen at 4")
  }

  test("an explicit bandKeyCap seed is per-process, never table state") {
    // only POLICY engagements persist to the manifest. A one-off
    // explicit cap used to be written at first open, making the
    // documented exact opt-out (bandKeyCap=0, targetKeyLoad=0)
    // silently inherit it forever via tightest-wins restore, with no
    // way to loosen short of deleting the manifest.
    val out = new java.io.File("target/test_neardup_seedcap")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    def docs(ids: Seq[Long]) = ids
      .map(i => (i, "hot template text shared by every doc"))
      .toDF("id", "text")
    def layout() = graft.operators.GateLayout.read(fs,
      new org.apache.hadoop.fs.Path(s"$out/_layout"))
    val seeded = new graft.operators.NearDupGate(out, bandKeyCap = 2,
      autoCompactEvery = 1)
    val vs = seeded.admitScored(docs(1L to 5L), "id", "text")
    assert(vs.filter(col("n_capped_keys") > 0L).count() > 0,
      "fixture must be hot enough for the seeded cap to shed, or the " +
        "opt-out claim below is vacuous")
    assert(layout().get("band_key_cap").isEmpty,
      "a constructor seed must not reach the manifest — even through " +
        "an auto-compaction's refresh")
    // the documented exact opt-out really is exact on reopen
    val exact = new graft.operators.NearDupGate(out)
    val v = exact.admitScored(docs(Seq(21L)), "id", "text").head()
    assert(v.getLong(4) === 0L,
      "an exact reopen inherited the previous process's seed cap")
    assert(v.getLong(1) === 5L,
      "the exact reopen must see ALL 5 stored sharers as candidates")
  }

  test("a mid-stream model retrain is picked up at the next batch, " +
      "verdicts bit-stable per generation") {
    // the retrain cadence end-to-end: a LIVE ingest stream holds
    // generation A; a batch job saves generation B while the stream
    // runs; the batch in flight keeps A, the NEXT batch curates under
    // B. Bit-stability is pinned against a reference lineage that
    // drains the same files under FIXED per-drain models; the
    // counterfactual lineage (file 2 still under A) must differ,
    // proving the swap actually changed behavior mid-stream.
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_swapmid")
      .toFile.getAbsolutePath
    val landing = s"$dir/landing"; new java.io.File(landing).mkdirs()
    val modelsA = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "en"),
        (901L, "andere referenz woerter fuer das geteilte modell", "de"))
        .toDF("doc_id", "text", "lang"))
    // generation B reverses the language labels: the NB stage's
    // verdict flips for payload-shaped token streams, so the two
    // generations are behaviorally distinct on the same input
    val modelsB = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "de"),
        (901L, "andere referenz woerter fuer das geteilte modell", "en"))
        .toDF("doc_id", "text", "lang"))
    val mdir = s"$dir/models"
    graft.streaming.Curation.Models.save(modelsA, mdir)
    // Titles engineered so the MODEL stage decides the verdict: long
    // enough (>50 words) with stopwords to PASS the gopher rules, and
    // carrying generation A's en-labeled anchor tokens ("reference
    // corpus tokens … shared models") so the NB stage keeps the doc
    // under A and drops it under B (labels reversed) — the
    // model-sensitive verdict the counterfactual assert needs. The
    // two titles share only anchors/stopwords (unigram-minhash
    // estimate well under the near-dup threshold), so record 2 is
    // probed on its own merits rather than flagged against record 1.
    val titles = Map(
      1 -> ("the reference corpus tokens for the shared models and " +
        "that nights of music have begun to shine with open air " +
        "stages under warm island skies where dancers move and the " +
        "crowd sings of joy to celebrate another season that will " +
        "have grown with every sunrise over the bay and the harbour " +
        "of the old town"),
      2 -> ("the reference corpus tokens for the shared models and " +
        "that winter brings of quiet have fallen to rest with closed " +
        "doors rooms under cold northern lights where readers dwell " +
        "and the library keeps of lore to preserve another volume " +
        "that will have endured with every candle over the desk and " +
        "the cellar of the old keep"))
    def rec(i: Int): String =
      s"""[{"title": "${titles(i)}",
         |  "venue": "pacha", "url": "https://x.com/swap$i",
         |  "scraped_at": "2025-07-0${i}T00:00:00"}]""".stripMargin
    def clog(t: String): org.apache.spark.sql.DataFrame =
      spark.read.parquet(s"$t/curation_log").distinct()
    def logCount(t: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$t/curation_log")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the poll can catch the log mid-creation (dir exists, no
      // readable parquet yet) or mid-compaction-swap — any transient
      // read failure just means "not there yet" to a poller
      if (!fs.exists(p)) 0L
      else try clog(t).count()
      catch { case scala.util.control.NonFatal(_) => 0L }
    }
    def awaitRows(t: String, n: Long): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (logCount(t) < n) {
        assert(System.nanoTime() < deadline,
          s"timed out waiting for $n curation_log rows under $t")
        Thread.sleep(200)
      }
    }
    val live = s"$dir/live"
    val q = IncrementalIngest.start(spark, landing, live,
      curationModelsDir = Some(mdir),
      trigger = Trigger.ProcessingTime("300 milliseconds"))
    try {
      java.nio.file.Files.writeString(
        new java.io.File(s"$landing/a.json").toPath, rec(1))
      awaitRows(live, 1)
      // the stream is live and holds generation A — retrain lands NOW
      graft.streaming.Curation.Models.save(modelsB, mdir)
      // file 2 appears only after the save returned, so the batch
      // that reads it starts after the swap and must refresh to B
      java.nio.file.Files.writeString(
        new java.io.File(s"$landing/b.json").toPath, rec(2))
      awaitRows(live, 2)
    } finally {
      q.stop(); q.awaitTermination()
    }
    // reference lineage: the same two files in the same order, fixed
    // models per drain (A then B) — the live log must equal it
    val refLanding = s"$dir/ref_landing"
    new java.io.File(refLanding).mkdirs()
    def drain(tableDir: String, m: graft.streaming.Curation.Models): Unit =
      assert(IncrementalIngest.start(spark, refLanding, tableDir,
        curation = Some(m)).awaitTermination(180000))
    java.nio.file.Files.writeString(
      new java.io.File(s"$refLanding/a.json").toPath, rec(1))
    drain(s"$dir/ref", modelsA)
    drain(s"$dir/cf", modelsA)
    java.nio.file.Files.writeString(
      new java.io.File(s"$refLanding/b.json").toPath, rec(2))
    drain(s"$dir/ref", modelsB)
    drain(s"$dir/cf", modelsA) // counterfactual: no retrain ever lands
    val (lv, rf, cf) = (clog(live), clog(s"$dir/ref"), clog(s"$dir/cf"))
    assert(lv.exceptAll(rf).isEmpty && rf.exceptAll(lv).isEmpty,
      "live verdicts must be bit-stable per generation: batch 1 " +
        "exactly generation A, batch 2 exactly generation B")
    assert(!lv.exceptAll(cf).isEmpty || !cf.exceptAll(lv).isEmpty,
      "the swapped-in generation must change batch 2's verdicts vs " +
        "never-retrained — otherwise this spec is vacuous")
  }

  test("Curation.start modelsDir: a live curate stream picks up a " +
      "retrain at the next batch, verdicts bit-stable per generation") {
    // retrain-cadence PARITY with IncrementalIngest.start (the spec
    // above): Curation.start's modelsDir opts the curate entry point
    // into the same per-batch ModelsHandle re-check. Same
    // interleaving contract, same bit-stability proof against fixed-
    // model reference drains, same counterfactual non-vacuity check.
    // PLUS the cold-start contract the required `models` param buys:
    // the dir starts EMPTY here, so batch 1 must run on the explicit
    // models (an eager ModelsHandle would crash at start()), and the
    // dir's FIRST save is what batch 2 picks up.
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_curswap")
      .toFile.getAbsolutePath
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    val modelsA = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "en"),
        (901L, "andere referenz woerter fuer das geteilte modell", "de"))
        .toDF("doc_id", "text", "lang"))
    val modelsB = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "de"),
        (901L, "andere referenz woerter fuer das geteilte modell", "en"))
        .toDF("doc_id", "text", "lang"))
    val mdir = s"$dir/models" // deliberately NOT pre-populated
    // the ingest spec's model-sensitive fixtures verbatim: pass the
    // gopher rules, NB keeps under A / drops under B, minhash
    // estimate between the two well under the near-dup threshold
    val texts = Map(
      1L -> ("the reference corpus tokens for the shared models and " +
        "that nights of music have begun to shine with open air " +
        "stages under warm island skies where dancers move and the " +
        "crowd sings of joy to celebrate another season that will " +
        "have grown with every sunrise over the bay and the harbour " +
        "of the old town"),
      2L -> ("the reference corpus tokens for the shared models and " +
        "that winter brings of quiet have fallen to rest with closed " +
        "doors rooms under cold northern lights where readers dwell " +
        "and the library keeps of lore to preserve another volume " +
        "that will have endured with every candle over the desk and " +
        "the cellar of the old keep"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def writeDoc(id: Long): Unit =
      Seq((id, texts(id))).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(src)
    def scored(t: String) = spark.read.parquet(s"$t/scored").distinct()
    def scoredCount(t: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$t/scored")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L
      else try scored(t).count()
      catch { case scala.util.control.NonFatal(_) => 0L }
    }
    def awaitRows(t: String, n: Long): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (scoredCount(t) < n) {
        assert(System.nanoTime() < deadline,
          s"timed out waiting for $n scored rows under $t")
        Thread.sleep(200)
      }
    }
    val live = s"$dir/live"
    val q = graft.streaming.Curation.start(spark, src, schema, live,
      modelsA, modelsDir = Some(mdir),
      trigger = Trigger.ProcessingTime("300 milliseconds"))
    try {
      writeDoc(1L)
      awaitRows(live, 1)
      graft.streaming.Curation.Models.save(modelsB, mdir)
      writeDoc(2L)
      awaitRows(live, 2)
    } finally {
      q.stop(); q.awaitTermination()
    }
    // fixed-model reference drains over the same files in the same
    // order (AvailableNow): ref = A then B, cf = A then A
    val refSrc = s"$dir/ref_src"; new java.io.File(refSrc).mkdirs()
    def drain(out: String, m: graft.streaming.Curation.Models): Unit =
      assert(graft.streaming.Curation.start(spark, refSrc, schema,
        out, m).awaitTermination(180000))
    Seq((1L, texts(1L))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(refSrc)
    drain(s"$dir/ref", modelsA)
    drain(s"$dir/cf", modelsA)
    Seq((2L, texts(2L))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(refSrc)
    drain(s"$dir/ref", modelsB)
    drain(s"$dir/cf", modelsA) // counterfactual: no retrain
    val (lv, rf, cf) = (scored(live), scored(s"$dir/ref"),
      scored(s"$dir/cf"))
    assert(lv.exceptAll(rf).isEmpty && rf.exceptAll(lv).isEmpty,
      "live curate verdicts must be bit-stable per generation")
    assert(!lv.exceptAll(cf).isEmpty || !cf.exceptAll(lv).isEmpty,
      "generation B must change batch 2's verdicts vs never-retrained")
  }

  test("a replayed committed batch is a no-op even when a retrain " +
      "landed in the restart window") {
    // the _last_commit guard end-to-end, against Spark's REAL replay
    // machinery: drain one batch (generation A), then fabricate the
    // crash state Spark replays from — offsets/0 committed,
    // commits/0 deleted — and land generation B while "down". The
    // restarted stream re-executes batch 0; without the guard it
    // would re-curate under B and append verdict rows differing from
    // the first run's (the A-vs-B fixture provably flips verdicts),
    // which distinct() keeps forever. With it, the replay is a no-op.
    val dir = java.nio.file.Files.createTempDirectory("graft_replay")
      .toFile.getAbsolutePath
    val src = s"$dir/src"; new java.io.File(src).mkdirs()
    val modelsA = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "en"),
        (901L, "andere referenz woerter fuer das geteilte modell", "de"))
        .toDF("doc_id", "text", "lang"))
    val modelsB = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "de"),
        (901L, "andere referenz woerter fuer das geteilte modell", "en"))
        .toDF("doc_id", "text", "lang"))
    val mdir = s"$dir/models"
    graft.streaming.Curation.Models.save(modelsA, mdir)
    val text = "the reference corpus tokens for the shared models " +
      "and that nights of music have begun to shine with open air " +
      "stages under warm island skies where dancers move and the " +
      "crowd sings of joy to celebrate another season that will " +
      "have grown with every sunrise over the bay and the harbour " +
      "of the old town"
    Seq((1L, text)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    val out = s"$dir/out"
    assert(graft.streaming.Curation.start(spark, src, schema, out,
      modelsA, modelsDir = Some(mdir)).awaitTermination(180000))
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = spark.read.parquet(s"$out/scored").distinct()
      .collect().toSeq
    assert(first.size === 1)
    // marker = "<checkpoint query id>:<batchId>" — bound to the
    // checkpoint's identity, not the bare batch number
    val marker0 = graft.operators.GateOps
      .readMarker(fs, out, "_last_commit")
    assert(marker0.exists(_.endsWith(":0")) &&
      marker0 === graft.operators.GateOps
        .checkpointQueryId(fs, s"$out/_ckpt").map(_ + ":0"))
    // fabricate the replay state and land the retrain while "down"
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$out/_ckpt/commits/0"), false),
      "fixture must find the batch's commit-log entry to delete")
    graft.streaming.Curation.Models.save(modelsB, mdir)
    assert(graft.streaming.Curation.start(spark, src, schema, out,
      modelsA, modelsDir = Some(mdir)).awaitTermination(180000))
    val after = spark.read.parquet(s"$out/scored").distinct()
      .collect().toSeq
    assert(after === first,
      "a replayed committed batch re-curated (under generation B) — " +
        "the _last_commit guard must make it a no-op")
    // the dangerous converse: a FRESH checkpoint over the reused
    // outDir is a deliberate re-ingest whose first batch is ALSO
    // batchId 0 — the stale marker must NOT match it (checkpoint
    // identity differs), or the batch is silently dropped with its
    // offsets committed. Reprocessing under the now-current
    // generation B writes a verdict row differing from A's.
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$out/_ckpt"), true))
    assert(graft.streaming.Curation.start(spark, src, schema, out,
      modelsA, modelsDir = Some(mdir)).awaitTermination(180000))
    assert(spark.read.parquet(s"$out/scored").distinct().count() === 2,
      "a fresh checkpoint's batch 0 was wrongly skipped by the " +
        "previous run's marker")
  }

  test("a replayed committed startEmbedding batch leaves the gate's " +
      "verdicts unchanged") {
    // the replay fixture above on the embedding entry point, which has
    // no _last_commit guard: drain one batch, delete its commit-log
    // entry, restart — Spark re-executes batch 0 against a gate that
    // already indexed it. The own-id exclusion must keep every
    // re-admitted verdict byte-identical, so distinct() absorbs them.
    val dir = Files.createTempDirectory("graft_embed_replay").toFile
      .getAbsolutePath
    Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.99f, 0.05f, 0f, 0f)),
        (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0f, 0.02f, 0.98f, 0f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/src")
    val schema = spark.read.parquet(s"$dir/src").schema
    def drain(): Unit = assert(graft.streaming.Curation.startEmbedding(
        spark, s"$dir/src", schema, s"$dir/out", dim = 4,
        idCol = "vec_id", vecCol = "embedding", bands = 2, rowBits = 2)
      .awaitTermination(180000))
    def verdicts() = spark.read.parquet(s"$dir/out/verdicts")
    drain()
    val first = verdicts().distinct().collect().toSet
    assert(first.size === 4 &&
      first.exists(r => r.getLong(0) == 2L && r.getInt(3) == 1),
      "the batch-internal near-dup must flag")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$dir/out/_ckpt/commits/0"), false),
      "fixture must find the batch's commit-log entry to delete")
    drain()
    assert(verdicts().count() === 8, "the restart must re-admit batch 0")
    assert(verdicts().distinct().collect().toSet === first,
      "a replayed startEmbedding batch changed the gate's verdicts")
  }

  test("per-tick census rows sum to the post-hoc curation report") {
    // the standing `report` log (one six-stage census block per
    // non-empty batch) vs the post-hoc whole-log census: for distinct
    // documents the per-stage sums across ticks must equal
    // curationReport EXACTLY — same arithmetic (censusStages), two
    // aggregation scopes. Cadence 1 so the report log's own
    // compaction runs between ticks and provably loses nothing.
    val dir = java.nio.file.Files.createTempDirectory("graft_ticks")
      .toFile.getAbsolutePath
    val models = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "en"),
        (901L, "andere referenz woerter fuer das geteilte modell", "de"))
        .toDF("doc_id", "text", "lang"))
    Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "omega psi chi phi upsilon"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/src")
    val schema = spark.read.parquet(s"$dir/src").schema
    graft.streaming.Curation.start(spark, s"$dir/src", schema,
        s"$dir/cur", models, autoCompactEvery = 1)
      .awaitTermination()
    Seq((3L, "nu xi omicron pi rho sigma"),
      // near-identical to doc 1 (distinct doc_id AND text): lands in
      // tick 2 as a near-dup drop, so the two ticks' censuses differ
      // and the sum is non-trivial
      (4L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/src")
    graft.streaming.Curation.start(spark, s"$dir/src", schema,
        s"$dir/cur", models, autoCompactEvery = 1)
      .awaitTermination()
    val ticks = graft.streaming.Curation.curationTicks(spark, s"$dir/cur")
    assert(ticks.select("batch_id").distinct().count() === 2,
      "two drains must leave two tick census blocks")
    assert(ticks.count() === 12, "six stage rows per tick")
    val summed = ticks.groupBy("stage").agg(
      sum("n_evaluated").as("n_evaluated"), sum("n_kept").as("n_kept"),
      sum("n_dropped").as("n_dropped"), sum("shed_keys").as("shed_keys"))
    val post = graft.streaming.Curation.curationReport(spark, s"$dir/cur")
    assert(summed.exceptAll(post).isEmpty && post.exceptAll(summed).isEmpty,
      "per-tick census sums must equal the post-hoc report per stage")
    // the fixture exercised the interesting census shape: tick 2's
    // near-dup drop is visible in the summed lattice
    val nd = post.filter(col("stage") === "2_neardup").head()
    assert(nd.getAs[Long]("n_evaluated") === 4L &&
      nd.getAs[Long]("n_kept") === 3L,
      "doc 4 must have been evaluated at stage 2 and dropped as a near-dup")
  }

  test("SQL function registration exposes py_round and minhash_sig") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT py_round(0.8074999999999999, 3) AS r").head().getDouble(0)
    assert(r === 0.807)
    val sig = spark.sql(
      "SELECT minhash_sig(array(1L, 2L, 3L), 8, 42L) AS s").head().getSeq[Long](0)
    assert(sig.length === 8)
    assert(sig.forall(_ >= 0))
    // simhash64 over SQL == the Column API path
    val sh = spark.sql("SELECT simhash64('hello world foo') AS h").head().getLong(0)
    val shCol = Seq("hello world foo").toDF("t")
      .select(graft.operators.Dedup.simhash64(col("t"))).head().getLong(0)
    assert(sh === shCol)
    // simhash_bits: 60-bit output stays under 2^60
    val sb = spark.sql(
      "SELECT simhash_bits(array(1L, 3L, 7L), 60) AS h").head().getLong(0)
    assert(sb >= 0L && sb < (1L << 60))
    // html_unescape: numeric + named refs from SQL
    val hu = spark.sql(
      "SELECT html_unescape('&#8364;50 &amp; up') AS t").head().getString(0)
    assert(hu === "€50 & up")
    // array_dot from SQL == the Column API path (double arrays)
    val ad = spark.sql(
      "SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(ad === 11.0)
    // int arrays are rejected at ANALYSIS time (checkInputDataTypes),
    // not with a raw IllegalArgumentException out of codegen
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT array_dot(array(1, 2), array(3, 4))").collect()
    }
    assert(err.getMessage.contains("array_dot requires"))
    // bpe_count / bpe_tokens from SQL use the default merges table
    val bc = spark.sql("SELECT bpe_count('the window') AS n")
      .head().getLong(0)
    assert(bc === 2)
    val bt = spark.sql("SELECT bpe_tokens('The window order') AS t")
      .head().getSeq[String](0)
    assert(bt === Seq("the", "window", "or", "d", "er"))
    // shingle_hashes from SQL == the Column API path
    val shSql = spark.sql("SELECT shingle_hashes('a b c d', 3) AS h")
      .head().getSeq[Long](0)
    val shCol2 = Seq(Tuple1("a b c d")).toDF("t")
      .select(graft.operators.Dedup.shingleHashes(col("t"), 3))
      .head().getSeq[Long](0)
    assert(shSql === shCol2)
    // array_eq_count from SQL, and its analysis-time type rejection
    val ec = spark.sql(
      "SELECT array_eq_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS c")
      .head().getInt(0)
    assert(ec === 2)
    val eqErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT array_eq_count(array('a'), array('a'))").collect()
    }
    assert(eqErr.getMessage.contains("array_eq_count requires"))
  }

  test("every gate's admit leaves the parquet IN-pushdown threshold as " +
      "it found it — set or unset, whether the admit returns or throws") {
    val out = new java.io.File("target/test_gate_inthreshold")
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val docs = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val vecs = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("id", "v")
    // per gate: a normal admit, and one that throws inside the admit
    // scope — a reopen whose pinned layout disagrees with the disk
    // fails fast at the first open, which runs inside it
    val gates: Seq[(String, () => Unit, () => Unit)] = Seq(
      ("novelty",
        () => new graft.operators.NoveltyGate(s"$out/nov").admit(docs),
        () => new graft.operators.NoveltyGate(s"$out/nov", k = 5)
          .admit(docs)),
      ("neardup",
        () => new graft.operators.NearDupGate(s"$out/nd")
          .admit(docs, "doc_id", "text"),
        () => new graft.operators.NearDupGate(s"$out/nd", numHashes = 16,
          bands = 8).admit(docs, "doc_id", "text")),
      ("embed",
        () => new graft.operators.EmbedNearDupGate(s"$out/emb", dim = 4)
          .admit(vecs, "id", "v"),
        () => new graft.operators.EmbedNearDupGate(s"$out/emb", dim = 4,
          seed = 9L).admit(vecs, "id", "v")))
    // getAll holds only EXPLICITLY set keys, so it tells "unset" from
    // "set to the default"
    def explicit(): Option[String] = spark.conf.getAll.get(key)
    val prior = explicit()
    try {
      for ((name, ok, bad) <- gates; start <- Seq(Some("37"), None)) {
        start.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        ok()
        assert(explicit() === start, s"$name admit from $start")
        val err = intercept[IllegalStateException](bad())
        assert(err.getMessage.contains("gate layout mismatch"), name)
        assert(explicit() === start, s"$name failed admit from $start")
      }
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("layouts no current writer produces fail fast naming what was " +
      "found and change no file; a bare batchId marker is never a commit") {
    val out = Files.createTempDirectory("graft_unknown_layout").toFile
      .getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def moveUp(from: String, to: String): Unit = {
      fs.listStatus(p(from)).foreach(st =>
        assert(fs.rename(st.getPath, p(s"$to/${st.getPath.getName}"))))
      assert(fs.delete(p(from), true))
    }
    // one message naming `found`, and not one file of `dir` touched
    def refused(dir: String, found: String)(call: => Any): Unit = {
      val before = graft.operators.AnnIndex.fileCensus(spark, dir)
      val e = intercept[RuntimeException](call)
      assert(e.getMessage.contains(found), e.getMessage)
      assert(graft.operators.AnnIndex.fileCensus(spark, dir) === before,
        s"$dir changed")
    }
    // an ANN index whose components sit at the root, with no pointer
    val rng = new scala.util.Random(7)
    val vecs = (0 until 40).map(i =>
        (i.toLong, Array.fill(4)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val ann = s"$out/ann"
    graft.operators.AnnIndex.build(spark, ann, vecs, "vec_id", "embedding",
      graft.operators.Similarity.trainIvfCentroids(vecs, "vec_id",
        "embedding", dim = 4, nlist = 2, iters = 2),
      graft.operators.Similarity.trainPqCodebooks(vecs, "vec_id",
        "embedding", dim = 4, m = 2, ksub = 4, iters = 2))
    moveUp(s"$ann/${graft.operators.AnnIndex.currentGeneration(spark, ann)}",
      ann)
    fs.listStatus(p(ann)).map(_.getPath)
      .filter(_.getName.startsWith("ptr-")).foreach(fs.delete(_, false))
    refused(ann, "_ann_layout, base")(graft.operators.AnnIndex.probe(spark,
      ann, vecs.limit(2), "vec_id", "embedding", k = 3))
    refused(ann, "_ann_layout, base")(graft.operators.AnnIndex.append(
      spark, ann, vecs.limit(2), "vec_id", "embedding"))
    // gate tables with their _layout manifest deleted
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text")
    new graft.operators.NoveltyGate(s"$out/nov").admit(docs)
    assert(fs.delete(p(s"$out/nov/_layout"), false))
    refused(s"$out/nov", "data without _layout, bloom without _layout")(
      new graft.operators.NoveltyGate(s"$out/nov").admit(docs))
    new graft.operators.NearDupGate(s"$out/nd")
      .admit(docs, "doc_id", "text")
    val ndLayout = graft.operators.GateLayout.read(fs,
      p(s"$out/nd/_layout"))
    assert(fs.delete(p(s"$out/nd/_layout"), false))
    refused(s"$out/nd", "bands without _layout, sigs without " +
        "_layout, verdicts without _layout")(
      new graft.operators.NearDupGate(s"$out/nd")
        .admit(docs, "doc_id", "text"))
    // a near-dup manifest without its verdict_schema entry
    graft.operators.GateLayout.write(fs, p(s"$out/nd/_layout"),
      (ndLayout - "verdict_schema").toSeq)
    refused(s"$out/nd", "_layout without verdict_schema")(
      new graft.operators.NearDupGate(s"$out/nd")
        .admit(docs, "doc_id", "text"))
    // an embedding-gate manifest without its row_bits entry
    val vecs1 = Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    new graft.operators.EmbedNearDupGate(s"$out/emb", dim = 4)
      .admit(vecs1, "vec_id", "embedding")
    graft.operators.GateLayout.write(fs, p(s"$out/emb/_layout"),
      (graft.operators.GateLayout.read(fs, p(s"$out/emb/_layout")) -
        "row_bits").toSeq)
    refused(s"$out/emb", "_layout without row_bits")(
      new graft.operators.EmbedNearDupGate(s"$out/emb", dim = 4)
        .admit(vecs1, "vec_id", "embedding"))
    // model artifacts and _layout at the dir root, no current/
    val models = s"$out/models"
    graft.streaming.Curation.Models.save(graft.streaming.Curation
      .trainModels(Seq(
        (900L, "reference corpus tokens for the shared models", "en"),
        (901L, "andere referenz woerter fuer das geteilte modell", "de"))
        .toDF("doc_id", "text", "lang")), models)
    moveUp(s"$models/current", models)
    refused(models, "_layout")(
      graft.streaming.Curation.Models.load(spark, models))
    // a bare batchId marker never counts that batch as committed
    graft.operators.GateOps.writeMarker(fs, out, "_last_commit", "8")
    assert(!graft.operators.GateOps.replayCommitted(
      graft.operators.GateOps.readMarker(fs, out, "_last_commit"),
      "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee:8"))
  }

  test("Curation.start refuses a flat models dir at start, naming its " +
      "_layout, instead of falling back on every batch") {
    val out = Files.createTempDirectory("graft_flat_models").toFile
      .getAbsolutePath
    val models = graft.streaming.Curation.trainModels(Seq(
      (900L, "reference corpus tokens for the shared models", "en"),
      (901L, "andere referenz woerter fuer das geteilte modell", "de"))
      .toDF("doc_id", "text", "lang"))
    graft.streaming.Curation.Models.save(models, s"$out/models")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the flat layout: the generation's files at the dir root
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/models/current"))
      .foreach(st => assert(fs.rename(st.getPath,
        new org.apache.hadoop.fs.Path(s"$out/models/${st.getPath.getName}"))))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$out/models/current"),
      true))
    Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      .write.parquet(s"$out/src")
    val e = intercept[IllegalStateException](graft.streaming.Curation.start(
      spark, s"$out/src", spark.read.parquet(s"$out/src").schema,
      s"$out/cur", models, modelsDir = Some(s"$out/models")))
    assert(e.getMessage.contains("flat _layout") &&
      e.getMessage.contains("_layout, eval_grams"), e.getMessage)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/cur")),
      "start must refuse before it writes anything")
  }
}
