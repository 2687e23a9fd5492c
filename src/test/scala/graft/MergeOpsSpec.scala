package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MergeOps
import graft.sources.{Readers, Sinks}
import java.nio.file.Files

class MergeOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def existing = Seq(
    ("e1", "old title 1", "2025-01-01"),
    ("e2", "old title 2", "2025-01-02")).toDF("event_id", "title", "updated_at")

  private def incoming = Seq(
    ("e2", "new title 2", "2025-02-01"),
    ("e3", "new title 3", "2025-02-02")).toDF("event_id", "title", "updated_at")

  test("K1 upsert: latest wins by key, new keys inserted") {
    val merged = MergeOps.upsert(existing, incoming, Seq("event_id"), "updated_at")
    val got = merged.orderBy("event_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === Seq("e1" -> "old title 1", "e2" -> "new title 2",
      "e3" -> "new title 3"))
  }

  test("K1 upsert: idempotent under re-merge of the same batch") {
    val once = MergeOps.upsert(existing, incoming, Seq("event_id"), "updated_at")
    val twice = MergeOps.upsert(once, incoming, Seq("event_id"), "updated_at")
    assert(twice.orderBy("event_id").collect().toSeq ===
      once.orderBy("event_id").collect().toSeq)
  }

  test("K1 upsert: equal recency favors incoming (last write wins)") {
    val inc = Seq(("e1", "rewritten", "2025-01-01")).toDF("event_id", "title", "updated_at")
    val merged = MergeOps.upsert(existing, inc, Seq("event_id"), "updated_at")
    assert(merged.filter($"event_id" === "e1").head().getString(1) === "rewritten")
  }

  test("D1 first-wins dedup preserves input order semantics") {
    val batch = Seq(
      ("u1", "2025-01-01", "first"),
      ("u1", "2025-01-01", "second"),
      ("u2", "2025-01-01", "only"),
      ("u1", "2025-01-01", "third")).toDF("source_url", "start_date", "payload")
    val got = MergeOps.dedupFirstWins(batch, Seq("source_url", "start_date"))
      .orderBy("source_url").collect().map(_.getString(2)).toSeq
    assert(got === Seq("first", "only"))
  }

  test("merge audit counts new/updated/duplicate rows") {
    val batch = incoming.union(Seq(("e3", "dupe row", "2025-02-03"))
      .toDF("event_id", "title", "updated_at"))
    val audit = MergeOps.mergeAudit(existing, batch, Seq("event_id")).head()
    assert(audit.getAs[Long]("incoming_rows") === 3)
    assert(audit.getAs[Long]("incoming_keys") === 2)
    assert(audit.getAs[Long]("new_keys") === 1)       // e3
    assert(audit.getAs[Long]("updated_keys") === 1)   // e2
    assert(audit.getAs[Long]("in_batch_dupes") === 1)
  }

  test("upsertParquet round-trips and merges on disk") {
    val dir = Files.createTempDirectory("graft_upsert").toFile.getAbsolutePath
    val table = s"$dir/events"
    MergeOps.upsertParquet(spark, table, existing, Seq("event_id"), "updated_at")
    MergeOps.upsertParquet(spark, table, incoming, Seq("event_id"), "updated_at")
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"))).toSeq
    assert(got === Seq("e1" -> "old title 1", "e2" -> "new title 2",
      "e3" -> "new title 3"))
  }

  private def monthDocs(rows: Seq[(String, String, Int, String)]) =
    rows.toDF("event_id", "title", "version", "start_month")

  private def fileCensus(table: String, skip: String): Seq[(String, Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(table)).toSeq
      .filter(st => st.getPath.getName.startsWith("start_month=") &&
        st.getPath.getName != s"start_month=$skip")
      .flatMap { m =>
        val it = fs.listFiles(m.getPath, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          buf += ((m.getPath.getName + "/" + f.getPath.getName,
            f.getLen, f.getModificationTime))
        }
        buf
      }.sortBy(_._1)
  }

  test("month upsert merges only touched months, others byte-identical") {
    val dir = Files.createTempDirectory("graft_mupsert").toFile.getAbsolutePath
    val table = s"$dir/events"
    val base = monthDocs(Seq(
      ("e1", "jan", 1, "2025-01"),
      ("e2", "feb", 1, "2025-02"),
      ("e3", "mar", 1, "2025-03")))
    MergeOps.upsertParquetByMonth(spark, table, base, Seq("event_id"), "version")
    val before = fileCensus(table, skip = "2025-02")
    val batch = monthDocs(Seq(
      ("e2", "feb v2", 2, "2025-02"),
      ("e4", "feb new", 1, "2025-02")))
    MergeOps.upsertParquetByMonth(spark, table, batch, Seq("event_id"), "version")
    assert(fileCensus(table, skip = "2025-02") === before,
      "untouched months were rewritten")
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"))).toSeq
    assert(got === Seq("e1" -> "jan", "e2" -> "feb v2", "e3" -> "mar",
      "e4" -> "feb new"))
  }

  test("month upsert recovers a month orphaned between the two renames") {
    val dir = Files.createTempDirectory("graft_mcrash").toFile.getAbsolutePath
    val table = s"$dir/events"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e1", "jan", 1, "2025-01"), ("e2", "feb", 1, "2025-02"))),
      Seq("event_id"), "version")
    // simulate a crash after the retire rename of 2025-02 but before
    // activation: the month's only copy sits under the _mretired root
    val retiredRoot = new org.apache.hadoop.fs.Path(s"$dir/events_mretired")
    fs.mkdirs(retiredRoot)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(table, "start_month=2025-02"),
      new org.apache.hadoop.fs.Path(retiredRoot, "start_month=2025-02")))
    // next merge must restore 2025-02 BEFORE reading, so e2 survives
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e2", "feb v2", 2, "2025-02"))),
      Seq("event_id"), "version")
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"))).toSeq
    assert(got === Seq("e1" -> "jan", "e2" -> "feb v2"))
  }

  test("kill between retire and activate: recovery restores the table, " +
      "retry converges") {
    val dir = Files.createTempDirectory("graft_mkill").toFile.getAbsolutePath
    val table = s"$dir/events"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e1", "jan", 1, "2025-01"), ("e2", "feb", 1, "2025-02"))),
      Seq("event_id"), "version")
    // Reproduce the exact on-disk state of a writer killed INSIDE
    // activate, after the retire rename and before the activate rename:
    // the merged batch sits fully materialized under _mstaging (as
    // upsertParquetByMonth writes it), and the live month's only copy
    // has been renamed into _mretired.
    val batch = monthDocs(Seq(("e2", "feb v2", 2, "2025-02")))
    MergeOps.upsert(spark.read.parquet(table)
        .filter($"start_month" === "2025-02")
        .withColumn("start_month", $"start_month".cast("string")),
        batch, Seq("event_id"), "version")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("start_month").parquet(s"$dir/events_mstaging")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/events_mretired"))
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(table, "start_month=2025-02"),
      new org.apache.hadoop.fs.Path(s"$dir/events_mretired/start_month=2025-02")))
    // The reader-exclusion hazard the contract documents: a concurrent
    // read of this state silently misses the whole month — no error.
    assert(spark.read.parquet(table).count() === 1)
    // Any subsequent table operation runs recoverOrphans first; a
    // clean-table reconcile is the smallest such operation. Invariant:
    // every month whose only live copy sits under _mretired is
    // restored, the half-applied staging root is discarded, and the
    // table reads as the PRE-MERGE state (apply-or-retry).
    assert(MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version") === Nil)
    val recovered = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"))).toSeq
    assert(recovered === Seq("e1" -> "jan", "e2" -> "feb"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/events_mstaging")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/events_mretired")),
      "recovery must clear both sibling roots")
    // Retrying the killed batch converges to the intended result.
    MergeOps.upsertParquetByMonth(spark, table, batch, Seq("event_id"), "version")
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"))).toSeq
    assert(got === Seq("e1" -> "jan", "e2" -> "feb v2"))
  }

  test("retention drop: rename is the commit point, crash garbage swept") {
    val dir = Files.createTempDirectory("graft_mdrop").toFile.getAbsolutePath
    val table = s"$dir/events"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e1", "jan", 1, "2025-01"), ("e2", "feb", 1, "2025-02"),
        ("e3", "mar", 1, "2025-03"))),
      Seq("event_id"), "version")
    // simulate a crash AFTER the commit rename and BEFORE the delete:
    // the month sits under _mdropped and must NOT be resurrected by
    // merge-side orphan recovery (that is why _mdropped != _mretired)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/events_mdropped"))
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(table, "start_month=2025-01"),
      new org.apache.hadoop.fs.Path(s"$dir/events_mdropped/start_month=2025-01")))
    assert(MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version") === Nil)
    assert(spark.read.parquet(table).count() === 2,
      "a committed-dropped month must not be resurrected")
    // the next retention call sweeps the garbage and applies its drop
    assert(MergeOps.dropMonthsBefore(spark, table, "2025-03") ===
      Seq("2025-02"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/events_mdropped")))
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(_.getAs[String]("event_id")).toSeq
    assert(got === Seq("e3"))
    // idempotent on a clean table
    assert(MergeOps.dropMonthsBefore(spark, table, "2025-03") === Nil)
  }

  test("month upsert: a month can merge to empty and is retired") {
    val dir = Files.createTempDirectory("graft_mempty").toFile.getAbsolutePath
    val table = s"$dir/events"
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e1", "jan", 1, "2025-01"), ("e2", "feb", 1, "2025-02"))),
      Seq("event_id"), "version")
    // e2 moves to 2025-03: the batch carries the key under BOTH months
    // (the contract's cross-month move pattern), so the merge reads the
    // old month, the new version wins, and 2025-02 merges to empty
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e2", "moved", 2, "2025-03"), ("e2", "old", 1, "2025-02"))),
      Seq("event_id"), "version")
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"),
        r.getAs[String]("start_month"))).toSeq
    assert(got === Seq(("e1", "jan", "2025-01"), ("e2", "moved", "2025-03")))
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(table, "start_month=2025-02")),
      "emptied month directory should be retired")
  }

  test("month upsert is idempotent and its read is partition-pruned") {
    val dir = Files.createTempDirectory("graft_midem").toFile.getAbsolutePath
    val table = s"$dir/events"
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e1", "jan", 1, "2025-01"), ("e2", "feb", 1, "2025-02"),
        ("e3", "mar", 1, "2025-03"))),
      Seq("event_id"), "version")
    val batch = monthDocs(Seq(("e2", "feb v2", 2, "2025-02")))
    MergeOps.upsertParquetByMonth(spark, table, batch, Seq("event_id"), "version")
    val once = spark.read.parquet(table).orderBy("event_id").collect().toSeq
    MergeOps.upsertParquetByMonth(spark, table, batch, Seq("event_id"), "version")
    assert(spark.read.parquet(table).orderBy("event_id").collect().toSeq === once)
    // the merge's existing-side read shape: an isin filter on the
    // partition column prunes to the touched month directories only
    val pruned = spark.read.parquet(table)
      .filter($"start_month".isin("2025-02"))
    val p = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("start_month"),
      "month filter did not partition-prune:\n" + p.take(800))
  }

  test("cross-month reconcile drops moved keys' stale rows only") {
    val dir = Files.createTempDirectory("graft_recon").toFile.getAbsolutePath
    val table = s"$dir/events"
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e1", "jan", 1, "2025-01"), ("e2", "jan", 1, "2025-01"),
        ("e3", "feb", 1, "2025-02"))),
      Seq("event_id"), "version")
    // e2 re-scraped into March WITHOUT the old month in the batch —
    // the documented gap: its January row survives as a duplicate
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e2", "mar v2", 2, "2025-03"))),
      Seq("event_id"), "version")
    assert(spark.read.parquet(table).filter($"event_id" === "e2").count() === 2)
    val befFeb = fileCensus(table, skip = "2025-01")
      .filter(_._1.startsWith("start_month=2025-02"))
    val months = MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version")
    assert(months === Seq("2025-01"))
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"))).toSeq
    assert(got === Seq("e1" -> "jan", "e2" -> "mar v2", "e3" -> "feb"))
    // untouched months' files stay byte-identical
    assert(fileCensus(table, skip = "2025-01")
      .filter(_._1.startsWith("start_month=2025-02")) === befFeb)
    // second pass: clean table, nothing rewritten
    assert(MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version") === Nil)
  }

  test("cross-month reconcile keeps a winner sharing its month with a stale row") {
    val dir = Files.createTempDirectory("graft_recon2").toFile.getAbsolutePath
    val table = s"$dir/events"
    // month 2025-01 holds BOTH versions of e1 (an in-month duplicate,
    // e.g. a raw import) plus an unrelated clean row
    monthDocs(Seq(("e1", "v1", 1, "2025-01"), ("e1", "v2", 2, "2025-01"),
        ("e9", "ok", 1, "2025-01")))
      .withColumn("start_month", $"start_month")
      .write.partitionBy("start_month").parquet(table)
    MergeOps.reconcileCrossMonthKeys(spark, table, Seq("event_id"), "version")
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"))).toSeq
    assert(got === Seq("e1" -> "v2", "e9" -> "ok"))
  }

  test("cross-month reconcile handles NULL-keyed duplicate groups") {
    // the anti-join leg must be null-safe like the re-keep leg: a
    // null-unsafe anti lets every NULL-keyed row through AND the
    // winner re-enters via the semi-join — written twice, stale
    // losers never removed
    val dir = Files.createTempDirectory("graft_recon_null").toFile.getAbsolutePath
    val table = s"$dir/events"
    monthDocs(Seq(((null: String), "jan", 1, "2025-01"),
        ((null: String), "mar", 2, "2025-03"),
        ("e1", "ok", 1, "2025-01")))
      .write.partitionBy("start_month").parquet(table)
    val months = MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version")
    assert(months === Seq("2025-01"))
    val got = spark.read.parquet(table)
      .orderBy(asc_nulls_first("event_id")).collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"))).toSeq
    assert(got === Seq((null, "mar"), ("e1", "ok")))
  }

  test("cross-month reconcile keeps an in-month NULL-keyed winner exactly once") {
    val dir = Files.createTempDirectory("graft_recon_null2").toFile.getAbsolutePath
    val table = s"$dir/events"
    monthDocs(Seq(((null: String), "v1", 1, "2025-01"),
        ((null: String), "v2", 2, "2025-01"),
        ("e9", "ok", 1, "2025-01")))
      .write.partitionBy("start_month").parquet(table)
    MergeOps.reconcileCrossMonthKeys(spark, table, Seq("event_id"), "version")
    val got = spark.read.parquet(table)
      .orderBy(asc_nulls_first("event_id")).collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"))).toSeq
    assert(got === Seq((null, "v2"), ("e9", "ok")))
  }

  test("compaction rewrites only fragmented months, preserving data") {
    val dir = Files.createTempDirectory("graft_compact").toFile.getAbsolutePath
    val table = s"$dir/events"
    // 2025-01 fragmented (8 files via repartition), 2025-02 compact
    monthDocs((1 to 40).map(i => (s"e$i", s"t$i", 1, "2025-01")))
      .repartition(8)
      .write.partitionBy("start_month").parquet(table)
    monthDocs(Seq(("f1", "feb", 1, "2025-02")))
      .coalesce(1).write.mode("append").partitionBy("start_month").parquet(table)
    def nFiles(m: String) = new java.io.File(s"$table/start_month=$m")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles("2025-01") === 8)
    val febBefore = fileCensus(table, skip = "2025-01")
    val compacted = MergeOps.compactMonths(spark, table, Seq("event_id"),
      maxFilesPerMonth = 4)
    assert(compacted === Seq("2025-01"))
    assert(nFiles("2025-01") === 1)
    assert(fileCensus(table, skip = "2025-01") === febBefore,
      "compact months were rewritten")
    assert(spark.read.parquet(table).count() === 41)
    // idempotent: nothing left to compact
    assert(MergeOps.compactMonths(spark, table, Seq("event_id"),
      maxFilesPerMonth = 4) === Nil)
  }

  test("K5 flag-for-refresh updates only targeted events") {
    val ev = spark.read.schema(graft.schema.EventSchema.schema)
      .option("multiLine", true).json("fixtures/events_v2_sample.json")
    val flagged = MergeOps.flagForRefresh(ev, Seq("evt_1"),
      lit("2025-06-10T00:00:00Z"))
    val rows = flagged.select($"event_id", $"system_flags.needs_refresh",
      $"system_flags.refresh_requested_at").collect()
      .map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(rows("evt_1") === (Some(true), Some("2025-06-10T00:00:00Z")))
    assert(rows("evt_2") === (None, None))
  }

  test("D3 upsertDocs absorbs losers into merged_from_ids and merge_log") {
    def docs(rows: Seq[(String, String, Long, Seq[String], Seq[String])]) =
      rows.toDF("event_id", "key", "recency", "mfi", "mlog")
        .select($"event_id", $"key", $"recency",
          struct(lit(true).as("is_canonical"),
            $"mfi".as("merged_from_ids"), $"mlog".as("merge_log"))
            .as("deduplication"))
    // e2 already carries history (e0) from an earlier merge round
    val ex = docs(Seq(
      ("e1", "a", 1L, Seq.empty, Seq.empty),
      ("e2", "a", 2L, Seq("e0"), Seq("t0|e0|keyed_upsert")),
      ("e9", "b", 1L, Seq.empty, Seq.empty)))
    val in = docs(Seq(("e5", "a", 5L, Seq.empty, Seq.empty)))
    val got = MergeOps.upsertDocs(ex, in, Seq("key"), "recency",
        lit("T1")).orderBy($"key")
      .select($"key", $"event_id",
        $"deduplication.merged_from_ids", $"deduplication.merge_log")
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getSeq[String](2), r.getSeq[String](3)))
    // winner e5 absorbs losers e1+e2 AND e2's prior history e0
    assert(got(0) === ("a", "e5", Seq("e0", "e1", "e2"),
      Seq("T1|e1|keyed_upsert", "T1|e2|keyed_upsert")))
    // lone doc in key b: untouched, no log growth
    assert(got(1) === ("b", "e9", Seq(), Seq()))
  }

  test("D3 upsertDocs is idempotent under re-delivery of the winner") {
    def docs(rows: Seq[(String, String, Long, Seq[String], Seq[String])]) =
      rows.toDF("event_id", "key", "recency", "mfi", "mlog")
        .select($"event_id", $"key", $"recency",
          struct(lit(true).as("is_canonical"),
            $"mfi".as("merged_from_ids"), $"mlog".as("merge_log"))
            .as("deduplication"))
    // first merge absorbed e1 into e2; the batch replays e2 itself
    val ex = docs(Seq(("e2", "a", 2L, Seq("e1"), Seq("T0|e1|keyed_upsert"))))
    val in = docs(Seq(("e2", "a", 2L, Seq("e1"), Seq("T0|e1|keyed_upsert"))))
    val got = MergeOps.upsertDocs(ex, in, Seq("key"), "recency", lit("T1"))
      .select($"event_id", $"deduplication.merged_from_ids",
        $"deduplication.merge_log").collect()
    assert(got.length === 1)
    // the winner's own id must NOT enter its history, and no new log
    // entry may appear — a replay is not a merge event
    assert(got(0).getSeq[String](1) === Seq("e1"))
    assert(got(0).getSeq[String](2) === Seq("T0|e1|keyed_upsert"))
  }

  test("SCD2 null states form their own intervals (null-safe change detection)") {
    val log = Seq(
      (1L, 1L, Some("A")), (1L, 2L, None), (1L, 3L, None), (1L, 4L, Some("A")))
      .toDF("k", "ts", "state")
    val got = MergeOps.scdType2(log, Seq("k"), "ts", "ts", "state")
      .orderBy($"version")
      .select($"version", $"state", $"valid_to", $"is_current").collect()
    // A | NULL (the two consecutive NULLs collapse) | A — three intervals
    assert(got.map(r => Option(r.get(1))).toSeq ===
      Seq(Some("A"), None, Some("A")))
    assert(got.map(r => Option(r.get(2))).toSeq ===
      Seq(Some(2L), Some(4L), None))
    assert(got.map(_.getBoolean(3)).toSeq === Seq(false, false, true))
  }

  test("D5 snapshot diff: a NULL fingerprint on a present row is not an absence") {
    val src = Seq((1L, Some("f1")), (2L, None), (3L, None))
      .toDF("id", "fp")
    val tgt = Seq((1L, Some("f1")), (2L, None), (3L, Some("f3")))
      .toDF("id", "fp")
    val got = MergeOps.snapshotDiff(src, tgt, Seq("id"), "fp")
      .orderBy($"id").select($"id", $"status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "unchanged", 3L -> "changed"))
  }

  test("K6 retention never expires the null-month sentinel") {
    val dir = Files.createTempDirectory("graft_sentinel").toFile
    val table = new java.io.File(dir, "events").getAbsolutePath
    Seq((1L, "0000-00"), (2L, "2023-05"), (3L, "2025-01"))
      .toDF("event_id", "start_month")
      .write.partitionBy("start_month").parquet(table)
    val dropped = MergeOps.dropMonthsBefore(spark, table, "2025-01")
    assert(dropped === Seq("2023-05"))
    assert(spark.read.parquet(table)
      .select($"start_month".cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq ===
      Seq("0000-00", "2025-01"))
  }

  test("K1 reconcile keeps a NULL-recency winner living in a rewritten month") {
    val dir = Files.createTempDirectory("graft_nullrec").toFile
    val table = new java.io.File(dir, "events").getAbsolutePath
    // key 1: NULL-recency duplicate across months — month desc
    // tiebreak makes 2025-02 the winner. key 3's stale row DIRTIES
    // 2025-02, so that month is rewritten and key 1's NULL-recency
    // winner must be re-kept by the null-safe semi-join (with plain
    // equality it would vanish). key 2: clean row in the rewritten
    // month (must survive the anti-join path).
    Seq((1L, Option.empty[Long], "2025-01"),
        (1L, Option.empty[Long], "2025-02"),
        (2L, Some(7L), "2025-02"),
        (3L, Some(1L), "2025-02"),
        (3L, Some(2L), "2025-03"))
      .toDF("user_id", "recency", "start_month")
      .write.partitionBy("start_month").parquet(table)
    val months = MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("user_id"), "recency")
    assert(months.sorted === Seq("2025-01", "2025-02"))
    val left = spark.read.parquet(table)
      .select($"user_id", $"start_month".cast("string")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // NULL-recency winner survived the 2025-02 rewrite; both stale
    // twins are gone; the clean row and the outside winner untouched
    assert(left === Seq((1L, "2025-02"), (2L, "2025-02"), (3L, "2025-03")))
  }

  test("K1 reconcile on a missing table is a clean no-op") {
    val dir = Files.createTempDirectory("graft_notable").toFile
    assert(MergeOps.reconcileCrossMonthKeys(spark,
      new java.io.File(dir, "events").getAbsolutePath,
      Seq("user_id"), "recency") === Nil)
  }

  test("S2 calendar reader explodes nested events") {
    val dir = Files.createTempDirectory("graft_cal").toFile
    val f = new java.io.File(dir, "cal.json")
    Files.writeString(f.toPath,
      """{"metadata": {"total_events": 2, "version": "fast_v1.0"},
        |"events": [{"title": "A", "venue": "Pacha", "index": 0},
        |           {"title": "B", "venue": "DC10", "index": 1}]}""".stripMargin)
    val df = Readers.calendarEvents(spark, f.getAbsolutePath)
    assert(df.count() === 2)
    assert(df.columns.toSet === Set("index", "title", "venue"))
  }

  test("S3 staging reader filters and parses payload") {
    val staging = Seq(
      ("h1", """{"title": "Parsed Event"}""", true),
      ("h2", """{"title": "Failed"}""", false),
      ("h3", null, true)).toDF("url_hash", "event_data", "success")
    val dir = Files.createTempDirectory("graft_stage").toFile.getAbsolutePath
    staging.write.mode("overwrite").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("title",
        org.apache.spark.sql.types.StringType)))
    val df = Readers.stagingEvents(spark, dir, schema)
    assert(df.count() === 1)
    assert(df.select($"payload.title").head().getString(0) === "Parsed Event")
  }

  test("K4 markdown sink formats events with lineup truncation") {
    val ev = spark.read.schema(graft.schema.EventSchema.schema)
      .option("multiLine", true).json("fixtures/events_v2_sample.json")
    val md = ev.filter($"event_id" === "evt_3")
      .select(Sinks.markdownColumn.as("md")).head().getString(0)
    assert(md.contains("## Carl Cox at Privilege Ibiza"))
    assert(md.contains("- **Venue**: Privilege"))
    assert(md.contains("Carl Cox, Adam Beyer, Charlotte de Witte"))
  }

  test("scdType2 collapses runs, chains valid_to, flags the current row") {
    // user 1: A,A,B,A -> 3 intervals (the repeated A at t=20 folds
    // into the first; the LAST A is a NEW interval, not a resumption)
    val log = Seq(
      (1L, 10L, 100L, "A"), (1L, 20L, 101L, "A"),
      (1L, 30L, 102L, "B"), (1L, 40L, 103L, "A"),
      (2L, 15L, 104L, "C")).toDF("user_id", "ts_sec", "event_id", "state")
    val dim = MergeOps.scdType2(log, Seq("user_id"), "ts_sec",
        "event_id", "state")
      .select("user_id", "version", "state", "ts_sec", "valid_to",
        "is_current")
      .orderBy("user_id", "version")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), Option(r.get(4)), r.getBoolean(5))).toSeq
    assert(dim === Seq(
      (1L, 1, "A", 10L, Some(30L), false),
      (1L, 2, "B", 30L, Some(40L), false),
      (1L, 3, "A", 40L, None, true),
      (2L, 1, "C", 15L, None, true)))
  }

  private def mvEvents(rows: Seq[(String, String, Double)]) =
    rows.toDF("event_type", "ts_str", "value")
      .select(col("event_type"), to_timestamp(col("ts_str")).as("ts"),
        col("value"))

  test("MV refresh: merged state == full recompute across any batch split") {
    import graft.operators.MaterializedView
    val all = mvEvents(Seq(
      ("view", "2025-03-01 10:00:00", 1.25), // group shared base/delta
      ("view", "2025-03-01 11:00:00", 2.50),
      ("view", "2025-03-02 09:00:00", 4.00), // base-only group
      ("purchase", "2025-03-01 12:00:00", 9.99), // delta-only group
      ("purchase", "2025-03-03 08:00:00", 0.01),
      ("click", "2025-03-02 07:00:00", 3.33))) // another shared group
    // split 1: interleaved; split 2: different partition of the rows
    val splits = Seq(
      (Seq(0, 2, 5), Seq(1, 3, 4)),
      (Seq(1, 3), Seq(0, 2, 4, 5)))
    val rows = all.collect()
    for ((bIdx, dIdx) <- splits) {
      val base = spark.createDataFrame(
        spark.sparkContext.parallelize(bIdx.map(rows)), all.schema)
      val delta = spark.createDataFrame(
        spark.sparkContext.parallelize(dIdx.map(rows)), all.schema)
      val merged = MaterializedView.refresh(
        MaterializedView.eventRollup(base),
        MaterializedView.eventRollup(delta))
      val full = MaterializedView.eventRollup(all)
        .select(col("event_type"), col("day"), col("n"), col("nv"),
          col("vsum").cast(org.apache.spark.sql.types.DecimalType(38, 4)))
      assert(merged.orderBy("event_type", "day").collect().toSeq ===
        full.orderBy("event_type", "day").collect().toSeq)
    }
  }

  test("MV refresh: folding two deltas == one combined delta (associative)") {
    import graft.operators.MaterializedView
    val base = mvEvents(Seq(("view", "2025-03-01 10:00:00", 1.00)))
    val d1 = mvEvents(Seq(("view", "2025-03-01 11:00:00", 2.00),
      ("click", "2025-03-02 11:00:00", 5.00)))
    val d2 = mvEvents(Seq(("view", "2025-03-01 12:00:00", 4.00)))
    val stepwise = MaterializedView.refresh(
      MaterializedView.refresh(MaterializedView.eventRollup(base),
        MaterializedView.eventRollup(d1)),
      MaterializedView.eventRollup(d2))
    val combined = MaterializedView.refresh(
      MaterializedView.eventRollup(base),
      MaterializedView.eventRollup(d1.unionByName(d2)))
    assert(stepwise.orderBy("event_type", "day").collect().toSeq ===
      combined.orderBy("event_type", "day").collect().toSeq)
    val viewRow = stepwise.filter(col("event_type") === "view")
      .select(col("n"), col("vsum").cast("double")).collect()
    assert(viewRow.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((3L, 7.00)))
  }

  test("MV retractions: delete inverts insert, zeroed groups leave") {
    import graft.operators.MaterializedView
    val base = mvEvents(Seq(
      ("view", "2025-03-01 10:00:00", 1.25),
      ("view", "2025-03-01 11:00:00", 2.50),
      ("click", "2025-03-02 07:00:00", 3.33)))
    val delta = mvEvents(Seq(("view", "2025-03-01 12:00:00", 4.00)))
    val stored = MaterializedView.eventRollup(base)
    // add then retract the same delta: state returns to the original
    val roundTrip = MaterializedView.refreshWithRetractions(
      MaterializedView.refresh(stored, MaterializedView.eventRollup(delta)),
      MaterializedView.eventRollup(mvEvents(Nil)),
      MaterializedView.eventRollup(delta))
    val shaped = stored.select(col("event_type"), col("day"), col("n"),
      col("nv"), col("vsum").cast(org.apache.spark.sql.types.DecimalType(28, 4)))
    assert(roundTrip.orderBy("event_type", "day").collect().toSeq ===
      shaped.orderBy("event_type", "day").collect().toSeq)
    // retracting ALL of a group's rows removes the group entirely
    val clickGone = MaterializedView.refreshWithRetractions(stored,
      MaterializedView.eventRollup(mvEvents(Nil)),
      MaterializedView.eventRollup(
        mvEvents(Seq(("click", "2025-03-02 07:00:00", 3.33)))))
    assert(clickGone.filter(col("event_type") === "click").count() === 0)
    assert(clickGone.filter(col("event_type") === "view").count() === 1)
  }

  test("MV retractions: a group left with only NULL values reads vsum NULL, not 0") {
    import graft.operators.MaterializedView
    // group holds one valued row and one NULL-valued row; retracting
    // the valued row must read back as vsum NULL (what a full
    // recompute over the surviving NULL row says), not the 0 the
    // retracted cells cancel to
    def ev(rows: Seq[(String, String, Option[Double])]) =
      rows.toDF("event_type", "ts_str", "value")
        .select(col("event_type"), to_timestamp(col("ts_str")).as("ts"),
          col("value"))
    val base = ev(Seq(
      ("view", "2025-03-01 10:00:00", Some(5.0)),
      ("view", "2025-03-01 11:00:00", None)))
    val got = MaterializedView.refreshWithRetractions(
      MaterializedView.eventRollup(base),
      MaterializedView.eventRollup(ev(Nil)),
      MaterializedView.eventRollup(
        ev(Seq(("view", "2025-03-01 10:00:00", Some(5.0))))))
      .select(col("n"), col("nv"), col("vsum")).collect()
    assert(got.length === 1)
    assert(got(0).getLong(0) === 1L && got(0).getLong(1) === 0L)
    assert(got(0).isNullAt(2), s"vsum must be NULL, got ${got(0).get(2)}")
  }

  test("MV retractions: over-delete raises instead of clamping") {
    import graft.operators.MaterializedView
    val base = mvEvents(Seq(("view", "2025-03-01 10:00:00", 1.00)))
    val over = mvEvents(Seq(
      ("view", "2025-03-01 10:30:00", 1.00),
      ("view", "2025-03-01 10:45:00", 2.00)))
    val ex = intercept[Exception] {
      MaterializedView.refreshWithRetractions(
        MaterializedView.eventRollup(base),
        MaterializedView.eventRollup(mvEvents(Nil)),
        MaterializedView.eventRollup(over)).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("retraction"))
  }

  // ---- sub-month hash-sharded merge ---------------------------------

  /** The shard a key lands in under [[MergeOps.keyShard]] — computed
    * through the same expression the merge uses, so the census below
    * can name the touched dirs without re-deriving the hash. */
  private def shardOf(key: String, numShards: Int): String =
    Seq(key).toDF("event_id")
      .select(MergeOps.keyShard(Seq("event_id"), numShards))
      .head().getString(0)

  /** Recursive (relative path, length, mtime) census of every file
    * under the table whose path does NOT start with a skipped prefix —
    * the byte-identity fingerprint at shard granularity. */
  private def dirCensus(table: String,
      skipPrefixes: Set[String]): Seq[(String, Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qroot = fs.makeQualified(new org.apache.hadoop.fs.Path(table))
    val it = fs.listFiles(qroot, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toString.stripPrefix(qroot.toString + "/")
      if (!skipPrefixes.exists(rel.startsWith))
        buf += ((rel, f.getLen, f.getModificationTime))
    }
    buf.sortBy(_._1).toSeq
  }

  test("sharded month upsert: latest-wins equality with the unsharded " +
      "path, untouched shards byte-identical") {
    val dir = Files.createTempDirectory("graft_shupsert").toFile.getAbsolutePath
    val base = monthDocs(Seq(
      ("e1", "jan a", 1, "2025-01"), ("e2", "jan b", 1, "2025-01"),
      ("e3", "jan c", 1, "2025-01"), ("e4", "feb a", 1, "2025-02"),
      ("e5", "feb b", 1, "2025-02")))
    val batch = monthDocs(Seq(
      ("e2", "jan b v2", 2, "2025-01"), ("e6", "jan new", 1, "2025-01")))
    MergeOps.upsertParquetByMonth(spark, s"$dir/flat", base,
      Seq("event_id"), "version")
    MergeOps.upsertParquetByMonth(spark, s"$dir/flat", batch,
      Seq("event_id"), "version")
    MergeOps.upsertParquetByMonthShard(spark, s"$dir/sh", base,
      Seq("event_id"), "version", numShards = 8)
    val touched = Set("e2", "e6")
      .map(k => s"start_month=2025-01/kshard=${shardOf(k, 8)}")
    val before = dirCensus(s"$dir/sh", touched)
    assert(before.exists(_._1.startsWith("start_month=2025-01/")),
      "fixture must leave at least one UNTOUCHED shard in the touched " +
        "month, or the sub-month claim is vacuous")
    MergeOps.upsertParquetByMonthShard(spark, s"$dir/sh", batch,
      Seq("event_id"), "version", numShards = 8)
    assert(dirCensus(s"$dir/sh", touched) === before,
      "files outside the touched (month, shard) dirs were rewritten")
    def state(t: String) = spark.read.parquet(t)
      .select("event_id", "title", "version", "start_month")
      .orderBy("event_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getString(3))).toSeq
    assert(state(s"$dir/sh") === state(s"$dir/flat"),
      "sharded read-back must equal the unsharded merge's state")
  }

  test("sharded upsert fails fast on shard-count drift and layout mixing") {
    val dir = Files.createTempDirectory("graft_shguard").toFile.getAbsolutePath
    val base = monthDocs(Seq(("e1", "jan", 1, "2025-01")))
    MergeOps.upsertParquetByMonthShard(spark, s"$dir/sh", base,
      Seq("event_id"), "version", numShards = 8)
    val drift = intercept[IllegalStateException] {
      MergeOps.upsertParquetByMonthShard(spark, s"$dir/sh", base,
        Seq("event_id"), "version", numShards = 16)
    }
    assert(drift.getMessage.contains("num_shards"))
    val mix = intercept[IllegalStateException] {
      MergeOps.upsertParquetByMonth(spark, s"$dir/sh", base,
        Seq("event_id"), "version")
    }
    assert(mix.getMessage.contains("sharded"))
    MergeOps.upsertParquetByMonth(spark, s"$dir/flat", base,
      Seq("event_id"), "version")
    val adopt = intercept[IllegalStateException] {
      MergeOps.upsertParquetByMonthShard(spark, s"$dir/flat", base,
        Seq("event_id"), "version", numShards = 8)
    }
    assert(adopt.getMessage.contains("unsharded"))
  }

  test("sharded upsert restores a shard orphaned between the two renames") {
    val dir = Files.createTempDirectory("graft_shcrash").toFile.getAbsolutePath
    val table = s"$dir/events"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // e1/e9 hash to DIFFERENT shards of 4 (checked below) in the same month
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "jan a", 1, "2025-01"),
        ("e9", "jan b", 1, "2025-01"))),
      Seq("event_id"), "version", numShards = 4)
    val (s1, s9) = (shardOf("e1", 4), shardOf("e9", 4))
    assert(s1 !== s9, "fixture keys must occupy distinct shards")
    // simulate a crash after the retire rename of e9's shard but
    // before activation: the shard's only copy sits under _mretired
    val rel = s"start_month=2025-01/kshard=$s9"
    val retired = new org.apache.hadoop.fs.Path(s"${table}_mretired/$rel")
    fs.mkdirs(retired.getParent)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$table/$rel"), retired))
    // next merge (touching only e1's shard) must restore e9 first
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "jan a v2", 2, "2025-01"))),
      Seq("event_id"), "version", numShards = 4)
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"))).toSeq
    assert(got === Seq("e1" -> "jan a v2", "e9" -> "jan b"))
  }

  test("cross-month reconcile preserves the sharded layout") {
    val dir = Files.createTempDirectory("graft_shrec").toFile.getAbsolutePath
    val table = s"$dir/events"
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "jan a", 1, "2025-01"),
        ("e2", "jan b", 1, "2025-01"))),
      Seq("event_id"), "version", numShards = 4)
    // e1 moves months without the old month in the batch → stale row
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "feb a v2", 2, "2025-02"))),
      Seq("event_id"), "version", numShards = 4)
    val months = MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version")
    assert(months === Seq("2025-01"))
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title"),
        r.getAs[String]("start_month"))).toSeq
    assert(got === Seq(("e1", "feb a v2", "2025-02"),
      ("e2", "jan b", "2025-01")))
    // the rewritten month must still be SHARDED (subdirs, no flat files)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val jan = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$table/start_month=2025-01"))
    assert(jan.exists(st => st.isDirectory &&
      st.getPath.getName.startsWith("kshard=")))
    assert(!jan.exists(_.getPath.getName.endsWith(".parquet")),
      "reconcile flattened a sharded month")
  }

  test("compaction on a sharded table works per shard and converges") {
    val dir = Files.createTempDirectory("graft_shcomp").toFile.getAbsolutePath
    val table = s"$dir/events"
    // 12 keys in one month over 2 shards. The merge creates the table
    // (and its _shard_layout) from the first four as one file per
    // shard; the other eight are then appended straight into the
    // shard dirs from many input partitions, so each shard dir holds
    // several small files
    val rows = (1 to 12).map(i => (s"e$i", s"t$i", 1, "2025-01"))
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(rows.take(4)), Seq("event_id"), "version",
      numShards = 2)
    monthDocs(rows.drop(4))
      .withColumn("kshard", MergeOps.keyShard(Seq("event_id"), 2))
      .repartition(8)
      .write.mode("append").partitionBy("start_month", "kshard")
      .parquet(table)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def shardFiles(): Map[String, Int] = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$table/start_month=2025-01"))
      .filter(_.getPath.getName.startsWith("kshard="))
      .map(sd => sd.getPath.getName -> fs.listStatus(sd.getPath)
        .count(_.getPath.getName.endsWith(".parquet"))).toMap
    assert(shardFiles().values.exists(_ > 2),
      "fixture must fragment at least one shard, or the test is vacuous")
    val before = spark.read.parquet(table).orderBy("event_id").collect()
      .map(_.getAs[String]("title")).toSeq
    val compacted = MergeOps.compactMonths(spark, table, Seq("event_id"),
      maxFilesPerMonth = 2)
    assert(compacted === Seq("2025-01"))
    assert(shardFiles().values.forall(_ <= 2),
      "compaction must bound files per shard")
    assert(spark.read.parquet(table).orderBy("event_id").collect()
      .map(_.getAs[String]("title")).toSeq === before)
    assert(MergeOps.compactMonths(spark, table, Seq("event_id"),
      maxFilesPerMonth = 2) === Nil,
      "a compacted sharded table must not re-compact on the next sweep")
  }

  test("reshard rewrites the geometry atomically: manifest + dirs " +
      "change together, rows identical, old-geometry merges refused") {
    val dir = Files.createTempDirectory("graft_reshard").toFile
      .getAbsolutePath
    val table = s"$dir/events"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = (1 to 24).map(i => (s"e$i", s"t$i", 1, "2025-01")) ++
      (1 to 6).map(i => (s"f$i", s"u$i", 1, "2025-02"))
    MergeOps.upsertParquetByMonthShard(spark, table, monthDocs(rows),
      Seq("event_id"), "version", numShards = 4)
    def state() = spark.read.parquet(table)
      .select("event_id", "title", "version", "start_month")
      .orderBy("event_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getString(3))).toSeq
    val before = state()
    assert(MergeOps.reshard(spark, table, 12))
    assert(state() === before, "reshard must not change a single row")
    val m = graft.operators.GateLayout.read(fs,
      new org.apache.hadoop.fs.Path(s"$table/_shard_layout"))
    assert(m("num_shards") === "12" && m("shard_keys") === "event_id")
    // at least one shard value outside the old geometry's range
    // proves the dirs really carry the new assignment (24 keys over
    // 12 shards — deterministic under the fixed hash)
    val shardVals = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$table/start_month=2025-01"))
      .filter(_.getPath.getName.startsWith("kshard="))
      .map(_.getPath.getName.stripPrefix("kshard=s").toInt).toSeq
    assert(shardVals.exists(_ >= 4), "no dir outside the old range")
    // operational continuity: merges at the NEW geometry work, the
    // OLD geometry fails fast
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "t1 v2", 2, "2025-01"))),
      Seq("event_id"), "version", numShards = 12)
    assert(spark.read.parquet(table)
      .filter($"event_id" === "e1").head().getAs[String]("title")
      === "t1 v2")
    intercept[IllegalStateException] {
      MergeOps.upsertParquetByMonthShard(spark, table,
        monthDocs(Seq(("e2", "x", 2, "2025-01"))),
        Seq("event_id"), "version", numShards = 4)
    }
    assert(!MergeOps.reshard(spark, table, 12),
      "reshard to the current count must be a no-op")
  }

  private def onlineFixture(dir: String): String = {
    val table = s"$dir/events"
    val rows = (1 to 24).map(i => (s"e$i", s"t$i", 1, "2025-01")) ++
      (1 to 6).map(i => (s"f$i", s"u$i", 1, "2025-02"))
    MergeOps.upsertParquetByMonthShard(spark, table, monthDocs(rows),
      Seq("event_id"), "version", numShards = 4)
    table
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) = df
    .select("event_id", "title", "version", "start_month")
    .collect()
    .map(r => (r.getString(0), r.getString(1), r.getInt(2),
      r.getString(3))).toSeq.sorted

  test("online reshard: identical result to the offline operator, " +
      "readers live and correct at EVERY protocol phase") {
    val dir = Files.createTempDirectory("graft_rsonline").toFile
      .getAbsolutePath
    val table = onlineFixture(s"$dir/on")
    val twin = onlineFixture(s"$dir/off")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = rowsOf(spark.read.parquet(table))
    // the reader-liveness probe: at every commit point of the
    // protocol a fresh resolve-and-read must succeed and return the
    // complete table — this is the property the offline reshard
    // cannot offer (its commit window has NO table)
    val phases = scala.collection.mutable.ArrayBuffer.empty[String]
    assert(MergeOps.reshardOnline(spark, table, 12,
      hook = (phase, mo) => {
        phases += phase
        assert(rowsOf(MergeOps.readMonthTable(spark, table)) === before,
          s"reader saw a wrong/partial table at phase $phase ($mo)")
      }))
    assert(phases.toSeq === Seq("enter_staged", "enter_done",
      "month_staged", "month_committed", "month_staged",
      "month_committed", "exit_begin", "exit_done"))
    // the end state is the ordinary FLAT sharded layout — byte-for
    // -byte the offline reshard's contract: plain reads work, no
    // migration scaffolding survives
    assert(rowsOf(spark.read.parquet(table)) === before)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .map(_.getPath.getName)
      .forall(n => n.startsWith("start_month=") || n == "_shard_layout"),
      "migration scaffolding must not survive the exit")
    assert(graft.operators.GateLayout.read(fs,
        new org.apache.hadoop.fs.Path(s"$table/_shard_layout"))
      .get("num_shards").contains("12"))
    // geometry identical to the offline operator's (same hash, same
    // shard assignment): shard dir sets match per month
    assert(MergeOps.reshard(spark, twin, 12))
    def shardDirs(t: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(t)).toSeq
      .filter(_.getPath.getName.startsWith("start_month="))
      .flatMap(m => fs.listStatus(m.getPath).toSeq
        .filter(_.getPath.getName.startsWith("kshard="))
        .map(s => m.getPath.getName + "/" + s.getPath.getName))
      .sorted
    assert(shardDirs(table) === shardDirs(twin),
      "online and offline reshard must produce the same geometry")
    // operational continuity: merges at the new geometry work
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "t1 v2", 2, "2025-01"))),
      Seq("event_id"), "version", numShards = 12)
    assert(spark.read.parquet(table)
      .filter($"event_id" === "e1").head().getAs[String]("title")
      === "t1 v2")
    // no-op at the current geometry
    assert(!MergeOps.reshardOnline(spark, table, 12))
  }

  test("EXIT's straggler window self-heals: gen-prefixed residue " +
      "recreated after the sweep is quarantined and removed by the " +
      "next flat-path merge; a mid-migration merge declaring a " +
      "different partCol fails fast") {
    val dir = Files.createTempDirectory("graft_straggler").toFile
      .getAbsolutePath
    val table = onlineFixture(s"$dir/events")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // partCol fail-fast: inject a mismatched-declaration merge at a
    // MIGRATE commit point — same loud treatment as keys/numShards
    var partColChecked = false
    assert(MergeOps.reshardOnline(spark, table, 12,
      hook = (phase, mo) => {
        if (phase == "month_staged" && !partColChecked) {
          partColChecked = true
          val e = intercept[IllegalArgumentException] {
            MergeOps.upsertParquetByMonthShard(spark, table,
              monthDocs(Seq(("e1", "t1 v9", 9, "2025-01")))
                .withColumnRenamed("start_month", "other_month"),
              Seq("event_id"), "version", partCol = "other_month",
              numShards = 4)
          }
          assert(e.getMessage.contains("differs from the migration"))
        }
      }))
    assert(partColChecked)
    val before = rowsOf(spark.read.parquet(table))
    // the straggler: a routed merge's Spark write that outlived the
    // EXIT sweep recreates generation dirs (and a merge-swap staging
    // sibling) at the root — a plain flat read would now trip over
    // phantom rows / mixed partition depths
    monthDocs(Seq(("zz", "phantom", 99, "2025-01")))
      .write.parquet(s"$table/gen-000002/start_month=2025-01")
    monthDocs(Seq(("zz", "phantom2", 99, "2025-01")))
      .write.parquet(s"$table/gen-000002_mstaging/start_month=2025-01")
    // the next flat-path merge sweeps the residue and lands normally
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "t1 v2", 2, "2025-01"))),
      Seq("event_id"), "version", numShards = 12)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .map(_.getPath.getName)
    assert(!names.exists(n => n.startsWith("gen-") ||
        n.startsWith("_residue_")),
      s"straggler residue must be swept, saw: ${names.mkString(",")}")
    val after = rowsOf(spark.read.parquet(table))
    assert(after ===
      before.map(r => if (r._1 == "e1") ("e1", "t1 v2", 2, "2025-01")
        else r).sorted,
      "the healing merge must land latest-wins with no phantom rows")
  }

  test("online reshard: superseded manifests get the month-dir grace, " +
      "and every grace manifest maps months to dirs that exist") {
    // The race this pins: a reader lists the manifest set just before
    // commit v+1, resolves v, and opens it a beat later. If the
    // commit swept v immediately the read dies FileNotFound inside
    // the commit window — the exact error class the pointer protocol
    // exists to prevent. So (a) version v-1 must survive commit v,
    // and (b) everything v-1 maps must still be on disk (the month
    // grace and the manifest grace must be ALIGNED — a surviving
    // pointer into a deleted month dir would be the same bug).
    val dir = Files.createTempDirectory("graft_rsgrace").toFile
      .getAbsolutePath
    val table = onlineFixture(dir)
    val destP = new org.apache.hadoop.fs.Path(table)
    val fs = destP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifests(): Seq[(Long, String)] = fs.listStatus(destP)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("_gen_manifest_") &&
        n.stripPrefix("_gen_manifest_").forall(_.isDigit))
      .map(n => n.stripPrefix("_gen_manifest_").toLong -> n).toSeq
      .sortBy(_._1)
    def monthDirsOf(name: String): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(destP, name))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      lines.filter(_.startsWith("m\t")).map { l =>
        val Array(_, mo, g, _) = l.split("\t", 4)
        s"$g/start_month=$mo"
      }
    }
    MergeOps.reshardOnline(spark, table, 12, hook = (phase, mo) => {
      if (phase == "month_committed") {
        val ms = manifests()
        val vmax = ms.last._1
        if (vmax >= 2) {
          assert(ms.map(_._1).contains(vmax - 1),
            s"commit $vmax swept version ${vmax - 1} without grace " +
              s"(present: ${ms.map(_._1).mkString(",")})")
          // the grace manifest's view must be fully backed on disk
          monthDirsOf(ms.init.last._2).foreach { rel =>
            assert(fs.exists(new org.apache.hadoop.fs.Path(destP, rel)),
              s"grace manifest v${vmax - 1} maps a missing dir: $rel")
          }
        }
        // no unbounded accumulation: at most the live + grace pair
        assert(ms.size <= 2, s"manifest sweep fell behind: $ms")
      }
    })
    // terminal state still sweeps EVERYTHING
    assert(manifests().isEmpty, "exit must sweep all manifests")
  }

  test("online reshard crash at each phase: reader correct in the " +
      "crash state, writers fail fast, resume converges") {
    // one crash per protocol phase: mid-enter, mid-month (staged but
    // uncommitted), post-pointer (committed, source not yet swept,
    // incl. the grace-delete path on the second month), and mid-exit
    val crashes = Seq(("enter_staged", 1), ("month_staged", 1),
      ("month_committed", 1), ("month_committed", 2), ("exit_begin", 1))
    for ((phase, nth) <- crashes) {
      val dir = Files.createTempDirectory(s"graft_rsoc_$phase$nth")
        .toFile.getAbsolutePath
      val table = onlineFixture(dir)
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val before = rowsOf(spark.read.parquet(table))
      var seen = 0
      val boom = intercept[RuntimeException] {
        MergeOps.reshardOnline(spark, table, 12, hook = (p, _) => {
          if (p == phase) { seen += 1
            if (seen == nth) sys.error(s"injected crash at $phase#$nth") }
        })
      }
      assert(boom.getMessage.contains("injected"))
      // the crash state is fully readable…
      assert(rowsOf(MergeOps.readMonthTable(spark, table)) === before,
        s"reader wrong after crash at $phase#$nth")
      // …maintenance writers are excluded, fail fast naming the remedy…
      val excl = intercept[IllegalStateException] {
        MergeOps.reconcileCrossMonthKeys(spark, table,
          Seq("event_id"), "version")
      }
      assert(excl.getMessage.contains("reshardOnline"))
      // …and the keyed MERGE stays live through manifest routing in
      // every crash state that has a routable manifest (the MIGRATE
      // phase — the hours-long part at scale). ENTER and EXIT crash
      // states are metadata windows: the merge fails fast RETRYABLE
      // there, and the window is bounded by a resume.
      val metadataWindow = phase == "enter_staged" || phase == "exit_begin"
      val expected =
        if (metadataWindow) {
          val w = intercept[IllegalStateException] {
            MergeOps.upsertParquetByMonthShard(spark, table,
              monthDocs(Seq(("e1", "mid-crash", 2, "2025-01"))),
              Seq("event_id"), "version", numShards = 4)
          }
          assert(w.getMessage.contains("metadata window") &&
            w.getMessage.contains("reshardOnline"),
            s"merge in $phase#$nth crash state: wrong failure shape")
          before
        } else {
          MergeOps.upsertParquetByMonthShard(spark, table,
            monthDocs(Seq(("e1", "mid-crash", 2, "2025-01"))),
            Seq("event_id"), "version", numShards = 4)
          assert(rowsOf(MergeOps.readMonthTable(spark, table))
              .contains(("e1", "mid-crash", 2, "2025-01")),
            s"routed merge invisible to readers after $phase#$nth crash")
          before.map {
            case ("e1", _, _, m) => ("e1", "mid-crash", 2, m)
            case r => r
          }
        }
      // a resume must carry the recorded target — geometry cannot
      // change mid-migration
      val wrong = intercept[IllegalArgumentException] {
        MergeOps.reshardOnline(spark, table, 8)
      }
      assert(wrong.getMessage.contains("cannot change"))
      // resume with the recorded target converges to the flat result,
      // CARRYING any merge that committed in the crash state
      assert(MergeOps.reshardOnline(spark, table, 12),
        s"resume after $phase#$nth crash did no work")
      assert(rowsOf(spark.read.parquet(table)) === expected,
        s"resume after $phase#$nth crash lost or changed rows")
      assert(graft.operators.GateLayout.read(fs,
          new org.apache.hadoop.fs.Path(s"$table/_shard_layout"))
        .get("num_shards").contains("12"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$table/_reshard_online")))
    }
  }

  test("an orphaned manifest claim (crash between claim-create and " +
      "publish) cannot wedge the table: commits unwedge it and " +
      "resume converges") {
    val dir = Files.createTempDirectory("graft_rsclaim").toFile
      .getAbsolutePath
    val table = onlineFixture(dir)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = rowsOf(spark.read.parquet(table))
    // crash mid-migration, then simulate a committer that died
    // between creating its claim for the NEXT version and publishing
    // it (a torn, partially-written claim — the worst shape)
    intercept[RuntimeException] {
      MergeOps.reshardOnline(spark, table, 12, hook = (p, _) =>
        if (p == "month_staged") sys.error("injected"))
    }
    val vmax = fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("_gen_manifest_") &&
        n.stripPrefix("_gen_manifest_").forall(_.isDigit))
      .map(_.stripPrefix("_gen_manifest_").toLong).max
    val orphan = new org.apache.hadoop.fs.Path(table,
      f"_gen_manifest_${vmax + 1}%09d.claim")
    val out = fs.create(orphan, true)
    out.write("g\ttorn".getBytes("UTF-8")); out.close()
    // a routed merge targeting vmax+1 must unwedge and commit
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "unwedged", 2, "2025-01"))),
      Seq("event_id"), "version", numShards = 4)
    assert(rowsOf(MergeOps.readMonthTable(spark, table))
      .contains(("e1", "unwedged", 2, "2025-01")))
    // and the resume converges to the flat target geometry
    assert(MergeOps.reshardOnline(spark, table, 12))
    assert(rowsOf(spark.read.parquet(table)) === before.map {
      case ("e1", _, _, m) => ("e1", "unwedged", 2, m)
      case r => r
    })
    assert(!fs.exists(orphan), "exit must sweep the orphan claim")
  }

  test("merges keep landing DURING an online reshard: manifest-routed " +
      "per month, migration redoes a raced month, end state equals " +
      "merge-then-offline-reshard") {
    val dir = Files.createTempDirectory("graft_rslive").toFile
      .getAbsolutePath
    val table = onlineFixture(s"$dir/on")
    val twin = onlineFixture(s"$dir/off")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the four live batches, each exercising a distinct routing case:
    //  A  source-mapped month, lands BETWEEN the month's staging and
    //     its commit → the migration must detect the seq bump and
    //     redo the rewrite (the silent-loss case the seq exists for)
    //  B  source-mapped month not yet staged (ordinary src routing)
    //  C  already-COMMITTED month → routes to the target generation
    //     at the target geometry
    //  D  month the table has never seen → enters the manifest mapped
    //     to the target generation, exits to the root with the rest
    val mergeA = Seq(("e1", "live A", 2, "2025-01"))
    val mergeB = Seq(("f1", "live B", 2, "2025-02"))
    val mergeC = Seq(("e2", "live C", 2, "2025-01"))
    val mergeD = Seq(("g1", "live D", 1, "2025-03"))
    var aDone, cDone = false
    val staged01 = scala.collection.mutable.ArrayBuffer.empty[String]
    assert(MergeOps.reshardOnline(spark, table, 12, hook = (p, mo) => {
      if (p == "month_staged" && mo == "2025-01") staged01 += mo
      if (p == "month_staged" && mo == "2025-01" && !aDone) {
        aDone = true
        // old-geometry caller declaration (4) is accepted mid-flight
        MergeOps.upsertParquetByMonthShard(spark, table,
          monthDocs(mergeA), Seq("event_id"), "version", numShards = 4)
      }
      if (p == "month_committed" && mo == "2025-01" && !cDone) {
        cDone = true
        // new-geometry caller declaration (12) likewise
        MergeOps.upsertParquetByMonthShard(spark, table,
          monthDocs(mergeC ++ mergeD ++ mergeB),
          Seq("event_id"), "version", numShards = 12)
        // maintenance stays excluded even while merges flow
        val excl = intercept[IllegalStateException] {
          MergeOps.reconcileCrossMonthKeys(spark, table,
            Seq("event_id"), "version")
        }
        assert(excl.getMessage.contains("maintenance"))
      }
    }))
    // the raced month must have been staged TWICE (initial + redo
    // after mergeA's seq bump) — one staging would have lost mergeA
    assert(staged01.size === 2,
      s"migration did not redo the merged month (staged ${staged01.size}×)")
    // end state: flat layout at the new geometry, scaffolding gone
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .map(_.getPath.getName)
      .forall(n => n.startsWith("start_month=") || n == "_shard_layout"),
      "migration scaffolding must not survive the exit")
    assert(graft.operators.GateLayout.read(fs,
        new org.apache.hadoop.fs.Path(s"$table/_shard_layout"))
      .get("num_shards").contains("12"))
    // equality with the sequential reference: same merges applied to
    // the twin BEFORE an offline reshard — geometry change plus
    // concurrent ingest must commute
    for (b <- Seq(mergeA, mergeB, mergeC, mergeD))
      MergeOps.upsertParquetByMonthShard(spark, twin, monthDocs(b),
        Seq("event_id"), "version", numShards = 4)
    assert(MergeOps.reshard(spark, twin, 12))
    assert(rowsOf(spark.read.parquet(table))
      === rowsOf(spark.read.parquet(twin)),
      "online-with-live-merges and merge-then-reshard diverged")
    // post-migration merges work at the new geometry
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("g1", "live D v2", 2, "2025-03"))),
      Seq("event_id"), "version", numShards = 12)
    assert(spark.read.parquet(table)
      .filter($"event_id" === "g1").head().getAs[String]("title")
      === "live D v2")
  }

  test("routed merge crash AFTER the data write but BEFORE its " +
      "manifest commit: the batch is unacknowledged, loses no " +
      "acknowledged data, and a retry lands it") {
    // The durability boundary made explicit: a routed merge is
    // durable only once its seq-bump CAS commits. Crash between the
    // physical write and that commit → the migration (which staged
    // the month before the write and sees no seq change) may commit
    // its pre-merge rewrite, discarding the unacknowledged rows. The
    // caller's contract is apply-or-retry — identical to a crash
    // mid-swap on the flat path — and the retried batch lands.
    val dir = Files.createTempDirectory("graft_rsmc").toFile
      .getAbsolutePath
    val table = onlineFixture(dir)
    val before = rowsOf(spark.read.parquet(table))
    var injected = false
    assert(MergeOps.reshardOnline(spark, table, 12, hook = (p, mo) => {
      if (p == "month_staged" && mo == "2025-01" && !injected) {
        injected = true
        val boom = intercept[RuntimeException] {
          MergeOps.upsertParquetByMonthShard(spark, table,
            monthDocs(Seq(("e1", "ghost", 2, "2025-01"))),
            Seq("event_id"), "version", numShards = 4,
            hook = (mp, _) =>
              if (mp == "routed_written") sys.error("crash pre-commit"))
        }
        assert(boom.getMessage.contains("crash pre-commit"))
      }
    }))
    // the unacknowledged write must NOT have survived as a phantom —
    // the migration committed the pre-merge state it staged
    assert(rowsOf(spark.read.parquet(table)) === before,
      "unacknowledged merge leaked into the committed migration")
    // the retry (the caller's contract) lands on the flat table
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "ghost", 2, "2025-01"))),
      Seq("event_id"), "version", numShards = 12)
    assert(rowsOf(spark.read.parquet(table)) === before.map {
      case ("e1", _, _, m) => ("e1", "ghost", 2, m)
      case r => r
    })
  }

  test("reshard crash between its two renames: the table's only copy " +
      "is restored by the next op, retry converges") {
    val dir = Files.createTempDirectory("graft_rscrash").toFile
      .getAbsolutePath
    val table = s"$dir/events"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs((1 to 8).map(i => (s"e$i", s"t$i", 1, "2025-01"))),
      Seq("event_id"), "version", numShards = 2)
    val before = spark.read.parquet(table).orderBy("event_id")
      .collect().map(_.getAs[String]("title")).toSeq
    // reproduce the exact state of a reshard killed between
    // rename(dest, _rretired) and rename(_rstaging, dest): run the
    // real reshard, then swap its OUTPUT back into the crash shape
    assert(MergeOps.reshard(spark, table, 8))
    assert(fs.rename(new org.apache.hadoop.fs.Path(table),
      new org.apache.hadoop.fs.Path(s"${table}_rstaging")))
    // the pre-reshard table under _rretired: rebuild it (geometry 2)
    MergeOps.upsertParquetByMonthShard(spark, s"${table}_rebuild",
      monthDocs((1 to 8).map(i => (s"e$i", s"t$i", 1, "2025-01"))),
      Seq("event_id"), "version", numShards = 2)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"${table}_rebuild"),
      new org.apache.hadoop.fs.Path(s"${table}_rretired")))
    // the documented reader hazard: the table is ABSENT in the window
    assert(!fs.exists(new org.apache.hadoop.fs.Path(table)))
    // any table op restores the pre-reshard table first
    assert(MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version") === Nil)
    assert(spark.read.parquet(table).orderBy("event_id")
      .collect().map(_.getAs[String]("title")).toSeq === before)
    assert(graft.operators.GateLayout.read(fs,
        new org.apache.hadoop.fs.Path(s"$table/_shard_layout"))
      .apply("num_shards") === "2",
      "restored table must still carry the OLD geometry")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${table}_rstaging"))
      && !fs.exists(new org.apache.hadoop.fs.Path(s"${table}_rretired")),
      "recovery must sweep both reshard siblings")
    // apply-or-retry: rerunning the reshard completes it
    assert(MergeOps.reshard(spark, table, 8))
    assert(spark.read.parquet(table).orderBy("event_id")
      .collect().map(_.getAs[String]("title")).toSeq === before)
  }

  test("retention restores a crashed reshard before deciding what " +
      "to expire") {
    // dropMonthsBefore runs the FULL MonthSwap recovery (reshard root
    // restore + retired-month restore) before deciding what to
    // expire: with the table's only copy at _rretired (the
    // between-renames crash window) it must restore FIRST and then
    // expire normally — not read "no table" and silently expire
    // nothing while its caller believes retention ran. recoverOrphans
    // never touches _mdropped, so committed drops stay dropped.
    val dir = Files.createTempDirectory("graft_rsdrop").toFile
      .getAbsolutePath
    val table = s"$dir/events"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e1", "jan", 1, "2025-01"),
        ("e2", "mar", 1, "2025-03"))),
      Seq("event_id"), "version")
    // crash shape: the whole live root renamed aside, nothing staged
    assert(fs.rename(new org.apache.hadoop.fs.Path(table),
      new org.apache.hadoop.fs.Path(s"${table}_rretired")))
    assert(MergeOps.dropMonthsBefore(spark, table, "2025-02")
      === Seq("2025-01"))
    val got = spark.read.parquet(table).collect()
      .map(_.getAs[String]("event_id")).toSeq
    assert(got === Seq("e2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${table}_rretired")))
    // …and the MONTH-swap crash shape: an expirable month whose only
    // copy sits under _mretired must be restored and THEN expired —
    // not skipped by the listing and resurrected by the next merge
    // after retention reported success
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e0", "dec", 1, "2024-12"))),
      Seq("event_id"), "version")
    val retired = new org.apache.hadoop.fs.Path(s"${table}_mretired")
    fs.mkdirs(retired)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(table, "start_month=2024-12"),
      new org.apache.hadoop.fs.Path(retired, "start_month=2024-12")))
    // real crash fidelity: every current writer records its swap
    // units BEFORE the first rename, so the retired root a real
    // crash leaves always carries the marker — recovery must take
    // the marker path here, not the legacy shape-guessing fallback
    val uout = fs.create(
      new org.apache.hadoop.fs.Path(retired, "_swap_units"), true)
    try uout.write("start_month=2024-12".getBytes("UTF-8"))
    finally uout.close()
    assert(MergeOps.dropMonthsBefore(spark, table, "2025-02")
      === Seq("2024-12"))
    // nothing resurrects at the next table op
    assert(MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version") === Nil)
    assert(spark.read.parquet(table).collect()
      .map(_.getAs[String]("event_id")).toSeq === Seq("e2"))
  }

  test("reshard adopts an unsharded month table (explicit keys)") {
    val dir = Files.createTempDirectory("graft_rsadopt").toFile
      .getAbsolutePath
    val table = s"$dir/events"
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e1", "jan", 1, "2025-01"),
        ("e2", "feb", 1, "2025-02"))),
      Seq("event_id"), "version")
    intercept[IllegalArgumentException] {
      MergeOps.reshard(spark, table, 4) // no manifest, no keys
    }
    assert(MergeOps.reshard(spark, table, 4, keys = Seq("event_id")))
    // the sharded merge now accepts it; the month merge refuses it
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "jan v2", 2, "2025-01"))),
      Seq("event_id"), "version", numShards = 4)
    intercept[IllegalStateException] {
      MergeOps.upsertParquetByMonth(spark, table,
        monthDocs(Seq(("e2", "x", 2, "2025-02"))),
        Seq("event_id"), "version")
    }
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title")))
      .toSeq
    assert(got === Seq("e1" -> "jan v2", "e2" -> "feb"))
  }

  test("sharded merge warns when the mean touched shard outgrows its " +
      "rewrite budget, naming reshard as the remedy") {
    val dir = Files.createTempDirectory("graft_shbudget").toFile
      .getAbsolutePath
    val table = s"$dir/events"
    import graft.TestIO.withStderr
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs((1 to 8).map(i => (s"e$i", s"t$i", 1, "2025-01"))),
      Seq("event_id"), "version", numShards = 2)
    // touched shards hold real parquet files (KBs) — a 1-byte budget
    // must warn, the default (4 GiB) must not
    val warned = withStderr {
      MergeOps.upsertParquetByMonthShard(spark, table,
        monthDocs(Seq(("e1", "t1 v2", 2, "2025-01"))),
        Seq("event_id"), "version", numShards = 2,
        shardRewriteBudgetBytes = 1L)
    }
    assert(warned.contains("[month-shard-merge]") &&
      warned.contains("reshard"), s"expected sizing warning: $warned")
    val quiet = withStderr {
      MergeOps.upsertParquetByMonthShard(spark, table,
        monthDocs(Seq(("e1", "t1 v3", 3, "2025-01"))),
        Seq("event_id"), "version", numShards = 2)
    }
    assert(!quiet.contains("[month-shard-merge]"),
      "toy-scale shards must not trip the default budget")
  }

  test("compaction converges on a dir legitimately holding more " +
      "files than maxFilesPerMonth") {
    // a dir with rows > maxFilesPerMonth·maxRecordsPerFile can never
    // fit under the file bound — its own rewrite reproduces
    // ceil(rows/maxRecordsPerFile) files. The fragmented test must
    // account for that, or every sweep re-rewrites the dir forever
    // with zero progress.
    val dir = Files.createTempDirectory("graft_compconv").toFile
      .getAbsolutePath
    val table = s"$dir/events"
    val rows = (1 to 6).map(i => (s"e$i", s"t$i", 1, "2025-01"))
    // six 1-row files in the month (a plain partitioned write: the
    // merge would cluster the month into one file)
    monthDocs(rows).repartition(6)
      .write.partitionBy("start_month").parquet(table)
    val before = spark.read.parquet(table).orderBy("event_id")
      .collect().map(_.getAs[String]("title")).toSeq
    // 6 rows at 2 rows/file → 3 files, above maxFilesPerMonth=1: the
    // first sweep makes real progress (6 → 3 files)…
    assert(MergeOps.compactMonths(spark, table, Seq("event_id"),
      maxFilesPerMonth = 1, maxRecordsPerFile = 2L) === Seq("2025-01"))
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$table/start_month=2025-01"))
      .count(_.getPath.getName.endsWith(".parquet")) === 3)
    // …and the second sweep recognizes the converged state
    assert(MergeOps.compactMonths(spark, table, Seq("event_id"),
      maxFilesPerMonth = 1, maxRecordsPerFile = 2L) === Nil,
      "compaction re-flagged a dir its own rewrite cannot shrink")
    assert(spark.read.parquet(table).orderBy("event_id")
      .collect().map(_.getAs[String]("title")).toSeq === before)
    // the converged verdict is cached: the sweep left a fingerprinted
    // marker so the NEXT sweep costs one marker read, not O(files)
    // footer opens, on a dir nothing will ever rewrite
    val mdir = s"$table/start_month=2025-01"
    assert(graft.operators.GateOps
      .readMarker(fs, mdir, "_compact_converged").isDefined,
      "a converged-forever dir must cache its verdict in a marker")
    assert(MergeOps.compactMonths(spark, table, Seq("event_id"),
      maxFilesPerMonth = 1, maxRecordsPerFile = 2L) === Nil)
    // …but the cache must never suppress real work: the fingerprint
    // carries the thresholds, so a sweep under a LARGER
    // maxRecordsPerFile (6 rows now fit one file) re-evaluates and
    // compacts 3 → 1
    assert(MergeOps.compactMonths(spark, table, Seq("event_id"),
      maxFilesPerMonth = 1, maxRecordsPerFile = 6L) === Seq("2025-01"),
      "a stale converged marker suppressed a now-possible compaction")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(mdir))
      .count(_.getPath.getName.endsWith(".parquet")) === 1)
    assert(spark.read.parquet(table).orderBy("event_id")
      .collect().map(_.getAs[String]("title")).toSeq === before)
  }

  test("recovery after a COMPLETED month swap discards the retired " +
      "sharded month instead of resurrecting its dropped shards") {
    // The granularity trap: reconcile swaps a sharded table at MONTH
    // granularity. A crash after `staged→live` but before the retired
    // dir's delete leaves BOTH copies of the month on disk. Recovery
    // must treat the unit the swap ran at — the recorded `_swap_units`
    // line — as the restore unit: the live month exists, so the swap
    // COMPLETED and the retired copy is garbage. Shape-based recovery
    // used to recurse into the retired month's shard subdirs and
    // "restore" the shard reconcile had deliberately dropped (its only
    // key's stale cross-month duplicate), resurrecting deleted rows.
    val dir = Files.createTempDirectory("graft_shswapdone").toFile
      .getAbsolutePath
    val table = s"$dir/events"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val (s1, s2) = (shardOf("e1", 4), shardOf("e2", 4))
    assert(s1 !== s2, "fixture keys must occupy distinct shards")
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "jan a", 1, "2025-01"),
        ("e2", "jan b", 1, "2025-01"))),
      Seq("event_id"), "version", numShards = 4)
    // e1 moves months without the old month in the batch → its stale
    // row is the ONLY occupant of 2025-01's shard s1
    MergeOps.upsertParquetByMonthShard(spark, table,
      monthDocs(Seq(("e1", "feb a v2", 2, "2025-02"))),
      Seq("event_id"), "version", numShards = 4)
    // snapshot the pre-reconcile month (what the retire rename would
    // have moved aside), then reconcile for real
    val oldCopy = new org.apache.hadoop.fs.Path(s"$dir/old_jan")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$table/start_month=2025-01"),
      fs, oldCopy, false, conf)
    assert(MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version") === Seq("2025-01"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$table/start_month=2025-01/kshard=$s1")),
      "fixture must actually drop the moved key's shard from the " +
        "rewritten month, or the resurrection claim is vacuous")
    // fabricate the crash leftovers: retired root holding the OLD
    // month, the swap-unit marker reconcile's activate would have
    // written, and the live (new) month already in place
    val retiredRoot = new org.apache.hadoop.fs.Path(s"${table}_mretired")
    fs.mkdirs(retiredRoot)
    assert(fs.rename(oldCopy,
      new org.apache.hadoop.fs.Path(retiredRoot, "start_month=2025-01")))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(retiredRoot, "_swap_units"), true)
    try out.write("start_month=2025-01".getBytes("UTF-8"))
    finally out.close()
    // any table op runs recovery first; a clean-table reconcile is the
    // smallest. The retired month must be DISCARDED, not mined.
    assert(MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version") === Nil)
    val got = spark.read.parquet(table).orderBy("event_id", "version")
      .collect().map(r => (r.getAs[String]("event_id"),
        r.getAs[String]("title"))).toSeq
    assert(got === Seq("e1" -> "feb a v2", "e2" -> "jan b"),
      "recovery resurrected the dropped shard's stale row")
    assert(!fs.exists(retiredRoot) &&
      !fs.exists(new org.apache.hadoop.fs.Path(
        s"$table/start_month=2025-01/kshard=$s1")))
  }

  test("recovery restores a marker-listed unit whose live dir is gone") {
    // the complementary half of the unit-marker contract: a crash
    // BETWEEN retire and activate leaves the unit's only copy under
    // the retired root — the marker path must restore it wholesale
    val dir = Files.createTempDirectory("graft_mrkrestore").toFile
      .getAbsolutePath
    val table = s"$dir/events"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(Seq(("e1", "jan", 1, "2025-01"),
        ("e2", "feb", 1, "2025-02"))),
      Seq("event_id"), "version")
    val retiredRoot = new org.apache.hadoop.fs.Path(s"${table}_mretired")
    fs.mkdirs(retiredRoot)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(table, "start_month=2025-02"),
      new org.apache.hadoop.fs.Path(retiredRoot, "start_month=2025-02")))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(retiredRoot, "_swap_units"), true)
    try out.write("start_month=2025-02".getBytes("UTF-8"))
    finally out.close()
    assert(MergeOps.reconcileCrossMonthKeys(spark, table,
      Seq("event_id"), "version") === Nil)
    val got = spark.read.parquet(table).orderBy("event_id").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("title")))
      .toSeq
    assert(got === Seq("e1" -> "jan", "e2" -> "feb"),
      "marker-listed orphan was not restored")
    assert(!fs.exists(retiredRoot))
  }

  // ---- month-clustered writes ----------------------------------------

  private type Doc = (String, String, Int, String)

  /** The latest-wins state of every version ever merged, in read-back
    * order. */
  private def latestWins(docs: Seq[Doc]): Seq[Doc] =
    docs.groupBy(_._1).values.map(_.maxBy(_._3)).toSeq.sortBy(_._1)

  private def readBack(table: String): Seq[Doc] =
    spark.read.parquet(table)
      .select("event_id", "title", "version", "start_month")
      .orderBy("event_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getString(3))).toSeq

  /** `.parquet` file count per partition leaf dir, keyed by its path
    * relative to the table root (`start_month=M[/kshard=S]`). */
  private def leafFiles(table: String): Map[String, Int] = {
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qroot = fs.makeQualified(new org.apache.hadoop.fs.Path(table))
    val it = fs.listFiles(qroot, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet"))
        buf += f.getParent.toString.stripPrefix(qroot.toString + "/")
    }
    buf.groupBy(identity).map { case (d, files) => d -> files.size }
  }

  test("merge writers cluster their output: one file per touched month " +
      "(or month/shard), untouched months byte-identical") {
    val dir = Files.createTempDirectory("graft_clustered").toFile
      .getAbsolutePath
    val keys = Seq("event_id")
    val months = (1 to 5).map(m => f"2025-$m%02d")
    val touched = months.take(3)
    def inTouched(rel: String) =
      touched.exists(m => rel.startsWith(s"start_month=$m/"))
    def census(t: String) = fileCensus(t, skip = "").filterNot(e =>
      inTouched(e._1))
    // 8 input partitions: without clustering each write task would
    // emit its own file for every month it holds
    def spread(docs: Seq[Doc]) = monthDocs(docs).repartition(8)
    val base = (1 to 60).map(i => (s"e$i", s"t$i", 1, months(i % 5)))
    // every other key of the touched months re-scraped, plus new keys
    val batch = base.filter(d => touched.contains(d._4)).zipWithIndex
      .collect { case ((k, _, _, m), j) if j % 2 == 0 =>
        (k, s"$k v2", 2, m) } ++
      (61 to 75).map(i => (s"e$i", s"t$i", 1, touched(i % 3)))
    val expected = latestWins(base ++ batch)
    val oneEach = months.map(m => s"start_month=$m" -> 1).toMap

    // upsertParquetByMonth: the creating write and a merge over it
    val flat = s"$dir/flat"
    MergeOps.upsertParquetByMonth(spark, flat, spread(base), keys, "version")
    assert(leafFiles(flat) === oneEach, "the creating merge fragmented")
    val flatBefore = census(flat)
    MergeOps.upsertParquetByMonth(spark, flat, spread(batch), keys,
      "version")
    assert(leafFiles(flat) === oneEach)
    assert(census(flat) === flatBefore, "untouched months were rewritten")
    assert(MergeOps.compactMonths(spark, flat, keys,
      maxFilesPerMonth = 1) === Nil)
    assert(readBack(flat) === expected)

    // the sharded merge: one file per (month, shard)
    val sh = s"$dir/sh"
    MergeOps.upsertParquetByMonthShard(spark, sh, spread(base), keys,
      "version", numShards = 4)
    assert(leafFiles(sh).values.forall(_ == 1),
      "the creating sharded merge fragmented")
    val shBefore = census(sh)
    MergeOps.upsertParquetByMonthShard(spark, sh, spread(batch), keys,
      "version", numShards = 4)
    val shLeaves = leafFiles(sh)
    assert(shLeaves.keys.forall(_.contains("/kshard=")) &&
      shLeaves.values.forall(_ == 1), shLeaves.toString)
    assert(touched.forall(m =>
      shLeaves.keys.count(_.startsWith(s"start_month=$m/")) > 1),
      "fixture must spread each touched month over several shards")
    assert(census(sh) === shBefore, "untouched months were rewritten")
    assert(MergeOps.compactMonths(spark, sh, keys,
      maxFilesPerMonth = 1) === Nil)
    assert(readBack(sh) === expected)

    // the cross-month reconcile: stale months start fragmented (a
    // plain partitioned write), the moved keys' winners live in the
    // untouched months (one file each)
    val rec = s"$dir/rec"
    val stale = (1 to 45).map(i => (s"r$i", s"t$i", 1, touched(i % 3)))
    val moved = stale.zipWithIndex.collect { case ((k, _, _, _), j)
      if j % 2 == 0 => (k, s"$k moved", 2, months(3 + (j / 2) % 2)) }
    val settled =
      (46 to 55).map(i => (s"r$i", s"t$i", 1, months(3 + i % 2)))
    spread(stale).write.partitionBy("start_month").parquet(rec)
    monthDocs(moved ++ settled).coalesce(1)
      .write.mode("append").partitionBy("start_month").parquet(rec)
    assert(touched.forall(m => leafFiles(rec)(s"start_month=$m") > 1),
      "fixture must fragment the stale months")
    val recBefore = census(rec)
    assert(MergeOps.reconcileCrossMonthKeys(spark, rec, keys,
      "version") === touched)
    assert(leafFiles(rec) === oneEach)
    assert(census(rec) === recBefore, "untouched months were rewritten")
    assert(MergeOps.compactMonths(spark, rec, keys,
      maxFilesPerMonth = 1) === Nil)
    assert(readBack(rec) === latestWins(stale ++ moved ++ settled))
  }

  test("a merged month larger than AQE's advisory partition size is " +
      "written as several files and reads back identical") {
    val dir = Files.createTempDirectory("graft_clustersplit").toFile
      .getAbsolutePath
    val table = s"$dir/events"
    val conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(conf)
    // hex titles: the shuffle's compressed size must stay well past
    // the advisory size
    val docs = (1 to 2000).map(i => (s"e$i",
      (1 to 3).map(j => java.util.UUID.nameUUIDFromBytes(
        s"$i/$j".getBytes("UTF-8")).toString).mkString, 1, "2025-01"))
    spark.conf.set(conf, "4k")
    try MergeOps.upsertParquetByMonth(spark, table,
      monthDocs(docs).repartition(8), Seq("event_id"), "version")
    finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
    assert(leafFiles(table)("start_month=2025-01") > 1,
      "an oversized month must keep writing in parallel")
    assert(readBack(table) === latestWins(docs))
  }

  test("month merges reject a null or path-escaping month before " +
      "touching the table, flat and sharded") {
    val dir = Files.createTempDirectory("graft_mvalues").toFile.getAbsolutePath
    val base = monthDocs(Seq(("e1", "jan", 1, "2025-01"),
      ("e2", "feb", 1, "2025-02")))
    val merges: Seq[(String, org.apache.spark.sql.DataFrame => Unit)] = Seq(
      s"$dir/flat" -> (df => MergeOps.upsertParquetByMonth(spark,
        s"$dir/flat", df, Seq("event_id"), "version")),
      s"$dir/sh" -> (df => MergeOps.upsertParquetByMonthShard(spark,
        s"$dir/sh", df, Seq("event_id"), "version", numShards = 4)))
    for ((table, merge) <- merges) {
      merge(base)
      val before = graft.operators.AnnIndex.fileCensus(spark, table)
      assert(before.nonEmpty)
      val nullMonth = intercept[IllegalArgumentException](merge(
        Seq(("e3", "x", 1, null.asInstanceOf[String])).toDF(
          "event_id", "title", "version", "start_month")))
      assert(nullMonth.getMessage.contains("must be non-null"), table)
      val slashMonth = intercept[IllegalArgumentException](merge(
        monthDocs(Seq(("e4", "y", 1, "2025/01")))))
      assert(slashMonth.getMessage.contains("'2025/01' needs path escaping"),
        table)
      assert(graft.operators.AnnIndex.fileCensus(spark, table) === before,
        s"a rejected merge touched $table")
    }
  }
}
