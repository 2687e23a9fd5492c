package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.MergeOps
import graft.streaming.{Curation, IncrementalIngest}

/** `ingest`: one producer writes a raw scrape batch into the landing
  * directory, then drains the curated incremental-ingest query before
  * writing the next. One operation is one batch. */
final class IngestWorkload(spark: SparkSession, docs: DataFrame,
    newGen: () => Gen.Ingest) extends Workload {
  import IngestWorkload._

  val module = "streaming"
  // a batch costs seconds, most of it per-batch planning and ~100 Spark
  // jobs, so a run holds only two: one untimed (cold) batch, then one
  // timed batch whatever its speed; the gates and logs compact after
  // every batch, so that each operation does the same work and every
  // run compacts twice
  val warmupOps = 1
  override val timedOps: Option[Int] = Some(1)
  val tracedOps = 1
  val spaceAfterOp = 0
  val compactEvery = 1
  def kindOf(i: Int): String = "batch"
  def primary(kind: String): Boolean = true

  private var gen: Gen.Ingest = _
  private var dir: File = _
  private var query: StreamingQuery = _
  private var inputBytes0 = 0L
  // op index of each key's latest version
  private val lastOp = mutable.LongMap.empty[Int]

  def inputBytes: Long = inputBytes0
  def stateDir: File = new File(dir, "table")
  private def landing = new File(dir, "landing")

  def setup(d: File): Unit = {
    dir = d
    landing.mkdirs()
    gen = newGen()
    lastOp.clear(); inputBytes0 = 0L
    CountingFileSystem.ignored = Some(landing.getAbsolutePath)
    val models = Curation.trainModels(docs)
    query = IncrementalIngest.start(spark, landing.getAbsolutePath,
      stateDir.getAbsolutePath, curation = Some(models),
      autoCompactEvery = compactEvery, trigger = Trigger.ProcessingTime(0L))
  }

  def prepare(i: Int, traced: Boolean): Step = {
    val recs = gen.next()
    val bytes = recs.map(_.json).mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8)
    val before = if (traced) census() else Map.empty[String, Long]
    def write(): Unit = {
      // land atomically: the file source skips names starting with '_'
      val tmp = new File(landing, f"_batch-$i%06d.json")
      Files.write(tmp.toPath, bytes)
      Files.move(tmp.toPath, new File(landing, f"batch-$i%06d.json").toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }
    Step(
      run = {
        case Some(t) =>
          t.call("producer.write", "bench")(write())
          t.call("IncrementalIngest.drain", module)(query.processAllAvailable())
        case None =>
          write()
          query.processAllAvailable()
      },
      check = () => {
        inputBytes0 += bytes.length
        recs.foreach(r => lastOp(r.key) = i)
        val extra = if (!traced) Map.empty[String, Double] else {
          val added = census().filter { case (p, _) => !before.contains(p) }
          Map("rewrite_bytes" -> added.values.sum.toDouble,
            "input_bytes" -> bytes.length.toDouble,
            "months" -> added.keys.flatMap(monthOf).toSet.size.toDouble)
        }
        Outcome(ok = query.exception.isEmpty, docs = recs.length, extra = extra)
      })
  }

  private def census(): Map[String, Long] = {
    val root = new File(stateDir, "events")
    if (!root.exists) Map.empty
    else {
      val it = Files.walk(root.toPath).iterator()
      val out = mutable.HashMap.empty[String, Long]
      while (it.hasNext) {
        val p = it.next().toFile
        if (p.isFile) out(p.getPath) = p.length
      }
      out.toMap
    }
  }

  def finish(): Finish = {
    val failed = mutable.HashSet.empty[Int]
    val table = MergeOps.readMonthTable(spark, new File(stateDir, "events").getAbsolutePath)
    val rows = table.select(
        get_json_object(col("scraping_metadata.raw_data"), "$.url"),
        get_json_object(col("scraping_metadata.raw_data"), "$.scraped_at"),
        get_json_object(col("scraping_metadata.raw_data"), "$.price_text"))
      .collect()
    val merged = checkMerged(gen.latest, rows.map(r =>
      (Gen.keyOfUrl(r.getString(0)), r.getString(1), r.getString(2))).toSeq)
    merged.foreach(k => failed += lastOp.getOrElse(k, 0))
    // every landed record has a curation verdict, keyed like the log
    val raw = spark.read.schema(IncrementalIngest.rawSchema)
      .option("multiLine", true).json(landing.getAbsolutePath)
    val ids = raw.select(
      xxhash64(to_json(struct(raw.columns.map(col): _*))).as("ingest_id"),
      col("url"), input_file_name().as("f"))
    val log = spark.read.parquet(new File(stateDir, "curation_log").getAbsolutePath)
    ids.join(log.select("ingest_id").distinct(), Seq("ingest_id"), "left_anti")
      .select("f").collect()
      .foreach(r => failed += """batch-(\d+)\.json""".r.findFirstMatchIn(r.getString(0))
        .map(_.group(1).toInt).getOrElse(0))
    val v = log.dropDuplicates("ingest_id")
      .agg(avg("is_novel"), avg("is_neardup"), avg("kept")).head()
    val layers = Map("curation.novel_frac" -> v.getDouble(0),
      "curation.neardup_frac" -> v.getDouble(1), "curation.kept_frac" -> v.getDouble(2))
    Finish(failed.toSet, gen.latest.keySet.count(k => !merged.contains(k)),
      gen.latest.size, layers)
  }

  /** The query's execution thread: its stack names the module a job
    * comes from (Spark pins a stream's call site to its start()). */
  override def driverThread: Option[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .find(_.getName.startsWith("stream execution thread for graft-incremental-ingest"))
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query = null
  }
}

object IngestWorkload {
  private val monthDir = """start_month=([^/]+)/""".r

  private def monthOf(path: String): Option[String] =
    monthDir.findFirstMatchIn(path).map(_.group(1))

  /** Keys whose merged row is missing, duplicated, or not the latest
    * generated version (scraped_at and price of the last scrape). */
  def checkMerged(latest: collection.Map[Long, Gen.Rec],
      rows: Seq[(Long, String, String)]): Set[Long] = {
    val byKey = rows.groupBy(_._1)
    val bad = latest.keySet.filter { k =>
      byKey.get(k) match {
        case Some(Seq((_, scraped, price))) =>
          scraped != latest(k).scrapedAt || price != latest(k).price
        case _ => true
      }
    }
    (bad ++ byKey.keySet.filterNot(latest.contains)).toSet
  }
}
