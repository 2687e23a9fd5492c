package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{EventQueries, MergeOps, Unify}
import graft.streaming.IncrementalIngest

/** `serve`: one client issues the seeded EventQueries mix against a
  * month-partitioned v2 events table. One operation is one query. */
final class ServeWorkload(spark: SparkSession, work: File,
    events: Vector[Gen.Rec], queries: Gen.Queries) extends Workload {
  import ServeWorkload._

  val module = "eventqueries"
  val warmupOps = 3
  // the window runs whole decks, so that every run times the same mix
  override val round: Int = Gen.serveDeck
  val tracedOps = 10
  val spaceAfterOp = 0
  private val topKinds = Set("events", "search", "venue_events", "top_venues", "upcoming")
  override def topK(kind: String): Boolean = topKinds.contains(kind)
  def primary(kind: String): Boolean = true

  private val expect = new Expect(events)
  // the generated input, as JSON lines in eight files
  private val input = {
    val d = new File(work, "serve-input")
    d.mkdirs()
    events.grouped((events.length + 7) / 8).zipWithIndex.foreach { case (g, i) =>
      Files.write(new File(d, s"part-$i.json").toPath,
        g.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    d
  }
  val inputBytes: Long = Workload.du(input)

  private var dir: File = _
  private var table: DataFrame = _
  private var idOf: Map[Long, String] = Map.empty
  private val stream = scala.collection.mutable.ArrayBuffer.empty[Gen.Query]
  def stateDir: File = dir

  def setup(d: File): Unit = {
    dir = d
    val raw = spark.read.schema(IncrementalIngest.rawSchema).json(input.getAbsolutePath)
    // the serving projection: the columns the API queries read (the
    // whole unified document costs seconds of planning per write)
    val unified = Unify.unify(raw, "ibiza-spotlight", lit(nowTs).cast("timestamp"))
      .select(col("event_id"), col("title"), col("venue"), col("datetime"),
        col("acts"), col("content"), col("data_quality"),
        col("scraping_metadata.source_url").as("source_url"),
        substring(col("datetime.start_date"), 1, 7).as("start_month"))
    MergeOps.upsertParquetByMonth(spark, d.getAbsolutePath, unified,
      Seq("event_id"), "updated_at")
    table = MergeOps.readMonthTable(spark, d.getAbsolutePath)
  }

  /** Learns each generated key's event id from the built table: the id
    * derivation is the program's business, not the benchmark's. */
  override def afterSetup(): Unit =
    idOf = table.select(col("event_id"), col("source_url"))
      .collect().map(r => Gen.keyOfUrl(r.getString(1)) -> r.getString(0)).toMap

  /** The warm-up is the head of a deck of its own, so that the timed
    * window starts on a whole deck. */
  private def query(i: Int): Gen.Query = {
    if (stream.isEmpty) stream ++= queries.deck().take(warmupOps)
    while (stream.length <= i) stream ++= queries.deck()
    stream(i)
  }

  def kindOf(i: Int): String = query(i).kind

  def prepare(i: Int, traced: Boolean): Step = {
    val q = query(i)
    val now = lit(Gen.nowIso)
    val id = if (q.kind == "by_id") idOf.getOrElse(q.key, "missing") else ""
    def df: DataFrame = q.kind match {
      case "events" => EventQueries.events(table, now, q.minQuality, skip = q.skip)
      case "by_id" => EventQueries.eventById(table, id)
        .select(col("event_id"), col("title"), col("venue.name"),
          col("source_url"))
      case "search" => EventQueries.search(table, q.term)
      case "venues" => EventQueries.venues(table, now)
      case "venue_events" => EventQueries.venueEvents(table, q.venue, now)
      case "quality_stats" => EventQueries.qualityStats(table)
      case "top_venues" => EventQueries.topVenues(table, 5)
      case "upcoming" => EventQueries.upcoming(table, now, q.days)
      case "date_distribution" => EventQueries.dateDistribution(table)
      case "month_comparison" => EventQueries.monthComparison(table,
        q.month.toString, q.month.plusMonths(1).toString,
        q.month.plusMonths(1).toString, q.month.plusMonths(2).toString)
    }
    var rows = Seq.empty[Row]
    Step({
      case Some(t) =>
        val plan = t.call(s"EventQueries.${q.kind}", module)(df)
        rows = t.call("collect", module)(plan.collect().toSeq)
      case None => rows = df.collect().toSeq
    }, () => {
      val (ok, hits, expected) = expect.check(q, id, rows)
      Outcome(ok, docs = rows.length, hits = hits, expected = expected)
    })
  }

  def finish(): Finish = Finish(Set.empty, 0, 0)
}

object ServeWorkload {
  val nowTs = "2025-06-10 00:00:00"

  /** Expected answers, from the generator alone. */
  final class Expect(events: Vector[Gen.Rec]) {
    private val byKey = events.iterator.map(e => e.key -> e).toMap
    private val venueCount = events.groupBy(_.venue).map { case (v, es) => v -> es.length.toLong }
    private def future(e: Gen.Rec) = !e.date.get.isBefore(Gen.now)
    private val venueFuture = events.filter(future).groupBy(_.venue)
      .map { case (v, es) => v -> es.length }
    private val perDay = events.groupBy(_.date.get.toString)
      .map { case (d, es) => d -> es.length.toLong }
    private val perMonth = events.groupBy(_.date.get.withDayOfMonth(1))
      .map { case (m, es) => m -> es.length.toLong }

    private def sorted(rows: Seq[Row], key: Row => (String, String)): Boolean =
      rows.map(key).sliding(2).forall {
        case Seq(a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)
        case _ => true
      }
    private def byStart(r: Row) =
      (r.getAs[String]("start_date"), r.getAs[String]("event_id"))

    /** (answer correct, recall hits, recall expected) */
    def check(q: Gen.Query, id: String, rows: Seq[Row]): (Boolean, Long, Long) =
      q.kind match {
        case "by_id" =>
          val e = byKey(q.key)
          val hit = rows.length == 1 && rows.head.getString(0) == id &&
            rows.head.getString(1) == e.title && rows.head.getString(2) == e.venue &&
            Gen.keyOfUrl(rows.head.getString(3)) == q.key
          (hit, if (hit) 1 else 0, 1)
        case "events" =>
          (rows.length <= 50 && sorted(rows, byStart) && rows.forall(r =>
            r.getAs[String]("start_date") >= Gen.nowIso &&
              r.getAs[Double]("overall_score") >= q.minQuality), 0, 0)
        case "search" =>
          (rows.length <= 20 && rows.forall(_.getAs[Long]("score") > 0) &&
            rows.map(r => (-r.getAs[Long]("score"), r.getAs[String]("event_id")))
              .sliding(2).forall {
                case Seq(a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)
                case _ => true
              }, 0, 0)
        case "venues" =>
          val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          val hits = venueCount.count { case (v, n) => got.get(v).contains(n) }
          (got == venueCount, hits, venueCount.size)
        case "venue_events" =>
          val want = math.min(50, venueFuture.getOrElse(q.venue, 0))
          (rows.length == want && sorted(rows, byStart) && rows.forall(r =>
            r.getAs[String]("venue_name") == q.venue &&
              r.getAs[String]("start_date") >= Gen.nowIso), 0, 0)
        case "quality_stats" =>
          (rows.length == 1 && rows.head.getLong(0) == events.length, 0, 0)
        case "top_venues" =>
          (rows.length == math.min(5, venueCount.size) && rows.forall(r =>
            venueCount.get(r.getAs[String]("venueName")).contains(r.getAs[Long]("eventCount"))), 0, 0)
        case "upcoming" =>
          val end = Gen.now.plusDays(q.days.toLong).toString + "T00:00:00Z"
          (rows.length <= 20 && sorted(rows, byStart) && rows.forall { r =>
            val s = r.getAs[String]("start_date")
            s >= Gen.nowIso && s <= end && r.getAs[Double]("overall_score") >= 0.75
          }, 0, 0)
        case "date_distribution" =>
          val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          (got == perDay && rows.map(_.getString(0)).sliding(2).forall {
            case Seq(a, b) => a < b
            case _ => true
          }, 0, 0)
        case "month_comparison" =>
          val a = perMonth.getOrElse(q.month, 0L)
          val b = perMonth.getOrElse(q.month.plusMonths(1), 0L)
          (rows.length == 1 && rows.head.getLong(0) == a && rows.head.getLong(1) == b, 0, 0)
      }
  }
}
