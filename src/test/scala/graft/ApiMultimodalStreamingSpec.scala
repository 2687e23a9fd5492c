package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{EventQueries, Multimodal, QualityScorer}
import graft.streaming.IncrementalIngest
import java.nio.file.Files

class ApiMultimodalStreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private val nowIso = lit("2025-06-10T00:00:00Z")

  private lazy val events: DataFrame = {
    val ev = spark.read.schema(graft.schema.EventSchema.schema)
      .option("multiLine", true).json("fixtures/events_v2_sample.json")
    QualityScorer.withQuality(ev, lit("2025-06-10 00:00:00").cast("timestamp"))
      .cache()
  }

  test("GET /api/events: quality + future filter, summary projection, ISO sort") {
    val rows = EventQueries.events(events, nowIso, minQuality = 0.5).collect()
    assert(rows.map(_.getAs[String]("event_id")).toSeq ===
      Seq("evt_1", "evt_3")) // evt_2/evt_4 fail quality; both future events sorted
    assert(rows.head.schema.fieldNames.toSeq ===
      Seq("event_id", "title", "venue_name", "start_date", "overall_score"))
  }

  test("GET /api/events venue regex filter is case-insensitive substring") {
    val rows = EventQueries.events(events, nowIso, minQuality = 0.0,
      venueRegex = Some("amnesia")).collect()
    assert(rows.map(_.getAs[String]("venue_name")).toSeq === Seq("Amnesia"))
  }

  test("search: token matches over indexed fields, relevance sort") {
    val rows = EventQueries.search(events, "Carl Cox", minQuality = 0.0).collect()
    assert(rows.nonEmpty)
    assert(rows.head.getAs[String]("event_id") === "evt_3")
    assert(rows.head.getAs[Long]("score") >= 2L)
  }

  test("GET /api/venues: per-venue rollup with upcoming conditional count") {
    val rows = EventQueries.venues(events, nowIso).collect()
    val amnesia = rows.find(_.getAs[String]("venueName") == "Amnesia").get
    assert(amnesia.getAs[Long]("eventCount") === 1)
    assert(amnesia.getAs[Long]("upcomingEvents") === 1)
  }

  test("quality stats bands + top venues") {
    val s = EventQueries.qualityStats(events).head()
    assert(s.getAs[Long]("totalEvents") === 4)
    assert(s.getAs[Long]("excellent") === 1) // evt_3 at 0.97
    assert(s.getAs[Long]("poor") === 2)      // evt_2, evt_4
    val top = EventQueries.topVenues(events).collect()
    assert(top.head.getAs[String]("venueName") === "Privilege")
  }

  test("upcoming window + multikey act predicate") {
    val up = EventQueries.upcoming(events, nowIso, days = 60, minQuality = 0.0)
    assert(up.count() === 2)
    val withAct = events.filter(EventQueries.hasAct("Carl Cox"))
    assert(withAct.select("event_id").head().getString(0) === "evt_3")
  }

  test("distinct hosts across nested multikey path") {
    val ev = Seq(
      """{"event_id":"h1","venue":{"stages":[{"stage_id":"s1","stage_name":"A","host":{"host_name":"Circoloco"}},{"stage_id":"s2","stage_name":"B","host":{"host_name":"Music On"}}]}}""",
      """{"event_id":"h2","venue":{"stages":[{"stage_id":"s3","stage_name":"C","host":{"host_name":"Circoloco"}}]}}""")
      .toDS
    val df = spark.read.schema(graft.schema.EventSchema.schema).json(ev)
    val hosts = EventQueries.distinctHosts(df).collect().map(_.getString(0)).sorted
    assert(hosts === Array("Circoloco", "Music On"))
  }

  test("P12 sufficiency predicate per extraction method") {
    val rows = Seq(
      ("jsonld", "Event Title", null, null, null, null),
      ("jsonld", null, "Venue", "date", null, "desc"),
      ("fallback", "T", "Pacha", null, null, null),
      ("fallback", "T", null, null, 10.0, null),
      ("fallback", "T", null, null, null, null),
      ("adaptive", "T", "V", "d", 10.0, "x"))
      .asInstanceOf[Seq[(String, String, String, String, Any, String)]]
      .map { case (m, t, v, d, p, x) =>
        (m, t, v, d, p.asInstanceOf[java.lang.Double], x) }
      .toDF("method", "title", "venue", "ddate", "price", "descr")
      .select(EventQueries.isDataSufficient(col("method"), col("title"),
        col("venue"), col("ddate"), col("price"), col("descr")).as("ok"))
      .collect().map(r => Option(r.get(0)).exists(_ == true))
    assert(rows.toSeq === Seq(true, false, true, true, false, false))
  }

  test("J4 stage-act lineage resolves act display fields") {
    val json =
      """{"event_id":"j4","acts":[
        |  {"act_id":"a1","act_name":"Carl Cox","act_type":"dj"},
        |  {"act_id":"a2","act_name":"Adam Beyer","act_type":"dj"}],
        |"venue":{"stages":[{"stage_id":"s1","stage_name":"Main",
        |  "acts":[{"act_id":"a1","billing_order":1,"is_headliner":true},
        |          {"act_id":"a2","billing_order":2,"is_headliner":false}]}]}}"""
        .stripMargin
    val df = spark.read.schema(graft.schema.EventSchema.schema)
      .json(Seq(json).toDS)
    val lineage = EventQueries.stageActLineage(df)
      .orderBy(col("billing_order")).collect()
    assert(lineage.map(_.getAs[String]("act_name")).toSeq ===
      Seq("Carl Cox", "Adam Beyer"))
    assert(lineage.head.getAs[Boolean]("is_headliner") === true)
    assert(lineage.head.getAs[String]("stage_name") === "Main")
  }

  test("month comparison over ISO-string windows") {
    val r = EventQueries.monthComparison(events,
      "2025-07-01", "2025-08-01", "2025-08-01", "2025-09-01").head()
    assert(r.getAs[Long]("month_a") === 2) // both July events
    assert(r.getAs[Long]("month_b") === 0)
  }

  test("multimodal: mime sniffing, metadata, dedup by digest") {
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte) ++
      Array.fill[Byte](100)(1)
    val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47) ++ Array.fill[Byte](50)(2)
    val df = Seq((1L, jpeg), (2L, png), (3L, jpeg)).toDF("media_id", "bytes")
    val meta = Multimodal.withMediaMeta(df, "bytes")
    val stats = Multimodal.mediaStats(meta).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(stats("image/jpeg") === (2L, 1L)) // 2 rows, 1 distinct content
    assert(stats("image/png") === (1L, 1L))
  }

  test("multimodal: stub features deterministic and fixed-width") {
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte) ++ Array.fill[Byte](64)(7)
    val df = Seq((1L, jpeg), (2L, jpeg)).toDF("media_id", "bytes")
      .select(Multimodal.extractFeaturesStub(col("bytes")).as("f"))
    val feats = df.collect().map(_.getSeq[Double](0))
    assert(feats(0) === feats(1))
    assert(feats(0).length === 8)
    assert(feats(0).forall(v => v >= -1.0 && v <= 1.0))
  }

  test("multimodal: batched feature extraction respects batch shape") {
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val df = (1 to 25).map(i => (i.toLong, Array.fill[Byte](16)(i.toByte)))
      .toDF("media_id", "bytes").repartition(1)
    val out = Multimodal.batchedFeatureExtract(df, "media_id", "bytes",
      batchSize = 10, dim = 4,
      model = (batch, dim) => {
        batchSizes.add(batch.size)
        Multimodal.stubBatchModel(batch, dim)
      })
    val rows = out.collect()
    assert(rows.length === 25)
    assert(rows.forall(_.getSeq[Float](1).length === 4))
    // one partition of 25 → batches of 10, 10, 5
    assert(batchSizes.size === 0 || // closure may run on executor threads
      batchSizes.toArray.map(_.asInstanceOf[Int]).sorted.toSeq == Seq(5, 10, 10))
    // determinism: same bytes → same features
    val again = Multimodal.batchedFeatureExtract(df, "media_id", "bytes", 7, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val first = rows.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(again === first) // batch size must not change results
  }

  test("multimodal: resize stub shrinks payload, keeps header/mime") {
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte) ++
      Array.tabulate[Byte](2000)(i => (i % 127).toByte)
    val df = Seq(Tuple1(jpeg)).toDF("bytes")
      .select(Multimodal.resizeStub(col("bytes"), 200).as("small"))
    val small = df.head().getAs[Array[Byte]](0)
    assert(small.length < jpeg.length && small.length <= 220,
      s"resized to ${small.length}")
    val mime = Seq(Tuple1(small)).toDF("b")
      .select(Multimodal.sniffMime(col("b"))).head().getString(0)
    assert(mime === "image/jpeg") // header preserved
    // no-op below the budget
    val tiny = Array[Byte](0xFF.toByte, 0xD8.toByte, 1, 2, 3)
    val same = Seq(Tuple1(tiny)).toDF("b")
      .select(Multimodal.resizeStub(col("b"), 200)).head().getAs[Array[Byte]](0)
    assert(same === tiny)
  }

  test("multimodal: frame sampling yields n windows") {
    val vid = Array.fill[Byte](1000)(3)
    val frames = Seq(Tuple1(vid)).toDF("bytes")
      .select(Multimodal.sampleFramesStub(col("bytes"), 4, 64).as("frames"))
      .head().getSeq[Array[Byte]](0)
    assert(frames.length === 4)
    assert(frames.forall(_.length === 64))
  }

  test("streaming: incremental ingest drains landing dir into the table") {
    val dir = Files.createTempDirectory("graft_stream").toFile.getAbsolutePath
    val landing = s"$dir/landing"; new java.io.File(landing).mkdirs()
    Files.writeString(new java.io.File(s"$landing/batch1.json").toPath,
      """[{"title": "Stream Event One", "time": "Friday 15 July 2025",
        |  "venue": "pacha", "url": "https://x.com/1"}]""".stripMargin)
    val q1 = IncrementalIngest.start(spark, landing, dir)
    q1.awaitTermination(60000)
    val t1 = spark.read.parquet(s"$dir/events")
    assert(t1.count() === 1)
    assert(t1.select("venue.name").head().getString(0) === "Pacha")

    // second drop: one update (same title/date → same event_id) + one new
    Files.writeString(new java.io.File(s"$landing/batch2.json").toPath,
      """[{"title": "Stream Event One", "time": "Friday 15 July 2025",
        |  "venue": "pacha", "url": "https://x.com/1-updated"},
        | {"title": "Stream Event Two", "time": "Saturday 16 August 2025",
        |  "venue": "dc10", "url": "https://x.com/2"}]""".stripMargin)
    val q2 = IncrementalIngest.start(spark, landing, dir)
    q2.awaitTermination(60000)
    val t2 = spark.read.parquet(s"$dir/events")
    assert(t2.count() === 2)
    val urls = t2.select("scraping_metadata.source_url").collect()
      .map(_.getString(0)).toSet
    assert(urls.contains("https://x.com/1-updated"))
    // the table is laid out month-partitioned (July update + August
    // insert → two month directories), so sustained ingest merges
    // per-month instead of rewriting the table
    val months = new java.io.File(s"$dir/events").listFiles()
      .map(_.getName).filter(_.startsWith("start_month=")).sorted
    assert(months === Array("start_month=2025-07", "start_month=2025-08"))
  }

  test("streaming: curated ingest logs five-gate verdicts while the merge converges") {
    // the COMPLETE production topology: the composed curation chain
    // in flag-don't-drop mode ahead of the keyed month merge — every
    // record verdict-logged, every record still merged
    val dir = Files.createTempDirectory("graft_curated").toFile.getAbsolutePath
    val landing = s"$dir/landing"; new java.io.File(landing).mkdirs()
    // both NB labels populated (an all-en corpus would zero the
    // label-0 prior denominator)
    val models = graft.streaming.Curation.trainModels(
      Seq((900L, "reference corpus tokens for the shared models", "en"),
        (901L, "andere referenz woerter fuer das geteilte modell", "de"))
        .toDF("doc_id", "text", "lang"))
    Files.writeString(new java.io.File(s"$landing/crawl1.json").toPath,
      """[{"title": "Curated Event One", "time": "Friday 15 July 2025",
        |  "venue": "pacha", "url": "https://x.com/1",
        |  "scraped_at": "2025-07-01T00:00:00"}]""".stripMargin)
    assert(IncrementalIngest
      .start(spark, landing, dir, curation = Some(models))
      .awaitTermination(120000), "first curated drain must finish")
    val log1 = spark.read.parquet(s"$dir/curation_log")
    assert(log1.count() === 1 && log1.select("is_novel").head().getInt(0) === 1)
    // crawl 2: the same payload re-scraped (scraped_at moved → new
    // full-record id, SAME crawl-invariant document) + one new event;
    // a fresh start() exercises the curation gates' restart path
    Files.writeString(new java.io.File(s"$landing/crawl2.json").toPath,
      """[{"title": "Curated Event One", "time": "Friday 15 July 2025",
        |  "venue": "pacha", "url": "https://x.com/1",
        |  "scraped_at": "2025-07-02T00:00:00"},
        | {"title": "Curated Event Two", "time": "Saturday 16 August 2025",
        |  "venue": "dc10", "url": "https://x.com/2",
        |  "scraped_at": "2025-07-02T00:00:00"}]""".stripMargin)
    assert(IncrementalIngest
      .start(spark, landing, dir, curation = Some(models))
      .awaitTermination(120000), "second curated drain must finish")
    val log2 = spark.read.parquet(s"$dir/curation_log").distinct()
    assert(log2.count() === 3, "one verdict row per landed record")
    assert(log2.filter(col("is_novel") === 1).count() === 2,
      "exactly the two distinct payloads flag novel")
    // stage lattice holds in the ingest topology: a stage-1 drop
    // leaves every later stage NULL
    assert(log2.filter(col("is_novel") === 0 &&
      col("is_neardup").isNotNull).isEmpty)
    // verdict log + merged table AGREE on every doc: novel-verdict
    // count == distinct payloads == merged rows, and flag-don't-drop
    // means the re-crawl still reached the merge (both months exist)
    assert(spark.read.parquet(s"$dir/events").count() === 2)
    val months = new java.io.File(s"$dir/events").listFiles()
      .map(_.getName).filter(_.startsWith("start_month=")).sorted
    assert(months === Array("start_month=2025-07", "start_month=2025-08"))
  }

  test("streaming: hourly rollup with watermark produces windowed counts") {
    val dir = Files.createTempDirectory("graft_roll").toFile.getAbsolutePath
    Tables.events(spark, "/root/testdata/sf0.001")
      .limit(200).write.mode("overwrite").parquet(s"$dir/ev")
    val schema = spark.read.parquet(s"$dir/ev").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/ev")
    val q = IncrementalIngest.hourlyRollup(stream, "ts")
      .writeStream.format("memory").queryName("rollup_test")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // append mode emits only watermark-closed windows; the plan itself
    // (watermark + window + agg) is what's under test
    assert(spark.table("rollup_test").schema.fieldNames.toSeq ===
      Seq("hour_start", "event_type", "n", "total_value"))
  }
}
