package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's own checks: seeded generators, the counting
  * filesystem, attribution helpers, and that a tampered answer counts
  * as a failure. `BenchTest <fixture data dir>`; exits 1 on a failure.
  * (The traced-run repeatability check runs whole benchmark runs and
  * lives in perfbench/test.py.) */
object BenchTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch {
      case e: Throwable => e.printStackTrace(); false
    }
    println(s"${if (pass) "PASS" else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val data = new File(args(0))
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val (docs, vecs) = try {
      (spark.read.parquet(new File(data, "documents.parquet").getPath)
        .orderBy("doc_id").collect()
        .map(r => Gen.Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[String]("lang"))).toVector,
       spark.read.parquet(new File(data, "embeddings.parquet").getPath)
        .orderBy("vec_id").collect().map(_.getAs[Seq[Float]]("embedding").toArray).toVector)
    } finally spark.stop()
    countingFileSystem()
    attribution()
    generators(docs, vecs)
    tampered(docs, vecs)
    println(if (failures == 0) "all passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def countingFileSystem(): Unit = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[CountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    val root = Files.createTempDirectory("countingfs").toFile
    def delta(body: => Unit): Map[String, Long] = {
      val a = CountingFileSystem.snapshot()
      body
      CountingFileSystem.snapshot().map { case (k, v) => k -> (v - a(k)) }.filter(_._2 != 0)
    }
    val d = new Path(root.getPath, "a")
    check("counting fs: installed through configuration")(fs.isInstanceOf[CountingFileSystem])
    check("counting fs: mkdirs")(delta(fs.mkdirs(d)) == Map("mkdirs" -> 1))
    check("counting fs: create, not its mkdirs of the parent")(
      delta(fs.create(new Path(d, "f")).close()) == Map("create" -> 1))
    check("counting fs: open")(delta(fs.open(new Path(d, "f")).close()) == Map("open" -> 1))
    check("counting fs: list")(delta(fs.listStatus(d)) == Map("list" -> 1))
    check("counting fs: rename")(
      delta(fs.rename(new Path(d, "f"), new Path(d, "g"))) == Map("rename" -> 1))
    check("counting fs: delete")(delta(fs.delete(new Path(d, "g"), false)) == Map("delete" -> 1))
    CountingFileSystem.ignored = Some(d.toUri.getPath)
    check("counting fs: ignored prefix")(delta(fs.listStatus(d)).isEmpty)
    CountingFileSystem.ignored = None
    Workload.deleteTree(root)
  }

  def attribution(): Unit = {
    check("module of a live-thread frame")(Tracer.moduleOf(
      "app//graft.operators.NoveltyGate.admitScored(Dedup.scala:1676)") == Some("dedup"))
    check("module of a call site's first graft frame")(Tracer.moduleOf(Seq(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)",
      "graft.operators.AnnIndex$.probe(AnnIndex.scala:790)",
      "graft.operators.Similarity$.knn(Similarity.scala:10)").mkString("\n")) == Some("annindex"))
    check("no graft frame, no module")(Tracer.moduleOf("perfbench.Main$.main(Main.scala:1)").isEmpty)
    check("interval union")(Tracer.union(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (4.0, 4.0))) == 4.0)
  }

  private def ingestBatches(seed: Long, docs: Vector[Gen.Doc], n: Int) = {
    val g = new Gen.Ingest(seed, docs, 150)
    Vector.fill(n)(g.next())
  }

  /** Per batch: (records, re-scrapes, near-duplicates), counted from the
    * records alone: a re-scrape repeats an earlier key; a near-duplicate
    * is a new key equal to an earlier record but for one title word. */
  private def shares(batches: Vector[Vector[Gen.Rec]]): Vector[(Int, Int, Int)] = {
    val seen = scala.collection.mutable.LongMap.empty[Gen.Rec]
    batches.map { b =>
      val earlier = seen.values.toVector
      def stripped(r: Gen.Rec) = r.copy(key = 0, title = "", url = "", scrapedAt = "")
      val byRest = earlier.groupBy(stripped)
      val res = b.count(r => seen.contains(r.key))
      val nd = b.count { r =>
        !seen.contains(r.key) && byRest.get(stripped(r)).exists(_.exists { e =>
          val (x, y) = (e.title.split(" ").dropRight(1), r.title.split(" ").dropRight(1))
          x.length == y.length && x.zip(y).count { case (p, q) => p != q } == 1
        })
      }
      b.foreach(r => seen(r.key) = r)
      (b.length, res, nd)
    }
  }

  def generators(docs: Vector[Gen.Doc], vecs: Vector[Array[Float]]): Unit = {
    def ingestJson(seed: Long) = ingestBatches(seed, docs, 6).map(_.map(_.json).mkString("\n"))
    check("ingest: same seed, byte-identical batches")(ingestJson(11) == ingestJson(11))
    check("ingest: another seed, other batches")(
      ingestJson(11).zip(ingestJson(12)).forall { case (a, b) => a != b })
    val s11 = shares(ingestBatches(11, docs, 6))
    check("ingest: another seed, same sizes and shares")(s11 == shares(ingestBatches(12, docs, 6)))
    check("ingest: a third re-scrapes, a tenth near-duplicates")(
      s11.head == ((150, 0, 0)) && s11.tail.forall(_ == ((150, 50, 15))))

    def serveJson(seed: Long) = Gen.serveEvents(seed, docs, 3000).map(_.json).mkString("\n")
    def queries(seed: Long) = {
      val q = new Gen.Queries(seed, Gen.serveEvents(seed, docs, 3000))
      Vector.fill(25)(q.deck()).flatten
    }
    check("serve: same seed, byte-identical table and queries")(
      serveJson(11) == serveJson(11) && queries(11) == queries(11))
    check("serve: another seed, other table and queries of the same size")(
      serveJson(11) != serveJson(12) && queries(11) != queries(12) &&
        Gen.serveEvents(12, docs, 3000).length == 3000)
    check("serve: every deck holds the same mix of kinds")(
      queries(11).grouped(Gen.serveDeck).map(_.map(_.kind).sorted).toSet.size == 1)

    def annBytes(seed: Long) = Gen.annCorpus(seed, vecs, 2).flatMap(_.toSeq)
    check("ann: same seed, identical vectors")(annBytes(11) == annBytes(11))
    check("ann: another seed, other vectors of the same size")(
      annBytes(11) != annBytes(12) && annBytes(11).length == annBytes(12).length)
  }

  def tampered(docs: Vector[Gen.Doc], vecs: Vector[Array[Float]]): Unit = {
    // ingest: the merged table against the generator's latest versions
    val g = new Gen.Ingest(3, docs, 150)
    (1 to 3).foreach(_ => g.next())
    val rows = g.latest.values.map(r => (r.key, r.scrapedAt, r.price)).toSeq
    check("ingest: the right table passes")(IngestWorkload.checkMerged(g.latest, rows).isEmpty)
    val k = rows.head._1
    check("ingest: a stale version fails")(IngestWorkload.checkMerged(g.latest,
      rows.map(r => if (r._1 == k) r.copy(_3 = "1 EUR") else r)) == Set(k))
    check("ingest: a missing key fails")(
      IngestWorkload.checkMerged(g.latest, rows.filter(_._1 != k)) == Set(k))
    check("ingest: a duplicated key fails")(
      IngestWorkload.checkMerged(g.latest, rows :+ rows.head) == Set(k))

    // serve: answers from the generator alone
    val events = Gen.serveEvents(3, docs, 2000)
    val expect = new ServeWorkload.Expect(events)
    val e = events(7)
    def byId(title: String) = Seq(Row("ev7", title, e.venue, e.url))
    check("serve: the right lookup passes")(
      expect.check(Gen.Query("by_id", key = e.key), "ev7", byId(e.title))._1)
    check("serve: a tampered lookup fails")(
      !expect.check(Gen.Query("by_id", key = e.key), "ev7", byId(e.title + "!"))._1)
    val counts = events.groupBy(_.venue).map { case (v, es) => Row(v, es.length.toLong) }.toSeq
    check("serve: the right venue counts pass")(expect.check(Gen.Query("venues"), "", counts)._1)
    check("serve: a tampered venue count fails")(!expect.check(Gen.Query("venues"), "",
      counts.updated(0, Row(counts.head.getString(0), counts.head.getLong(1) + 1)))._1)

    // ann: an exact answer, then a wrong cosine and a foreign id
    val live = new AnnWorkload.Live(Gen.annCorpus(3, vecs.take(300), 1))
    val qs = Vector(live.latest(5), live.latest(77))
    val exact = qs.indices.flatMap(q => live.exactTopK(qs(q)).toSeq
      .map(id => (q.toLong, id, AnnWorkload.cosine(qs(q), live.latest(id.toInt)))))
    check("ann: the exact answer passes with full recall")(
      live.check(qs, exact) == ((true, AnnWorkload.k.toLong * qs.length)))
    check("ann: a wrong cosine fails")(!live.check(qs, exact.updated(0, exact.head.copy(_3 = 0.5)))._1)
    check("ann: an id outside the corpus fails")(
      !live.check(qs, exact.updated(0, exact.head.copy(_2 = 10000L)))._1)
    live.append(Seq((5L, live.latest(6))))
    check("ann: an update's superseded vector still passes before a compact")(
      live.check(qs.take(1), exact.filter(_._1 == 0))._1)
    live.compacted()
    check("ann: ... and fails after it")(!live.check(qs.take(1), exact.filter(_._1 == 0))._1)
  }
}
