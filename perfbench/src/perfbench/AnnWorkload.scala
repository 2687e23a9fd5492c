package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{AnnIndex, IvfCentroids, PqCodebooks}

/** `ann`: one client works through the persisted IVF-PQ index's life
  * cycle: probe batches, with small append batches of new and updated
  * ids between them and a compact after every second append. */
final class AnnWorkload(spark: SparkSession, work: File, seed: Long,
    corpus: Vector[Array[Float]]) extends Workload {
  import AnnWorkload._

  val module = "annindex"
  // a probe's latency depends on the operations before it (the first
  // probe after a write reads a new delta), so the window runs whole
  // cycles; probes keep getting faster through the first cycle (JIT),
  // so that one is warm-up
  val warmupOps = cycle.length
  override val round: Int = cycle.length
  val tracedOps = cycle.length / 2
  // right after the first append
  val spaceAfterOp = 2
  def kindOf(i: Int): String = cycle(i % cycle.length)
  def primary(kind: String): Boolean = kind == "probe"
  override def topK(kind: String): Boolean = kind == "probe"

  private val schema = StructType(Seq(StructField("id", LongType, false),
    StructField("vec", ArrayType(FloatType, false), false)))
  private def frame(rows: Seq[(Long, Array[Float])]) = spark.createDataFrame(
    java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*), schema)

  // the generated corpus, as the parquet file the index is built from
  private val input = {
    val f = new File(work, "ann-input")
    frame(corpus.indices.map(i => (i.toLong, corpus(i)))).coalesce(1)
      .write.parquet(f.getAbsolutePath)
    f
  }
  val inputBytes: Long = corpus.length.toLong * (8 + 4 * corpus.head.length)

  private var dir: File = _
  private var live: Live = _
  private var rnd: SplittableRandom = _
  def stateDir: File = dir
  private def index = new File(dir, "index").getAbsolutePath

  def setup(d: File): Unit = {
    dir = d
    AnnIndex.build(spark, index, spark.read.parquet(input.getAbsolutePath),
      "id", "vec", IvfCentroids.pinned, PqCodebooks.pinned)
    live = new Live(corpus)
    rnd = new SplittableRandom(seed ^ 0xA22L)
  }

  def prepare(i: Int, traced: Boolean): Step = {
    def call[A](t: Option[Tracer], name: String)(f: => A): A =
      t.fold(f)(_.call(name, module)(f))
    val step = kindOf(i) match {
      case "probe" =>
        val qs = Vector.fill(probeBatch) {
          Gen.perturb(rnd, live.latest(rnd.nextInt(live.size)), 0.3)
        }
        val queries = frame(qs.indices.map(j => (j.toLong, qs(j))))
        var rows = Seq.empty[Row]
        Step(t => {
          val df = call(t, "AnnIndex.probe")(
            AnnIndex.probe(spark, index, queries, "id", "vec", k = k))
          rows = call(t, "collect")(df.collect().toSeq)
        }, () => {
          val (ok, hits) = live.check(qs, rows.map(r => (r.getAs[Long]("query_id"),
            r.getAs[Long]("corpus_id"), r.getAs[Double]("cosine"))))
          Outcome(ok, docs = qs.length, hits = hits, expected = k.toLong * qs.length,
            extra = Map("rows" -> rows.length.toDouble))
        })
      case "append" =>
        // half new ids, half updates of distinct live ids
        val fresh = Vector.tabulate(appendBatch / 2)(j => (live.size.toLong + j,
          Gen.perturb(rnd, corpus(rnd.nextInt(corpus.length)), 0.2)))
        val updated = mutable.LinkedHashSet.empty[Long]
        while (updated.size < appendBatch / 2) updated += rnd.nextInt(live.size).toLong
        val batch = fresh ++ updated.toVector.map(id =>
          (id, Gen.perturb(rnd, live.latest(id.toInt), 0.2)))
        val df = frame(batch)
        Step(t => call(t, "AnnIndex.append")(AnnIndex.append(spark, index, df, "id", "vec")),
          () => { live.append(batch); Outcome(ok = true, docs = batch.length) })
      case "compact" =>
        Step(t => call(t, "AnnIndex.compact")(AnnIndex.compact(spark, index)),
          () => { live.compacted(); Outcome(ok = true) })
    }
    if (!traced) step
    else step.copy(check = () => {
      val out = step.check()
      out.copy(extra = out.extra + ("delta_dirs" -> deltaDirs().toDouble))
    })
  }

  private def deltaDirs(): Int = AnnIndex.fileCensus(spark, index).map(_._1)
    .flatMap(p => """/(delta-\d+)/""".r.findFirstMatchIn(p).map(_.group(1))).distinct.length

  def finish(): Finish = Finish(Set.empty, 0, 0)
}

object AnnWorkload {
  val k = 10
  val probeBatch = 32
  val appendBatch = 32
  /** Two probes before every append, and a compact after every second
    * append: 9 operations. */
  val cycle: Vector[String] = Vector("probe", "probe", "append",
    "probe", "probe", "append", "probe", "probe", "compact")

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** The corpus as the index should hold it: the latest vector of every
    * id, plus the versions an update superseded since the last compact
    * (the index may still return those from the old cell: AnnIndex's
    * documented cross-cell shadow). */
  final class Live(init: Vector[Array[Float]]) {
    val latest: mutable.ArrayBuffer[Array[Float]] = mutable.ArrayBuffer.from(init)
    private val shadows = mutable.LongMap.empty[List[Array[Float]]]
    def size: Int = latest.length

    def append(batch: Seq[(Long, Array[Float])]): Unit = batch.foreach { case (id, v) =>
      if (id < latest.length) {
        shadows(id) = latest(id.toInt) :: shadows.getOrElse(id, Nil)
        latest(id.toInt) = v
      } else {
        require(id == latest.length, s"ids must be dense, got $id at ${latest.length}")
        latest += v
      }
    }

    def compacted(): Unit = shadows.clear()

    /** Exact cosine top-k by brute force over the latest vectors. */
    def exactTopK(q: Array[Float]): Set[Long] =
      latest.indices.map(i => (cosine(q, latest(i)), i.toLong))
        .sortBy { case (c, i) => (-c, i) }.take(k).map(_._2).toSet

    /** (answer well-formed, recall hits): every query has k distinct
      * live ids whose cosines match a version the index may hold. */
    def check(qs: Vector[Array[Float]], rows: Seq[(Long, Long, Double)]): (Boolean, Long) = {
      val byQ = rows.groupBy(_._1)
      var ok = byQ.keySet == qs.indices.map(_.toLong).toSet
      var hits = 0L
      qs.indices.foreach { q =>
        val got = byQ.getOrElse(q.toLong, Nil)
        ok &&= got.length == k && got.map(_._2).distinct.length == k
        ok &&= got.forall { case (_, id, c) =>
          id >= 0 && id < latest.length &&
            (latest(id.toInt) :: shadows.getOrElse(id, Nil))
              .exists(v => math.abs(cosine(qs(q), v) - c) <= 1e-6)
        }
        hits += (got.map(_._2).toSet intersect exactTopK(qs(q))).size
      }
      (ok, hits)
    }
  }
}
