package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  * --work DIR --out FILE --side FILE`.
  *
  * Untraced: set up [[setupReps]] times (median is `setup_s`), run the
  * warm-up operations, then rounds of operations back to back until S
  * seconds have passed (or the workload's fixed [[Workload.timedOps]]),
  * then check the final state. Traced: set up once, warm up, then run four
  * blocks of a fixed number of operations, untraced, traced, traced,
  * untraced (fixed, so that its counters repeat exactly); the per-layer
  * record is the traced operations' average, and `trace_overhead_frac`
  * compares the median latencies of the traced and untraced blocks.
  *
  * The result JSON goes to --out, spans and per-operation records to
  * --side. */
object Main {
  val setupReps = 3
  val cores = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    val spark = session(work, trace)
    try {
      val (result, side) = run(spark, workload, seed, a("seconds").toDouble, trace,
        new File(a("data")), work)
      Files.write(new File(a("side")).toPath, side.getBytes(UTF_8))
      Files.write(new File(a("out")).toPath, result.getBytes(UTF_8))
    } finally spark.stop()
  }

  def session(work: File, trace: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (trace) {
      // drop any local filesystem cached before the setting applied
      FileSystem.closeAll()
      val fs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFileSystem], s"counting filesystem not installed: $fs")
    }
    spark
  }

  def workloadFor(spark: SparkSession, name: String, seed: Long, data: File,
      work: File): Workload = {
    def docs = spark.read.parquet(new File(data, "documents.parquet").getAbsolutePath)
      .select("doc_id", "text", "lang")
    lazy val base = docs.orderBy("doc_id").collect()
      .map(r => Gen.Doc(r.getLong(0), r.getString(1), r.getString(2))).toVector
    name match {
      case "ingest" =>
        new IngestWorkload(spark, docs, () => new Gen.Ingest(seed, base, batchSize = 50))
      case "serve" =>
        val events = Gen.serveEvents(seed, base, 10000)
        new ServeWorkload(spark, work, events, new Gen.Queries(seed, events))
      case "ann" =>
        val vecs = spark.read.parquet(new File(data, "embeddings.parquet").getAbsolutePath)
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).toArray).toVector
        new AnnWorkload(spark, work, seed, Gen.annCorpus(seed, vecs, 4))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private final case class Done(i: Int, kind: String, ms: Double, out: Outcome,
      layers: Map[String, Double])

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, data: File, work: File): (String, String) = {
    val wl = workloadFor(spark, name, seed, data, work)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    try {
      val setups = (0 until (if (trace) 1 else setupReps)).map { r =>
        // the previous set-up's state goes first, untimed
        wl.close()
        if (r > 0) Workload.deleteTree(new File(work, s"state-${r - 1}"))
        val t0 = System.nanoTime()
        wl.setup(new File(work, s"state-$r"))
        (System.nanoTime() - t0) / 1e9
      }
      wl.afterSetup()
      val done = mutable.ArrayBuffer.empty[Done]
      var spaceAmp = 0.0
      def step(i: Int, t: Option[Tracer]): Unit = {
        val kind = wl.kindOf(i)
        var ms = 0.0
        var layers = Map.empty[String, Double]
        val out = try {
          val s = wl.prepare(i, t.isDefined)
          t.foreach(_.begin(i, s"$name.$kind", wl.module,
            wl.driverThread.getOrElse(Thread.currentThread)))
          val t0 = System.nanoTime()
          try s.run(t) finally {
            ms = (System.nanoTime() - t0) / 1e6
            t.foreach(tr => layers = tr.end())
          }
          s.check()
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] op $i ($kind) failed: $e")
            Outcome(ok = false)
        }
        if (i == wl.spaceAfterOp)
          spaceAmp = Workload.du(wl.stateDir).toDouble / wl.inputBytes
        done += Done(i, kind, ms, out, layers)
      }
      var i = 0
      def block(n: Int, t: Option[Tracer]): Unit =
        (0 until n).foreach { _ => step(i, t); i += 1 }
      block(if (trace) math.max(wl.warmupOps, 1) else wl.warmupOps, None)
      val timed0 = done.length
      val t0 = System.nanoTime()
      if (trace) {
        // untraced, traced, traced, untraced: a steady drift in op cost
        // (JIT, growing state) cancels out of the overhead comparison
        Seq(None, tracer, tracer, None).foreach(block(wl.tracedOps, _))
      } else wl.timedOps match {
        case Some(n) => block(n, None)
        case None => while ((System.nanoTime() - t0) / 1e9 < seconds) block(wl.round, None)
      }
      val windowS = (System.nanoTime() - t0) / 1e9
      val fin = wl.finish()
      val heapMb = liveHeapMb()
      val failed = done.count(d => !d.out.ok || fin.failedOps.contains(d.i))
      val timed = done.drop(timed0).toSeq
      val hits = done.map(_.out.hits).sum + fin.hits
      val expected = done.map(_.out.expected).sum + fin.expected
      val metrics =
        if (!trace) {
          val lat = timed.filter(d => wl.primary(d.kind)).map(_.ms)
          Seq("setup_s" -> ((Stats.median(setups), "s")),
            "ok_frac" -> ((1.0 - failed.toDouble / done.length, "fraction")),
            "p50_ms" -> ((Stats.median(lat), "ms")),
            "ops_per_s" -> ((timed.length / windowS, "1/s")),
            "docs_per_s" -> ((timed.map(_.out.docs).sum / windowS, "1/s")),
            "recall" -> ((if (expected == 0) 1.0 else hits.toDouble / expected, "fraction")),
            "space_amp" -> ((spaceAmp, "ratio")))
        } else {
          val (traced, untraced) = timed.partition(_.layers.nonEmpty)
          def p50(ds: Seq[Done]) = Stats.quantile(ds.filter(d => wl.primary(d.kind)).map(_.ms), 0.5)
          Layers.metrics(wl, traced.map(d => (d.kind, d.out, d.layers)), fin) ++
            Seq("live_heap_mb" -> ((heapMb, "MB")),
              "trace_overhead_frac" -> ((p50(traced) / p50(untraced) - 1.0, "fraction")))
        }
      val result = Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> done.length.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
      val side = Json.obj(Seq(
        "workload" -> Json.str(name), "seed" -> seed.toString,
        "trace" -> trace.toString,
        "setup_s" -> Json.arr(setups.map(Json.num)),
        "window_s" -> Json.num(windowS),
        "ops" -> Json.arr(done.map(d => Json.obj(Seq(
          "i" -> d.i.toString, "kind" -> Json.str(d.kind), "ms" -> Json.num(d.ms),
          "ok" -> (d.out.ok && !fin.failedOps.contains(d.i)).toString,
          "docs" -> d.out.docs.toString,
          "layers" -> Json.obj(d.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
        )))),
        "spans" -> tracer.map(_.spansJson).getOrElse("[]")))
      (result, side)
    } finally wl.close()
  }

  /** Used heap after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN-free: an empty sample is 0). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
