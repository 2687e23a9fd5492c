package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal

import graft.{Bench, GraftSession, SparkEntry}
import graft.operators.{AnnIndex, IvfCentroids, PqCodebooks}

/** Times registry rows in one warmed session with graft.Bench's
  * semantics, and writes their physical plans for a plan A/B.
  *
  * After one warm-up on `SparkEntry.entry`, each rep runs every row
  * once: Bench's `teardownStreams`, then Bench's `timeOnce` (one
  * `count()`), printed as one JSON line per measurement, e.g.
  * `{"rep":1,"row":"q1_pricing_summary","sec":0.41,"ok":true}`.
  * `--plans <dir>` writes each row's `explain("formatted")` to
  * `<dir>/<row>.txt`; `reps = 0` writes plans only. The plan-only
  * pseudo-row `internal_ann_probe` is the real `AnnIndex.probe` over a
  * freshly built and appended index.
  *
  * Row names are checked against the registry before the session
  * starts. The per-stage cost of the curate chain and the ANN life
  * cycle comes from `perfbench/run.py --workload ingest|ann --trace 1`.
  *
  * Usage: runMain graft.tools.Probe <row,row,...> [reps=3] [sfDir]
  *        [--plans <dir>]
  *   sfDir defaults to `SPARK_GRAFT_SF_DIR`, the dir graft.Bench reads.
  */
object Probe {
  val annProbe = "internal_ann_probe"

  final case class Lap(rep: Int, row: String, sec: Double, ok: Boolean) {
    def json: String =
      f"""{"rep":$rep%d,"row":"$row%s","sec":$sec%.2f,"ok":$ok%b}"""
  }

  /** Fails naming every row that is neither in the registry nor the
    * plan-only pseudo-row. */
  def checkRows(rows: Seq[String]): Unit = {
    val unknown = rows.filterNot(r =>
      r == annProbe || SparkEntry.registry.contains(r))
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(", ")}")
  }

  /** `reps` laps over `rows` (the pseudo-row is skipped), each
    * measurement printed as it lands. */
  def measure(spark: SparkSession, sfDir: String, rows: Seq[String],
      reps: Int): Seq[Lap] =
    for (rep <- 1 to reps; row <- rows if row != annProbe) yield {
      Bench.teardownStreams(spark)
      val (sec, ok) =
        Bench.timeOnce(spark, sfDir, SparkEntry.registry(row).fn, row)
      val lap = Lap(rep, row, sec, ok)
      println(lap.json)
      lap
    }

  def plan(spark: SparkSession, sfDir: String, row: String): String = {
    def formatted(df: DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    if (row != annProbe) formatted(SparkEntry.registry(row).fn(spark, sfDir))
    else {
      val root = Files.createTempDirectory("probe_ann")
      val dir = s"$root/idx"
      val emb = graft.Tables.embeddings(spark, sfDir)
      try {
        AnnIndex.build(spark, dir,
          emb.filter(col("vec_id") % 50 =!= 0 && col("vec_id") % 7 =!= 3),
          "vec_id", "embedding", IvfCentroids.pinned, PqCodebooks.pinned)
        AnnIndex.append(spark, dir,
          emb.filter(col("vec_id") % 50 =!= 0 && col("vec_id") % 7 === 3),
          "vec_id", "embedding")
        formatted(AnnIndex.probe(spark, dir,
          emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          k = 3, nprobe = 2, shortlist = 9))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  def main(args: Array[String]): Unit = {
    val plansAt = args.indexOf("--plans")
    val plansDir = Option.when(plansAt >= 0)(args.lift(plansAt + 1)
      .getOrElse(sys.error("--plans needs a directory")))
    val pos = if (plansAt < 0) args.toSeq else args.toSeq.patch(plansAt, Nil, 2)
    val rows = pos.head.split(",").toSeq
    val reps = pos.lift(1).fold(3)(_.toInt)
    val sfDir = pos.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("no sfDir: pass one or set SPARK_GRAFT_SF_DIR"))
    checkRows(rows)
    GraftSession.run() { spark =>
      plansDir.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        rows.foreach { row =>
          Files.writeString(Paths.get(dir, s"$row.txt"), plan(spark, sfDir, row))
          println(s"[probe] wrote $dir/$row.txt")
        }
      }
      if (reps > 0) {
        try SparkEntry.entry(spark).count() catch { case NonFatal(_) => () }
        measure(spark, sfDir, rows, reps)
      }
    }
  }
}
