package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.{Tables => T}
import graft.operators.Similarity

/** Regenerates `graft/operators/IvfCentroids.scala`.
  *
  * The `sim_ann_ivf` registry query and its DuckDB oracle must agree on
  * the coarse-quantizer centroids, and the oracle SQL is a static
  * string — so the centroids are trained ONCE here (the same
  * `Similarity.trainIvfCentroids` path the recall spec exercises) and
  * frozen as shortest-round-trip double literals. `Double.toString`
  * round-trips exactly, so Scala `typedLit`, the generated source, and
  * DuckDB's literal parser all see identical bits.
  *
  * Usage: sbt "runMain graft.tools.PinIvfCentroids /root/testdata/sf0.01 \
  *   src/main/scala/graft/operators/IvfCentroids.scala"
  */
object PinIvfCentroids {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args(1)
    graft.GraftSession.run(8) { spark =>
      val emb = T.embeddings(spark, sfDir)
      val dim = emb.select(col("embedding")).head().getSeq[Float](0).length
      val centroids = Similarity.trainIvfCentroids(
        emb, "vec_id", "embedding", dim = dim, nlist = 4, iters = 2)
      val rows = centroids
        .map(c => "    Seq(" + c.grouped(6).map(_.mkString(", "))
          .mkString(",\n      ") + ")")
        .mkString(",\n")
      val src =
        s"""package graft.operators
           |
           |/** Pinned IVF coarse-quantizer centroids for the `sim_ann_ivf`
           |  * registry query — trained once offline by
           |  * `graft.tools.PinIvfCentroids` ($sfDir, nlist=4, iters=2,
           |  * hash-ordered bounded sample) and frozen so the Spark query and
           |  * its DuckDB oracle replay the identical cell assignment at any
           |  * sf. Production retraining stays on `trainIvfCentroids` under
           |  * the IVF recall spec. DO NOT EDIT — regenerate with the tool.
           |  */
           |object IvfCentroids {
           |  val dim: Int = $dim
           |
           |  val pinned: Seq[Seq[Double]] = Seq(
           |$rows)
           |
           |  /** DuckDB `VALUES (i, [d0, ...])` rows mirroring
           |    * `Similarity.hyperplaneSqlValues`.
           |    */
           |  def sqlValues: String = pinned.zipWithIndex
           |    .map { case (c, i) => s"($$i, [$${c.mkString(", ")}])" }
           |    .mkString(", ")
           |
           |  /** The centroids at integral ×1e4 grain (floor), as DuckDB VALUES —
           |    * the shared old-centroid literal table for the k-means shift
           |    * census (`Similarity.kmeansStepCensus`): computed ONCE here on the
           |    * JVM so no float op crosses engines.
           |    */
           |  def sqlValuesX1e4: String = pinned.zipWithIndex
           |    .map { case (c, i) =>
           |      s"($$i, [$${c.map(x => math.floor(x * 10000).toLong).mkString(", ")}])" }
           |    .mkString(", ")
           |}
           |""".stripMargin
      Files.write(Paths.get(out), src.getBytes(StandardCharsets.UTF_8))
      println(s"wrote $out (${centroids.length} centroids, dim $dim)")
    }
  }
}
