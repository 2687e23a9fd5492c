package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.{Tables => T}
import graft.operators.Similarity

/** Regenerates `graft/operators/PqCodebooks.scala`.
  *
  * The `sim_knn_join_ivfpq` registry query and its DuckDB oracle must
  * agree on the product-quantization codebooks, and the oracle SQL is
  * a static string — so the codebooks are trained ONCE here (the same
  * `Similarity.trainPqCodebooks` path the PQ spec exercises) and
  * frozen as shortest-round-trip double literals, exactly the
  * `PinIvfCentroids` discipline. `Double.toString` round-trips
  * exactly, so Scala `lit`, the generated source, and DuckDB's
  * literal parser all see identical bits.
  *
  * Usage: sbt "runMain graft.tools.PinPqCodebooks /root/testdata/sf0.01 \
  *   src/main/scala/graft/operators/PqCodebooks.scala"
  */
object PinPqCodebooks {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args(1)
    graft.GraftSession.run(8) { spark =>
      val emb = T.embeddings(spark, sfDir)
      val dim = emb.select(col("embedding")).head().getSeq[Float](0).length
      val m = 8
      val ksub = 16
      val books = Similarity.trainPqCodebooks(
        emb, "vec_id", "embedding", dim = dim, m = m, ksub = ksub,
        iters = 2)
      val resBooks = Similarity.trainPqResidualCodebooks(
        emb, "vec_id", "embedding", dim = dim,
        centroids = graft.operators.IvfCentroids.pinned, m = m,
        ksub = ksub, iters = 2)
      def render(bs: Seq[Seq[Seq[Double]]]): String = bs.map { book =>
        "    Seq(\n" + book
          .map(c => "      Seq(" + c.grouped(4).map(_.mkString(", "))
            .mkString(",\n        ") + ")")
          .mkString(",\n") + ")"
      }.mkString(",\n")
      val rows = render(books)
      val resRows = render(resBooks)
      val src =
        s"""package graft.operators
           |
           |/** Pinned product-quantization codebooks for the
           |  * `sim_knn_join_ivfpq` registry query — trained once offline by
           |  * `graft.tools.PinPqCodebooks` ($sfDir, m=$m, ksub=$ksub, iters=2,
           |  * hash-ordered bounded sample) and frozen so the Spark query and
           |  * its DuckDB oracle replay the identical codes and ADC tables at
           |  * any sf. Production retraining stays on `trainPqCodebooks`
           |  * under the PQ recall spec. DO NOT EDIT — regenerate with the
           |  * tool.
           |  */
           |object PqCodebooks {
           |  val dim: Int = $dim
           |  val m: Int = $m
           |  val ksub: Int = $ksub
           |  val dsub: Int = ${dim / m}
           |
           |  /** pinned(j)(c) = centroid c of sub-space j (raw-vector codes). */
           |  val pinned: Seq[Seq[Seq[Double]]] = Seq(
           |$rows)
           |
           |  /** Residual-trained books (v − IvfCentroids.pinned(cell)) for
           |    * the residual-encoded row — TPAMI'11 §IV form.
           |    */
           |  val residualPinned: Seq[Seq[Seq[Double]]] = Seq(
           |$resRows)
           |
           |  private def values(bs: Seq[Seq[Seq[Double]]]): String =
           |    bs.zipWithIndex.flatMap {
           |      case (book, j) => book.zipWithIndex.map { case (c, cc) =>
           |        s"($$j, $$cc, [$${c.mkString(", ")}])"
           |      }
           |    }.mkString(", ")
           |
           |  /** DuckDB `VALUES (j, cc, [d0, ...])` rows mirroring
           |    * `IvfCentroids.sqlValues`.
           |    */
           |  def sqlValues: String = values(pinned)
           |
           |  def sqlValuesResidual: String = values(residualPinned)
           |}
           |""".stripMargin
      Files.write(Paths.get(out), src.getBytes(StandardCharsets.UTF_8))
      println(s"wrote $out ($m books x $ksub centroids, dsub ${dim / m})")
    }
  }
}
