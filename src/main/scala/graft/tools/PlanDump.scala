package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dump `.explain("formatted")` for named registry queries to files —
  * the plan evidence trail for the optimization rounds
  * (`plans/r21/<query>_{before,after}.txt`). For the streaming /
  * gate-backed rows the registry function's result frame is the
  * read-back; the interesting internal plans (the near-dup gate's
  * self-probe pair join, the persisted-index probe) are dumped under
  * `internal_*` names built from the same code paths the gates run.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>
  *        [sfDir]
  *   suffix: "before" | "after" (file name tag)
  *   query list may include the pseudo-names `internal_nd_pairjoin`
  *   and `internal_ann_probe`.
  */
object PlanDump {
  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dump(spark, outDir, suffix, names, sfDir)
    finally spark.stop()
  }

  private def dump(spark: SparkSession, outDir: String, suffix: String,
      names: Seq[String], sfDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    def write(name: String, text: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        text.getBytes("UTF-8"))
      println(s"[plandump] wrote $name")
    }
    names.foreach {
      case "internal_nd_pairjoin" =>
        // The near-dup gate's uncapped self-probe pair machinery,
        // reconstructed UNPINNED from the same building blocks
        // admitInner composes (the gate localCheckpoints its verdicts,
        // so dumping the returned frame would show only an RDD scan).
        // This is the r21 first-colliding-band shape: one broadcast
        // join, codegen'd element_at prefix filter, inline
        // arrayEqCount, straight into the per-id rollup — no pair
        // distinct exchange, no pair-level signature joins.
        val bands = 16
        val batchSigs = graft.operators.GateOps.dedupAtWidth(
            graft.Tables.documents(spark, sfDir)
              .select(col("doc_id").as("id"), col("text").as("t")), "id")
          .select(col("id"), graft.operators.Dedup
            .minhashSignaturePortable(col("t"), 32, 1).as("sig"))
          .localCheckpoint()
        val batchBands = batchSigs.select(col("id"), col("sig"),
            transform(sequence(lit(0), lit(bands - 1)), b =>
              xxhash64(concat_ws("_", b.cast("string"),
                array_join(slice(col("sig"), b * 2 + 1, lit(2)), "_"))))
              .as("_keys"))
          .select(col("id"), col("sig"), col("_keys"),
            posexplode(col("_keys")).as(Seq("band", "band_hash")))
          .filter(col("band_hash").isNotNull)
        val firstBand = (0 until bands - 1).map { i =>
          (col("q.band") <= i) ||
            !(element_at(col("q._keys"), i + 1) <=>
              element_at(col("c._keys"), i + 1))
        }.reduce(_ && _)
        val matches = batchBands.as("q")
          .join(broadcast(batchBands).as("c"),
            col("q.band") === col("c.band") &&
              col("q.band_hash") === col("c.band_hash") &&
              col("c.id") < col("q.id"))
          .filter(firstBand)
          .select(col("q.id").as("id"), col("c.id").as("cid"),
            graft.functions.VecOps.arrayEqCount(
              col("q.sig"), col("c.sig")).as("n_eq"))
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_cands"),
            max(col("n_eq")).as("best_eq"))
        write("internal_nd_pairjoin", fmt(matches))
      case "internal_ann_probe" =>
        val dir = java.nio.file.Files
          .createTempDirectory("plandump_ann").toString + "/idx"
        val emb = graft.Tables.embeddings(spark, sfDir)
        graft.operators.AnnIndex.build(spark, dir,
          emb.filter(col("vec_id") % 50 =!= 0 && col("vec_id") % 7 =!= 3),
          "vec_id", "embedding",
          graft.operators.IvfCentroids.pinned,
          graft.operators.PqCodebooks.pinned)
        graft.operators.AnnIndex.append(spark, dir,
          emb.filter(col("vec_id") % 50 =!= 0 && col("vec_id") % 7 === 3),
          "vec_id", "embedding")
        val probe = graft.operators.AnnIndex.probe(spark, dir,
          emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          k = 3, nprobe = 2, shortlist = 9)
        write("internal_ann_probe", fmt(probe))
      case name =>
        try {
          val df = graft.SparkEntry.registry(name).fn(spark, sfDir)
          write(name, fmt(df))
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
    }
  }
}
