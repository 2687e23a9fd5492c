package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HOF-vs-codegen micro-benchmark for the per-row scan kernels, run
  * in ONE session so JVM/JIT/page-cache state is identical for both
  * sides (the ScaleProbe pipelines carry join/shuffle noise with
  * ±25% run-to-run variance — this isolates the per-row compute).
  * Each kernel is timed over an N×-replicated corpus, min of 3 runs,
  * and both sides must produce the same checksum.
  *
  * Usage: runMain graft.tools.MicroBench [factor] [sfDir]
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 20
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    graft.GraftSession.run() { spark =>
      val base = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val docs = (if (factor == 1) base
        else base.crossJoin(broadcast(
            spark.range(factor).select(col("id").as("_rep"))))
          .select((col("doc_id") + col("_rep") * 10000000L).as("doc_id"),
            col("text")))
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
      val rows = docs.count()

      def time(df: DataFrame): (Double, Long) = {
        var best = Double.MaxValue
        var sum = 0L
        for (_ <- 1 to 3) {
          val t0 = System.nanoTime()
          sum = df.head().getLong(0)
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        (best, sum)
      }

      def report(name: String, hof: DataFrame, fast: DataFrame): Unit = {
        val (th, sh) = time(hof)
        val (tf, sf) = time(fast)
        require(sh == sf, s"$name checksum mismatch: hof=$sh fast=$sf")
        println(f"""{"kernel":"$name%s","rows":$rows%d,"hof_sec":$th%.2f,"codegen_sec":$tf%.2f,"speedup":${th / tf}%.1f}""")
      }

      import graft.operators.{Dedup, TextAnalysis}
      report("shingle_hashes",
        docs.select(sum(size(Dedup.shingleHashesHof(col("text"), 3))).as("s")),
        docs.select(sum(size(Dedup.shingleHashes(col("text"), 3))).as("s")))
      report("lang_votes",
        docs.select(sum(element_at(TextAnalysis.langVotesHof(col("text")), 1)).as("s")),
        docs.select(sum(element_at(TextAnalysis.langVotes(col("text")), 1)).as("s")))
      val sigs = docs.select(col("doc_id"),
          Dedup.minhashSignature(col("text"), 64, 3).as("sig"))
        .limit(200000).cache()
      sigs.count()
      val pairs = sigs.as("a").crossJoin(broadcast(
          sigs.limit(20).select(col("sig").as("sig2"))))
      report("sig_eq_count",
        pairs.select(sum(size(filter(
          zip_with(col("sig"), col("sig2"), (x, y) => x === y),
          b => b)).cast("long")).as("s")),
        pairs.select(sum(graft.functions.VecOps
          .arrayEqCount(col("sig"), col("sig2")).cast("long")).as("s")))
    }
  }
}
