package perfbench

/** The per-layer metrics of a traced run, each per operation (averaged
  * over the traced operations) unless its name says it is a ratio or a
  * fraction. A layer a workload does not reach reads 0: that is the
  * prediction for it. The full per-operation records, with every
  * counter and each module's self time, are in the side file. */
object Layers {
  private type Op = (String, Outcome, Map[String, Double])

  /** (name, unit): the order of the result line. */
  val names: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_bytes" -> "B", "spark.driver_only_ms" -> "ms",
    "sql.analysis_ms" -> "ms", "sql.optimization_ms" -> "ms", "sql.planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "curation.task_ms" -> "ms", "dedup.task_ms" -> "ms", "mergeops.task_ms" -> "ms",
    "eventqueries.task_ms" -> "ms", "annindex.task_ms" -> "ms",
    "curation.novel_frac" -> "fraction", "curation.neardup_frac" -> "fraction",
    "curation.kept_frac" -> "fraction",
    "mergeops.months_per_batch" -> "count",
    "mergeops.rewrite_bytes_per_input_byte" -> "ratio",
    "sources.files_read" -> "count",
    "grouped_topk.hits" -> "count",
    "annindex.delta_dirs" -> "count", "annindex.rows_scanned_per_result" -> "ratio",
    "annindex.append_ms" -> "ms", "annindex.compact_ms" -> "ms",
    "fs.create" -> "count", "fs.rename" -> "count",
    "fs.list" -> "count", "fs.open" -> "count")

  def metrics(wl: Workload, ops: Seq[Op], fin: Finish): Seq[(String, (Double, String))] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    def ratio(num: Seq[Double], den: Seq[Double]) =
      if (den.sum == 0) 0.0 else num.sum / den.sum
    def layer(o: Op, k: String) = o._3.getOrElse(k, 0.0)
    def extra(o: Op, k: String) = o._2.extra.getOrElse(k, 0.0)
    val probes = ops.filter(_._1 == "probe")
    def value(name: String): Double = name match {
      case "mergeops.months_per_batch" => mean(ops.map(extra(_, "months")))
      case "mergeops.rewrite_bytes_per_input_byte" =>
        ratio(ops.map(extra(_, "rewrite_bytes")), ops.map(extra(_, "input_bytes")))
      case "grouped_topk.hits" =>
        mean(ops.filter(o => wl.topK(o._1)).map(layer(_, "grouped_topk.hits")))
      case "annindex.delta_dirs" => mean(ops.map(extra(_, "delta_dirs")))
      case "annindex.rows_scanned_per_result" =>
        ratio(probes.map(layer(_, "sources.rows_read")), probes.map(extra(_, "rows")))
      case "annindex.append_ms" => mean(ops.filter(_._1 == "append").map(layer(_, "op_ms")))
      case "annindex.compact_ms" => mean(ops.filter(_._1 == "compact").map(layer(_, "op_ms")))
      case n if fin.layers.contains(n) => fin.layers(n)
      case n => mean(ops.map(layer(_, n)))
    }
    names.map { case (n, unit) => n -> (value(n), unit) }
  }
}
