package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{MergeOps, Unify}
import graft.sources.Sinks

/** CLI surface for the batch ETL path (SURVEY §3.3): raw scraped JSON →
  * unify → quality score → keyed merge into a parquet events table →
  * exports. Re-running with the same input is idempotent (K1).
  *
  * Usage: runMain graft.tools.Ingest <raw.json> <tableDir> [platform] [nowIso]
  */
object Ingest {
  def main(args: Array[String]): Unit = {
    val Array(rawPath, tableDir) = args.take(2)
    val platform = if (args.length > 2) args(2) else "ibiza-spotlight"
    val now = if (args.length > 3) lit(args(3)).cast("timestamp")
              else current_timestamp()
    graft.GraftSession.run() { spark =>
      val raw = spark.read.option("multiLine", true).json(rawPath)
      val unified = Unify.unify(raw, platform, now)
        .transform(df => MergeOps.dedupFirstWins(df, Seq("event_id")))

      val table = s"$tableDir/events"
      // Same FileSystem abstraction as upsertParquet — a java.io.File
      // check silently misses tables on any non-local FS.
      val tablePath = new org.apache.hadoop.fs.Path(table)
      val fs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val existing =
        if (fs.exists(tablePath)) spark.read.parquet(table)
        else unified.limit(0)
      MergeOps.mergeAudit(existing, unified, Seq("event_id")).show()
      MergeOps.upsertParquet(spark, table, unified, Seq("event_id"), "updated_at")

      val events = spark.read.parquet(table)
      println(s"table rows: ${events.count()}")
      events.select(col("event_id"), col("title"), col("venue.name").as("venue"),
        col("datetime.start_date").as("start"),
        col("data_quality.overall_score").as("quality")).orderBy(col("event_id")).show(truncate = false)
      Sinks.exportMarkdown(events, s"$tableDir/report_md")
      Sinks.exportCsv(events, s"$tableDir/export_csv")
    }
  }
}
