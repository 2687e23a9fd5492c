package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.QualityScorer
import graft.schema.EventSchema

/** CLI surface for the scoring path: JSON event documents in, per-event
  * quality summary out (SURVEY §3.2 ingest path, minus scraping).
  *
  * Usage: runMain graft.tools.ScoreEvents <events.json> [nowIso]
  */
object ScoreEvents {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val now = if (args.length > 1) lit(args(1)).cast("timestamp")
              else current_timestamp()
    graft.GraftSession.run() { spark =>
      val events = spark.read.schema(EventSchema.schema)
        .option("multiLine", true).json(path)
      val scored = QualityScorer.withQuality(events, now)
        .select(col("event_id"), col("title"),
          col("data_quality.overall_score").as("overall"),
          QualityScorer.qualityLevel(col("data_quality.overall_score")).as("level"),
          size(col("data_quality.validation_flags")).as("n_flags"))
        .orderBy(col("overall").desc)
      scored.show(50, truncate = false)
    }
  }
}
