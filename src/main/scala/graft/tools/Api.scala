package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.EventQueries

/** CLI surface for the serving-analytics path (SURVEY §3.1): runs the
  * API endpoint queries against an events parquet table.
  *
  * Usage: runMain graft.tools.Api <eventsTable> <endpoint> [args...]
  *   endpoints: events | venues | stats | top | search <term> | upcoming
  */
object Api {
  def main(args: Array[String]): Unit = {
    val table = args(0)
    val endpoint = args(1)
    graft.GraftSession.run() { spark =>
      val ev = spark.read.parquet(table)
      val nowIso = date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'")
      val out = endpoint match {
        case "events" => EventQueries.events(ev, nowIso,
          minQuality = args.lift(2).map(_.toDouble).getOrElse(0.7))
        case "venues" => EventQueries.venues(ev, nowIso)
        case "stats" => EventQueries.qualityStats(ev)
        case "top" => EventQueries.topVenues(ev)
        case "search" => EventQueries.search(ev, args(2), minQuality = 0.0)
        case "upcoming" => EventQueries.upcoming(ev, nowIso,
          days = args.lift(2).map(_.toInt).getOrElse(7), minQuality = 0.0)
        case other => sys.error(s"unknown endpoint: $other " +
          "(expected events|venues|stats|top|search|upcoming)")
      }
      out.show(50, truncate = false)
    }
  }
}
