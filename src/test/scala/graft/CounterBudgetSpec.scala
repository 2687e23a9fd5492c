package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Curation, IncrementalIngest}

/** Budgets on the counters that repeat exactly for fixed inputs: the
  * Spark jobs and SQL executions one curated-ingest micro-batch runs.
  * Each budget is the count the batch ran when it was set, as a
  * ceiling: a change that adds a job or an execution to the batch
  * fails here, and a change that removes some lowers the budget. */
class CounterBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def rec(title: String, venue: String, time: String, url: String,
      price: String, at: String): String =
    s"""{"title": "$title", "time": "$time", "venue": "$venue",
       | "lineup": [{"name": "Resident DJ", "role": "dj"}],
       | "url": "$url", "genres": ["techno"], "price_text": "$price",
       | "scraped_at": "$at"}""".stripMargin

  private def event(i: Int, at: String): String =
    rec(s"Warehouse Night $i with Special Guests", Seq("pacha", "amnesia",
      "dc10")(i % 3), s"${10 + i % 15} July 2025", s"https://x.com/e/$i",
      s"€${20 + i}", at)

  // batch 1: twelve new events; batch 2: four byte-identical re-scrapes
  // (novelty positives), two price updates, two near-duplicate titles
  // and four new events — every gate path of a steady batch
  private val batch1 = (1 to 12).map(event(_, "2025-06-01T00:00:00"))
  private val batch2 =
    (1 to 4).map(event(_, "2025-06-02T00:00:00")) ++
      (5 to 6).map(i => rec(s"Warehouse Night $i with Special Guests",
        Seq("pacha", "amnesia", "dc10")(i % 3), s"${10 + i} July 2025",
        s"https://x.com/e/$i", "€99", "2025-06-02T00:00:00")) ++
      (7 to 8).map(i => rec(s"Warehouse Night $i with Special Guest",
        "pacha", s"${11 + i} July 2025", s"https://x.com/n/$i", "€30",
        "2025-06-02T00:00:00")) ++
      (13 to 16).map(event(_, "2025-06-02T00:00:00"))

  // ceilings: the second batch's counts at the time they were set
  private val jobBudget = 74
  private val executionBudget = 25

  test("a steady curated-ingest batch stays within its job and SQL " +
      "execution budgets") {
    val dir = Files.createTempDirectory("graft_budget").toFile
    val landing = new java.io.File(dir, "landing"); landing.mkdirs()
    val models = Curation.trainModels(Seq(
      (900L, "warehouse night with special guests and resident djs", "en"),
      (901L, "noche de almacen con invitados especiales", "es"))
      .toDF("doc_id", "text", "lang"))
    val query = IncrementalIngest.start(spark, landing.getAbsolutePath,
      new java.io.File(dir, "table").getAbsolutePath,
      curation = Some(models), autoCompactEvery = 1,
      trigger = Trigger.ProcessingTime(0L))
    val jobs = new AtomicInteger(0)
    val executions = new AtomicInteger(0)
    val runId = query.runId.toString
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(p =>
            p.getProperty("sql.streaming.queryId") == query.id.toString))
          jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.description.contains(runId) => executions.incrementAndGet()
        case _ =>
      }
    }
    def drain(name: String, recs: Seq[String]): Unit = {
      Files.writeString(new java.io.File(landing, s"_$name").toPath,
        recs.mkString("[", ",\n", "]"))
      Files.move(new java.io.File(landing, s"_$name").toPath,
        new java.io.File(landing, name).toPath)
      query.processAllAvailable()
      org.apache.spark.GraftListenerHooks
        .waitUntilListenerBusEmpty(spark.sparkContext)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      drain("b1.json", batch1)
      jobs.set(0); executions.set(0)
      drain("b2.json", batch2)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      query.stop()
    }
    assert(query.exception.isEmpty)
    info(s"second batch: ${jobs.get} jobs, ${executions.get} SQL executions")
    assert(jobs.get <= jobBudget,
      s"${jobs.get} Spark jobs — budget $jobBudget")
    assert(executions.get <= executionBudget,
      s"${executions.get} SQL executions — budget $executionBudget")
  }
}
