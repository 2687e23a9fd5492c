package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.operators.{MergeOps, Unify}

/** Incremental mode (SURVEY §2.13/§7.1 M8): the same
  * unify ∘ score ∘ merge pipeline running under Structured Streaming.
  * The reference upserts per scraped event as crawls land
  * (reference: my_scrapers/unified_scraper.py:622-642); here a landing
  * directory of raw JSON is the stream source and each micro-batch
  * reuses the batch operators verbatim inside foreachBatch — identical
  * semantics, exactly-once per batch via the K1 keyed overwrite.
  */
object IncrementalIngest {

  /** Raw scraped record shape for the stream source (the batch path
    * infers this; streams must declare it).
    */
  val rawSchema: StructType = StructType.fromDDL(
    """title STRING, time STRING, venue STRING,
      |lineup ARRAY<STRUCT<name: STRING, role: STRING, room: STRING>>,
      |url STRING, genres ARRAY<STRING>, price_text STRING,
      |scraped_at STRING""".stripMargin.replace("\n", " "))

  /** Start the incremental pipeline over a landing directory.
    * Trigger.AvailableNow drains what's there and stops — the batch
    * refresh pattern; swap the trigger for continuous ingest.
    *
    * `curation = Some(models)` runs the COMPLETE five-gate chain
    * ([[Curation.curateBatch]]: exact-novelty → near-dup → quality →
    * decontam → LM perplexity) in FLAG-DON'T-DROP posture: each raw
    * record's crawl-invariant payload (every field except scraped_at,
    * as canonical JSON) is the document, its id the full-record hash;
    * the per-record verdict frame lands in `tableDir/curation_log`
    * BEFORE the unify+merge, and the merge still processes the full
    * batch. A re-crawl of byte-identical content thus flags
    * is_novel=0 while the keyed upsert independently converges the
    * table. Flagging, not dropping, is deliberate: the merge's
    * latest-wins semantics must still see re-scrapes whose MUTABLE
    * envelope (scraped_at, url) moved. Gate state lives under
    * `tableDir/curation/{nov,nd}` ([[Curation.gates]]).
    *
    * `curationModelsDir` is the PRODUCTION form of the same knob: a
    * [[Curation.Models.save]] directory maintained on a retrain
    * cadence by a batch job. Models follow the one rule of both
    * curated entries ([[Curation.ModelsHandle]]): explicit models
    * alone stay fixed for the stream's lifetime; a dir alone is loaded
    * at start (fail loud if no complete generation exists) and
    * re-checked once per batch (one manifest read), a mid-stream
    * retrain swap being picked up at the NEXT batch while the
    * in-flight batch keeps the generation it started with; both run
    * the explicit models until the dir holds a complete generation.
    * Verdicts under a loaded dir equal verdicts under the in-memory
    * models bit-exactly (spec-pinned).
    *
    * `bandKeyCap`/`candCap` pass straight through to the curation
    * mode's stage-2 [[graft.operators.NearDupGate]] — the production
    * ingest topology must be able to enable its own scale remedy,
    * exactly as [[Curation.start]] can: uncapped, a hot band key
    * makes per-batch stage-2 cost grow with corpus skew; capped, the
    * pair volume is bounded at batch·bands·cap with shed reported in
    * the gate's verdicts under `tableDir/curation/nd/verdicts`.
    * Defaults (0 / 100000) preserve the exact oracle semantics the
    * ev_stream_ingest_curated row replays. `targetKeyLoad` (default
    * 64 — ON, matching [[Curation.start]]) is the gate's self-sizing
    * cap policy: exact until an auto-compaction measures a band key
    * hotter than the target, then a durable, monotone, shed-reported
    * cap engages at the target — the production posture a deployment
    * inherits without touching a knob; `targetKeyLoad = 0` is the
    * explicit exact-at-any-cost opt-out. Fixture runs never reach an
    * auto-compaction, so the oracle rows are unaffected.
    *
    * `autoCompactEvery` is the shared self-tending cadence: the
    * gates' state tables compact themselves inside every N-th admit,
    * and the PIPELINE-LEVEL `curation_log` — which otherwise
    * accumulates one file set per batch forever at sustained ingest —
    * compacts on the same clock
    * ([[graft.operators.GateOps.compactLog]]: distinct-absorbed
    * replays, one sorted file, crash-ordered swap). `logMergeBytes`
    * > 0 switches the log compaction to compactLog's bounded
    * INCREMENTAL tier (per-tick cost stops growing with stream age
    * once merged epochs seal at the threshold); 0 keeps the
    * wholesale rewrite. Each batch runs under the curated streams'
    * `_last_commit` replay guard ([[Curation.guardedStream]]). */
  def start(spark: SparkSession, landingDir: String, tableDir: String,
      platform: String = "ibiza-spotlight",
      checkpoint: Option[String] = None,
      curation: Option[Curation.Models] = None,
      curationModelsDir: Option[String] = None,
      bandKeyCap: Int = 0, candCap: Int = 100000,
      autoCompactEvery: Int = 16,
      logMergeBytes: Long = 0L,
      targetKeyLoad: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val curate = Curation.resolver(spark, curation, curationModelsDir)
      .map(_ -> Curation.gates(s"$tableDir/curation", autoCompactEvery,
        bandKeyCap, candCap, targetKeyLoad))
    val stream = spark.readStream
      .schema(rawSchema)
      .option("multiLine", true)
      .json(landingDir)
    Curation.guardedStream(stream, tableDir,
        checkpoint.getOrElse(s"$tableDir/_checkpoint"),
        Seq("curation_log" -> None), "graft-incremental-ingest", trigger,
        autoCompactEvery) { (batch, _, tick) =>
      curate.foreach { case (getModels, (cng, cnd)) =>
        // per-batch generation check (no-op unless a retrain landed
        // since the last batch)
        val models = getModels()
        val payloadCols = batch.columns.filterNot(_ == "scraped_at")
        // id = full-record hash, document = the crawl-invariant
        // payload JSON. No dedup here: curateBatch itself repartitions
        // by doc_id at explicit width and dedups — a second pass would
        // just pay the shuffle twice
        val docs = batch.select(
          xxhash64(to_json(struct(batch.columns.map(col): _*)))
            .as("doc_id"),
          to_json(struct(payloadCols.map(col): _*)).as("text"))
        graft.operators.GateOps.writeLog(batch.sparkSession, tableDir,
          "curation_log", "ingest_id", Some(
            Curation.curateBatch(docs, cng, cnd, models)
              .withColumnRenamed("doc_id", "ingest_id")),
          tick, logMergeBytes)
      }
      // Month partition (the TableLayout key) must be STABLE per
      // event_id across re-scrapes, or the partition-pruned merge
      // accumulates cross-month duplicates. Unify coalesces an
      // absent/unparseable start date to SCRAPE time — which varies
      // per crawl — so those rows are routed to the "0000-00"
      // sentinel month instead, detected from the raw evidence: no
      // raw date string at all, or the datetime validation ERROR
      // Unify raises on a failed parse. (A legitimately CHANGED date
      // still moves months — that is reconcileCrossMonthKeys'
      // documented job.)
      val scrapeDated =
        col("datetime.recurring.pattern_description").isNull ||
          col("datetime.recurring.pattern_description") === "" ||
          exists(col("validation_metadata.validation_errors"),
            e => e.getField("field") === "datetime")
      val unified = Unify.unify(batch, platform)
        .transform(df => MergeOps.dedupFirstWins(df, Seq("event_id")))
        .withColumn("start_month",
          when(scrapeDated, lit("0000-00"))
            .otherwise(substring(col("datetime.start_date"), 1, 7)))
        // the merge runs several actions (month collect, staging
        // write) — materialize the unified batch once instead of
        // re-running the Unify projection + dedup shuffle per action
        .localCheckpoint()
      // partition-pruned merge: a micro-batch touches only the months
      // it carries — sustained ingest against a 100 TB table never
      // rewrites the table (the reference's upsert-on-arrival,
      // unified_scraper.py:622-642)
      MergeOps.upsertParquetByMonth(batch.sparkSession,
        s"$tableDir/events", unified, Seq("event_id"), "updated_at")
    }.start()
  }

  /** Streaming hourly event rollup with watermark — the windowed-agg
    * path (batch analog: the ev_hourly_agg oracle query).
    */
  def hourlyRollup(events: DataFrame, tsCol: String): DataFrame =
    events
      .withWatermark(tsCol, "2 hours")
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      // decimal-sum discipline (Tables.decSum): raw double partial
      // sums fold in micro-batch/partition order, so the same input
      // replayed with a different batch split would differ in low
      // bits — exactly the stream-vs-batch divergence the oracle
      // rows guard against
      .agg(count(lit(1)).as("n"),
        graft.Tables.decSum(col("value")).as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming exactly-once-per-key dedup with bounded state: drops
    * duplicate keys arriving within the watermark horizon — the
    * streaming analog of D1 first-wins (late duplicates beyond the
    * watermark age out of the state store instead of growing it
    * forever, which is the property that matters at sustained 100 TB
    * ingest).
    */
  def dedupStream(events: DataFrame, keyCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Custom per-key streaming state: running per-user event counts and
    * latest value via mapGroupsWithState — the
    * KeyValueGroupedDataset state path for aggregates the built-in
    * windowed operators can't express.
    */
  def statefulUserCounts(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    // "latest" is defined by event_id, not iterator order — the group
    // iterator has no order contract (scdType2State documents the same
    // trap), so taking the iterator's last element would make
    // last_value flip nondeterministically with partitioning. value
    // rides as Option so a NULL cell can't kill the stream through the
    // non-nullable Double encoder.
    events
      .selectExpr("user_id", "event_id", "value")
      .as[(Long, Long, Option[Double])]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Option[Double])],
         state: GroupState[(Long, Long, Double)]) =>
          var (n, lastEid, last) = state.getOption.getOrElse((0L, Long.MinValue, 0.0))
          rows.foreach { case (_, eid, v) =>
            n += 1
            if (eid >= lastEid) { lastEid = eid; last = v.getOrElse(0.0) }
          }
          state.update((n, lastEid, last))
          (user, n, last)
      }
      .toDF("user_id", "n_events", "last_value")
  }

  /** Streaming SCD Type-2: per-user state-change intervals maintained
    * incrementally (the streaming twin of
    * [[graft.operators.MergeOps.scdType2]]). State per user =
    * (version, current state, open-interval start). Each batch sorts
    * ITS OWN rows for the user by (ts_sec, event_id) — the group
    * iterator has no order contract — then folds them through the
    * open interval, emitting every interval CLOSED in this batch plus
    * a re-emission of the still-open one (latest-wins downstream,
    * exactly the ev_stream_state pattern). Cross-batch contract: the
    * source must deliver a user's rows in nondecreasing ts order
    * across batches (true of a CDC/file-sequence source; in-batch
    * disorder is handled here) — a regression would surface as a
    * stream≠batch census mismatch in the oracle row.
    */
  def scdType2State(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("user_id", "event_id", "unix_timestamp(ts) AS ts_sec",
        "event_type")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[(Int, String, Long)]) =>
          val sorted = rows.toSeq.sortBy { case (_, eid, ts, _) => (ts, eid) }
          var (ver, cur, since) = state.getOption.getOrElse((0, "", 0L))
          val out = Seq.newBuilder[(Long, Int, String, Long, Option[Long])]
          sorted.foreach { case (_, _, ts, st) =>
            if (ver == 0) { ver = 1; cur = st; since = ts }
            else if (st != cur) {
              out += ((user, ver, cur, since, Some(ts)))
              ver += 1; cur = st; since = ts
            }
          }
          if (ver > 0) {
            out += ((user, ver, cur, since, None))
            state.update((ver, cur, since))
          }
          out.result().iterator
      }
      .toDF("user_id", "version", "state", "since_sec", "valid_to")
  }
}
