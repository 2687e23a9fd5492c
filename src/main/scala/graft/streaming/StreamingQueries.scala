package graft.streaming

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Oracle-checked queries that drive the REAL Structured Streaming
  * engine (SURVEY §2.13) — not batch analogs. Each query starts a
  * stream over the events parquet with Trigger.AvailableNow (drain
  * everything, then stop), lands results in a memory sink, and returns
  * the sink table; the DuckDB oracle recomputes the same answer from
  * the parquet directly. What this proves: the watermark/window/state
  * machinery produces the batch-equivalent answer on a bounded input —
  * the property incremental pipelines rely on when replaying history.
  *
  * Determinism notes per query matter because AvailableNow may split
  * the input into several micro-batches:
  *  - windowed agg runs in COMPLETE mode → final table is the full
  *    aggregation regardless of batch boundaries;
  *  - dedup holds one state row per key for the whole replay (the
  *    watermark is set beyond the corpus' time span, so no state is
  *    evicted mid-replay and re-emitted later) → exactly one output
  *    row per key under any batch split; which duplicate survives
  *    isn't stable, so the oracle checks counts;
  *  - mapGroupsWithState re-emits a row per key per batch — the MAX of
  *    the monotone running count is the batch-equivalent total.
  */
object StreamingQueries {

  /** The events parquet as a stream, with the same dtype-adaptive ts
    * normalization as Tables.events (streams must declare the schema,
    * so the batch-read schema is probed first; the nanosAsLong conf is
    * a no-op for MICROS-encoded files but required for legacy NANOS).
    */
  private[graft] def eventStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = s.read.parquet(d + "/events.parquet").schema
    // the file stream source wants a DIRECTORY (its basePath); a glob
    // keeps it scoped to the events file inside the shared sf dir.
    // ts normalization is the SHARED batch rule — divergence here would
    // silently break stream-vs-oracle equality.
    T.normalizeEventTs(
      s.readStream.schema(fileSchema).parquet(d + "/events.parque*"))
  }

  /** Fresh per-(prefix, sfDir) output root under target/: deleted on
    * entry so re-runs start clean. */
  private def freshDir(s: SparkSession, prefix: String, d: String): String = {
    val out = new java.io.File("target/" + prefix + "/" +
      d.replaceAll("[^A-Za-z0-9.]", "_")).getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    out
  }

  /** Seed a parquet path with a ZERO-ROW frame of the given schema so
    * post-drain reads work even when every micro-batch was empty and
    * nothing was appended. */
  private def seedEmptyParquet(s: SparkSession, path: String,
      ddl: String): Unit =
    s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .write.mode("overwrite").parquet(path)

  /** Run a streaming DataFrame to completion into a memory sink and
    * return the sink table. The query name doubles as the temp-view
    * name; re-runs overwrite it (the prior query is stopped by then).
    *
    * State partitioning: a stateful stream materializes ONE state
    * store per shuffle partition (a stream-stream join keeps FOUR —
    * two per side) and commits every store every micro-batch, so the
    * per-batch floor cost is proportional to the partition count, not
    * the state volume. The count is frozen into the checkpoint at
    * query start from `spark.sql.shuffle.partitions`, so it is a
    * sizing decision, not an AQE-tunable: size it to peak state volume
    * (at 100 TB you RAISE it so each store's keyspace fits an
    * executor; on these fixtures 32 stores hold a few keys each and
    * the run is pure commit overhead). `statePartitions` pins it for
    * the stream's lifetime and restores the session default after the
    * drain. Every registry oracle here is a partition-count-invariant
    * census (order-free aggregates / commutative sketch merges), so
    * the knob cannot change a compared cell.
    */
  private def drain(s: SparkSession, df: DataFrame, name: String,
      mode: String, statePartitions: Int = 8): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val prior = s.conf.get(key)
    s.conf.set(key, statePartitions.toString)
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally s.conf.set(key, prior)
    s.table(name)
  }

  /** Stage events as THREE parquet files with forced modification-time
    * order so the file source (latestFirst=false sorts by mtime,
    * maxFilesPerTrigger=1) replays them as three micro-batches:
    * (a) the on-time slice; (b) a one-row "tick" (the max-ts on-time
    * row re-sent) — during this batch the watermark from (a) is live,
    * so every closed window is evicted and emitted; (c) the remainder
    * re-timestamped into the past, arriving AFTER eviction. The
    * three-step shape matters: Spark's lateness guarantee is
    * one-directional (data within the delay is never dropped; older
    * data is dropped only once its window's state is gone), so a drop
    * is only observable against already-evicted state. Returns the
    * staging directory. Columns: (event_id, ts) only.
    */
  private def stageLateBatches(s: SparkSession, d: String): String = {
    val stage = new java.io.File("target/stream_late/" +
      d.replaceAll("[^A-Za-z0-9.]", "_")).getAbsolutePath
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    val ev = T.events(s, d).select(col("event_id"), col("ts"))
    val ontime = ev.filter(pmod(col("event_id"), lit(4)) =!= 3)
    val tick = ontime.orderBy(col("ts").desc).limit(1)
    val late = ev.filter(pmod(col("event_id"), lit(4)) === 3)
      .select(col("event_id"), timestamp_micros(unix_micros(col("ts")) -
        when(pmod(col("event_id"), lit(2)) === 1,
          lit(604800000000L)).otherwise(lit(1800000000L))).as("ts"))
    def place(df: org.apache.spark.sql.DataFrame, name: String,
        mtime: Long): Unit = {
      val tmp = s"$stage/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$stage/$name"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      new java.io.File(s"$stage/$name").setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis()
    place(ontime, "a_ontime.parquet", t0 - 180000)
    place(tick, "b_tick.parquet", t0 - 120000)
    place(late, "c_late.parquet", t0 - 60000)
    stage
  }

  val registry: Map[String, QueryDef] = Map(

    // Watermarked 1-hour windowed aggregation (IncrementalIngest
    // .hourlyRollup shape) — complete mode, so the finalized table must
    // equal the batch group-by exactly, decimal-summed for parity.
    "ev_stream_hourly" -> QueryDef(
      (s, d) => {
        val agg = eventStream(s, d)
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), T.decSum(col("value")).as("total_value"))
          .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
            col("event_type"), col("n"), col("total_value"))
        drain(s, agg, "graft_stream_hourly", "complete")
          .orderBy(col("hour"), col("event_type"))
      },
      s"""SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
         |  COUNT(*) AS n, ${T.sqlDecSum("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),

    // Watermarked streaming dedup (IncrementalIngest.dedupStream):
    // exactly one survivor per user; which event survives is
    // arrival-order dependent, so the oracle checks the counts.
    // The watermark must EXCEED the corpus' time span for the
    // batch-equivalence to hold under any micro-batch split — a
    // shorter horizon (the right choice for live bounded-state ingest)
    // may evict a key's state mid-replay and re-emit a late duplicate.
    "ev_stream_dedup" -> QueryDef(
      (s, d) => {
        val deduped = IncrementalIngest.dedupStream(
          eventStream(s, d), "user_id", "ts", watermark = "8760 hours")
        drain(s, deduped, "graft_stream_dedup", "append")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("user_id")).as("n_keys"))
      },
      """SELECT COUNT(DISTINCT user_id) AS n_rows,
        |  COUNT(DISTINCT user_id) AS n_keys
        |FROM events""".stripMargin),

    // Session windows in the REAL engine (the streaming analog of the
    // batch ev_sessionize gap logic): 30-min-gap sessions per user,
    // append mode — only sessions FINALIZED by the watermark are
    // emitted. events.parquet is a single file → a single data
    // micro-batch, so no event is ever late; after it, the watermark
    // advances to max(ts) − 30min and the closing empty batch emits
    // every session whose end (last event + 30min gap) precedes that
    // cutoff. The oracle reproduces exactly that finalization rule, so
    // this row also PINS the semantics (a session still open at drain
    // time is state, not output — the property incremental sessionizers
    // rely on).
    "ev_stream_sessions" -> QueryDef(
      (s, d) => {
        val agg = eventStream(s, d)
          .withWatermark("ts", "30 minutes")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        drain(s, agg, "graft_stream_sessions", "append")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n")).as("n_events"),
            max(col("n")).as("max_session_events"))
          .orderBy(col("user_id"))
      },
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |cutoff AS (
        |  SELECT MAX(ms) - 1800000 AS wm FROM e),
        |g AS (
        |  SELECT user_id, ms, CASE WHEN ms - LAG(ms) OVER
        |      (PARTITION BY user_id ORDER BY ms) >= 1800000
        |      OR LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sid AS (
        |  SELECT user_id, ms, SUM(new_s) OVER
        |    (PARTITION BY user_id ORDER BY ms
        |     ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_id, COUNT(*) AS n,
        |    MAX(ms) + 1800000 AS session_end
        |  FROM sid GROUP BY user_id, session_id)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(n) AS BIGINT) AS n_events,
        |  CAST(MAX(n) AS BIGINT) AS max_session_events
        |FROM sess, cutoff WHERE session_end <= wm
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Stream-static join — the dimension-enrichment-during-ingest
    // shape: each micro-batch of the event stream joins the static
    // customer dim (broadcast — it re-resolves per batch but never
    // shuffles the stream side), then a complete-mode rollup per
    // nation. The finalized table must equal the batch join+group-by.
    "ev_stream_enrich" -> QueryDef(
      (s, d) => {
        val dim = broadcast(T.t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey")))
        val enriched = eventStream(s, d)
          .join(dim, col("user_id") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"), T.decSum(col("value")).as("total_value"))
        drain(s, enriched, "graft_stream_enrich", "complete")
          .orderBy(col("c_nationkey"))
      },
      s"""SELECT c_nationkey, COUNT(*) AS n,
         |  ${T.sqlDecSum("value")} AS total_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1 ORDER BY c_nationkey""".stripMargin),

    // Streaming upsert-on-arrival through the REAL engine: foreachBatch
    // dedupes each micro-batch latest-wins and merges it into the
    // month-partitioned table via the partition-pruned merge (the
    // IncrementalIngest.start shape). Latest-wins on a monotone recency
    // is ORDER-INDEPENDENT, so the final table equals the batch
    // latest-wins answer under ANY micro-batch split — the oracle
    // recomputes exactly that. (The single-file source yields one data
    // batch here; the two-batch split is exercised by the landing-dir
    // ingest spec.)
    "ev_stream_upsert" -> QueryDef(
      (s, d) => {
        val table = new java.io.File("target/stream_upsert/" +
          d.replaceAll("[^A-Za-z0-9.]", "_") + "/events").getAbsolutePath
        val fs = new org.apache.hadoop.fs.Path(table)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(table).getParent, true)
        val stream = eventStream(s, d)
          .select(col("user_id"), col("event_id"), col("value"),
            concat(lit("2025-0"), (col("user_id") % 6 + 1).cast("string"))
              .as("start_month"))
        val q = stream.writeStream
          .queryName("graft_stream_upsert")
          .option("checkpointLocation", s"$table/../_ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col("user_id")).orderBy(col("event_id").desc)
              val deduped = batch.withColumn("_rn", row_number().over(w))
                .filter(col("_rn") === 1).drop("_rn")
              graft.operators.MergeOps.upsertParquetByMonth(
                batch.sparkSession, table, deduped,
                Seq("user_id"), "event_id")
            }
          }
          .start()
        q.awaitTermination()
        s.read.parquet(table)
          .groupBy(col("start_month").cast("string").as("start_month"))
          .agg(count(lit(1)).as("n"),
            max(col("event_id")).as("max_eid"),
            T.decSum(col("value")).as("total"))
          .orderBy(col("start_month"))
      },
      s"""WITH r AS (
         |  SELECT user_id, event_id, value,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |                       ORDER BY event_id DESC) AS rn
         |  FROM events)
         |SELECT '2025-0' || CAST(user_id % 6 + 1 AS VARCHAR) AS start_month,
         |  COUNT(*) AS n,
         |  MAX(event_id) AS max_eid,
         |  ${T.sqlDecSum("value")} AS total
         |FROM r WHERE rn = 1
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Streaming HyperLogLog — the sketch composition streams exist
    // for: HLL registers are a MAX per bucket, so the streaming
    // complete-mode aggregation converges to EXACTLY the batch sketch
    // under any micro-batch split (max is order-independent), and the
    // estimate computed from the drained registers is THE batch code
    // (Sketches.hllEstimateFromRegisters — integer-exact cells, oracle
    // SQL generated from the same constants). Distinct-over-stream
    // with 2^p state — the bounded-memory cardinality monitor at
    // sustained ingest.
    "ev_stream_hll" -> QueryDef(
      (s, d) => {
        val p = 8
        val m = 1 << p
        val wBits = 60 - p
        val regs = eventStream(s, d)
          .select(graft.operators.Dedup
            .portableHash(col("event_id").cast("string"), 15).as("h"))
          .select(col("h").bitwiseAND(lit((m - 1).toLong)).as("bucket"),
            shiftrightunsigned(col("h"), p).as("w"))
          .groupBy(col("bucket"))
          .agg(max(when(col("w") === 0, lit(wBits + 1))
            .otherwise(lit(wBits + 1) - length(bin(col("w")))))
            .as("rho"))
        graft.operators.Sketches.hllEstimateFromRegisters(
          drain(s, regs, "graft_stream_hll", "complete"), p)
      },
      graft.operators.Sketches.hllOracleSql("events", "event_id", p = 8)),

    // Streaming count-min sketch — the additive-sketch counterpart of
    // ev_stream_hll: CMS cells are plain COUNTs, which complete-mode
    // aggregation finalizes to exactly the batch sketch under any
    // micro-batch split (counts are order- and split-independent).
    // The drained d×w cell table then feeds the SAME batch estimator
    // (Sketches.cmsEstimate) and the summary reuses a14_cms_frequency's
    // oracle verbatim — stream sketch == batch sketch, proven by the
    // identical one-row census (zero undercounts, same overestimates).
    // Bounded-memory heavy-hitter monitoring at sustained ingest.
    "ev_stream_cms" -> QueryDef(
      (s, d) => {
        val key = concat(col("user_id").cast("string"), lit(":"),
          col("event_type"))
        val cms = drain(s,
          graft.operators.Sketches.cmsCounts(eventStream(s, d), key,
            d = 4, w = 64),
          "graft_stream_cms", "complete")
        val ev = T.events(s, d)
        val exact = ev.groupBy(key.as("key")).agg(count(lit(1)).as("exact"))
        val est = graft.operators.Sketches.cmsEstimate(cms,
          exact.select(col("key")), col("key"), d = 4, w = 64)
        exact.join(est, "key")
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("est") > col("exact"), 1L).otherwise(0L))
              .as("n_overestimated"),
            sum(when(col("est") < col("exact"), 1L).otherwise(0L))
              .as("n_undercount"),
            max(col("est") - col("exact")).as("max_overestimate"),
            sum(col("exact")).as("sum_exact"),
            sum(col("est")).as("sum_est"))
      },
      """WITH k AS (
        |  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS key
        |  FROM events),
        |exact AS (SELECT key, COUNT(*) AS exact FROM k GROUP BY key),
        |cells AS (
        |  SELECT r.i AS row,
        |    CAST(('0x' || substr(md5('s' || r.i || '|' || key), 1, 15))
        |      AS BIGINT) & 63 AS bucket,
        |    COUNT(*) AS cnt
        |  FROM k, range(0, 4) r(i)
        |  GROUP BY 1, 2),
        |probe AS (
        |  SELECT e.key, r.i AS row,
        |    CAST(('0x' || substr(md5('s' || r.i || '|' || e.key), 1, 15))
        |      AS BIGINT) & 63 AS bucket
        |  FROM exact e, range(0, 4) r(i)),
        |est AS (
        |  SELECT p.key, MIN(COALESCE(c.cnt, 0)) AS est
        |  FROM probe p LEFT JOIN cells c
        |    ON c.row = p.row AND c.bucket = p.bucket
        |  GROUP BY p.key)
        |SELECT COUNT(*) AS n_keys,
        |  CAST(SUM(CASE WHEN est > exact THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_overestimated,
        |  CAST(SUM(CASE WHEN est < exact THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_undercount,
        |  CAST(MAX(est - exact) AS BIGINT) AS max_overestimate,
        |  CAST(SUM(exact) AS BIGINT) AS sum_exact,
        |  CAST(SUM(est) AS BIGINT) AS sum_est
        |FROM exact JOIN est USING (key)""".stripMargin),

    // Streaming histogram-quantile sketch — third of the streaming
    // sketch family (max-mergeable HLL, additive CMS, additive
    // histogram): bin counts finalize to the batch histogram under any
    // micro-batch split, and the drained 64-cell table feeds the SAME
    // batch quantile estimator. p50/p90/p99 over an unbounded stream
    // in constant state.
    "ev_stream_hist" -> QueryDef(
      (s, d) => {
        val hist = drain(s,
          graft.operators.Sketches.histogramCounts(eventStream(s, d),
            col("value"), lo = 0.0, width = 10.0, nBins = 64),
          "graft_stream_hist", "complete")
        graft.operators.Sketches.histogramQuantiles(hist,
          Seq(500, 900, 990), loX100 = 0L, widthX100 = 1000L)
      },
      """WITH h AS (
        |  SELECT LEAST(63, GREATEST(0, CAST(FLOOR(value / 10.0) AS INT)))
        |    AS bin
        |  FROM events),
        |hist AS (SELECT bin, COUNT(*) AS cnt FROM h GROUP BY bin),
        |nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hist),
        |c AS (
        |  SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
        |  FROM hist),
        |q(q_x1000) AS (VALUES (500), (900), (990)),
        |t AS (
        |  SELECT q_x1000, nn.n,
        |    CAST((q_x1000 * nn.n + 999) // 1000 AS BIGINT) AS target_rank
        |  FROM q, nn)
        |SELECT t.q_x1000, t.n, t.target_rank, MIN(c.bin) AS bin,
        |  CAST((MIN(c.bin) + 1) * 1000 AS BIGINT) AS est_hi_x100
        |FROM t JOIN c ON c.cum >= t.target_rank
        |GROUP BY 1, 2, 3 ORDER BY t.q_x1000""".stripMargin),

    // STREAM-STREAM interval join in the real engine: views joined to
    // same-user purchases landing within [view_ts, view_ts + 1 hour],
    // both sides watermarked (the watermark + the interval bound is
    // what lets the engine EVICT join state — without the time-range
    // condition each side's state grows forever). Inner stream-stream
    // joins emit a pair in the first micro-batch where both rows are
    // present and never retract, and the replay-wide watermark means
    // no state is evicted mid-drain, so the drained pair set equals
    // the batch interval join under ANY micro-batch split. The sink
    // table is then batch-aggregated into an order-free census
    // (pair count, distinct converting users, exact integer lag sum).
    "ev_stream_join" -> QueryDef(
      (s, d) => {
        val ev = eventStream(s, d)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("view_ts"))
          .withWatermark("view_ts", "8760 hours")
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"))
          .withWatermark("buy_ts", "8760 hours")
        val joined = views.join(buys,
          col("user_id") === col("buy_user") &&
            col("buy_ts") >= col("view_ts") &&
            col("buy_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
        drain(s, joined, "graft_stream_join", "append")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("user_id")).as("n_users"),
            sum(unix_timestamp(col("buy_ts")) -
              unix_timestamp(col("view_ts"))).as("lag_seconds"))
      },
      """WITH v AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT v.user_id, v.ts AS vts, p.ts AS pts
        |  FROM v JOIN p ON p.user_id = v.user_id
        |    AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
        |SELECT COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(epoch_ms(pts) // 1000 - epoch_ms(vts) // 1000)
        |    AS BIGINT) AS lag_seconds
        |FROM j""".stripMargin),

    // Custom per-key state via mapGroupsWithState (IncrementalIngest
    // .statefulUserCounts): update mode re-emits per batch; the MAX of
    // the monotone running count per user is the total event count.
    "ev_stream_state" -> QueryDef(
      (s, d) => {
        val counted = IncrementalIngest.statefulUserCounts(eventStream(s, d))
        drain(s, counted, "graft_stream_state", "update")
          .groupBy(col("user_id"))
          .agg(max(col("n_events")).as("n_events"))
          .orderBy(col("user_id"))
      },
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Streaming rolling 7-day distinct users: per-(day, bucket) HLL
    // registers as a COMPLETE-mode max aggregation (max is the
    // mergeable sketch op — any batch split produces the same final
    // registers), drained and fed through the SAME rolling-window
    // estimate tail as the batch ev_rolling_mau. Fourth streaming
    // sketch beside HLL/CMS/histogram, and the first windowed one.
    "ev_stream_mau" -> QueryDef(
      (s, d) => {
        val ev = eventStream(s, d)
          .select(expr("unix_millis(ts) div 86400000").as("day"),
            col("user_id"))
        val regs = graft.operators.Sketches.hllRegistersBy(ev,
          col("user_id").cast("string"), Seq("day"), p = 8)
        val drained = drain(s, regs, "graft_stream_mau", "complete")
        val days = drained.select(col("day")).distinct()
        graft.operators.Sketches.hllRollingEstimateBy(drained, days,
            windowDays = 7,
            p = 8)
          .orderBy(col("day"))
      },
      s"""WITH e AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM e),
        |h AS (
        |  SELECT day,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM e),
        |reg AS (
        |  SELECT day, h & 255 AS bucket,
        |    MAX(CASE WHEN (h >> 8) = 0 THEN 53
        |             ELSE 53 - length(bin(h >> 8)) END) AS rho
        |  FROM h GROUP BY 1, 2),
        |rolled AS (
        |  SELECT r.day + t.o AS day, r.bucket, MAX(r.rho) AS rho
        |  FROM reg r CROSS JOIN range(0, 7) AS t(o)
        |  JOIN days dd ON dd.day = r.day + t.o
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT day, COUNT(*) AS n_buckets,
        |    SUM(CAST(1 AS BIGINT) << (53 - rho)) AS present_sum
        |  FROM rolled GROUP BY 1),
        |s AS (
        |  SELECT day, n_buckets,
        |    present_sum + (256 - n_buckets) * CAST(9007199254740992 AS BIGINT)
        |      AS sum_int
        |  FROM agg),
        |e2 AS (
        |  SELECT day, n_buckets, 256 - n_buckets AS zeros,
        |    CAST(${graft.operators.Sketches.estConstant(8)} // sum_int
        |      AS BIGINT) AS raw_x100
        |  FROM s)
        |SELECT day, CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CASE WHEN raw_x100 <= 64000 AND zeros > 0
        |       THEN CAST(list_extract(
        |              ${graft.operators.Sketches.linearTableSql(256)},
        |              CAST(zeros AS INT)) AS BIGINT)
        |       ELSE raw_x100 END AS hll_estimate_x100
        |FROM e2 ORDER BY day""".stripMargin),

    // Streaming SCD Type-2 (IncrementalIngest.scdType2State): the
    // dimension intervals maintained incrementally per user, then
    // reduced latest-wins per (user, version) — max(valid_to) ignores
    // the open re-emissions — and rolled into the SAME census as the
    // batch build. Oracle: identical SQL to k7_scd2_census, so the
    // row proves stream == batch on interval structure, durations,
    // and version numbering, not just cardinality.
    "ev_stream_scd2" -> QueryDef(
      (s, d) => {
        val dim = IncrementalIngest.scdType2State(eventStream(s, d))
        drain(s, dim, "graft_stream_scd2", "update")
          .groupBy(col("user_id"), col("version"))
          .agg(min(col("state")).as("state"),
            min(col("since_sec")).as("ts_sec"),
            max(col("valid_to")).as("valid_to"))
          .groupBy(col("state"))
          .agg(count(lit(1)).as("n_intervals"),
            sum(when(col("valid_to").isNull, 1L).otherwise(0L))
              .as("n_current"),
            sum(when(col("valid_to").isNotNull,
              col("valid_to") - col("ts_sec")).otherwise(0L))
              .as("closed_duration_sum"),
            sum(col("version")).as("version_checksum"))
          .orderBy(col("state"))
      },
      """WITH log AS (
        |  SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ts_sec,
        |    event_type AS state
        |  FROM events),
        |m AS (
        |  SELECT *, LAG(state) OVER (PARTITION BY user_id
        |    ORDER BY ts_sec, event_id) AS prev
        |  FROM log),
        |chg AS (
        |  SELECT user_id, event_id, ts_sec, state FROM m
        |  WHERE prev IS NULL OR prev <> state),
        |dim AS (
        |  SELECT state,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts_sec, event_id) AS version,
        |    ts_sec,
        |    LEAD(ts_sec) OVER (PARTITION BY user_id
        |      ORDER BY ts_sec, event_id) AS valid_to
        |  FROM chg)
        |SELECT state, COUNT(*) AS n_intervals,
        |  CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_current,
        |  CAST(SUM(CASE WHEN valid_to IS NOT NULL
        |    THEN valid_to - ts_sec ELSE 0 END) AS BIGINT)
        |    AS closed_duration_sum,
        |  CAST(SUM(version) AS BIGINT) AS version_checksum
        |FROM dim GROUP BY 1 ORDER BY 1""".stripMargin),

    // Streaming LM-perplexity quality filter — the CCNet pattern as a
    // STANDING corpus gate: the reference bigram table is trained ONCE
    // batch-side (even-id half, localCheckpointed — at 100 TB this is
    // the periodically-retrained reference model every scoring batch
    // shares), then each micro-batch of arriving documents is scored
    // STATELESSLY in foreachBatch (a document's bigrams live entirely
    // inside its own row, so per-doc totals never span batches — no
    // streaming state at all, the property that makes this form scale:
    // state is zero regardless of stream history) and the verdicts
    // append to a parquet sink. The final census is order-free
    // (counts/sums over the sink), so it equals the batch
    // ta_lm_quality_filter arithmetic under ANY micro-batch split —
    // which is exactly what the oracle recomputes.
    "ev_stream_lm_filter" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_lm", d)
        import graft.operators.{LmScore, TextAnalysis}
        def toks(df: DataFrame): DataFrame = df
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
        val lm = LmScore.trainBigramTable(LmScore.bigrams(
          toks(T.documents(s, d)).filter(col("doc_id") % 2 === 0)))
        // an all-empty replay (all-even-id or empty corpus) must yield
        // the n_docs=0 census the oracle computes, not a missing-path
        // read failure
        seedEmptyParquet(s, s"$out/scored",
          "doc_id BIGINT, n_bigrams BIGINT, total_bits BIGINT, " +
            "bits_per_bigram_x1e3 BIGINT, kept INT")
        val fileSchema = s.read.parquet(d + "/documents.parquet").schema
        val stream = s.readStream.schema(fileSchema)
          .parquet(d + "/documents.parque*")
          .filter(col("doc_id") % 2 === 1)
        val q = stream.writeStream.queryName("graft_stream_lm")
          .option("checkpointLocation", s"$out/_ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              LmScore.scoreDocs(LmScore.bigrams(toks(batch)), lm)
                .withColumn("bits_per_bigram_x1e3",
                  expr("total_bits * 1000 div n_bigrams"))
                .withColumn("kept",
                  (col("bits_per_bigram_x1e3") < 12000).cast("int"))
                .write.mode("append").parquet(s"$out/scored")
            }
          }
          .start()
        q.awaitTermination()
        s.read.parquet(s"$out/scored")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("kept").cast("long")).as("n_kept"),
            sum(col("n_bigrams")).as("sum_bigrams"),
            sum(col("total_bits")).as("sum_bits"),
            sum(col("doc_id") * col("kept")).as("kept_id_checksum"))
      },
      """WITH d0 AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
        |    FROM d0 WHERE len(t) >= 2)
        |  WHERE b.w1 <> '' AND b.w2 <> ''),
        |n AS (
        |  SELECT w1, w2, COUNT(*) AS n
        |  FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |lm AS (
        |  SELECT w1, w2, n,
        |    CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS c1
        |  FROM n),
        |costs AS (
        |  SELECT bg.doc_id,
        |    CASE WHEN lm.n IS NULL THEN 20
        |         ELSE length(bin(lm.c1 // lm.n)) - 1 END AS bits
        |  FROM bg LEFT JOIN lm USING (w1, w2)
        |  WHERE bg.doc_id % 2 = 1),
        |sc AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(bits) AS BIGINT) AS total_bits
        |  FROM costs GROUP BY 1),
        |v AS (
        |  SELECT doc_id, n_bigrams, total_bits,
        |    CASE WHEN total_bits * 1000 // n_bigrams < 12000
        |      THEN 1 ELSE 0 END AS kept
        |  FROM sc)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams,
        |  CAST(SUM(total_bits) AS BIGINT) AS sum_bits,
        |  CAST(SUM(doc_id * kept) AS BIGINT) AS kept_id_checksum
        |FROM v""".stripMargin),

    // Streaming novelty dedup against a PERSISTENT fingerprint table —
    // the standing ingest gate of a training-corpus pipeline: each
    // arriving micro-batch keeps only documents whose exact
    // fingerprint (md5 of whitespace-normalized text, the
    // dd_exact_fingerprint rule) is not yet in the on-disk table,
    // then appends the novel fingerprints. Distinct from
    // ev_stream_dedup (engine state-store dropDuplicates — state
    // bounded by the watermark horizon) and dd_incremental_novel
    // (batch anti-join): here the dedup memory is a durable TABLE
    // that outlives the stream, which is how corpus ingest actually
    // remembers history across runs. Since r12 the table runs the
    // 100 TB layout its scaladoc always prescribed: fp-prefix
    // PARTITIONED data behind a Bloom bitmap front (the standing
    // graft.operators.NoveltyGate below), so a batch probe costs
    // O(batch) bloom tests plus only its possible-members' co-located
    // buckets — the ScaleProbe `noveltyb` row measures the per-batch
    // cost flat as the table grows. The final census (novel count =
    // distinct fingerprints, plus an order-free checksum over them)
    // is micro-batch-split invariant:
    // whichever batch sees a fingerprint first claims it, and the
    // SET of fingerprints is split-independent.
    "ev_stream_novelty" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_novelty", d)
        val fpTable = s"$out/fingerprints"
        val fileSchema = s.read.parquet(d + "/documents.parquet").schema
        val stream = s.readStream.schema(fileSchema)
          .parquet(d + "/documents.parque*")
        // ONE gate instance for the stream's lifetime: foreachBatch
        // closures run on the driver, so the gate's cached Bloom
        // words load once and fold each batch's delta in-memory —
        // per-batch cost independent of stream history.
        val gate = new graft.operators.NoveltyGate(fpTable)
        val q = stream.writeStream.queryName("graft_stream_novelty")
          .option("checkpointLocation", s"$out/_ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) gate.admit(batch)
          }
          .start()
        q.awaitTermination()
        val raw = T.documents(s, d).agg(count(lit(1)).as("n_docs"))
        // distinct BEFORE the census, not count(*): foreachBatch is
        // at-least-once, so a crash between sink append and offset
        // commit can leave a duplicated append in the table — the
        // census must not inherit that corruption (readBucketed-
        // Fingerprints also yields the empty typed frame on an
        // all-empty replay, which must census n=0, not fail). Null
        // fps are excluded (a null doc has no identity; it lands in
        // the duplicates remainder), and the checksum sums the hash
        // of each DISTINCT fp — the oracle's exact shape.
        graft.operators.Dedup.readBucketedFingerprints(s, fpTable)
          .filter(col("fp").isNotNull).distinct()
          .agg(count(lit(1)).as("n_novel"),
            sum(graft.operators.Dedup.portableHash(col("fp"), 10))
              .as("fp_checksum"))
          .crossJoin(broadcast(raw))
          .select(col("n_docs"), col("n_novel"),
            (col("n_docs") - col("n_novel")).as("n_duplicates"),
            col("fp_checksum"))
      },
      """WITH f AS (
        |  SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |dd AS (SELECT DISTINCT fp FROM f WHERE fp IS NOT NULL)
        |SELECT (SELECT COUNT(*) FROM f) AS n_docs,
        |  COUNT(*) AS n_novel,
        |  CAST((SELECT COUNT(*) FROM f) - COUNT(*) AS BIGINT)
        |    AS n_duplicates,
        |  CAST(SUM(CAST(('0x' || substr(md5(fp), 1, 10)) AS BIGINT))
        |    AS BIGINT) AS fp_checksum
        |FROM dd""".stripMargin),

    // Streaming NEAR-dup gate — the novelty gate's sibling and the
    // filter real corpus ingest actually runs: exact fingerprints
    // catch byte-identical re-crawls, but boilerplate re-posts differ
    // by a timestamp — each micro-batch probes a PERSISTENT MinHash
    // signature table (the durable dedup memory, banded per batch
    // into an index probe with the batch side broadcast) plus its own
    // smaller-id predecessors, appends per-doc verdicts, and extends
    // the table (graft.operators.NearDupGate — see there for the
    // split-invariance argument: verdict(d) = "agrees ≥16/32
    // signature positions with ANY earlier-seen doc", identical under
    // any id-ordered batch split; StreamingStateSpec stages the
    // two-batch replay and pins cross-batch detection). Oracle:
    // dd_incremental_neardup's portable-signature SQL with the
    // corpus/batch split generalized to "all smaller-id docs".
    "ev_stream_neardup" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_neardup", d)
        val fileSchema = s.read.parquet(d + "/documents.parquet").schema
        val stream = s.readStream.schema(fileSchema)
          .parquet(d + "/documents.parque*")
        // ONE gate for the stream's lifetime (the NoveltyGate
        // protocol): the band-hash Bloom loads once and each batch's
        // delta folds in-memory, so per-batch cost is flat in corpus
        // size — see NearDupGate's scaladoc for the full cost model.
        val gate = new graft.operators.NearDupGate(out)
        val q = stream.writeStream.queryName("graft_stream_neardup")
          .option("checkpointLocation", s"$out/_ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) gate.admit(batch, "doc_id", "text")
          }
          .start()
        q.awaitTermination()
        // distinct absorbs an at-least-once verdict replay (identical
        // rows) — same read-side stance as the novelty census
        s.read.parquet(s"$out/verdicts").distinct()
          .select(col("id"), col("n_cands"), col("best_eq"),
            col("is_neardup"))
          .orderBy(col("id"))
      },
      {
        val coeffs = graft.operators.Dedup.portableCoeffs(32)
          .zipWithIndex
          .map { case ((a, b), i) => s"($i, ${a}, ${b})" }
          .mkString(", ")
        s"""WITH coeffs(i, a, b) AS (VALUES $coeffs),
           |sh AS (
           |  SELECT doc_id,
           |    list_distinct(string_split_regex(trim(text), '\\s+')) AS shingles
           |  FROM documents),
           |vals AS (
           |  SELECT doc_id, i,
           |    list_min(list_transform(shingles,
           |      s -> (CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT) * a + b)
           |           % 2147483647)) AS v
           |  FROM sh, coeffs),
           |sig AS (SELECT doc_id, list(v ORDER BY i) AS sig
           |        FROM vals GROUP BY doc_id),
           |bands AS (
           |  SELECT doc_id, b, sig[2*b + 1 : 2*b + 2] AS sl
           |  FROM sig, range(0, 16) r(b)),
           |cand AS (
           |  SELECT DISTINCT q.doc_id AS id, c.doc_id AS cid
           |  FROM bands q JOIN bands c
           |    ON q.b = c.b AND q.sl = c.sl AND c.doc_id < q.doc_id),
           |eq AS (
           |  SELECT cand.id, cand.cid,
           |    len(list_filter(range(1, 33), i -> s1.sig[i] = s2.sig[i]))
           |      AS n_eq
           |  FROM cand
           |  JOIN sig s1 ON s1.doc_id = cand.id
           |  JOIN sig s2 ON s2.doc_id = cand.cid),
           |agg AS (SELECT id, COUNT(*) AS n_cands,
           |               MAX(n_eq) AS best_eq FROM eq GROUP BY id)
           |SELECT d.doc_id AS id,
           |  COALESCE(a.n_cands, 0) AS n_cands,
           |  CAST(COALESCE(a.best_eq, 0) AS BIGINT) AS best_eq,
           |  CAST(COALESCE(a.best_eq, 0) >= 16 AS INTEGER) AS is_neardup
           |FROM (SELECT doc_id FROM documents) d
           |LEFT JOIN agg a ON a.id = d.doc_id
           |ORDER BY id""".stripMargin
      }),

    // The CAPPED near-dup gate — the production configuration of the
    // row above, with the per-band-key candidate cap on (8) so a hot
    // band key contributes at most its 8 earliest-seen sharers per
    // probe. This is the 100 TB posture (per-batch pair volume
    // bounded at batch·bands·cap regardless of corpus skew) and the
    // oracle pins its EXACT semantics cross-engine: candidates =
    // rank ≤ 8 per (band, slice) in id order, shed REPORTED per doc
    // as n_capped_keys (count of its keys whose sharer list was
    // truncated — never silent). On this fixture the cap is also the
    // measured answer to the uncapped row's cost: the 12M genuine
    // candidate pairs the exact semantics require collapse to ≤
    // batch·bands·cap. Caveat pinned here: capped "earliest-seen per
    // key" composes PER-PROBE (the index kept-set plus the batch
    // kept-set — up to 2×cap for a doc whose key straddles the
    // split), so the global-rank oracle replays it exactly only under
    // SINGLE-BATCH arrival — the fixture's shape (one file, one
    // batch). Under a multi-batch split the gate's verdicts remain
    // deterministic and replay-stable; they are simply the per-probe
    // composition rather than the global rank.
    "ev_stream_neardup_capped" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_neardup_cap", d)
        val fileSchema = s.read.parquet(d + "/documents.parquet").schema
        val stream = s.readStream.schema(fileSchema)
          .parquet(d + "/documents.parque*")
        val gate = new graft.operators.NearDupGate(out, bandKeyCap = 8)
        val q = stream.writeStream
          .queryName("graft_stream_neardup_cap")
          .option("checkpointLocation", s"$out/_ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) gate.admit(batch, "doc_id", "text")
          }
          .start()
        q.awaitTermination()
        s.read.parquet(s"$out/verdicts").distinct()
          .select(col("id"), col("n_cands"), col("best_eq"),
            col("is_neardup"), col("n_capped_keys"))
          .orderBy(col("id"))
      },
      {
        val coeffs = graft.operators.Dedup.portableCoeffs(32)
          .zipWithIndex
          .map { case ((a, b), i) => s"($i, ${a}, ${b})" }
          .mkString(", ")
        s"""WITH coeffs(i, a, b) AS (VALUES $coeffs),
           |sh AS (
           |  SELECT doc_id,
           |    list_distinct(string_split_regex(trim(text), '\\s+')) AS shingles
           |  FROM documents),
           |vals AS (
           |  SELECT doc_id, i,
           |    list_min(list_transform(shingles,
           |      s -> (CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT) * a + b)
           |           % 2147483647)) AS v
           |  FROM sh, coeffs),
           |sig AS (SELECT doc_id, list(v ORDER BY i) AS sig
           |        FROM vals GROUP BY doc_id),
           |bands AS (
           |  SELECT doc_id, b, sig[2*b + 1 : 2*b + 2] AS sl
           |  FROM sig, range(0, 16) r(b)),
           |ranked AS (
           |  SELECT doc_id, b, sl,
           |    ROW_NUMBER() OVER (PARTITION BY b, sl ORDER BY doc_id)
           |      AS rk,
           |    COUNT(*) OVER (PARTITION BY b, sl) AS ksize
           |  FROM bands
           |  WHERE sl[1] IS NOT NULL AND sl[2] IS NOT NULL),
           |cand AS (
           |  SELECT DISTINCT q.doc_id AS id, c.doc_id AS cid
           |  FROM bands q JOIN ranked c
           |    ON q.b = c.b AND q.sl = c.sl AND c.rk <= 8
           |      AND c.doc_id < q.doc_id),
           |eq AS (
           |  SELECT cand.id, cand.cid,
           |    len(list_filter(range(1, 33), i -> s1.sig[i] = s2.sig[i]))
           |      AS n_eq
           |  FROM cand
           |  JOIN sig s1 ON s1.doc_id = cand.id
           |  JOIN sig s2 ON s2.doc_id = cand.cid),
           |agg AS (SELECT id, COUNT(*) AS n_cands,
           |               MAX(n_eq) AS best_eq FROM eq GROUP BY id),
           |capk AS (
           |  SELECT doc_id, COUNT(*) AS n_capped
           |  FROM ranked WHERE ksize > 8 GROUP BY doc_id)
           |SELECT d.doc_id AS id,
           |  COALESCE(a.n_cands, 0) AS n_cands,
           |  CAST(COALESCE(a.best_eq, 0) AS BIGINT) AS best_eq,
           |  CAST(COALESCE(a.best_eq, 0) >= 16 AS INTEGER) AS is_neardup,
           |  CAST(COALESCE(k.n_capped, 0) AS BIGINT) AS n_capped_keys
           |FROM (SELECT doc_id FROM documents) d
           |LEFT JOIN agg a ON a.id = d.doc_id
           |LEFT JOIN capk k ON k.doc_id = d.doc_id
           |ORDER BY id""".stripMargin
      }),

    // Streaming QUALITY gate — the composed standing filter real
    // corpus ingest runs after dedup: the Gopher rule census
    // (ta_gopher_filter) and the Naive Bayes classifier
    // (ta_nb_classifier) applied per arriving document under
    // foreachBatch. Both stages are stateless per row (rule inputs
    // are per-row array folds; the NB model is the batch-trained,
    // localCheckpointed count table + priors every batch shares — at
    // 100 TB the periodically-retrained reference model), so there is
    // ZERO streaming state and the order-free census equals the batch
    // arithmetic under any micro-batch split — the ev_stream_lm_filter
    // property, completing the standing-filter family (exact dedup,
    // near-dup, LM perplexity, rules + classifier). kept = passes all
    // five Gopher rules AND classifier says in-domain; a doc with no
    // non-empty tokens has no NB evidence and scores pred=0 in both
    // engines (COALESCE), while Gopher's word-count rule already
    // fails it.
    "ev_stream_quality_gate" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_qgate", d)
        import graft.operators.{TextAnalysis, TextClassify}
        def withLabel(df: DataFrame): DataFrame = df.select(
          col("doc_id"), col("text"),
          when(col("lang") === "en", 1).otherwise(0).as("y"))
        def tokOf(df: DataFrame): DataFrame = withLabel(df)
          .select(col("doc_id"), col("y"),
            explode(TextAnalysis.tokens(col("text"))).as("token"))
          .filter(col("token") =!= "")
        val train = T.documents(s, d).filter(col("doc_id") % 2 === 0)
        val counts = TextClassify.nbTrainCounts(tokOf(train))
        val priors = withLabel(train)
          .agg(sum("y").as("d1"), sum(lit(1) - col("y")).as("d0"))
          .localCheckpoint()
        seedEmptyParquet(s, s"$out/scored",
          "doc_id BIGINT, gopher_pass INT, gopher_bits INT, " +
            "pred INT, kept INT")
        val fileSchema = s.read.parquet(d + "/documents.parquet").schema
        val stream = s.readStream.schema(fileSchema)
          .parquet(d + "/documents.parque*")
          .filter(col("doc_id") % 2 === 1)
        val q = stream.writeStream.queryName("graft_stream_qgate")
          .option("checkpointLocation", s"$out/_ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              val rules = TextClassify
                .gopherMetrics(batch, keyCols = Seq("doc_id"))
                .select(col("doc_id"),
                  TextClassify.gopherPassCol.cast("int").as("gopher_pass"),
                  TextClassify.gopherBitsCol.cast("int").as("gopher_bits"))
              val pred = TextClassify.nbPredict(tokOf(batch), counts, priors)
                .select(col("doc_id"), col("pred"))
              rules.join(pred, Seq("doc_id"), "left")
                .select(col("doc_id"), col("gopher_pass"),
                  col("gopher_bits"),
                  coalesce(col("pred"), lit(0)).as("pred"))
                .withColumn("kept",
                  (col("gopher_pass") === 1 && col("pred") === 1)
                    .cast("int"))
                .write.mode("append").parquet(s"$out/scored")
            }
          }
          .start()
        q.awaitTermination()
        s.read.parquet(s"$out/scored")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("gopher_pass").cast("long")).as("n_gopher_pass"),
            // every per-doc rule verdict pinned even where the
            // all-rules conjunction never fires on the fixture
            sum(col("doc_id") * col("gopher_bits")).as("rule_bits_checksum"),
            sum(col("pred").cast("long")).as("n_pred_en"),
            sum(col("doc_id") * col("pred")).as("pred_id_checksum"),
            sum(col("kept").cast("long")).as("n_kept"),
            sum(col("doc_id") * col("kept")).as("kept_id_checksum"))
      },
      """WITH docs AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, y, token FROM (
        |    SELECT doc_id, y, unnest(t) AS token FROM docs)
        |  WHERE token <> ''),
        |counts AS (
        |  SELECT token, CAST(SUM(y) AS BIGINT) AS n1,
        |    CAST(SUM(1 - y) AS BIGINT) AS n0
        |  FROM tk WHERE doc_id % 2 = 0 GROUP BY token),
        |totals AS (
        |  SELECT CAST(SUM(n1) AS BIGINT) AS tn1,
        |    CAST(SUM(n0) AS BIGINT) AS tn0, COUNT(*) AS v
        |  FROM counts),
        |priors AS (
        |  SELECT CAST(SUM(y) AS BIGINT) AS d1,
        |    CAST(SUM(1 - y) AS BIGINT) AS d0
        |  FROM docs WHERE doc_id % 2 = 0),
        |b AS (
        |  SELECT t.doc_id,
        |    length(bin((tt.tn1 + tt.v) // (COALESCE(c.n1, 0) + 1))) - 1
        |      AS b1,
        |    length(bin((tt.tn0 + tt.v) // (COALESCE(c.n0, 0) + 1))) - 1
        |      AS b0
        |  FROM tk t LEFT JOIN counts c USING (token) CROSS JOIN totals tt
        |  WHERE t.doc_id % 2 = 1),
        |sc AS (
        |  SELECT doc_id, CAST(SUM(b1) AS BIGINT) AS bits1,
        |    CAST(SUM(b0) AS BIGINT) AS bits0
        |  FROM b GROUP BY 1),
        |gw AS (
        |  SELECT doc_id, list_filter(
        |    COALESCE(string_split_regex(trim(lower(text)), '\s+'), []),
        |    x -> x <> '') AS w
        |  FROM documents WHERE doc_id % 2 = 1),
        |m AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
        |    CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
        |      AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(w,
        |      x -> contains(x, '#') OR contains(x, '...')))
        |      AS BIGINT) AS n_sym,
        |    (CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END)
        |      AS stop_hits
        |  FROM gw),
        |verdicts AS (
        |  SELECT m.doc_id,
        |    CASE WHEN m.n >= 50 AND m.n <= 100000
        |      AND m.sum_len >= m.n * 3 AND m.sum_len <= m.n * 10
        |      AND m.n_alpha * 5 >= m.n * 4 AND m.n_sym * 10 <= m.n
        |      AND m.stop_hits >= 2 THEN 1 ELSE 0 END AS gopher_pass,
        |    (CASE WHEN m.n >= 50 AND m.n <= 100000 THEN 16 ELSE 0 END
        |     + CASE WHEN m.sum_len >= m.n * 3 AND m.sum_len <= m.n * 10
        |         THEN 8 ELSE 0 END
        |     + CASE WHEN m.n_alpha * 5 >= m.n * 4 THEN 4 ELSE 0 END
        |     + CASE WHEN m.n_sym * 10 <= m.n THEN 2 ELSE 0 END
        |     + CASE WHEN m.stop_hits >= 2 THEN 1 ELSE 0 END)
        |      AS gopher_bits,
        |    COALESCE(CASE WHEN sc.bits1
        |          + (length(bin((p.d1 + p.d0) // p.d1)) - 1)
        |        < sc.bits0 + (length(bin((p.d1 + p.d0) // p.d0)) - 1)
        |      THEN 1 ELSE 0 END, 0) AS pred
        |  FROM m LEFT JOIN sc ON sc.doc_id = m.doc_id
        |  CROSS JOIN priors p)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(gopher_pass) AS BIGINT) AS n_gopher_pass,
        |  CAST(SUM(doc_id * gopher_bits) AS BIGINT) AS rule_bits_checksum,
        |  CAST(SUM(pred) AS BIGINT) AS n_pred_en,
        |  CAST(SUM(doc_id * pred) AS BIGINT) AS pred_id_checksum,
        |  CAST(SUM(CASE WHEN gopher_pass = 1 AND pred = 1
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(doc_id * CASE WHEN gopher_pass = 1 AND pred = 1
        |    THEN 1 ELSE 0 END) AS BIGINT) AS kept_id_checksum
        |FROM verdicts""".stripMargin),

    // Streaming DECONTAMINATION gate — the benchmark-leak guard as a
    // standing filter (the last member of the ingest-filter family:
    // exact dedup, near-dup, LM perplexity, rules+classifier, and
    // now eval-set exclusion). The eval set's distinct 13-gram md5
    // index is the fixed reference artifact built ONCE batch-side
    // (localCheckpointed, broadcast into every batch — the
    // ev_stream_lm_filter pattern: at 100 TB this is the pinned
    // benchmark index every ingest worker shares); each arriving
    // micro-batch of training documents joins its per-doc distinct
    // grams against it STATELESSLY (a doc's grams live entirely in
    // its own row — zero streaming state, so the order-free census
    // equals etl_decontaminate_exact's arithmetic under any split).
    // A doc sharing ANY verbatim 13-token window with the eval set
    // is flagged; n_shared counts its (gram, eval-doc) collisions.
    "ev_stream_decontam" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_decontam", d)
        import graft.operators.Dedup
        // per-DOC distinct grams (array_distinct — a per-row fold, no
        // shuffle), matching the oracle's list_distinct: a doc that
        // repeats a 13-gram contributes it once
        def gramArr = when(
          size(Dedup.tokens(col("text"))) >= 13,
          Dedup.md5Shingles(col("text"), 13))
          .otherwise(array().cast("array<string>"))
        // NOT globally distinct: the oracle's sh CTE counts
        // (gram, eval-doc) pairs, so a gram appearing in two eval docs
        // must join twice per matching train gram — eval-doc
        // multiplicity is the payload here
        val evalGrams = T.documents(s, d)
          .filter(col("doc_id") >= 400 && col("doc_id") < 500)
          .select(explode(gramArr).as("g"))
          .localCheckpoint()
        seedEmptyParquet(s, s"$out/scored",
          "doc_id BIGINT, n_shared BIGINT, contaminated INT")
        val fileSchema = s.read.parquet(d + "/documents.parquet").schema
        val stream = s.readStream.schema(fileSchema)
          .parquet(d + "/documents.parque*")
          .filter(col("doc_id") < 400)
        val q = stream.writeStream.queryName("graft_stream_decontam")
          .option("checkpointLocation", s"$out/_ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              val hits = batch
                .select(col("doc_id"), explode(gramArr).as("g"))
                .join(broadcast(evalGrams), "g")
                .groupBy(col("doc_id"))
                .agg(count(lit(1)).as("n_shared"))
              batch.select(col("doc_id"))
                .join(hits, Seq("doc_id"), "left")
                .select(col("doc_id"),
                  coalesce(col("n_shared"), lit(0L)).as("n_shared"))
                .withColumn("contaminated",
                  (col("n_shared") > 0).cast("int"))
                .write.mode("append").parquet(s"$out/scored")
            }
          }
          .start()
        q.awaitTermination()
        s.read.parquet(s"$out/scored").distinct()
          .agg(count(lit(1)).as("n_docs"),
            sum(col("contaminated").cast("long")).as("n_contaminated"),
            sum(col("n_shared")).as("shared_pairs_sum"),
            sum(col("doc_id") * col("contaminated"))
              .as("contaminated_id_checksum"))
      },
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 11),
        |      i -> md5(array_to_string(w[i:i+12], ' '))))) AS g
        |  FROM tk),
        |sh AS (
        |  SELECT t.doc_id AS id, COUNT(*) AS n_shared
        |  FROM g t JOIN g e ON t.g = e.g
        |  WHERE t.doc_id < 400 AND e.doc_id >= 400 AND e.doc_id < 500
        |  GROUP BY 1),
        |v AS (
        |  SELECT d.doc_id, COALESCE(sh.n_shared, 0) AS n_shared
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 400) d
        |  LEFT JOIN sh ON sh.id = d.doc_id)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contaminated,
        |  CAST(SUM(n_shared) AS BIGINT) AS shared_pairs_sum,
        |  CAST(SUM(doc_id * CASE WHEN n_shared > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS contaminated_id_checksum
        |FROM v""".stripMargin),

    // Streaming EMBEDDING near-dup gate — the last member of the
    // standing-gate family: arriving vectors are checked against the
    // seen corpus through a persistent hyperplane sign-band index
    // (graft.operators.EmbedNearDupGate — the NearDupGate band-table
    // architecture with MinHash bands generalized to the pinned
    // seed-7 hyperplane family the sim_* oracles embed as literals,
    // and the Bloom front replaced by an EXACT driver key set, since
    // a sign-band keyspace is bands·2^rowBits by construction).
    // Verdict: near-dup iff cosine ≥ 0.5 with any earlier-seen vector
    // sharing a band. The oracle replays the whole chain bit-exactly
    // (left-fold dots per sim_cosine_fast). Split-invariant census
    // under id-ordered arrival, as for ev_stream_neardup.
    "ev_stream_embed_neardup" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_embed_nd", d)
        val fileSchema = s.read.parquet(d + "/embeddings.parquet").schema
        graft.streaming.Curation.startEmbedding(s,
            d + "/embeddings.parque*", fileSchema, out,
            dim = 64, idCol = "vec_id", vecCol = "embedding",
            // pinned explicitly: the oracle replays THIS geometry
            // (targetKeyLoad=0 opts out of the now-default-ON
            // self-sizing width — the exact fixed-width anchor)
            bands = 4, rowBits = 4, minCosine = 0.5,
            targetKeyLoad = 0)
          .awaitTermination()
        s.read.parquet(s"$out/verdicts").distinct()
          .select(col("id"), col("n_cands"), col("best_cos"),
            col("is_neardup"))
          .orderBy(col("id"))
      },
      embedNearDupOracleSql()),

    // The CAPPED embedding gate — the production configuration of
    // the row above (bandKeyCap=8 through Curation.startEmbedding),
    // completing the capped-oracle symmetry: every standing gate's
    // 100 TB posture is now cross-engine exact. Per-band-key
    // candidates rank-capped in vec_id order, shed REPORTED per doc
    // as n_capped_keys; same single-batch caveat as the MinHash
    // capped row (per-probe composition == global rank only under
    // one-batch arrival — the fixture's shape; the multi-batch
    // per-probe composition is spec-frozen for THIS gate in
    // StreamingStateSpec "capped embedding gate composes per-probe
    // across a multi-batch split", mirroring the MinHash twin's).
    "ev_stream_embed_neardup_capped" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_embed_nd_cap", d)
        val fileSchema = s.read.parquet(d + "/embeddings.parquet").schema
        graft.streaming.Curation.startEmbedding(s,
            d + "/embeddings.parque*", fileSchema, out,
            dim = 64, idCol = "vec_id", vecCol = "embedding",
            // targetKeyLoad=0: the cap is THIS row's load remedy and
            // the oracle replays the fixed 4-bit geometry
            bands = 4, rowBits = 4, minCosine = 0.5, bandKeyCap = 8,
            targetKeyLoad = 0)
          .awaitTermination()
        s.read.parquet(s"$out/verdicts").distinct()
          .select(col("id"), col("n_cands"), col("best_cos"),
            col("is_neardup"), col("n_capped_keys"))
          .orderBy(col("id"))
      },
      embedNearDupOracleSql(bandKeyCap = 8)),

    // The COMPOSED standing ingest pipeline — all five gates chained
    // in ONE foreachBatch over one stream, the topology a real corpus
    // ingest runs (reference analog: the unify→score→upsert chain,
    // my_scrapers/unified_scraper.py:622-642, generalized to the
    // LLM-corpus filter family): exact-novelty → near-dup → quality
    // (Gopher ∧ NB) → decontamination → LM perplexity, each stage
    // seeing only the previous stage's survivors — so the two
    // STATEFUL gates (novelty table, near-dup band index) index only
    // curated docs, proving the gates compose without state
    // interference. Reference models (NB counts, LM bigram table,
    // eval 13-gram index) are trained ONCE batch-side over the full
    // corpus and shared by every micro-batch; stages 3-5 are
    // stateless per row. Per-doc verdict columns are NULL from the
    // stage after the one that dropped the doc (the doc never reached
    // it), and `kept` = survived all five. Split-invariant under
    // id-ordered arrival for the same reasons as each gate's own row.
    "ev_stream_curate" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_curate", d)
        // the pipeline lives in streaming.Curation — this row wires
        // the fixture stream through it and censuses the verdicts
        val models = sharedModels(s, d)
        val fileSchema = s.read.parquet(d + "/documents.parquet").schema
        graft.streaming.Curation.start(s, d + "/documents.parque*",
            fileSchema, out, models)
          .awaitTermination()
        s.read.parquet(s"$out/scored").distinct()
          .orderBy(col("doc_id"))
      },
      curateOracleSql()),

    // Flag-don't-drop INGEST topology — the five-gate verdict chain
    // composed into the keyed month-merge path, through the body
    // IncrementalIngest.start runs (ingestCurated): curation informs
    // the corpus, it never censors the system of record. The oracle
    // replays the curate chain plus the all-merged invariant.
    "ev_stream_ingest_curated" -> QueryDef(
      (s, d) => ingestCurated(s, d, "stream_ingest_curated", 0),
      curateOracleSql(",\n  CAST(1 AS INTEGER) AS merged")),

    // The CAPPED curation pipeline — the production configuration of
    // ev_stream_curate, with stage 2's per-band-key candidate cap on
    // (8) through the `Curation.start` knob. This is the
    // configuration a 100 TB deployment runs (per-batch stage-2 pair
    // volume bounded at batch·bands·cap regardless of corpus skew —
    // ScaleProbe curate/curatecap: uncapped linear in corpus size,
    // capped flat), and the oracle pins its EXACT semantics
    // cross-engine: the composed five-stage SQL with stage 2's
    // candidates rank-capped per (band, slice) in id order — the
    // ev_stream_neardup_capped CTE composed into the curate chain,
    // same single-batch caveat (per-probe composition == global rank
    // only under one-batch arrival, the fixture's shape; multi-batch
    // composition is spec-frozen in StreamingStateSpec).
    "ev_stream_curate_capped" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_curate_cap", d)
        val models = sharedModels(s, d)
        val fileSchema = s.read.parquet(d + "/documents.parquet").schema
        graft.streaming.Curation.start(s, d + "/documents.parque*",
            fileSchema, out, models, bandKeyCap = 8)
          .awaitTermination()
        s.read.parquet(s"$out/scored").distinct()
          .orderBy(col("doc_id"))
      },
      curateOracleSql(bandKeyCap = 8)),

    // The CAPPED ingest topology — ev_stream_ingest_curated's
    // production configuration, with stage 2's per-band-key cap on
    // (8) through the IncrementalIngest.start knob family this row's
    // gates mirror: the five-gate verdict chain in flag-don't-drop
    // posture (verdicts logged BEFORE the partition-pruned month
    // merge, the FULL batch still merged) with per-batch stage-2 pair
    // volume bounded at batch·bands·cap regardless of corpus skew.
    // Completes the capped-oracle symmetry for the last composed
    // pipeline: every production entry point's 100 TB posture is now
    // cross-engine exact (rank-capped candidate CTE composed into the
    // ingest oracle, all-merged invariant preserved; same
    // single-batch caveat as every capped row — the multi-batch
    // per-probe composition is spec-frozen for both gate families).
    "ev_stream_ingest_curated_capped" -> QueryDef(
      (s, d) => ingestCurated(s, d, "stream_ingest_curated_cap", 8),
      curateOracleSql(",\n  CAST(1 AS INTEGER) AS merged",
        bandKeyCap = 8)),

    // The curation CENSUS — the operability surface a sustained-
    // ingest operator actually watches (Curation.curationReport over
    // a started pipeline's output dir): per-stage evaluated/kept/
    // dropped over the scored verdict log (stage N's evaluated =
    // non-NULL stage-N verdicts — the stage lattice) plus the
    // stage-2 gate's total shed under the production cap (summed
    // n_capped_keys from the gate's own verdicts; the column doubles
    // as a cap-is-off check). Corpus growth per batch is the
    // 1_novelty row's n_kept — stage-1 survivors are exactly what
    // both stateful gates index. The oracle re-derives the whole
    // five-stage chain AND its per-stage aggregation cross-engine.
    "ev_stream_curate_report" -> QueryDef(
      (s, d) => {
        val out = freshDir(s, "stream_curate_report", d)
        val models = sharedModels(s, d)
        val fileSchema = s.read.parquet(d + "/documents.parquet").schema
        graft.streaming.Curation.start(s, d + "/documents.parque*",
            fileSchema, out, models, bandKeyCap = 8)
          .awaitTermination()
        // the post-hoc census, cross-checked in-row against the
        // STANDING per-tick report log the stream emitted: per-stage
        // tick sums must reproduce the post-hoc numbers exactly
        // (distinct docs — the sum property), so the per-tick log is
        // oracle-pinned by the same DuckDB recompute at no extra
        // stream cost
        val post = graft.streaming.Curation.curationReport(s, out)
        val tick = graft.streaming.Curation.curationTicks(s, out)
          .groupBy(col("stage")).agg(
            sum("n_evaluated").as("te"), sum("n_kept").as("tk"),
            sum("n_dropped").as("td"), sum("shed_keys").as("ts"))
        post.join(broadcast(tick), Seq("stage"), "left")
          .select(col("stage"), col("n_evaluated"), col("n_kept"),
            col("n_dropped"), col("shed_keys"),
            (col("te") <=> col("n_evaluated") &&
              col("tk") <=> col("n_kept") &&
              col("td") <=> col("n_dropped") &&
              col("ts") <=> col("shed_keys")).as("ticks_match"))
          .orderBy(col("stage"))
      },
      s"""SELECT *, TRUE AS ticks_match
         |FROM (${curateReportOracleSql(bandKeyCap = 8)})""".stripMargin),

    // Watermark LATE-DATA DROP semantics, pinned deterministically via
    // the staged three-batch replay (stageLateBatches): on-time slice,
    // watermark tick, then the re-timestamped stragglers (odd ids
    // −7 days, even ids −30 min). Append mode is the finalizing mode:
    // at the tick batch the watermark is exactly max(on-time ts) − 1 h
    // and every window with window_end ≤ wm is emitted ONCE and
    // evicted; the late batch then lands against empty state and is
    // DISCARDED — no duplicate window emission, no count drift (the
    // measured Spark 4.1 contract; lateness inside a still-open window
    // would be absorbed, which is why the guarantee is one-directional).
    // The oracle replays the pure arithmetic: finalized output ==
    // hourly windows of the on-time slice with (win+1)·1h ≤ wm, counts
    // from on-time rows only. A regression that re-emitted late
    // windows, double-counted, or moved the eviction boundary breaks
    // n_windows / finalized / win_checksum. At 100 TB this is the
    // contract that keeps watermarked state BOUNDED: state tracks the
    // lateness horizon, not stream history, and this census proves
    // exactly what that discards.
    "ev_stream_late_drop" -> QueryDef(
      (s, d) => {
        val stage = stageLateBatches(s, d)
        val schema = s.read.parquet(stage).schema
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage + "/*.parquet")
        val agg = src.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
          .select(col("window"), col("n"))
        val sink = drain(s, agg, "graft_stream_late", "append")
        // staged input = all events + the re-sent tick row
        val total = T.events(s, d)
          .agg((count(lit(1)) + 1).as("n_input"))
        sink
          .select(expr("unix_micros(window.start) div 3600000000")
            .as("win"), col("n"))
          .agg(count(lit(1)).as("n_windows"),
            sum(col("n")).as("finalized"),
            sum(col("win") * col("n")).as("win_checksum"))
          .crossJoin(broadcast(total))
          .select(col("n_windows"), col("finalized"),
            (col("n_input") - col("finalized")).as("discarded_or_open"),
            col("win_checksum"))
      },
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS us FROM events),
        |ontime AS (SELECT us FROM ev WHERE event_id % 4 != 3),
        |wm AS (SELECT MAX(us) - 3600000000 AS wm1 FROM ontime),
        |w AS (SELECT us // 3600000000 AS win, COUNT(*) AS n
        |      FROM ontime GROUP BY 1),
        |f AS (SELECT win, n FROM w, wm
        |      WHERE (win + 1) * 3600000000 <= wm.wm1)
        |SELECT COUNT(*) AS n_windows,
        |  CAST(SUM(n) AS BIGINT) AS finalized,
        |  CAST((SELECT COUNT(*) + 1 FROM ev) - SUM(n) AS BIGINT)
        |    AS discarded_or_open,
        |  CAST(SUM(win * n) AS BIGINT) AS win_checksum
        |FROM f""".stripMargin)
  )
  /** The embedding near-dup gate chain as DuckDB SQL, shared by the
    * uncapped and capped rows: `bandKeyCap` > 0 swaps the candidate
    * CTE for the rank-capped form (cap earliest vec_ids per
    * (band, bkey)) and appends the per-doc n_capped_keys shed census
    * — the ev_stream_neardup_capped discipline transplanted, same
    * single-batch global-rank == per-probe caveat (the multi-batch
    * composition is spec-frozen per gate in StreamingStateSpec). */
  private def embedNearDupOracleSql(bandKeyCap: Int = 0): String = {
    val candCte =
      if (bandKeyCap <= 0)
        """cand AS (
          |  SELECT DISTINCT q.vec_id AS id, c.vec_id AS cid
          |  FROM ks q JOIN ks c ON q.band = c.band AND q.bkey = c.bkey
          |    AND c.vec_id < q.vec_id),""".stripMargin
      else
        s"""ranked AS (
          |  SELECT vec_id, band, bkey,
          |    ROW_NUMBER() OVER (PARTITION BY band, bkey
          |                       ORDER BY vec_id) AS rk,
          |    COUNT(*) OVER (PARTITION BY band, bkey) AS ksize
          |  FROM ks),
          |cand AS (
          |  SELECT DISTINCT q.vec_id AS id, c.vec_id AS cid
          |  FROM ks q JOIN ranked c ON q.band = c.band
          |    AND q.bkey = c.bkey AND c.rk <= $bandKeyCap
          |    AND c.vec_id < q.vec_id),
          |capk AS (
          |  SELECT vec_id, COUNT(*) AS n_capped
          |  FROM ranked WHERE ksize > $bandKeyCap
          |  GROUP BY vec_id),""".stripMargin
    val capSelect =
      if (bandKeyCap <= 0) ""
      else ",\n  CAST(COALESCE(k.n_capped, 0) AS BIGINT) AS n_capped_keys"
    val capJoin =
      if (bandKeyCap <= 0) ""
      else "\nLEFT JOIN capk k ON k.vec_id = e.vec_id"
    s"""WITH hp(i, h) AS (VALUES ${graft.operators.Similarity
          .hyperplaneSqlValues(16, 64)}),
       |emb AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dots AS (
       |  SELECT e.vec_id, hp.i,
       |    CASE WHEN list_reduce(list_transform(range(1, 65),
       |      j -> e.v[j] * hp.h[j]), (a, b) -> a + b) >= 0
       |    THEN 1 ELSE 0 END AS s
       |  FROM emb e, hp
       |  -- the gate never indexes null vectors; without this guard
       |  -- a NULL v would key (b, 0) via the ELSE branch and pair
       |  -- with real all-negative-sign vectors
       |  WHERE e.v IS NOT NULL),
       |ks AS (
       |  SELECT vec_id, CAST(i // 4 AS INTEGER) AS band,
       |    CAST(SUM(s * (1 << (i % 4))) AS INTEGER) AS bkey
       |  FROM dots GROUP BY 1, 2),
       |$candCte
       |cs AS (
       |  SELECT cand.id,
       |    list_reduce(list_transform(range(1, 65),
       |      j -> x.v[j] * y.v[j]), (a, b) -> a + b)
       |    / (sqrt(list_reduce(list_transform(x.v, t -> t * t),
       |        (a, b) -> a + b))
       |       * sqrt(list_reduce(list_transform(y.v, t -> t * t),
       |         (a, b) -> a + b))) AS cosine
       |  FROM cand JOIN emb x ON x.vec_id = cand.id
       |  JOIN emb y ON y.vec_id = cand.cid),
       |agg AS (SELECT id, COUNT(*) AS n_cands, MAX(cosine) AS best_cos
       |        FROM cs GROUP BY id)
       |SELECT e.vec_id AS id,
       |  CAST(COALESCE(a.n_cands, 0) AS BIGINT) AS n_cands,
       |  CAST(COALESCE(a.best_cos, -2.0) AS DOUBLE) AS best_cos,
       |  CAST(COALESCE(a.best_cos, -2.0) >= 0.5 AS INTEGER)
       |    AS is_neardup$capSelect
       |FROM (SELECT vec_id FROM embeddings) e
       |LEFT JOIN agg a ON a.id = e.vec_id$capJoin
       |ORDER BY id""".stripMargin
  }

  /** The flag-don't-drop ingest topology staged over the documents
    * fixture (ev_stream_ingest_curated[_capped]): the curated streams'
    * guarded body and gate pair ([[Curation.guardedStream]],
    * [[Curation.gates]]) with stage 2's band-key cap at `bandKeyCap`.
    * Per batch the verdicts land in `log` FIRST, then the
    * partition-pruned merge runs over the FULL batch (synthetic month
    * key, the ev_stream_upsert layout). The result joins the verdict
    * log against the ACTUAL merged table, so `merged` = 1 proves every
    * doc (kept or not) reached the table. */
  private def ingestCurated(s: SparkSession, d: String, prefix: String,
      bandKeyCap: Int): DataFrame = {
    val out = freshDir(s, prefix, d)
    val models = sharedModels(s, d)
    val (ngate, ndgate) = Curation.gates(out, bandKeyCap = bandKeyCap)
    val fileSchema = s.read.parquet(d + "/documents.parquet").schema
    Curation.guardedStream(
        s.readStream.schema(fileSchema).parquet(d + "/documents.parque*"),
        out, s"$out/_ckpt", Seq("log" -> Some(Curation.verdictDdl)),
        s"graft_$prefix", Trigger.AvailableNow(), 16) { (batch, _, tick) =>
      graft.operators.GateOps.writeLog(batch.sparkSession, out, "log",
        "doc_id", Some(Curation.curateBatch(batch, ngate, ndgate, models)),
        tick, 0L)
      graft.operators.MergeOps.upsertParquetByMonth(
        batch.sparkSession, s"$out/events",
        batch.select(col("doc_id"),
          concat(lit("2025-0"), (col("doc_id") % 6 + 1).cast("string"))
            .as("start_month"),
          col("doc_id").as("updated_seq")),
        Seq("doc_id"), "updated_seq")
    }.start().awaitTermination()
    s.read.parquet(s"$out/log").distinct()
      .join(s.read.parquet(s"$out/events")
        .select(col("doc_id"), lit(1).as("merged")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_novel"), col("is_neardup"),
        col("quality_kept"), col("decontam_kept"), col("lm_kept"),
        col("kept"), coalesce(col("merged"), lit(0)).as("merged"))
      .orderBy(col("doc_id"))
  }

  /** The three curate-family rows train IDENTICAL reference models
    * (same corpus, same eval window); this per-(session, dir) memo
    * makes rows after the first reuse its artifacts — the production
    * posture (models trained once on a cadence, shared by every
    * worker; Curation.Models save/load is the durable form) and ~2 s
    * per avoided rebuild in a whole-registry bench run. Safe to hold:
    * the frames are localCheckpointed vocab-bounded tables, and the
    * memo pins their references for the session's life. */
  private val modelMemo = new java.util.concurrent.ConcurrentHashMap[
    String, graft.streaming.Curation.Models]()
  private def sharedModels(s: org.apache.spark.sql.SparkSession,
      d: String): graft.streaming.Curation.Models = {
    // keyed by the CONTEXT's applicationId — unique per app lifetime,
    // unlike an identityHashCode, which a fresh session object can
    // alias after the old one is GC'd (returning localCheckpointed
    // frames of a DEAD context). The frames live and die with the
    // SparkContext, and entries of previous applications are evicted
    // on a new application's first touch, so the memo never grows
    // past one application's dirs.
    val app = s.sparkContext.applicationId
    // evicting every OTHER app's entries is safe: classic Spark
    // allows one active SparkContext per JVM, so a different appId
    // here always belongs to a STOPPED application whose
    // checkpointed frames are already dead
    modelMemo.keySet.removeIf(k => !k.startsWith(app + ":"))
    modelMemo.computeIfAbsent(app + ":" + d,
      _ => graft.streaming.Curation.trainModels(T.documents(s, d)))
  }

  /** The composed five-stage curation chain as ONE DuckDB SQL
    * (shared by ev_stream_curate, ev_stream_ingest_curated[_capped]
    * and ev_stream_curate_capped — `extraSelect` splices extra output
    * columns after `kept`; `bandKeyCap` > 0 swaps stage 2's
    * candidate CTE for the rank-capped form the
    * ev_stream_neardup_capped oracle pins, with the same
    * single-batch global-rank == per-probe caveat). */
  private def curateOracleSql(extraSelect: String = "",
      bandKeyCap: Int = 0): String =
    s"""${curateChainCtes(bandKeyCap)}
       |SELECT d.doc_id,
       |  CAST(nov.is_novel AS INTEGER) AS is_novel,
       |  CAST(nd.is_neardup AS INTEGER) AS is_neardup,
       |  CAST(q3.quality_kept AS INTEGER) AS quality_kept,
       |  CAST(dec.decontam_kept AS INTEGER) AS decontam_kept,
       |  CAST(lmk.lm_kept AS INTEGER) AS lm_kept,
       |  CAST(CASE WHEN nov.is_novel = 1 AND nd.is_neardup = 0
       |    AND q3.quality_kept = 1 AND dec.decontam_kept = 1
       |    AND lmk.lm_kept = 1 THEN 1 ELSE 0 END AS INTEGER) AS kept$extraSelect
       |FROM documents d
       |LEFT JOIN nov ON nov.doc_id = d.doc_id
       |LEFT JOIN nd ON nd.doc_id = d.doc_id
       |LEFT JOIN q3 ON q3.doc_id = d.doc_id
       |LEFT JOIN dec ON dec.doc_id = d.doc_id
       |LEFT JOIN lmk ON lmk.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Per-stage census of the curate chain — the
    * [[graft.streaming.Curation.curationReport]] oracle: the chain's
    * per-doc verdicts re-derived as a CTE, then evaluated/kept/
    * dropped per stage (stage N's evaluated = non-NULL stage-N
    * verdicts — the stage lattice) plus the total stage-2 shed under
    * the cap (summed capk; 0 when uncapped). */
  private def curateReportOracleSql(bandKeyCap: Int): String = {
    val shedCte =
      if (bandKeyCap <= 0) "SELECT CAST(0 AS BIGINT) AS s"
      else
        "SELECT CAST(COALESCE(SUM(n_capped), 0) AS BIGINT) AS s FROM capk"
    s"""${curateChainCtes(bandKeyCap)},
       |v AS MATERIALIZED (
       |  SELECT nov.is_novel, nd.is_neardup, q3.quality_kept,
       |    dec.decontam_kept, lmk.lm_kept,
       |    CASE WHEN nov.is_novel = 1 AND nd.is_neardup = 0
       |      AND q3.quality_kept = 1 AND dec.decontam_kept = 1
       |      AND lmk.lm_kept = 1 THEN 1 ELSE 0 END AS kept
       |  FROM documents d
       |  LEFT JOIN nov ON nov.doc_id = d.doc_id
       |  LEFT JOIN nd ON nd.doc_id = d.doc_id
       |  LEFT JOIN q3 ON q3.doc_id = d.doc_id
       |  LEFT JOIN dec ON dec.doc_id = d.doc_id
       |  LEFT JOIN lmk ON lmk.doc_id = d.doc_id),
       |shed AS ($shedCte),
       |r AS (
       |  SELECT '1_novelty' AS stage, COUNT(*) AS n_evaluated,
       |    SUM(CASE WHEN is_novel = 1 THEN 1 ELSE 0 END) AS n_kept,
       |    CAST(0 AS BIGINT) AS shed_keys FROM v
       |  UNION ALL
       |  SELECT '2_neardup', COUNT(is_neardup),
       |    SUM(CASE WHEN is_neardup = 0 THEN 1 ELSE 0 END),
       |    (SELECT s FROM shed) FROM v
       |  UNION ALL
       |  SELECT '3_quality', COUNT(quality_kept),
       |    SUM(CASE WHEN quality_kept = 1 THEN 1 ELSE 0 END),
       |    CAST(0 AS BIGINT) FROM v
       |  UNION ALL
       |  SELECT '4_decontam', COUNT(decontam_kept),
       |    SUM(CASE WHEN decontam_kept = 1 THEN 1 ELSE 0 END),
       |    CAST(0 AS BIGINT) FROM v
       |  UNION ALL
       |  SELECT '5_lm', COUNT(lm_kept),
       |    SUM(CASE WHEN lm_kept = 1 THEN 1 ELSE 0 END),
       |    CAST(0 AS BIGINT) FROM v
       |  UNION ALL
       |  SELECT '6_overall', COUNT(*),
       |    SUM(CASE WHEN kept = 1 THEN 1 ELSE 0 END),
       |    CAST(0 AS BIGINT) FROM v)
       |SELECT stage, CAST(n_evaluated AS BIGINT) AS n_evaluated,
       |  CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(n_evaluated - n_kept AS BIGINT) AS n_dropped,
       |  shed_keys
       |FROM r ORDER BY stage""".stripMargin
  }

  /** The chain's shared CTE block: stage-1 novelty through the
    * stage-5 LM verdict (`lmk`), with stage 2's candidate CTE in
    * uncapped or rank-capped form (capped additionally defines the
    * `capk` shed census the report oracle sums). */
  private def curateChainCtes(bandKeyCap: Int): String = {
    val coeffs = graft.operators.Dedup.portableCoeffs(32)
      .zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }
      .mkString(", ")
    val candCte =
      if (bandKeyCap <= 0)
        """cand AS (
          |  SELECT DISTINCT q.doc_id AS id, c.doc_id AS cid
          |  FROM bands q JOIN bands c
          |    ON q.b = c.b AND q.sl = c.sl AND c.doc_id < q.doc_id),"""
          .stripMargin
      else
        s"""ranked AS MATERIALIZED (
          |  SELECT doc_id, b, sl,
          |    ROW_NUMBER() OVER (PARTITION BY b, sl ORDER BY doc_id)
          |      AS rk,
          |    COUNT(*) OVER (PARTITION BY b, sl) AS ksize
          |  FROM bands
          |  WHERE sl[1] IS NOT NULL AND sl[2] IS NOT NULL),
          |cand AS (
          |  SELECT DISTINCT q.doc_id AS id, c.doc_id AS cid
          |  FROM bands q JOIN ranked c
          |    ON q.b = c.b AND q.sl = c.sl AND c.rk <= $bandKeyCap
          |      AND c.doc_id < q.doc_id),
          |capk AS (
          |  SELECT doc_id, COUNT(*) AS n_capped
          |  FROM ranked WHERE ksize > $bandKeyCap
          |  GROUP BY doc_id),""".stripMargin
    s"""WITH coeffs(i, a, b) AS (VALUES $coeffs),
       |f AS MATERIALIZED (
       |  SELECT doc_id,
       |    md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
       |  FROM documents),
       |nov AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN fp IS NOT NULL AND
       |      ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
       |    THEN 1 ELSE 0 END AS is_novel
       |  FROM f),
       |s1 AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
       |       JOIN nov ON nov.doc_id = d.doc_id AND nov.is_novel = 1),
       |sh AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(string_split_regex(trim(text), '\\s+')) AS shingles
       |  FROM s1),
       |vals AS MATERIALIZED (
       |  SELECT doc_id, i,
       |    list_min(list_transform(shingles,
       |      s -> (CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT) * a + b)
       |           % 2147483647)) AS v
       |  FROM sh, coeffs),
       |sig AS MATERIALIZED (SELECT doc_id, list(v ORDER BY i) AS sig
       |        FROM vals GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, b, sig[2*b + 1 : 2*b + 2] AS sl
       |  FROM sig, range(0, 16) r(b)),
       |$candCte
       |eq AS MATERIALIZED (
       |  SELECT cand.id,
       |    len(list_filter(range(1, 33), i -> s1.sig[i] = s2.sig[i]))
       |      AS n_eq
       |  FROM cand
       |  JOIN sig s1 ON s1.doc_id = cand.id
       |  JOIN sig s2 ON s2.doc_id = cand.cid),
       |nda AS MATERIALIZED (SELECT id, MAX(n_eq) AS best_eq FROM eq GROUP BY id),
       |nd AS MATERIALIZED (
       |  SELECT s1.doc_id, CASE WHEN COALESCE(a.best_eq, 0) >= 16
       |    THEN 1 ELSE 0 END AS is_neardup
       |  FROM s1 LEFT JOIN nda a ON a.id = s1.doc_id),
       |s2 AS MATERIALIZED (SELECT s1.doc_id, s1.text FROM s1
       |       JOIN nd ON nd.doc_id = s1.doc_id AND nd.is_neardup = 0),
       |docsy AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    string_split_regex(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |tk AS MATERIALIZED (
       |  SELECT doc_id, y, token FROM (
       |    SELECT doc_id, y, unnest(t) AS token FROM docsy)
       |  WHERE token <> ''),
       |counts AS MATERIALIZED (
       |  SELECT token, CAST(SUM(y) AS BIGINT) AS n1,
       |    CAST(SUM(1 - y) AS BIGINT) AS n0
       |  FROM tk GROUP BY token),
       |totals AS (
       |  SELECT CAST(SUM(n1) AS BIGINT) AS tn1,
       |    CAST(SUM(n0) AS BIGINT) AS tn0, COUNT(*) AS v
       |  FROM counts),
       |priors AS (
       |  SELECT CAST(SUM(y) AS BIGINT) AS d1,
       |    CAST(SUM(1 - y) AS BIGINT) AS d0
       |  FROM docsy),
       |bsc AS MATERIALIZED (
       |  SELECT t.doc_id,
       |    length(bin((tt.tn1 + tt.v) // (COALESCE(c.n1, 0) + 1))) - 1
       |      AS b1,
       |    length(bin((tt.tn0 + tt.v) // (COALESCE(c.n0, 0) + 1))) - 1
       |      AS b0
       |  FROM tk t LEFT JOIN counts c USING (token) CROSS JOIN totals tt
       |  WHERE t.doc_id IN (SELECT doc_id FROM s2)),
       |sc AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(b1) AS BIGINT) AS bits1,
       |    CAST(SUM(b0) AS BIGINT) AS bits0
       |  FROM bsc GROUP BY 1),
       |gw AS (
       |  SELECT doc_id, list_filter(
       |    COALESCE(string_split_regex(trim(lower(text)), '\\s+'), []),
       |    x -> x <> '') AS w
       |  FROM s2),
       |m AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
       |    CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
       |      AS BIGINT) AS sum_len,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
       |      AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter(w,
       |      x -> contains(x, '#') OR contains(x, '...')))
       |      AS BIGINT) AS n_sym,
       |    (CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END
       |     + CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END)
       |      AS stop_hits
       |  FROM gw),
       |q3 AS MATERIALIZED (
       |  SELECT m.doc_id,
       |    CASE WHEN m.n >= 50 AND m.n <= 100000
       |      AND m.sum_len >= m.n * 3 AND m.sum_len <= m.n * 10
       |      AND m.n_alpha * 5 >= m.n * 4 AND m.n_sym * 10 <= m.n
       |      AND m.stop_hits >= 2
       |      AND COALESCE(CASE WHEN sc.bits1
       |            + (length(bin((p.d1 + p.d0) // p.d1)) - 1)
       |          < sc.bits0 + (length(bin((p.d1 + p.d0) // p.d0)) - 1)
       |        THEN 1 ELSE 0 END, 0) = 1
       |      THEN 1 ELSE 0 END AS quality_kept
       |  FROM m LEFT JOIN sc ON sc.doc_id = m.doc_id
       |  CROSS JOIN priors p),
       |s3 AS (SELECT s2.doc_id, s2.text FROM s2
       |       JOIN q3 ON q3.doc_id = s2.doc_id AND q3.quality_kept = 1),
       |tkg AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(w) - 11),
       |      i -> md5(array_to_string(w[i:i+12], ' '))))) AS g
       |  FROM tkg),
       |shd AS (
       |  SELECT t.doc_id AS id, COUNT(*) AS n_shared
       |  FROM g t JOIN g e ON t.g = e.g
       |  WHERE t.doc_id IN (SELECT doc_id FROM s3)
       |    AND e.doc_id >= 400 AND e.doc_id < 500
       |  GROUP BY 1),
       |dec AS MATERIALIZED (
       |  SELECT s3.doc_id,
       |    CASE WHEN s3.doc_id >= 400 AND s3.doc_id < 500 THEN 0
       |         WHEN COALESCE(shd.n_shared, 0) > 0 THEN 0
       |         ELSE 1 END AS decontam_kept
       |  FROM s3 LEFT JOIN shd ON shd.id = s3.doc_id),
       |s4 AS (SELECT s3.doc_id, s3.text FROM s3
       |       JOIN dec ON dec.doc_id = s3.doc_id
       |         AND dec.decontam_kept = 1),
       |d0l AS (
       |  SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS t
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
       |    FROM d0l WHERE len(t) >= 2)
       |  WHERE b.w1 <> '' AND b.w2 <> ''),
       |nlm AS (
       |  SELECT w1, w2, COUNT(*) AS n
       |  FROM bg GROUP BY 1, 2),
       |lm AS (
       |  SELECT w1, w2, n,
       |    CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS c1
       |  FROM nlm),
       |costs AS MATERIALIZED (
       |  SELECT bg.doc_id,
       |    CASE WHEN lm.n IS NULL THEN 20
       |         ELSE length(bin(lm.c1 // lm.n)) - 1 END AS bits
       |  FROM bg LEFT JOIN lm USING (w1, w2)
       |  WHERE bg.doc_id IN (SELECT doc_id FROM s4)),
       |lsc AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(bits) AS BIGINT) AS total_bits
       |  FROM costs GROUP BY 1),
       |lmk AS MATERIALIZED (
       |  SELECT s4.doc_id,
       |    COALESCE(CASE WHEN lsc.total_bits * 1000 // lsc.n_bigrams
       |      < 12000 THEN 1 ELSE 0 END, 0) AS lm_kept
       |  FROM s4 LEFT JOIN lsc ON lsc.doc_id = s4.doc_id)""".stripMargin
  }

}
