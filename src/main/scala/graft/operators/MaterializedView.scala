package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental materialized-view maintenance.
  *
  * The reference recomputes its analytics rollups from the full
  * collection on every request (reference: database/api_server.py —
  * each endpoint re-runs its aggregation pipeline); at 100 TB a daily
  * rollup that rescans the corpus is the single most expensive
  * recurring job in the warehouse. The Spark-native fix: store the
  * rollup's PARTIAL-AGGREGATE state (per-group SUM/COUNT cells — the
  * same mergeable shape Catalyst uses for its own two-phase
  * aggregation) as a tiny parquet table, and absorb each new batch by
  * aggregating ONLY the batch and merging group-wise (SUM of sums,
  * SUM of counts). Refresh cost is ∝ |delta| + |touched groups| —
  * never a base rescan — and the merged state is EXACTLY the full
  * recompute because the cells form a commutative monoid.
  *
  * Mergeable cells only: COUNT and exact-decimal SUM here. AVG is
  * derived at read time (sum/count); MIN/MAX would also merge;
  * non-mergeable stats (exact median) stay out of the state by
  * design — that is the price of incrementality, and the histogram
  * sketch ([[Sketches.histogramCounts]], also SUM-mergeable) is the
  * replacement at scale.
  */
object MaterializedView {

  /** The rollup's mergeable state: one row per (event_type, epoch day)
    * with COUNT and exact DECIMAL(18,4) value sum (order-independent —
    * see [[graft.Tables.decSum]]). This is both the stored-view schema
    * and the per-batch delta aggregation — one partial-agg shuffle on
    * the group key.
    */
  def eventRollup(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        col("value"))
      .groupBy(col("event_type"), col("day"))
      // nv = non-null value count, the cell that makes vsum's NULL
      // semantics invertible: SUM-of-sums alone reproduces "NULL iff
      // no non-null values" for insert-only merges, but a retraction
      // can cancel a group's sum to 0 while its surviving rows are all
      // NULL — recompute says NULL, plain cell algebra says 0. nv
      // disambiguates (see refreshWithRetractions).
      .agg(count(lit(1)).as("n"),
        count(col("value")).as("nv"),
        sum(col("value").cast(DecimalType(18, 4))).as("vsum"))

  /** Merge stored state with a delta's rollup: group-wise SUM of the
    * mergeable cells. Associative + commutative, so any batch split
    * (daily deltas, late-arriving backfills, parallel shards) folds to
    * the same state as one full recompute. The shuffle here is over
    * |state| + |delta groups| rows — group-cardinality-bounded, not
    * corpus-bounded.
    */
  def refresh(stored: DataFrame, deltaRollup: DataFrame): DataFrame =
    // the insert-only merge IS the retraction merge with an empty
    // delete leg — one implementation, one set of invariants
    refreshWithRetractions(stored, deltaRollup, deltaRollup.limit(0))

  /** Per-event-type census of a rollup state — the compared surface.
    * day_checksum = Σ day·n pins every group's key AND count (a merge
    * that drops/duplicates a (type, day) cell cannot balance it);
    * value_sum is the exact decimal sum cast to double once at the end
    * (the decSum discipline).
    */
  def census(state: DataFrame): DataFrame =
    state.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n")).as("n_events"),
        sum(col("day") * col("n")).as("day_checksum"),
        sum(col("vsum")).cast("double").as("value_sum"))
      .orderBy(col("event_type"))

  /** Retraction-aware refresh — the CDC case where a delta carries
    * DELETES as well as inserts. COUNT and exact-decimal SUM are not
    * just mergeable but INVERTIBLE (the monoid extends to an abelian
    * group), so a delete stream folds in as negated cells through the
    * very same group-wise merge — still no base rescan. Two
    * invariants the merge enforces rather than assumes: a group whose
    * count reaches 0 LEAVES the state (deleted keys must not pin
    * rows forever — their decimal sums cancel to exactly 0 by
    * invertibility), and a count below 0 — a delta deleting rows the
    * base never had — raises at execution instead of clamping
    * (silent clamping would desynchronize the view from its base
    * permanently). Non-invertible cells (MIN/MAX) cannot ride a
    * retraction stream; at scale those recompute per TOUCHED group
    * only.
    */
  def refreshWithRetractions(stored: DataFrame, insertRollup: DataFrame,
      deleteRollup: DataFrame): DataFrame = {
    val wide = DecimalType(28, 4)
    def shaped(df: DataFrame) = {
      require(df.columns.contains("nv"), "MV state lacks the nv column " +
        s"(has ${df.columns.mkString(", ")}); rebuild it with eventRollup")
      df.select(col("event_type"), col("day"),
        col("n"), col("nv"), col("vsum").cast(wide))
    }
    val negated = shaped(deleteRollup).select(col("event_type"), col("day"),
      (-col("n")).as("n"), (-col("nv")).as("nv"),
      (-col("vsum")).as("vsum"))
    shaped(stored).unionByName(shaped(insertRollup)).unionByName(negated)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"), sum(col("nv")).as("nv"),
        sum(coalesce(col("vsum"), lit(0).cast(wide))).as("vsum"))
      .select(col("event_type"), col("day"),
        when(col("n") >= 0, col("n"))
          .otherwise(expr("raise_error('retraction exceeded stored count')"))
          .as("n"),
        col("nv"),
        // a group whose surviving rows are all NULL must read back as
        // vsum NULL (what a full recompute says), not the 0 its
        // retracted cells cancel to — nv carries that distinction
        when(col("nv") > 0, col("vsum")).otherwise(lit(null).cast(wide))
          .as("vsum"))
      .filter(col("n") > 0)
  }

  /** Round trip for the retraction oracle row: the stored MV covers
    * `event_id % 16 != 0`; one CDC batch then inserts the %16 rows
    * AND deletes every base row with `event_id % 7 == 0`. The census
    * of the merged state must equal a FULL recompute over the net
    * row set — which is exactly what the oracle computes, so
    * incremental-with-retractions == recompute is checked
    * cross-engine, not self-referentially.
    */
  def retractRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val base = ev.filter(pmod(col("event_id"), lit(16)) =!= 0)
    val inserts = ev.filter(pmod(col("event_id"), lit(16)) === 0)
    val deletes = base.filter(pmod(col("event_id"), lit(7)) === 0)
    val path = new java.io.File("target/mv_retract/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + "/rollup").getAbsolutePath
    eventRollup(base).write.mode("overwrite").parquet(path)
    census(refreshWithRetractions(s.read.parquet(path),
      eventRollup(inserts), eventRollup(deletes)))
  }

  /** Build-store-refresh round trip for the oracle row: the stored MV
    * covers `event_id % 16 != 0`; the remaining rows arrive as a
    * late-data delta touching (almost) every existing group plus any
    * new ones — the adversarial case for group-wise merging. The view
    * state goes through parquet (write + read back) so the merged
    * result is computed from the PERSISTED schema, not a live plan.
    */
  def refreshRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val base = ev.filter(pmod(col("event_id"), lit(16)) =!= 0)
    val delta = ev.filter(pmod(col("event_id"), lit(16)) === 0)
    val path = new java.io.File("target/mv_refresh/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + "/rollup").getAbsolutePath
    eventRollup(base).write.mode("overwrite").parquet(path)
    census(refresh(s.read.parquet(path), eventRollup(delta)))
  }
}
