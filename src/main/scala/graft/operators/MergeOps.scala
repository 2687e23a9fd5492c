package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Keyed upsert + dedup machinery (SURVEY §2.1 K1, §2.12 D1–D4).
  *
  * The reference upserts one document at a time
  * (reference: database/etl_sqlite_to_mongo.py:129-164,
  * database/data_migration.py:102-158,
  * my_scrapers/unified_scraper.py:622-642). The Spark-native
  * equivalent is a set operation: union existing and incoming, rank
  * within each key by recency, keep rank 1 ("last write wins",
  * etl_sqlite_to_mongo.py:142), rewrite the table. One shuffle, hash
  * partitioned on the key — scales linearly with data volume and is
  * idempotent under re-runs.
  */
object MergeOps {

  /** Shared ranking core of the keyed merges: union existing+incoming
    * tagged by source, rank within each key by recency (ties favor
    * incoming via the `_src` tiebreak). Rank 1 = the winner.
    */
  private def rankedUnion(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String], recency: String): DataFrame = {
    val tagged = existing.withColumn("_src", lit(0))
      .unionByName(incoming.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(recency).desc, col("_src").desc)
    tagged.withColumn("_rn", row_number().over(w))
  }

  /** K1/D2 — latest-wins keyed merge of incoming over existing.
    * Ties favor incoming (it sorts first via the `_src` tiebreak).
    */
  def upsert(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String], recency: String): DataFrame =
    rankedUnion(existing, incoming, keys, recency)
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")

  /** K1/D2 + D3 — latest-wins keyed merge that MAINTAINS the
    * deduplication bookkeeping the schema declares
    * (reference: helpers/schemas.py:155-159: `merged_from_ids` = event
    * ids merged into this canonical doc, `merge_log` = log of merge
    * operations). The plain [[upsert]] drops the losers wholesale; this
    * variant records them on the winner:
    *  - `merged_from_ids` ← winner's list ∪ every loser's list ∪ the
    *    losers' own event_ids (transitive history), sorted + distinct;
    *  - `merge_log` ← winner's log ++ one `nowIso|loser_id|reason`
    *    entry per loser in sorted-id order.
    *
    * Same single hash shuffle as [[upsert]] — the bookkeeping rides the
    * existing key window (two more window aggregates, no extra
    * exchange), so the scale shape is unchanged.
    *
    * Requires `event_id` and a `deduplication` struct with
    * `{is_canonical, merged_from_ids: array<string>, merge_log:
    * array<string>}` (the shape Unify emits).
    */
  def upsertDocs(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
      recency: String, nowIso: Column,
      reason: String = "keyed_upsert"): DataFrame = {
    val wAll = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(recency).desc, col("_src").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // NULL bookkeeping arrays (a table read back from an export that
    // omitted empty fields) must behave as empty — concat(NULL, x) is
    // NULL and would silently erase the merge history.
    val empty = array().cast("array<string>")
    val priorIds = coalesce(col("deduplication.merged_from_ids"), empty)
    rankedUnion(existing, incoming, keys, recency)
      // A re-delivered copy of the WINNER (same event_id — a checkpoint
      // replay, or a routine newer version of the same doc) is not a
      // merge event: recording it would put the canonical doc's own id
      // into merged_from_ids and append a log entry on every replay,
      // breaking idempotency. Losers are therefore the superseded rows
      // whose event_id DIFFERS from the winner's.
      .withColumn("_win_id", first(col("event_id")).over(wAll))
      // collect_list skips nulls → exactly the losers' ids
      .withColumn("_losers", sort_array(collect_list(
        when(col("_rn") =!= 1 && !(col("event_id") <=> col("_win_id")),
          col("event_id"))).over(wAll)))
      .withColumn("_prior", flatten(collect_list(priorIds).over(wAll)))
      .filter(col("_rn") === 1)
      .withColumn("deduplication", struct(
        col("deduplication.is_canonical").as("is_canonical"),
        // array_remove heals tables polluted by the pre-fix behavior;
        // array_distinct on the log makes same-timestamp replays
        // idempotent (entries are unique per (now, loser, reason))
        array_remove(
          sort_array(array_distinct(concat(col("_prior"), col("_losers")))),
          col("event_id")).as("merged_from_ids"),
        array_distinct(
          concat(coalesce(col("deduplication.merge_log"), empty),
            transform(col("_losers"),
              l => concat_ws("|", nowIso, l, lit(reason))))).as("merge_log")))
      .drop("_rn", "_src", "_losers", "_prior", "_win_id")
  }

  /** D1 — in-batch first-wins dedup in input order (the reference keys
    * on source_url + start_date and keeps the first occurrence:
    * data_migration.py:80-100). Input order is captured before the
    * shuffle via monotonically_increasing_id.
    */
  def dedupFirstWins(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_ord"))
    df.withColumn("_ord", monotonically_increasing_id())
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_ord")
  }

  /** D4/A10 — merge audit stats: incoming rows, distinct keys,
    * duplicate (superseded) rows, net new keys.
    */
  def mergeAudit(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val in = incoming.select(kc: _*)
    val ex = existing.select(kc: _*).distinct()
    // rows + distinct keys in ONE aggregation over the batch (the
    // struct is never null, so count_distinct == distinct().count);
    // the anti-join is the only other pass over incoming.
    in.agg(count(lit(1)).as("incoming_rows"),
        count_distinct(struct(kc: _*)).as("incoming_keys"))
      .crossJoin(in.distinct().join(ex, keys, "left_anti")
        .agg(count(lit(1)).as("new_keys")))
      .withColumn("updated_keys", col("incoming_keys") - col("new_keys"))
      .withColumn("in_batch_dupes", col("incoming_rows") - col("incoming_keys"))
  }

  /** K1 against a parquet table: read-modify-rewrite (no transactional
    * format in this environment — SURVEY §7.2). At cluster scale the
    * same logic runs per partition-month.
    *
    * Crash safety: the merge is materialized to a staging directory
    * while the destination is still intact, then swapped in with two
    * FileSystem renames (destination → retired, staging → destination).
    * Renames are metadata operations — the expensive write never
    * touches the live table, so a crash mid-job leaves the old table
    * readable; the only loss window is between the two renames, and a
    * crash there leaves BOTH the retired copy and the fully-written
    * staging directory on disk for trivial recovery (versus rewriting
    * the destination in place, where a crash truncates it).
    */
  def upsertParquet(spark: SparkSession, tablePath: String,
      incoming: DataFrame, keys: Seq[String], recency: String): Unit = {
    import org.apache.hadoop.fs.Path
    val dest = new Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Siblings derived from the normalized Path, never by string
    // suffixing — "events/" + "_staging" would nest staging INSIDE the
    // destination and the retire rename would drag it along.
    val staging = new Path(dest.getParent, dest.getName + "_staging")
    val retired = new Path(dest.getParent, dest.getName + "_retired")
    // Crash recovery: a prior run that died between the two renames
    // left the sole live copy under _retired. Restore it BEFORE
    // reading, or this run would compute merged = incoming only and the
    // final delete(retired) would destroy all prior history.
    if (!fs.exists(dest) && fs.exists(retired) && !fs.rename(retired, dest))
      throw new java.io.IOException(
        s"found orphaned $retired but could not restore it to $dest")
    val merged =
      if (fs.exists(dest)) upsert(spark.read.parquet(tablePath), incoming, keys, recency)
      else incoming
    merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    fs.delete(retired, true)
    if (fs.exists(dest) && !fs.rename(dest, retired))
      throw new java.io.IOException(s"could not retire $dest")
    if (!fs.rename(staging, dest))
      throw new java.io.IOException(
        s"could not activate $staging as $dest (old table at $retired)")
    fs.delete(retired, true)
  }

  /** The partition values a month-scoped merge may swap: non-null, and
    * plain `[A-Za-z0-9._-]` — the swap matches directories BY NAME
    * ("col=value"), so values must round-trip through Hive
    * partition-path escaping unchanged. Checked before anything is
    * written. */
  private def requireMonthValues(partCol: String,
      values: Seq[String]): Unit = {
    require(!values.contains(null),
      s"$partCol must be non-null for a partition-scoped merge — " +
        "coalesce to a sentinel month (e.g. '0000-00') first")
    values.find(!_.matches("[A-Za-z0-9._-]+")).foreach(bad =>
      throw new IllegalArgumentException(
        s"partition value '$bad' needs path escaping — month values " +
          "must be plain [A-Za-z0-9._-] strings"))
  }

  /** The month-directory swap machinery shared by the partition-scoped
    * merge and the cross-month reconcile: sibling staging/retired
    * roots, orphan recovery, and the per-month two-rename activation.
    */
  private final class MonthSwap(spark: SparkSession, tablePath: String) {
    import org.apache.hadoop.fs.Path
    val dest = new Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagingRoot = new Path(dest.getParent, dest.getName + "_mstaging")
    val retiredRoot = new Path(dest.getParent, dest.getName + "_mretired")
    /** The swap-UNIT manifest: activateDirs records the relative dirs
      * it is about to swap (one per line, written crash-safely BEFORE
      * the first rename) so recovery restores at exactly the
      * granularity the swap ran at. Without it, recovery had to guess
      * from directory shape — and guessed wrong for a MONTH-level swap
      * of a SHARDED table: a crash after `staged→live` but before the
      * retired dir's delete left both copies of the month on disk, and
      * shape-based recovery recursed into the retired month's shard
      * subdirs, "restoring" any shard absent from the new month (e.g.
      * one whose only key a reconcile had deliberately dropped) —
      * resurrecting deleted rows and breaking the fully-old-or-fully-
      * new contract.
      */
    private val unitsMarker = new Path(retiredRoot, "_swap_units")

    /** Crash recovery: a prior run that died between the two renames
      * of some partition left that partition's only live copy under
      * the retired root. Restore every such partition BEFORE reading,
      * or a merge would silently drop its history.
      *
      * Granularity matches the crashed swap's own units (the
      * `_swap_units` marker): a retired unit whose LIVE counterpart
      * exists is a completed swap — its retired copy is discarded,
      * never mined for subdirectories. A retired unit with no live
      * counterpart is restored wholesale.
      */
    def recoverOrphans(): Unit = {
      // a live ONLINE reshard first: its sentinel marks the migration
      // as the table's sole writer — every other writer entry point
      // fails fast here, before reading or touching anything
      MergeOps.assertNoOnlineReshard(fs, dest)
      // a crashed offline RESHARD next: its commit point is a
      // whole-root swap, and a crash between its two renames leaves
      // the live root ABSENT — every later table op must restore it
      // before doing anything else, or the table reads as empty
      MergeOps.recoverReshard(fs, dest)
      if (fs.exists(retiredRoot)) {
        if (fs.exists(unitsMarker)) {
          GateLayout.readText(fs, unitsMarker).linesIterator
            .filter(_.nonEmpty).foreach { rel =>
              val retired = new Path(retiredRoot, rel)
              val live = new Path(dest, rel)
              if (fs.exists(retired) && !fs.exists(live)) {
                fs.mkdirs(live.getParent)
                if (!fs.rename(retired, live))
                  throw new java.io.IOException(
                    s"found orphaned $retired but could not restore it to $live")
              }
            }
        } else
          // pre-marker on-disk state (or a crash before the marker's
          // atomic rename landed — in which case no unit was swapped
          // yet and there is nothing under the root to restore)
          restoreUnder(retiredRoot, dest)
        fs.delete(retiredRoot, true)
      }
      fs.delete(stagingRoot, true)
    }

    /** Shape-guessing fallback for a retired root with no swap-unit
      * marker (pre-marker crashes only — every current writer records
      * its units). Restores each orphaned partition LEAF under `from`
      * into `to`, recursing through intermediate `col=value` levels.
      */
    private def restoreUnder(from: Path, to: Path): Unit =
      fs.listStatus(from).foreach { st =>
        if (st.isDirectory && st.getPath.getName.contains("=")) {
          val live = new Path(to, st.getPath.getName)
          val hasSubParts = fs.listStatus(st.getPath)
            .exists(c => c.isDirectory && c.getPath.getName.contains("="))
          if (hasSubParts) restoreUnder(st.getPath, live)
          else if (!fs.exists(live)) {
            fs.mkdirs(live.getParent)
            if (!fs.rename(st.getPath, live))
              throw new java.io.IOException(
                s"found orphaned ${st.getPath} but could not restore it to $live")
          }
        }
      }

    /** Swap each named partition directory (a RELATIVE path under the
      * table root — `month=M` for the month merge, `month=M/shard=NN`
      * for the sharded one) from the staging root into the live table:
      * retire live dir, activate staged dir (a partition with nothing
      * staged merged to empty — it is retired only). A crash mid-loop
      * leaves every partition fully old or fully new.
      */
    def activateDirs(dirs: Seq[String]): Unit = {
      fs.mkdirs(dest)
      // record the swap units BEFORE the first rename (write-then-
      // atomic-rename, GateLayout.writeAtomic —
      // raw lines, since the rel paths themselves contain '=') so a
      // crash at ANY later point recovers at this swap's granularity
      fs.mkdirs(retiredRoot)
      GateLayout.writeAtomic(fs, unitsMarker, dirs.mkString("\n"))
      dirs.foreach { rel =>
        val staged = new Path(stagingRoot, rel)
        val live = new Path(dest, rel)
        val retired = new Path(retiredRoot, rel)
        fs.mkdirs(retired.getParent)
        fs.delete(retired, true)
        if (fs.exists(live) && !fs.rename(live, retired))
          throw new java.io.IOException(s"could not retire $live")
        fs.mkdirs(live.getParent)
        if (fs.exists(staged) && !fs.rename(staged, live))
          throw new java.io.IOException(
            s"could not activate $staged as $live (old dir at $retired)")
        fs.delete(retired, true)
      }
      fs.delete(stagingRoot, true)
      fs.delete(retiredRoot, true)
    }

    /** Write `df` under the staging root, partitioned by `parts` and
      * clustered by them first, so each staged partition dir is
      * written by ONE task as ONE file — a reader of the month opens
      * one file, not one per upstream task that held its rows. The
      * `rebalance` hint (not a bare repartition) keeps big months
      * parallel: AQE splits a partition past
      * `spark.sql.adaptive.advisoryPartitionSizeInBytes` into several
      * tasks, so such a month lands as that many files.
      */
    def stage(df: DataFrame, parts: Seq[String]): Unit =
      df.hint("rebalance", parts.map(col): _*)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(parts: _*).parquet(stagingRoot.toString)

    def activate(partCol: String, months: Seq[String]): Unit =
      activateDirs(months.map(partCol + "=" + _))
  }

  /** K1 at cluster scale — partition-pruned keyed merge into a
    * month-partitioned parquet table (the layout
    * [[graft.sources.TableLayout.writeEventsTable]] produces).
    *
    * [[upsertParquet]] reads and rewrites the WHOLE table per batch —
    * fine for a single collection-sized table, a non-starter at 100 TB
    * where an incremental crawl batch touches 0.01% of rows. This
    * variant mirrors the reference's incremental upsert-on-arrival
    * (reference: my_scrapers/unified_scraper.py:622-642 — the reference
    * never rewrites its collection to absorb a batch): only the month
    * partitions containing incoming rows are read (partition-pruned
    * scan), merged, and swapped in; every other month's files are never
    * opened, let alone rewritten.
    *
    * Contract: `incoming` carries the partition column `partCol`, and
    * the partition value must be STABLE per merge key (every version of
    * a key maps to the same month — true for the events layout, where
    * the caller re-derives start_month from the row being upserted and
    * a re-scrape that MOVES an event across months must include the old
    * month in the same batch, or reconcile via a periodic compaction
    * run of [[upsertParquet]]). A key whose old version lives in an
    * untouched month would otherwise survive alongside its replacement.
    *
    * Crash safety, per month: the merged batch is materialized under a
    * sibling `_mstaging` root while the destination is intact, then
    * each touched month is swapped in with two renames (live month →
    * `_mretired` root, staged month → live). A crash mid-swap leaves
    * every month either fully old or fully new, and any month whose
    * sole live copy sits under `_mretired` is restored on the next
    * call before anything is read. A crash between month activations
    * can leave the batch HALF-APPLIED (some months new, the rest old —
    * each individually consistent); the contract is apply-or-retry:
    * re-running the same batch is idempotent (latest-wins re-merge of
    * already-applied months is a no-op), which is exactly what a
    * foreachBatch caller's checkpoint replay does after a crash. The
    * distinct-months collect is bounded by the number of touched
    * partitions (a handful of months per crawl batch), not by data
    * volume.
    *
    * Recovery invariant (proven by MergeOpsSpec's kill-between-renames
    * case): after a crash at ANY point, the next merge / reconcile /
    * compact call first restores every month whose only live copy sits
    * under `_mretired` and discards the `_mstaging` root, leaving the
    * table readable with no month lost — each month holding either its
    * pre-merge or its post-merge contents, never neither. A killed
    * batch is recovered TO THE PRE-MERGE STATE for its unswapped
    * months; re-running the batch completes it.
    *
    * Reader exclusion: the swap is crash-safe but NOT reader-atomic —
    * between a month's retire and activate renames a concurrent reader
    * of the table sees that month's rows silently absent (no error).
    * Single writer is assumed, and readers must not overlap a merge /
    * reconcile / compact call on the same table; schedule reads around
    * merges, or read through a snapshot copy.
    *
    * Layout: each touched month is written as one file, or one per
    * AQE split for a month past the advisory partition size (see
    * `MonthSwap.stage`), however many tasks produced the merged rows.
    */
  def upsertParquetByMonth(spark: SparkSession, tablePath: String,
      incoming: DataFrame, keys: Seq[String], recency: String,
      partCol: String = "start_month"): Unit = {
    val swap = new MonthSwap(spark, tablePath)
    val fs = swap.fs
    val dest = swap.dest
    swap.recoverOrphans()
    // the mirror of the sharded merge's layout guard: a month-level
    // rewrite of a sharded table would flatten its touched months and
    // mix the two layouts under one root
    shardLayout(fs, dest).foreach { case (sc, n) =>
      throw new IllegalStateException(
        s"$tablePath is hash-sharded ($sc, $n shards) — use " +
          "upsertParquetByMonthShard with the manifest's geometry")
    }
    // One row per touched month — bounded by partition count, not rows.
    val monthsRaw = incoming.select(col(partCol).cast("string"))
      .distinct().collect().map(_.getString(0))
    requireMonthValues(partCol, monthsRaw.toSeq)
    val months = monthsRaw.sorted
    if (months.isEmpty) return
    val destHasData = fs.exists(dest) &&
      fs.listStatus(dest).exists(_.getPath.getName.startsWith(partCol + "="))
    val merged =
      if (destHasData) {
        // Partition-pruned read: only the touched month directories.
        val existing = spark.read.parquet(tablePath)
          .filter(col(partCol).isin(months: _*))
          .withColumn(partCol, col(partCol).cast("string"))
        upsert(existing, incoming, keys, recency)
      } else incoming
    swap.stage(merged, Seq(partCol))
    swap.activate(partCol, months)
  }

  /** The sharded layout's key→shard assignment: a stable hash of the
    * merge keys, mod the shard count, rendered as a non-numeric
    * partition value (`s` prefix + zero-pad) so Spark's partition-type
    * inference keeps it a string and lexicographic order = numeric
    * order. Key-stable by construction — every version of a key lands
    * in the same shard, so a shard-scoped merge always sees both the
    * old and the new version of any key it touches.
    */
  def keyShard(keys: Seq[String], numShards: Int): Column = {
    val w = math.max(2, (numShards - 1).toString.length)
    concat(lit("s"), lpad(
      pmod(xxhash64(keys.map(col): _*), lit(numShards.toLong))
        .cast("string"), w, "0"))
  }

  /** The sharded table's manifest: (shardCol, numShards) if the table
    * root carries a `_shard_layout`, None for the unsharded layout.
    * Spark readers ignore `_`-prefixed files, so the manifest is
    * invisible to queries over the table.
    */
  private def shardLayout(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Option[(String, Int)] = {
    val mp = new org.apache.hadoop.fs.Path(dest, "_shard_layout")
    if (!fs.exists(mp)) None
    else {
      val m = GateLayout.read(fs, mp)
      Some((m("shard_col"), m("num_shards").toInt))
    }
  }

  /** K1 at 100 TB, knee removed — the sub-month HASH-SHARDED keyed
    * merge. [[upsertParquetByMonth]] bounds a batch's rewrite at the
    * touched MONTHS, which holds until a single month outgrows its
    * rewrite budget (at 100 TB a hot month is terabytes — the named
    * analytic knee). This variant sub-partitions every month by a
    * stable hash of the merge keys (`month=M/shard=sNN`,
    * [[keyShard]]), so a batch rewrites only the (month, shard) pairs
    * its keys actually occupy: the rewrite unit is month-volume ÷
    * numShards regardless of how big the month grows. Size numShards
    * to the deployment's rewrite budget (shards ≈ month bytes /
    * budget) the same way a Bloom front sizes its bits to capacity.
    *
    * Reference semantics unchanged — this is the same latest-wins
    * upsert-on-arrival (reference: my_scrapers/unified_scraper.py:622-642,
    * database/etl_sqlite_to_mongo.py:129-164) at a finer rewrite
    * granularity; MergeOpsSpec pins read-back equality with the
    * unsharded path, and the k1_sharded_merge oracle row pins it
    * against DuckDB.
    *
    * numShards is TABLE state, not a per-call knob: the key→shard map
    * must match what's on disk or a key's old version survives in a
    * shard the merge never reads. A `_shard_layout` manifest written
    * at the table root records (numShards, shardCol, keys, partCol)
    * and every call fails fast on a mismatch (the remedy is
    * [[reshard]], the explicit crash-safe full-rewrite operator). A
    * table built by the UNSHARDED merge is likewise refused — the two
    * layouts must never mix under one root ([[reshard]] with explicit
    * keys adopts such a table). Each merge also measures the mean
    * touched-shard size against `shardRewriteBudgetBytes` and warns
    * loudly when the geometry has outgrown its rewrite budget
    * (shards ≈ month bytes / budget), so a drifting deployment learns
    * BEFORE merges go linear rather than from a latency graph.
    *
    * Same per-partition staging/retire crash safety, idempotent-replay
    * contract, key-stable-month contract ([[reconcileCrossMonthKeys]]
    * closes month moves; a key's SHARD cannot move — it is derived
    * from the keys), and single-writer/reader-exclusion caveats as the
    * month merge. The touched-pairs collect is bounded by months ×
    * shards present in the batch, not data volume.
    */
  def upsertParquetByMonthShard(spark: SparkSession, tablePath: String,
      incoming: DataFrame, keys: Seq[String], recency: String,
      partCol: String = "start_month", numShards: Int = 64,
      shardCol: String = "kshard",
      shardRewriteBudgetBytes: Long = 4L << 30,
      hook: (String, String) => Unit = (_, _) => ()): Unit = {
    import org.apache.hadoop.fs.Path
    require(numShards > 0 && numShards <= 100000,
      s"numShards must be in [1, 100000], got $numShards")
    val dest = new Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sentinelPath = new Path(dest, rOnlineSentinel)
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      require(rounds <= 20,
        s"merge routing for $tablePath did not stabilize after $rounds " +
          "rounds — the online-reshard state is churning faster than " +
          "the protocol allows; inspect the generation manifests")
      val man = readGenManifest(fs, dest)
      if (man.isEmpty) {
        if (fs.exists(sentinelPath))
          // ENTER in flight (months being staged into the source
          // generation, manifest v1 not yet committed) or the tail of
          // a completed EXIT (manifests swept, sentinel not yet) —
          // both are metadata-only windows measured in seconds, and
          // neither exposes a manifest to route through. Retryable by
          // contract, and the refusal is AMBIGUOUS, not negative: a
          // batch refused at its commit may already have rows in a
          // generation month the exit carries to the root — re-run
          // the SAME batch (idempotent latest-wins), never an altered
          // one. Resuming the migration also clears the window.
          throw new IllegalStateException(
            s"$tablePath is inside an online-reshard metadata window " +
              "(enter/exit) — retry the merge shortly, or resume the " +
              "migration with MergeOps.reshardOnline(same target)")
        sweepStragglerResidue(fs, dest, sentinelPath)
        upsertShardFlat(spark, tablePath, incoming, keys, recency,
          partCol, numShards, shardCol, shardRewriteBudgetBytes)
        done = true
      } else if (man.get.globals.get("closing").contains("true")) {
        throw new IllegalStateException(
          s"$tablePath is inside an online-reshard metadata window " +
            "(enter/exit) — retry the merge shortly, or resume the " +
            "migration with MergeOps.reshardOnline(same target)")
      } else {
        // MIGRATE phase — the hours-long part at 100 TB: route each
        // month of the batch to its manifest-mapped generation and
        // geometry, then commit the merge as a manifest version.
        // false = the migration exited (or began exiting) while this
        // batch was writing — loop and re-resolve from scratch (the
        // re-applied merge is idempotent latest-wins).
        done = upsertShardRouted(spark, dest, fs, incoming, keys,
          recency, partCol, numShards, shardRewriteBudgetBytes,
          man.get, hook)
      }
    }
  }

  /** The MIGRATE-phase merge: batches keep landing while
    * [[reshardOnline]] rewrites months — the writer-liveness half of
    * the availability contract (readers: [[readMonthTable]]).
    *
    * Protocol, optimistic-concurrency shape:
    *  1. Route each incoming month to its CURRENT location — the
    *     manifest's (generation, shards) entry; a month the manifest
    *     has never seen (a new month arriving mid-migration) routes
    *     to the TARGET generation at the target geometry, so the
    *     migration never has to chase it.
    *  2. Physically merge each routed group via the ordinary
    *     flat-table machinery against the generation root (same
    *     staging/retire crash safety, scoped to the generation dir).
    *  3. Commit by CAS-writing the next manifest version with every
    *     merged month's `seq` bumped — the signal the migration's own
    *     commit checks to detect a merge that landed after it staged
    *     a month's rewrite. Before committing, REVALIDATE the
    *     routing: any month whose mapping moved (the migration
    *     committed it to the target mid-write) is re-merged at its
    *     new location — the superseded write sits in a dir the
    *     migration is about to delete, and the re-applied latest-wins
    *     merge is idempotent, so no torn state is reachable. Routing
    *     moves are monotone (src → target → flat), bounding the redo
    *     loop by construction.
    *
    * A merge is DURABLE only once its seq-bump commit lands (the CAS
    * is the linearization point): a crash after the physical write
    * but before the commit can lose those rows to a concurrently
    * committing migration month — but the batch was never
    * acknowledged, so the caller's apply-or-retry contract (re-run
    * the batch; idempotent) already covers it, exactly as it covers a
    * crash mid-swap on the flat path.
    *
    * The caller's declared `numShards` must equal the source or the
    * target geometry — per-month truth comes from the manifest, but a
    * declaration matching NEITHER generation is the same caller bug
    * the flat path fail-fasts on. */
  private def upsertShardRouted(spark: SparkSession,
      dest: org.apache.hadoop.fs.Path, fs: org.apache.hadoop.fs.FileSystem,
      incoming: DataFrame, keys: Seq[String], recency: String,
      callerPartCol: String, callerShards: Int,
      shardRewriteBudgetBytes: Long,
      man0: GenManifest, hook: (String, String) => Unit): Boolean = {
    import org.apache.hadoop.fs.Path
    val g = man0.globals
    val partCol = g("part_col")
    require(keys == g("shard_keys").split(",").toSeq,
      s"keys ${keys.mkString(",")} differ from the migration manifest's " +
        s"${g("shard_keys")} for $dest")
    // same caller-bug-made-loud treatment as keys/numShards: a merge
    // declaring a different partition column must not silently
    // proceed on the manifest's
    require(callerPartCol == partCol,
      s"partCol=$callerPartCol differs from the migration manifest's " +
        s"$partCol for $dest")
    // the sentinel can vanish between the caller's manifest read and
    // here (EXIT completed and swept everything) — that is just the
    // state moving on: re-resolve from the top rather than surfacing
    // a FileNotFound from inside the protocol
    val sentinel =
      try GateLayout.read(fs, new Path(dest, rOnlineSentinel))
      catch { case _: java.io.FileNotFoundException => return false }
    val srcShards = sentinel("src_shards").toInt
    val tgtShards = g("target_shards").toInt
    require(callerShards == srcShards || callerShards == tgtShards,
      s"numShards=$callerShards matches neither the source " +
        s"($srcShards) nor the target ($tgtShards) geometry of the " +
        s"online reshard in progress at $dest")
    val srcGen = g("src_gen")
    val tgtGen = g("target_gen")
    val monthsRaw = incoming.select(col(partCol).cast("string"))
      .distinct().collect().map(_.getString(0))
    requireMonthValues(partCol, monthsRaw.toSeq)
    val months = monthsRaw.sorted.toSeq
    if (months.isEmpty) return true
    def route(man: GenManifest, mo: String): (String, Int) =
      man.months.get(mo).map(e => (e.gen, e.shards))
        .getOrElse((tgtGen, tgtShards))
    var routing = months.map(mo => mo -> route(man0, mo)).toMap
    var toWrite = months.toSet
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 20,
        s"routed merge for $dest did not converge after $attempts " +
          "revalidation rounds — inspect the generation manifests")
      for ((genName, ms) <- toWrite.groupBy(mo => routing(mo)._1)) {
        val n = routing(ms.head)._2
        val slice = incoming.filter(
          col(partCol).cast("string").isin(ms.toSeq: _*))
        upsertShardFlat(spark, new Path(dest, genName).toString, slice,
          keys, recency, partCol, n, g("shard_col"),
          shardRewriteBudgetBytes)
      }
      if (toWrite.nonEmpty)
        hook("routed_written", toWrite.toSeq.sorted.mkString(","))
      // commit: revalidate the routing on FRESH state, then CAS
      val cur = readGenManifest(fs, dest) match {
        case None => return false // migration exited — redo flat
        case Some(c) => c
      }
      if (cur.globals.get("closing").contains("true")) return false
      val moved = months.filter(mo => route(cur, mo) != routing(mo))
      if (moved.nonEmpty) {
        routing ++= moved.map(mo => mo -> route(cur, mo))
        toWrite = moved.toSet
      } else {
        val next = cur.copy(version = cur.version + 1,
          months = cur.months ++ months.map { mo =>
            val (gn, n) = routing(mo)
            mo -> MonthEntry(gn, n,
              cur.months.get(mo).map(_.seq).getOrElse(0L) + 1L)
          })
        if (tryCommitGenManifest(fs, dest, next)) {
          hook("routed_committed", months.mkString(","))
          return true
        }
        toWrite = Set.empty // CAS lost: revalidate only, no rewrites
      }
    }
    false // unreachable
  }

  /** The flat-layout sharded merge core — [[upsertParquetByMonthShard]]
    * body when no online reshard is in flight, and the per-generation
    * workhorse of the routed path (called against a generation root,
    * whose `_shard_layout` the migration maintains). */
  private def upsertShardFlat(spark: SparkSession, tablePath: String,
      incoming: DataFrame, keys: Seq[String], recency: String,
      partCol: String, numShards: Int, shardCol: String,
      shardRewriteBudgetBytes: Long): Unit = {
    val swap = new MonthSwap(spark, tablePath)
    val fs = swap.fs
    val dest = swap.dest
    swap.recoverOrphans()
    val mp = new org.apache.hadoop.fs.Path(dest, "_shard_layout")
    val expect = Seq("num_shards" -> numShards.toString,
      "shard_col" -> shardCol, "shard_keys" -> keys.mkString(","),
      "part_col" -> partCol)
    if (fs.exists(mp)) GateLayout.check(GateLayout.read(fs, mp),
      tablePath, expect)
    else {
      if (fs.exists(dest) && fs.listStatus(dest)
          .exists(_.getPath.getName.startsWith(partCol + "=")))
        throw new IllegalStateException(
          s"$tablePath holds $partCol= partitions but no _shard_layout " +
            "manifest — it was written by the unsharded month merge. " +
            "Adopt it explicitly via MergeOps.reshard(newNumShards, " +
            "keys); the two layouts must never mix.")
      fs.mkdirs(dest)
      GateLayout.write(fs, mp, expect)
    }
    val inc = incoming.withColumn(shardCol, keyShard(keys, numShards))
    // One row per touched (month, shard) pair — bounded by partition
    // geometry, never data volume.
    val touched = inc
      .select(col(partCol).cast("string"), col(shardCol))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    requireMonthValues(partCol, touched.map(_._1).toSeq)
    val pairs = touched.sorted.toSeq
    if (pairs.isEmpty) return
    // Pruned-by-construction read: the touched (month, shard) dirs
    // are handed to the reader as explicit paths, so partition
    // DISCOVERY is O(touched pairs) — a filter-after-read would make
    // every batch list the whole table's shard directories, a
    // metadata term that grows with table size and dwarfs a small
    // batch's real work (measured: the `mergeshard` ScaleProbe curve
    // was linear-in-volume under discovery, flat under direct paths).
    // `basePath` keeps the partition columns in the schema.
    val existingPaths = pairs.map { case (m, sh) =>
      new org.apache.hadoop.fs.Path(dest, s"$partCol=$m/$shardCol=$sh")
    }.filter(fs.exists).map(_.toString)
    val merged =
      if (existingPaths.nonEmpty) {
        val existing = spark.read.option("basePath", tablePath)
          .parquet(existingPaths: _*)
          .withColumn(partCol, col(partCol).cast("string"))
          .withColumn(shardCol, col(shardCol).cast("string"))
        upsert(existing, inc, keys, recency)
      } else inc
    swap.stage(merged, Seq(partCol, shardCol))
    // numShards sizing diagnostic — geometry is static TABLE state a
    // deployment must guess up front, so the merge (which already
    // opened exactly the touched dirs) measures what the guess costs:
    // the mean touched-shard rewrite unit in bytes. Past the stated
    // budget the remedy is [[reshard]]; the warning states the sizing
    // rule (shards ≈ month bytes / budget) so the operator can compute
    // the new count from numbers already in hand. O(touched) listings
    // only — never a table walk.
    if (shardRewriteBudgetBytes > 0 && existingPaths.nonEmpty) {
      val meanBytes = existingPaths.map(p =>
        fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .filter(_.isFile).map(_.getLen).sum).sum / existingPaths.length
      if (meanBytes > shardRewriteBudgetBytes) System.err.println(
        s"[month-shard-merge] mean touched shard holds $meanBytes " +
          s"bytes (> shardRewriteBudgetBytes=$shardRewriteBudgetBytes) " +
          s"for $tablePath — every batch rewrites shards this size; " +
          "grow the geometry with MergeOps.reshard(newNumShards ≈ " +
          "month bytes / budget)")
    }
    swap.activateDirs(pairs.map { case (m, sh) =>
      s"$partCol=$m/$shardCol=$sh" })
  }

  /** Recovery half of [[reshard]]'s whole-root commit protocol, run by
    * every table entry point (via MonthSwap.recoverOrphans) BEFORE
    * reading: a crash between reshard's two renames leaves the
    * table's only copy under `_rretired` — restore it; any other
    * leftover sibling state is an uncommitted staging root or an
    * already-superseded retired root — discard it.
    */
  private def recoverReshard(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val rStaging = new Path(dest.getParent, dest.getName + "_rstaging")
    val rRetired = new Path(dest.getParent, dest.getName + "_rretired")
    if (fs.exists(rRetired) && !fs.exists(dest)) {
      if (!fs.rename(rRetired, dest))
        throw new java.io.IOException(
          s"crashed reshard left the table's only copy at $rRetired " +
            s"but it could not be restored to $dest")
    }
    fs.delete(rRetired, true)
    fs.delete(rStaging, true)
  }

  /** Grow (or shrink) a sharded table's geometry — the explicit
    * operator the sharded merge's fail-fast names as its remedy: at
    * 100 TB shard counts must grow as months grow (shards ≈ month
    * bytes / rewrite budget), and `numShards` is table state the
    * merge refuses to drift from. Every key's shard assignment
    * changes, so this is honestly a FULL-TABLE rewrite: one
    * distributed job shuffles the table once on the new
    * (month, shard) key (each pair lands in one task — write
    * parallelism is min(shuffle partitions, months×newNumShards),
    * which the geometry makes plentiful at scale by construction —
    * rows key-sorted for row-group-stats locality, files bounded at
    * `maxRecordsPerFile` like compactMonths' rewrite), staged as a
    * complete sibling root carrying the NEW `_shard_layout` manifest.
    *
    * Commit is a whole-root two-rename swap (live → `_rretired`,
    * staged → live), so geometry and manifest change ATOMICALLY — a
    * month-at-a-time reshard would leave a crash window where months
    * of BOTH geometries share one root and one manifest, exactly the
    * mixed-layout state every entry point fail-fasts on. Crash at any
    * point: before the first rename the table is untouched (staging
    * discarded on the next call); between the renames the table's
    * only copy sits at `_rretired` and every entry point restores it
    * first ([[recoverReshard]] — apply-or-retry, rerun the reshard);
    * after the second the swap is complete (`_rretired` is swept).
    * Same single-writer / reader-exclusion contract as the merge —
    * between the renames a concurrent reader sees NO table, and the
    * staging write transiently doubles the table's disk footprint.
    *
    * Also ADOPTS an unsharded month table into the sharded layout
    * (pass the merge `keys` — there is no manifest to read them
    * from), closing the month merge's documented migration path.
    * Returns true when a rewrite happened, false for the no-op
    * (already at `newNumShards`).
    */
  def reshard(spark: SparkSession, tablePath: String, newNumShards: Int,
      keys: Seq[String] = Nil, partCol: String = "start_month",
      shardCol: String = "kshard",
      maxRecordsPerFile: Long = 5000000L): Boolean = {
    require(newNumShards > 0 && newNumShards <= 100000,
      s"newNumShards must be in [1, 100000], got $newNumShards")
    val swap = new MonthSwap(spark, tablePath)
    val fs = swap.fs
    val dest = swap.dest
    swap.recoverOrphans()
    require(fs.exists(dest), s"no table at $tablePath")
    val mp = new org.apache.hadoop.fs.Path(dest, "_shard_layout")
    val (useKeys, usePart, useShard, oldN) = shardLayout(fs, dest) match {
      case Some((sc, n)) =>
        val m = GateLayout.read(fs, mp)
        val mKeys = m("shard_keys").split(",").toSeq
        require(keys.isEmpty || keys == mKeys,
          s"keys ${keys.mkString(",")} differ from the manifest's " +
            s"${m("shard_keys")} — the key set cannot change in a reshard")
        (mKeys, m.getOrElse("part_col", partCol), sc, n)
      case None =>
        require(keys.nonEmpty,
          s"$tablePath has no _shard_layout manifest (unsharded " +
            "layout) — pass the merge keys to adopt it into the " +
            "sharded layout")
        require(fs.listStatus(dest)
            .exists(_.getPath.getName.startsWith(partCol + "=")),
          s"$tablePath holds no $partCol= partitions")
        (keys, partCol, shardCol, -1)
    }
    if (oldN == newNumShards) return false
    val rStaging = new org.apache.hadoop.fs.Path(
      dest.getParent, dest.getName + "_rstaging")
    val rRetired = new org.apache.hadoop.fs.Path(
      dest.getParent, dest.getName + "_rretired")
    val t0 = spark.read.parquet(tablePath)
      .withColumn(usePart, col(usePart).cast("string"))
    val t = (if (oldN > 0) t0.drop(useShard) else t0)
      .withColumn(useShard, keyShard(useKeys, newNumShards))
    t.repartition(col(usePart), col(useShard))
      .sortWithinPartitions(
        ((usePart +: useShard +: useKeys).map(col)): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(usePart, useShard).parquet(rStaging.toString)
    GateLayout.write(fs, new org.apache.hadoop.fs.Path(
        rStaging, "_shard_layout"),
      Seq("num_shards" -> newNumShards.toString,
        "shard_col" -> useShard, "shard_keys" -> useKeys.mkString(","),
        "part_col" -> usePart))
    // the whole-root commit: two renames, recoverReshard's contract
    if (!fs.rename(dest, rRetired))
      throw new java.io.IOException(
        s"could not retire $dest for reshard (staged root intact at " +
          s"$rStaging — the table is unchanged)")
    if (!fs.rename(rStaging, dest))
      throw new java.io.IOException(
        s"could not activate $rStaging as $dest — the table's only " +
          s"copy sits at $rRetired and the next table op restores it")
    fs.delete(rRetired, true)
    true
  }

  // ----- ONLINE reshard: generation-pointer commit ------------------
  // [[reshard]]'s whole-root two-rename swap has two honest costs at
  // 100 TB: between the renames a concurrent reader sees NO table,
  // and the staged sibling transiently doubles the table's disk
  // footprint for the hours the rewrite takes. [[reshardOnline]]
  // removes both with a generation indirection that exists only for
  // the migration's duration: months migrate one at a time between
  // two generation roots, every migrated month commits by writing the
  // NEXT version of a tiny generation manifest (staged-then-renamed
  // to a fresh versioned name, so readers listing manifests always
  // see a complete set and resolve the max version — no torn or
  // absent pointer is ever observable), and the superseded source
  // month is deleted one commit LATER (a one-version grace), capping
  // the transient disk overhead at ~2 months instead of the table.

  private val rGenManifestPrefix = "_gen_manifest_"
  private val rOnlineSentinel = "_reshard_online"

  /** One month's pointer state inside the generation manifest: which
    * generation dir currently holds it, at what shard count, and a
    * per-month merge sequence number (`seq`) — bumped by every routed
    * merge that lands in the month, so the migration can detect a
    * merge that arrived after it staged the month's rewrite and redo
    * the rewrite instead of silently dropping the merged rows. */
  private case class MonthEntry(gen: String, shards: Int, seq: Long)

  /** The migration's reader-visible pointer state: `version` is the
    * manifest's monotonically increasing commit number, `months` maps
    * each month value to its [[MonthEntry]]. A `closing -> true`
    * global marks the EXIT barrier: routed merges observing it fail
    * fast (retryable, seconds) while the metadata renames complete. */
  private case class GenManifest(version: Long,
      globals: Map[String, String], months: Map[String, MonthEntry])

  /** CAS-commit manifest `m` AT version `m.version`. Returns false on
    * any lost race — re-read the manifest and retry on fresh state.
    *
    * Protocol (two committer classes can race: the migration and
    * routed merges):
    *
    *  1. STALENESS CHECK — the version number must be fresh. Every
    *     version ever used leaves a trace until EXIT: the live
    *     manifest, a one-version-grace predecessor, or a `.spent`
    *     tombstone CARRYING the swept manifest's bytes (the payload
    *     the verify step's swept-vs-lost disambiguation reads).
    *     A committer whose read went stale by ANY
    *     number of commits (arbitrarily long GC pause included) finds
    *     its target version's trace and retries — the
    *     acknowledged-but-invisible stale publish is structurally
    *     unreachable, not improbable.
    *  2. CLAIM — create-exclusive a `.claim` sibling CARRYING the
    *     full manifest content. An existing claim is a committer
    *     mid-publish (microseconds) or a crashed one (forever):
    *     delete it and retry — a crashed owner would otherwise wedge
    *     the version number permanently (nothing else ever sweeps an
    *     orphan whose version is still next-in-line), and a LIVE
    *     owner's subsequent rename simply fails and re-verifies.
    *  3. PUBLISH — rename claim → final (the versioned name), then
    *     VERIFY the published bytes are ours: step 2's delete-on-
    *     sight means a racer can have deleted our claim and re-
    *     created the path with its own content, so exactly one
    *     committer's rename+readback both succeed; the other sees
    *     foreign bytes (or a failed rename) and retries. A crash
    *     mid-claim-write leaves a torn claim that only step 2's
    *     delete ever touches — torn bytes can never publish.
    *
    * (create-exclusive is atomic on HDFS; on a raw local FS the
    * exists+create pair has a theoretical check-then-act window that
    * a single-driver deployment — the shape this repo runs — never
    * exercises.) */
  private def tryCommitGenManifest(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path, m: GenManifest): Boolean = {
    import org.apache.hadoop.fs.Path
    val name = f"$rGenManifestPrefix${m.version}%09d"
    val finalP = new Path(dest, name)
    val spentP = new Path(dest, name + ".spent")
    val claim = new Path(dest, name + ".claim")
    // 1. staleness: this version number was already used (live file,
    // grace predecessor, or tombstone) → the caller's read is stale
    if (fs.exists(finalP) || fs.exists(spentP)) return false
    // 2. claim: an existing one is mid-publish or crashed — unwedge
    if (fs.exists(claim)) { fs.delete(claim, false); return false }
    val content = (
      m.globals.toSeq.sorted.map { case (k, v) => s"g\t$k\t$v" } ++
        m.months.toSeq.sortBy(_._1).map { case (mo, e) =>
          s"m\t$mo\t${e.gen}\t${e.shards}\t${e.seq}" }).mkString("\n")
    try {
      val out = fs.create(claim, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    } catch {
      case e: java.io.IOException =>
        if (fs.exists(claim) || fs.exists(finalP)) return false
        else throw e
    }
    // 3. publish + verify-ours. The rename must be NO-CLOBBER
    // (FileContext's default, Rename.NONE): FileSystem.rename on a
    // raw local FS is POSIX rename(2), which silently REPLACES an
    // existing destination — committer A publishes, committer B
    // (whose staleness check predated A's publish and whose claim
    // check postdated it, the claim having been renamed away) would
    // clobber A's already-acknowledged version with its own bytes
    // and BOTH would verify-ours successfully at different instants.
    // With no-clobber semantics the second rename fails instead.
    val renamed = try {
      org.apache.hadoop.fs.FileContext
        .getFileContext(fs.getUri, fs.getConf).rename(claim, finalP)
      true
    } catch {
      // lost the race (dst exists / claim deleted by a racer) — and
      // any other IO failure is also safely "not published": the
      // verify below is what acknowledges, never the rename alone
      case _: java.io.IOException => false
    }
    def readsAsOurs(p: Path): Boolean = try {
      val in = fs.open(p)
      val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      got == content
    } catch { case _: java.io.IOException => false }
    // The read-back can fail even though OUR commit published and
    // stood: a racing committer two versions ahead can sweep the
    // just-published file between our rename and our read. The
    // tombstone CARRIES the swept bytes (written below), so that case
    // is distinguishable from "a racer's claim-swap won the rename":
    // tombstone payload == our content ⇒ our commit was published,
    // acknowledged here, and superseded normally — reporting it lost
    // would force the caller into a spurious seq-bump re-commit and
    // restage. Foreign bytes in either place, or no readable trace
    // (transient IO), conservatively report lost — the idempotent
    // retry is the safe side.
    val published = renamed &&
      (readsAsOurs(finalP) || readsAsOurs(spentP))
    if (!published) {
      if (!renamed) fs.delete(claim, false)
      return false
    }
    // Sweep superseded versions with a ONE-VERSION content grace (a
    // reader that listed just before this commit resolved version-1
    // and may open it a beat later — month M's superseded source dir
    // outlives its mapping change by the same one commit, so every
    // manifest a reader can resolve maps every month to a dir that
    // still exists), leaving a `.spent` tombstone for step 1's
    // staleness check. Tombstone BEFORE delete — a crash between the
    // two must never lose the version's trace. Tombstones carry the
    // swept manifest's bytes (NOT zero-byte — the verify step's
    // swept-vs-lost disambiguation depends on the payload), are
    // bounded by the migration's commit count × manifest size, and
    // EXIT sweeps them all.
    fs.listStatus(dest).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith(rGenManifestPrefix)) {
        val core = n.stripPrefix(rGenManifestPrefix)
        if (core.nonEmpty && core.forall(_.isDigit) &&
            core.toLong < m.version - 1) {
          // tombstone-then-delete, and the delete is CONDITIONAL on
          // the tombstone landing: sweeping content after a failed
          // tombstone write would erase the version's staleness
          // trace — the exact lost-update hole the tombstones close.
          // A version left un-swept is retried at the next commit.
          // The tombstone CARRIES the swept manifest's bytes (not
          // zero-byte): a committer whose publish was swept before
          // its verify read-back distinguishes "mine stood" from
          // "a racer's bytes won" by comparing this payload — see
          // the verify step above. Cost is bounded by the
          // migration's commit count × manifest size, and EXIT
          // sweeps every tombstone.
          val spentOk = try {
            val in = fs.open(p)
            val bytes = try scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString.getBytes("UTF-8") finally in.close()
            val out = fs.create(new Path(dest, n + ".spent"), true)
            try out.write(bytes) finally out.close()
            true
          } catch { case _: java.io.IOException => false }
          if (spentOk) fs.delete(p, false)
        } else if (core.endsWith(".claim")) {
          val v = core.stripSuffix(".claim")
          if (v.nonEmpty && v.forall(_.isDigit) && v.toLong < m.version)
            fs.delete(p, false)
        }
      }
    }
    true
  }

  private def readGenManifest(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Option[GenManifest] = {
    // belt-and-braces beside the write-side grace: losing a
    // list-then-open race (the resolved version swept between our
    // listing and our open) means the state ADVANCED — re-list and
    // resolve the newer max rather than surfacing FileNotFound
    var attempts = 0
    while (true) {
      attempts += 1
      if (!fs.exists(dest)) return None
      val names = fs.listStatus(dest).map(_.getPath.getName)
        .filter(n => n.startsWith(rGenManifestPrefix) &&
          !n.endsWith(".wtmp") &&
          n.stripPrefix(rGenManifestPrefix).nonEmpty &&
          n.stripPrefix(rGenManifestPrefix).forall(_.isDigit))
      if (names.isEmpty) return None
      val name = names.maxBy(_.stripPrefix(rGenManifestPrefix).toLong)
      try {
        val in = fs.open(new org.apache.hadoop.fs.Path(dest, name))
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).toList
          finally in.close()
        val globals = lines.collect {
          case l if l.startsWith("g\t") =>
            val Array(_, k, v) = l.split("\t", 3); k -> v
        }.toMap
        val months = lines.collect {
          case l if l.startsWith("m\t") =>
            // 5-token current form (…\tshards\tseq); the 4-token form
            // predates routed merges and reads as seq = 0
            l.split("\t") match {
              case Array(_, mo, g, n, q) => mo -> MonthEntry(g, n.toInt, q.toLong)
              case Array(_, mo, g, n) => mo -> MonthEntry(g, n.toInt, 0L)
              case other => throw new java.io.IOException(
                s"malformed generation-manifest month line '$l' in $name")
            }
        }.toMap
        return Some(GenManifest(
          name.stripPrefix(rGenManifestPrefix).toLong, globals, months))
      } catch {
        case e: java.io.FileNotFoundException =>
          if (attempts >= 5) throw e
      }
    }
    None // unreachable
  }

  /** Fail-fast exclusion while an online reshard is live — called by
    * every MAINTENANCE writer entry point (via MonthSwap's recovery):
    * reconcile / compact / retention / offline reshard own whole-table
    * geometry and wait out the migration. The keyed MERGE is exempt —
    * [[upsertParquetByMonthShard]] routes through the generation
    * manifest and keeps landing batches for the migration's whole
    * duration (upsert-on-arrival never pauses for a geometry change;
    * reference contract: my_scrapers/unified_scraper.py:622-642). */
  private[operators] def assertNoOnlineReshard(
      fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(new org.apache.hadoop.fs.Path(dest, rOnlineSentinel))
        || readGenManifest(fs, dest).nonEmpty)
      throw new IllegalStateException(
        s"$dest has an online reshard in progress — maintenance " +
          "writers are excluded until it completes (keyed merges stay " +
          "live via upsertParquetByMonthShard's manifest routing); " +
          "resume it with MergeOps.reshardOnline(same target); " +
          "readers stay live through MergeOps.readMonthTable")

  /** Read a month-partitioned table in ANY of its states — flat
    * layout (plain parquet read) or mid-online-reshard (assemble the
    * month list from the generation manifest plus the actual
    * directories, preferring each month's manifest-mapped location).
    * This is the reader the migration keeps live: at every commit
    * point the resolved view is a complete, consistent table. Cheap
    * in the steady state (one root listing to learn "flat"). */
  def readMonthTable(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val dest = new Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val man = readGenManifest(fs, dest)
    val sentinelPath = new Path(dest, rOnlineSentinel)
    val sentinel =
      if (fs.exists(sentinelPath)) Some(GateLayout.read(fs, sentinelPath))
      else None
    if (man.isEmpty && sentinel.isEmpty)
      return spark.read.parquet(tablePath)
    val globals = man.map(_.globals).orElse(sentinel).get
    val partCol = globals("part_col")
    val shardCol = globals("shard_col")
    val genNames = Seq(globals.get("target_gen"), globals.get("src_gen"))
      .flatten.distinct
    def monthsUnder(root: Path): Seq[String] =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith(partCol + "=")).toSeq
        .map(_.stripPrefix(partCol + "="))
    // every month anywhere, each resolved to ONE location: the
    // manifest's mapping when that dir exists (post-commit the source
    // copy may linger one grace step — the manifest disambiguates),
    // else the table root (exit arrivals / enter stragglers), else
    // target-then-source generation.
    //
    // RETRY-UNTIL-STABLE: ENTER/EXIT rename whole month dirs between
    // the root and a generation dir, and this resolver takes its
    // snapshots sequentially — a month whose rename lands BETWEEN the
    // root listing and the generation listing can be absent from (or
    // present at a stale location in) one pass's view. A month dir is
    // renamed at most once per protocol phase, so two consecutive
    // passes that AGREE were not raced: re-list until the resolved
    // picks are identical twice in a row (steady state pays one extra
    // listing; ENTER/EXIT are metadata-only seconds, so convergence
    // is immediate in practice).
    def resolveOnce(): Map[String, String] = {
      val atRoot = monthsUnder(dest).toSet
      val atGen = genNames.map(g =>
        g -> monthsUnder(new Path(dest, g)).toSet).toMap
      val allMonths = atRoot ++ atGen.values.flatten
      allMonths.map { mo =>
        val mapped = man.flatMap(_.months.get(mo)).map(_.gen)
          .filter(g => atGen.getOrElse(g, Set.empty).contains(mo))
        val loc = mapped
          .orElse(if (atRoot.contains(mo)) Some("") else None)
          .orElse(genNames.find(g =>
            atGen.getOrElse(g, Set.empty).contains(mo)))
        mo -> loc.get
      }.toMap
    }
    var picks = resolveOnce()
    var prev: Map[String, String] = null
    var tries = 0
    while (picks != prev && tries < 8) {
      prev = picks
      picks = resolveOnce()
      tries += 1
    }
    if (picks != prev) System.err.println(
      s"[readMonthTable] month resolution did not stabilize after " +
        s"$tries passes for $tablePath — proceeding with the latest " +
        "view; a concurrent read may still hit a mid-rename path " +
        "(listing churn this sustained usually means something other " +
        "than ENTER/EXIT is renaming month dirs)")
    val groups = picks.groupBy(_._2).toSeq.sortBy(_._1)
    if (groups.isEmpty) return spark.read.parquet(tablePath)
    groups.map { case (g, ms) =>
      val base = if (g.isEmpty) dest else new Path(dest, g)
      val paths = ms.keys.toSeq.sorted
        .map(mo => new Path(base, s"$partCol=$mo").toString)
      spark.read.option("basePath", base.toString).parquet(paths: _*)
        .withColumn(partCol, col(partCol).cast("string"))
        .withColumn(shardCol, col(shardCol).cast("string"))
    }.reduce(_ unionByName _)
  }

  /** Availability-safe geometry change — [[reshard]] with its two
    * operational costs removed: readers never observe an absent (or
    * partial) table, and transient disk overhead is capped at ~2
    * months instead of a full second table copy.
    *
    * Protocol, three phases:
    *
    *  1. ENTER (metadata-only, O(months) renames, seconds): a
    *     `_reshard_online` sentinel records the migration (its
    *     presence fail-fasts every MAINTENANCE writer entry point —
    *     compaction, reconcile, a second reshard — while keyed merges
    *     route through the manifest and stay live); the live months are
    *     renamed into a source generation dir and generation manifest
    *     v1 maps every month to it at the old geometry.
    *  2. MIGRATE (the hours-long part at 100 TB — readers live
    *     throughout): months move one at a time — rewrite the month
    *     into the target generation on the new (shard) key (one
    *     shuffle whose write parallelism is newNumShards tasks,
    *     key-sorted, file-bounded like the offline rewrite), then
    *     commit by writing manifest v+1 mapping the month to the
    *     target generation. The commit is an atomic rename to a fresh
    *     versioned name: a reader resolving the manifest set sees
    *     version v or v+1, both complete consistent views. The
    *     superseded source month is deleted one commit LATER (a
    *     one-version grace for readers that resolved v just before
    *     the commit), so peak extra disk is the in-flight month plus
    *     the grace month. Months migrate sequentially by design —
    *     that is the disk cap, and it makes the operator
    *     interruptible/resumable at month granularity.
    *  3. EXIT (metadata-only, O(months) renames): months are renamed
    *     back to the table root, the root `_shard_layout` is written
    *     at the new geometry, manifests are swept and the sentinel is
    *     removed LAST. The table ends in the ordinary flat sharded
    *     layout — identical on-disk contract to [[reshard]]'s result,
    *     so no read path changes survive the operation.
    *
    * Crash at any point: re-running `reshardOnline` with the same
    * target resumes from the recorded state (sentinel + manifest
    * reconstruct the phase; unreferenced target-generation month dirs
    * are rewritten, already-committed months are not repeated, a
    * crashed exit completes). [[readMonthTable]] reads every
    * intermediate state correctly, including mid-crash ones. Keyed
    * merges stay LIVE throughout MIGRATE — routed per month through
    * the generation manifest and committed as manifest versions
    * ([[upsertParquetByMonthShard]]'s routed path; ENTER/EXIT are
    * seconds-long retryable refusals). Only the other MAINTENANCE
    * writers (compaction, reconcile, another reshard) are excluded
    * for the migration's duration, failing fast with the remedy.
    *
    * Requires an already-sharded table (adopt an unsharded one via
    * the offline [[reshard]] first — a half-adopted root would show
    * readers months at two partition depths, which Spark's partition
    * discovery rejects). `hook(phase, month)` is test instrumentation
    * for crash injection and liveness probes at the protocol's commit
    * points; production callers leave the default no-op. Returns true
    * when a migration ran (or resumed), false for the no-op. */
  def reshardOnline(spark: SparkSession, tablePath: String,
      newNumShards: Int, maxRecordsPerFile: Long = 5000000L,
      hook: (String, String) => Unit = (_, _) => ()): Boolean = {
    import org.apache.hadoop.fs.Path
    require(newNumShards > 0 && newNumShards <= 100000,
      s"newNumShards must be in [1, 100000], got $newNumShards")
    val dest = new Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sentinelPath = new Path(dest, rOnlineSentinel)
    val resuming = fs.exists(sentinelPath)
    var man = readGenManifest(fs, dest)

    val globals: Map[String, String] =
      if (resuming) {
        val g = GateLayout.read(fs, sentinelPath)
        require(g("target_shards").toInt == newNumShards,
          s"a crashed online reshard targeting ${g("target_shards")} " +
            s"shards is recorded at $tablePath — resume with that " +
            s"target (got $newNumShards); geometry cannot change " +
            "mid-migration")
        g
      } else {
        require(man.isEmpty,
          s"$tablePath has a generation manifest but no sentinel — " +
            "unreachable by the protocol's ordering; inspect manually")
        // fresh run: ordinary flat-table validation and recovery first
        val swap = new MonthSwap(spark, tablePath)
        swap.recoverOrphans()
        require(fs.exists(dest), s"no table at $tablePath")
        val layout = shardLayout(fs, dest).getOrElse(throw
          new IllegalArgumentException(
            s"$tablePath has no _shard_layout manifest — online " +
              "reshard requires a sharded table; adopt an unsharded " +
              "one via the offline MergeOps.reshard first"))
        if (layout._2 == newNumShards) return false
        val m = GateLayout.read(fs, new Path(dest, "_shard_layout"))
        val g = Map(
          "part_col" -> m.getOrElse("part_col", "start_month"),
          "shard_col" -> layout._1,
          "shard_keys" -> m("shard_keys"),
          "src_shards" -> layout._2.toString,
          "target_shards" -> newNumShards.toString,
          "src_gen" -> "gen-000001",
          "target_gen" -> "gen-000002")
        GateLayout.write(fs, sentinelPath, g.toSeq.sorted)
        g
      }
    val partCol = globals("part_col")
    val shardCol = globals("shard_col")
    val keys = globals("shard_keys").split(",").toSeq
    val srcGen = globals("src_gen")
    val tgtGen = globals("target_gen")
    val srcRoot = new Path(dest, srcGen)
    val tgtRoot = new Path(dest, tgtGen)
    val rootLayoutPath = new Path(dest, "_shard_layout")

    // a sentinel with NO manifest is either a crashed ENTER or a
    // crashed tail of EXIT (manifests swept, sentinel not yet) — the
    // root _shard_layout disambiguates: at the target geometry the
    // exit completed and only the sweep remains
    if (man.isEmpty && fs.exists(rootLayoutPath) &&
        GateLayout.read(fs, rootLayoutPath)
          .get("num_shards").contains(newNumShards.toString)) {
      sweepGenerationResidue(fs, dest, srcGen, tgtGen)
      fs.delete(sentinelPath, false)
      return true
    }

    // ---- ENTER (idempotent: completes a crashed one) ----
    if (man.isEmpty) {
      fs.mkdirs(srcRoot)
      GateLayout.write(fs, new Path(srcRoot, "_shard_layout"), Seq(
        "num_shards" -> globals("src_shards"),
        "shard_col" -> shardCol,
        "shard_keys" -> globals("shard_keys"),
        "part_col" -> partCol))
      fs.listStatus(dest).map(_.getPath)
        .filter(_.getName.startsWith(partCol + "=")).foreach { mdir =>
          if (!fs.rename(mdir, new Path(srcRoot, mdir.getName)))
            throw new java.io.IOException(
              s"could not stage $mdir into $srcRoot for online reshard")
        }
      fs.delete(rootLayoutPath, false)
      hook("enter_staged", "")
      val months = fs.listStatus(srcRoot).map(_.getPath.getName)
        .filter(_.startsWith(partCol + "="))
        .map(_.stripPrefix(partCol + "=")).toSeq
      man = Some(GenManifest(1L, globals - "src_shards",
        months.map(_ -> MonthEntry(srcGen,
          globals("src_shards").toInt, 0L)).toMap))
      // loop: the first attempt can return false while unwedging a
      // crashed prior ENTER's orphaned claim; a bounded retry budget
      // still fails loud on a genuinely racing second migration
      var entered = false
      var enterTries = 0
      while (!entered && enterTries < 5) {
        enterTries += 1
        entered = tryCommitGenManifest(fs, dest, man.get)
      }
      require(entered,
        s"manifest v1 for $tablePath could not be committed after " +
          s"$enterTries attempts — another migration is racing this " +
          "one; online reshard is single-migration by contract")
      hook("enter_done", "")
    }

    // ---- MIGRATE ----
    fs.mkdirs(tgtRoot)
    if (!fs.exists(new Path(tgtRoot, "_shard_layout")))
      GateLayout.write(fs, new Path(tgtRoot, "_shard_layout"), Seq(
        "num_shards" -> newNumShards.toString,
        "shard_col" -> shardCol,
        "shard_keys" -> globals("shard_keys"),
        "part_col" -> partCol))
    // a routed merge that crashed mid-swap left a generation month's
    // only live copy under that generation's retired root — restore
    // it BEFORE staging reads, exactly the flat-table discipline
    new MonthSwap(spark, srcRoot.toString).recoverOrphans()
    new MonthSwap(spark, tgtRoot.toString).recoverOrphans()
    // resume sweep: a source month the manifest already maps to the
    // target is grace/crash residue — its live copy is the target's.
    // Re-read first: routed merges may have advanced the manifest
    // (new months, seq bumps) since this run's last look.
    man = readGenManifest(fs, dest)
    for ((mo, e) <- man.get.months if e.gen == tgtGen)
      fs.delete(new Path(srcRoot, s"$partCol=$mo"), true)
    var pendingDelete: Option[Path] = None
    val toMigrate = man.get.months.collect {
      case (mo, e) if e.gen == srcGen => mo }.toSeq.sorted
    for (mo <- toMigrate) {
      val srcDir = new Path(srcRoot, s"$partCol=$mo")
      val tgtDir = new Path(tgtRoot, s"$partCol=$mo")
      def restage(): Unit = {
        // an unreferenced target month dir is a crashed or
        // merge-superseded rewrite — redo it wholesale
        fs.delete(tgtDir, true)
        spark.read.option("basePath", srcRoot.toString)
          .parquet(srcDir.toString)
          .drop(partCol, shardCol)
          .withColumn(shardCol, keyShard(keys, newNumShards))
          .repartition(col(shardCol))
          .sortWithinPartitions((shardCol +: keys).map(col): _*)
          .write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", maxRecordsPerFile)
          .partitionBy(shardCol)
          .parquet(tgtDir.toString)
      }
      var seqAtStage = readGenManifest(fs, dest).get.months(mo).seq
      restage()
      hook("month_staged", mo)
      // commit loop: the staged rewrite is valid only if NO routed
      // merge landed in the source month after the stage read it —
      // the month's manifest `seq` is that signal. CAS the pointer
      // flip; on a lost race (a merge committed the next version
      // first) re-read and re-check rather than overwrite.
      var committed = false
      while (!committed) {
        val cur = readGenManifest(fs, dest).get
        val e = cur.months(mo)
        if (e.gen == tgtGen) committed = true // already flipped (resume)
        else if (e.seq != seqAtStage) {
          seqAtStage = e.seq
          restage()
          hook("month_staged", mo)
        } else {
          val next = cur.copy(version = cur.version + 1,
            months = cur.months +
              (mo -> MonthEntry(tgtGen, newNumShards, e.seq)))
          committed = tryCommitGenManifest(fs, dest, next)
        }
      }
      hook("month_committed", mo)
      pendingDelete.foreach(fs.delete(_, true))
      pendingDelete = Some(srcDir)
    }

    // ---- EXIT ----
    // Commit the CLOSING barrier version first: a routed merge that
    // resolves it fails fast retryable (the exit is metadata-only,
    // seconds), and one that already wrote data revalidates at its
    // own commit, sees the barrier, and reports retryable WITHOUT
    // committing — no merge is ACKNOWLEDGED between the barrier and
    // the sweep. The refusal is ambiguous, not negative: rows such a
    // merge already wrote into a target-generation month are carried
    // to the root by the renames below even though the batch was
    // reported unapplied — the standard in-doubt-commit outcome, and
    // exactly why the retry contract requires re-running the SAME
    // batch (idempotent latest-wins absorbs the duplicate); a caller
    // that alters or reroutes a refused batch instead of retrying it
    // breaks that contract. Merges committed BEFORE the barrier are
    // inside the month dirs the renames carry to the root.
    var closing = false
    while (!closing) {
      val cur = readGenManifest(fs, dest).get
      if (cur.globals.get("closing").contains("true")) closing = true
      else closing = tryCommitGenManifest(fs, dest, cur.copy(
        version = cur.version + 1,
        globals = cur.globals + ("closing" -> "true")))
    }
    hook("exit_begin", "")
    pendingDelete.foreach(fs.delete(_, true))
    fs.delete(srcRoot, true)
    // a routed merge that crashed mid-swap into a TARGET month left
    // its only copy under the target's retired root — restore before
    // renaming months out, or the month would exit incomplete
    new MonthSwap(spark, tgtRoot.toString).recoverOrphans()
    if (fs.exists(tgtRoot))
      fs.listStatus(tgtRoot).map(_.getPath)
        .filter(_.getName.startsWith(partCol + "=")).foreach { mdir =>
          val live = new Path(dest, mdir.getName)
          if (!fs.exists(live) && !fs.rename(mdir, live))
            throw new java.io.IOException(
              s"could not restore $mdir to $live completing the " +
                "online reshard")
        }
    GateLayout.write(fs, rootLayoutPath, Seq(
      "num_shards" -> newNumShards.toString,
      "shard_col" -> shardCol,
      "shard_keys" -> globals("shard_keys"),
      "part_col" -> partCol))
    sweepGenerationResidue(fs, dest, srcGen, tgtGen)
    fs.delete(sentinelPath, false)
    hook("exit_done", "")
    true
  }

  /** EXIT's terminal sweep: generation roots, their merge-swap
    * staging/retired siblings (a routed merge's MonthSwap lives at
    * `<gen>_mstaging` / `<gen>_mretired` INSIDE the table root — left
    * behind they would surface as phantom rows to a flat parquet
    * read), and every manifest + claim file. */
  private def sweepGenerationResidue(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path, srcGen: String,
      tgtGen: String): Unit =
    fs.listStatus(dest).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith(srcGen) || n.startsWith(tgtGen) ||
          n.startsWith(rGenManifestPrefix))
        fs.delete(p, true)
    }

  /** Self-heal for EXIT's straggler window: a routed merge's physical
    * write that was in flight when [[sweepGenerationResidue]] ran can
    * finish AFTER the sentinel is gone (the closing barrier blocks
    * its COMMIT, not its Spark write), recreating `gen-*` dirs — or
    * their `_mstaging`/`_mretired` merge-swap siblings — at the table
    * root, where a plain flat read trips over conflicting partition
    * depths or phantom rows. The next flat-path writer sweeps them
    * here, guarded two ways: it only runs when neither manifest nor
    * sentinel exists (the caller's branch), and each dir is
    * QUARANTINE-RENAMED to an underscore name (invisible to Spark
    * reads) with the sentinel re-checked before the delete — so
    * racing a brand-new ENTER (which publishes its sentinel before
    * staging anything into `gen-*`) restores the dir and degrades to
    * the protocol's loud crash-and-resume class, never silent loss. */
  private def sweepStragglerResidue(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path,
      sentinelPath: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(dest)) return
    fs.listStatus(dest).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith("_residue_"))
        // an ORPHANED quarantine: junk from a sweep that crashed
        // between its rename and its delete — or, the case that
        // forbids auto-deleting it, LIVE months left by a failed
        // ENTER-race restore. The two are indistinguishable from the
        // bytes, so the sweep never deletes a quarantine it did not
        // create in THIS call ("never silent loss" outranks
        // self-healing); the dir is underscore-invisible to reads,
        // and the operator is told loudly
        System.err.println(s"[merge] orphaned quarantine $p — junk " +
          "from a crashed residue sweep, or live months from a " +
          "failed reshard-race restore; inspect, then delete it or " +
          "rename it back")
      else if (n.startsWith("gen-")) {
        // per-call unique quarantine name: a stale orphan can never
        // block this rename, and the delete below touches only the
        // quarantine THIS call created
        val q = new Path(dest, s"_residue_${System.nanoTime()}_$n")
        if (!fs.rename(p, q))
          throw new java.io.IOException(
            s"could not quarantine straggler residue $p — sweep it " +
              "manually before merging into this table")
        if (fs.exists(sentinelPath)) {
          // a migration ENTERed between the caller's check and the
          // rename — restore and let the protocol's fail-fast
          // handle this merge on its next resolution
          if (!fs.rename(q, p))
            throw new java.io.IOException(
              s"could not restore $p after racing a new online " +
                s"reshard's ENTER — the dir is quarantined at $q " +
                s"and holds the migration's staged months: rename " +
                s"it back to $p BEFORE resuming the migration")
        } else fs.delete(q, true)
      }
    }
  }

  /** Reconcile cross-month duplicate keys — the periodic pass that
    * closes [[upsertParquetByMonth]]'s documented gap: a key whose
    * month CHANGED between batches (re-scraped event moved dates)
    * without the old month in the batch leaves its superseded row
    * alive in the old month. This pass finds every such key and
    * rewrites ONLY the months holding stale rows.
    *
    * Scale shape: detection is ONE column-pruned scan of
    * (keys, recency, partCol) — a few percent of table bytes at
    * 100 TB — through one hash shuffle on the key; only the DIRTY
    * keys' rows survive it (localCheckpointed — bounded by the
    * duplicate population, not the table), so neither the stale-key
    * set, the winner set, nor the month list re-runs the scan. The
    * rewrite then reads and swaps only the affected month directories
    * (same staging/retire crash safety as the merge). Months with no
    * stale rows are never opened. A missing or month-less table is
    * clean by definition (Nil), matching the other maintenance passes.
    *
    * Returns the reconciled months (empty = table was clean).
    */
  def reconcileCrossMonthKeys(spark: SparkSession, tablePath: String,
      keys: Seq[String], recency: String,
      partCol: String = "start_month"): Seq[String] = {
    val swap = new MonthSwap(spark, tablePath)
    swap.recoverOrphans()
    if (!swap.fs.exists(swap.dest) ||
        !swap.fs.listStatus(swap.dest)
          .exists(_.getPath.getName.startsWith(partCol + "=")))
      return Nil
    val t = spark.read.parquet(tablePath)
      .withColumn(partCol, col(partCol).cast("string"))
    // detection scan reads only the key/recency/month columns; month
    // desc tiebreaks equal recency so the winner is deterministic. The
    // dup census rides the SAME key partitioning as the ranking (one
    // exchange, two window passes).
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(recency).desc, col(partCol).desc)
    val wFrame = Window.partitionBy(keys.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dirty = t
      .select((keys.map(col) :+ col(recency) :+ col(partCol)): _*)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_ndup",
        count(when(col("_rn") > 1, lit(1))).over(wFrame))
      .filter(col("_ndup") > 0)
      .localCheckpoint()
    val staleMonths = dirty.filter(col("_rn") > 1)
      .select(col(partCol)).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (staleMonths.isEmpty) return Nil
    val staleKeys = dirty.select(keys.map(col): _*).distinct()
    // Winner coordinates of the dirty keys: (keys, recency, month).
    // A winner may live inside an affected month (in-month duplicate)
    // or outside it (the moved-key case) — the rewrite must keep the
    // former and not touch the latter. Assumes the merge's own
    // invariant that (keys, recency) is unique within a month. The
    // re-keep join is NULL-SAFE on every column: a winner with NULL
    // recency inside a rewritten month would otherwise miss the
    // equi-semi-join and be permanently dropped by the swap.
    val winners = dirty.filter(col("_rn") === 1)
      .select((keys.map(col) :+ col(recency) :+ col(partCol)): _*)
    val slice = t.filter(col(partCol).isin(staleMonths: _*))
    val sl = slice.as("_sl")
    val wn = winners.as("_wn")
    val keepCond = (keys :+ recency :+ partCol)
      .map(c => col(s"_sl.$c") <=> col(s"_wn.$c")).reduce(_ && _)
    // The stale-key removal must match the re-keep's NULL semantics:
    // a null-UNSAFE anti-join here would let every row of a NULL-keyed
    // duplicate group through (null = null is not true), and the
    // group's winner ALSO matches the null-safe semi-join — written
    // twice, losers never removed. Both legs are <=> on every key.
    val sk = staleKeys.as("_sk")
    val antiCond = keys
      .map(c => col(s"_sl.$c") <=> col(s"_sk.$c")).reduce(_ && _)
    val keep = sl.join(sk, antiCond, "left_anti")
      .unionByName(sl.join(wn, keepCond, "left_semi"))
    // A sharded table's months must be rewritten IN the sharded
    // layout (the shard column rides along from partition discovery;
    // a month-only partitionBy here would flatten the month and mix
    // layouts under one root). The month-level swap is still correct:
    // the staged month dir carries the shard subdirs wholesale, and
    // the swap-unit marker makes recovery month-granular too — a
    // crashed swap restores or discards the WHOLE retired month,
    // never mining it for shards this pass deliberately dropped.
    val writeParts = partCol +: shardLayout(swap.fs, swap.dest)
      .map(_._1).toSeq
    swap.stage(keep, writeParts)
    swap.activate(partCol, staleMonths)
    staleMonths
  }

  /** Retention: drop every month partition strictly BEFORE
    * `cutoffMonth` (lexicographic on the yyyy-MM partition value — the
    * layout's natural order) as DIRECTORY renames, never row rewrites:
    * at 100 TB, expiring a month of history costs two metadata ops per
    * month, not a table scan.
    *
    * Crash safety: each month is renamed (atomic) into a `_mdropped`
    * sibling and then deleted — the RENAME is the commit point, so a
    * crash mid-drop leaves the month either fully live or committed-
    * dropped (garbage under `_mdropped` is swept by the next call).
    * `_mdropped` is deliberately NOT the `_mretired` root:
    * recoverOrphans restores retired months, and a dropped month must
    * stay dropped. Same single-writer / reader-exclusion contract as
    * the merge. Returns the dropped months.
    */
  def dropMonthsBefore(spark: SparkSession, tablePath: String,
      cutoffMonth: String, partCol: String = "start_month"): Seq[String] = {
    import org.apache.hadoop.fs.Path
    require(cutoffMonth.matches("[A-Za-z0-9._-]+"),
      s"cutoff '$cutoffMonth' must be a plain partition value")
    // FULL crash recovery before deciding what to expire — both a
    // crashed reshard (table's only copy at _rretired: without the
    // restore this pass reads "no table" and silently expires
    // nothing) and a crashed month swap (a month's only copy at
    // _mretired: invisible to the listing below, it would survive a
    // "successful" retention and RESURRECT at the next merge's
    // recovery — strictly-older-than-cutoff data reappearing after a
    // compliance pass reported it expired). recoverOrphans never
    // touches _mdropped, so committed drops stay dropped.
    val swap = new MonthSwap(spark, tablePath)
    swap.recoverOrphans()
    val dest = swap.dest
    val fs = swap.fs
    val dropRoot = new Path(dest.getParent, dest.getName + "_mdropped")
    fs.delete(dropRoot, true) // sweep a prior crash's committed drops
    if (!fs.exists(dest)) return Nil
    // The "0000-00" sentinel (upsertParquetByMonth's documented home
    // for null-month rows) sorts before every real cutoff but holds
    // rows of UNKNOWN date, not old ones — retention must never
    // expire it.
    val months = fs.listStatus(dest).map(_.getPath.getName)
      .filter(_.startsWith(partCol + "="))
      .map(_.stripPrefix(partCol + "="))
      .filter(m => m < cutoffMonth && m != "0000-00").sorted.toSeq
    if (months.isEmpty) return Nil
    fs.mkdirs(dropRoot)
    months.foreach { m =>
      val dirName = partCol + "=" + m
      if (!fs.rename(new Path(dest, dirName), new Path(dropRoot, dirName)))
        throw new java.io.IOException(
          s"could not retire expiring month $dirName into $dropRoot")
    }
    fs.delete(dropRoot, true)
    months
  }

  /** Compact fragmented month partitions: any month whose file count
    * exceeds `maxFilesPerMonth` is rewritten into
    * ceil(rows/maxRecordsPerFile) files (sorted within partitions by
    * the keys, restoring the row-group-statistics locality the
    * TableLayout write establishes); months at or under the bound are
    * never opened. The merges and the reconcile already write each
    * month (or month/shard) they touch as one file — more only where
    * AQE split an oversized month — so this pass is the periodic
    * floor-sweep for months fragmented by something else: plain
    * appends, foreign writers, and months written before the merges
    * clustered their output (and the natural place the cross-month
    * reconcile piggybacks in an ops schedule). Same per-month
    * staging/retire crash safety as the merge. Returns the compacted
    * months.
    */
  def compactMonths(spark: SparkSession, tablePath: String,
      keys: Seq[String], partCol: String = "start_month",
      maxFilesPerMonth: Int = 4,
      maxRecordsPerFile: Long = 5000000L): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val swap = new MonthSwap(spark, tablePath)
    swap.recoverOrphans()
    val fs = swap.fs
    if (!fs.exists(swap.dest)) return Nil
    // in the sharded layout the rewrite unit is the SHARD, so the
    // file-count threshold applies per shard dir — a month counts as
    // fragmented when ANY of its shards exceeds the bound (a
    // month-total threshold would flag every numShards-dir month
    // forever and re-compact it on every sweep)
    val shardColOpt = shardLayout(fs, swap.dest).map(_._1).toSeq
    // "fragmented" must account for what this pass's OWN rewrite can
    // produce, or it never converges: the rewrite emits
    // ceil(rows/maxRecordsPerFile) files per dir, so a dir holding
    // more rows than maxFilesPerMonth·maxRecordsPerFile legitimately
    // carries more than maxFilesPerMonth files FOREVER — flagging on
    // the file bound alone re-rewrites such a dir on every sweep with
    // zero progress (reshard's maxRecordsPerFile-bounded output made
    // this reachable). maxRecordsPerFile ≤ 0 is Spark's own
    // "unlimited" sentinel: the rewrite then emits one file per dir,
    // so the plain file bound is already convergence-correct. Row
    // counts are read only for dirs already over the file bound, and
    // DRIVER-SIDE from the parquet footers — no Spark job per dir per
    // sweep just to re-learn a permanently-over-bound dir converged.
    // A PERMANENTLY-over-bound dir would otherwise pay those O(files)
    // sequential footer opens on EVERY sweep forever (the converged
    // case is exactly the one nothing ever rewrites), so the verdict
    // is cached in a `_compact_converged` marker fingerprinted on the
    // dir's file listing and this sweep's thresholds — any merge,
    // rewrite, or threshold change alters the fingerprint and the
    // footers are re-read; an unchanged converged dir costs one
    // marker read per sweep. The footer loop itself also
    // short-circuits once the running ceil(rows/maxRecordsPerFile)
    // reaches the file count (no rewrite can go below that).
    def convergedFp(
        files: Seq[org.apache.hadoop.fs.FileStatus]): String = {
      val listing = files.map(f =>
        s"${f.getPath.getName}:${f.getLen}").sorted.mkString(",")
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(listing.getBytes("UTF-8"))
        .take(16).map("%02x".format(_)).mkString
      s"v1:$maxFilesPerMonth:$maxRecordsPerFile:$h"
    }
    def over(dir: org.apache.hadoop.fs.Path): Boolean = {
      val files = fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
      val n = files.size
      if (n <= maxFilesPerMonth) return false
      if (maxRecordsPerFile <= 0L) return true
      val fp = convergedFp(files)
      if (GateOps.readMarker(fs, dir.toString, "_compact_converged")
            .contains(fp)) return false
      var rows = 0L
      var i = 0
      var converged = false
      while (i < n && !converged) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            files(i), spark.sparkContext.hadoopConfiguration))
        rows += (try r.getRecordCount finally r.close())
        if ((rows + maxRecordsPerFile - 1) / maxRecordsPerFile >= n)
          converged = true
        i += 1
      }
      if (converged)
        GateOps.writeMarker(fs, dir.toString, "_compact_converged", fp)
      !converged
    }
    val fragmented = fs.listStatus(swap.dest).toSeq
      .filter(_.getPath.getName.startsWith(partCol + "="))
      .filter { mdir =>
        shardColOpt.headOption match {
          case Some(sc) => fs.listStatus(mdir.getPath).exists(sd =>
            sd.isDirectory && sd.getPath.getName.startsWith(sc + "=") &&
              over(sd.getPath))
          case None => over(mdir.getPath)
        }
      }
      .map(_.getPath.getName.stripPrefix(partCol + "="))
      .sorted
    if (fragmented.isEmpty) return Nil
    // a sharded table's months rewrite in the sharded layout (shard
    // column from partition discovery; see reconcile's note) — the
    // repartition includes the shard so each shard compacts to its
    // own file(s) in parallel
    val slice = spark.read.parquet(tablePath)
      .filter(col(partCol).isin(fragmented: _*))
      .withColumn(partCol, col(partCol).cast("string"))
    slice
      .repartition((partCol +: shardColOpt).map(col): _*)
      .sortWithinPartitions(
        ((partCol +: shardColOpt).map(col) ++ keys.map(col)): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy((partCol +: shardColOpt): _*)
      .parquet(swap.stagingRoot.toString)
    swap.activate(partCol, fragmented)
    fragmented
  }

  /** K5 — flag events for re-scrape: keyed two-column update
    * (reference: database/api_server.py:551-559) via the same merge
    * machinery.
    */
  /** D5 — snapshot diff: classify every key across two table versions
    * as added / removed / changed / unchanged (the verification step a
    * migration needs — the reference's migrate_to_atlas.py:15-43 only
    * counts migrated docs and logs per-doc failures; this is the
    * set-algebra audit that actually proves the copy landed). One
    * full-outer hash join on the key; `fpCol` is a caller-supplied
    * row fingerprint column present on both sides (hash of the
    * compared payload — compare hashes, not wide rows, so the shuffle
    * carries (key, fingerprint) pairs only).
    */
  def snapshotDiff(source: DataFrame, target: DataFrame,
      keys: Seq[String], fpCol: String): DataFrame = {
    // Presence is tracked with dedicated non-null markers, NOT
    // fingerprint nullness: a caller-supplied fp expression that
    // evaluates NULL for a present row (hash over an all-null payload)
    // must not masquerade as an absent row. Fingerprints compare
    // null-safely for the same reason.
    val s = source.select((keys.map(col) :+ col(fpCol).as("_fp_s")
      :+ lit(true).as("_in_s")): _*)
    val t = target.select((keys.map(col) :+ col(fpCol).as("_fp_t")
      :+ lit(true).as("_in_t")): _*)
    s.join(t, keys, "full_outer")
      .withColumn("status",
        when(col("_in_t").isNull, "removed")
          .when(col("_in_s").isNull, "added")
          .when(!(col("_fp_s") <=> col("_fp_t")), "changed")
          .otherwise("unchanged"))
      .drop("_fp_s", "_fp_t", "_in_s", "_in_t")
  }

  /** SCD Type-2 dimension build from a change log: per key, collapse
    * CONSECUTIVE rows with an unchanged `stateCol` into one validity
    * interval, emitting `version` (1-based per key), `valid_to` (the
    * next change's `tsCol`, null while current) and `is_current`.
    *
    * Gaps-and-islands without a self-join: a lag window marks change
    * points, a second window over the surviving change rows numbers
    * versions and chains `valid_to` via lead. Both windows partition
    * on the SAME keys, so the whole build is ONE hash shuffle on the
    * dimension key — Catalyst reuses the exchange for the second
    * window — and per-key work is linear in that key's log, immune to
    * overall table size. (`tsCol`, `tieCol`) must totally order each
    * key's rows; pass an integral epoch as `tsCol` when downstream
    * arithmetic (durations) must be engine-exact.
    */
  def scdType2(log: DataFrame, keys: Seq[String], tsCol: String,
      tieCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    // Change detection is NULL-SAFE: with plain =!=, a NULL state (or
    // NULL previous state) turns the predicate NULL and the row
    // vanishes — [A, NULL, A] would collapse to two A intervals with
    // the NULL period silently folded in. A row opens an interval iff
    // it is the key's first row (_ord — lag can't distinguish "no
    // previous row" from "previous state was NULL") or its state
    // differs null-safely from the previous one.
    log
      .withColumn("_ord", row_number().over(w))
      .withColumn("_prev", lag(col(stateCol), 1).over(w))
      .filter(col("_ord") === 1 || !(col("_prev") <=> col(stateCol)))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("_prev", "_ord")
  }

  def flagForRefresh(events: DataFrame, eventIds: Seq[String],
      nowIso: Column): DataFrame = {
    val hit = col("event_id").isin(eventIds: _*)
    events.withColumn("system_flags", struct(
      col("system_flags.is_featured"),
      col("system_flags.is_hidden"),
      when(hit, lit(true)).otherwise(col("system_flags.needs_refresh"))
        .as("needs_refresh"),
      when(hit, nowIso).otherwise(col("system_flags.refresh_requested_at"))
        .as("refresh_requested_at")))
  }
}
