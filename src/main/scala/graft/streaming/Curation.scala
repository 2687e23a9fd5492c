package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  Trigger}
import graft.operators.{Dedup, EmbedNearDupGate, LmScore, NearDupGate,
  NoveltyGate, TextAnalysis, TextClassify}

/** The standing corpus-curation pipeline as a first-class API — the
  * operator behind `ev_stream_curate`, for callers who want the
  * composed five-gate topology over their own stream rather than the
  * registry fixture: exact-novelty → near-dup → quality (Gopher ∧
  * Naive Bayes) → decontamination → LM perplexity, chained in ONE
  * foreachBatch with each stage seeing only the previous stage's
  * survivors, so the two STATEFUL gates (fingerprint table, band
  * index) index only curated documents.
  *
  * Division of labor:
  *  - [[trainModels]] builds the shared reference artifacts once,
  *    batch-side (NB count table + priors, bigram LM table, eval-set
  *    13-gram index) — at 100 TB these are the periodically-retrained
  *    models every ingest worker shares, localCheckpointed so each
  *    micro-batch reuses them without recompute;
  *  - [[curateBatch]] runs one micro-batch through the chain and
  *    returns the per-doc verdict frame (stage columns NULL from the
  *    stage after the one that dropped the doc; `kept` = survived all
  *    five). Replay-stable end to end: the novelty gate's verdicts
  *    derive from stored ownership, the near-dup gate excludes the
  *    batch's own indexed rows, and stages 3-5 are stateless — so an
  *    at-least-once retry appends byte-identical rows a read-side
  *    distinct() absorbs;
  *  - [[start]] wires a parquet document stream through the chain
  *    into a `scored` verdict table (AvailableNow — swap the trigger
  *    for continuous ingest).
  */
object Curation {

  /** The shared reference models, trained once over a corpus. The
    * eval id window travels WITH the gram index it was built from —
    * carrying it separately invited a silent mismatch where stage 4
    * dropped the wrong id range. */
  final case class Models(nbCounts: DataFrame, nbPriors: DataFrame,
      lmTable: DataFrame, evalGrams: DataFrame,
      evalFrom: Long, evalUntil: Long)

  /** Persistence for the shared reference artifacts, so a production
    * [[start]] runs against PRE-TRAINED models instead of paying the
    * train cost in-stream: at 100 TB the NB/LM/eval-gram artifacts
    * are retrained on a cadence by a separate batch job and every
    * ingest worker [[Models.load]]s them — steady-state per-batch
    * cost then contains zero model-build work. Each frame lands as
    * one parquet dir (coalesce(1) — they are model-sized, and the
    * single task guarantees a schema-bearing file even for an empty
    * eval slice); the eval id window travels in a manifest beside
    * them (the same `_layout` k=v protocol the gates use) so a
    * loaded model can never pair the gram index with the wrong
    * window. */
  object Models {
    /** All five artifacts (four frames + the eval-window manifest)
      * land in ONE `current_tmp` generation and swap in atomically
      * (the gate family's GateOps machinery): a cadence retrain can
      * never expose a TORN model set to a concurrently-loading
      * worker — new counts with old priors, or a new gram index
      * paired with the old eval window — which an in-place
      * per-directory overwrite would. A load racing the swap itself
      * fails loudly rather than reading a mix: on the
      * momentarily-missing dir, or on the gen_id pin [[load]]
      * re-checks after its frame reads (each read re-resolves the
      * path, so without the pin a mid-load swap could assemble a
      * mixed set silently); crash windows restore at the next
      * [[load]]. */
    def save(m: Models, dir: String): Unit = {
      val gen = s"$dir/current_tmp"
      val fs0 = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        m.nbCounts.sparkSession.sparkContext.hadoopConfiguration)
      // a crashed save's leftover tmp must be cleared WHOLESALE
      // before rebuilding: the per-directory overwrites below would
      // otherwise mix this save's artifacts into the leftover's, and
      // recoverGeneration's promote-the-tmp contract assumes a tmp is
      // always one complete generation
      fs0.delete(new org.apache.hadoop.fs.Path(gen), true)
      m.nbCounts.coalesce(1).write.mode("overwrite")
        .parquet(s"$gen/nb_counts")
      m.nbPriors.coalesce(1).write.mode("overwrite")
        .parquet(s"$gen/nb_priors")
      m.lmTable.coalesce(1).write.mode("overwrite")
        .parquet(s"$gen/lm_table")
      m.evalGrams.coalesce(1).write.mode("overwrite")
        .parquet(s"$gen/eval_grams")
      graft.operators.GateLayout.write(fs0,
        new org.apache.hadoop.fs.Path(s"$gen/_layout"),
        Seq("eval_from" -> m.evalFrom.toString,
          "eval_until" -> m.evalUntil.toString,
          // unique per save: load pins it before and after its four
          // frame reads, so a retrain swap landing MID-LOAD (each
          // read re-resolves $dir/current) is detected and fails
          // loudly instead of assembling a mixed-generation model
          "gen_id" -> java.util.UUID.randomUUID().toString))
      graft.operators.GateOps.swapGeneration(fs0, dir, "current")
    }

    /** Load persisted artifacts, localCheckpointed like
      * [[trainModels]]'s output so every micro-batch reuses them
      * without re-reading. Verdicts under a loaded model are
      * bit-exactly those under the trained one (round-trip-pinned by
      * spec): every column is integer/string-typed by construction,
      * so the parquet round trip is lossless. */
    def load(spark: SparkSession, dir: String): Models = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // recoverGeneration's promote-the-tmp rule assumes a surviving
      // _tmp is one COMPLETE generation — true for single-write gate
      // compacts, not for save's five sequential writes. The _layout
      // manifest is written last, so it doubles as the completion
      // sentinel: a tmp without it is either a torn first-save
      // (crash before completion) or a FIRST SAVE STILL IN FLIGHT —
      // indistinguishable from here, so the tmp must be neither
      // promoted (installing a set every later load fails on) nor
      // deleted (destroying the in-flight save's artifacts out from
      // under it; the next save clears a genuinely dead tmp
      // wholesale anyway). Fail loudly instead and let the caller
      // retry after the save lands or a retrain runs. (With a live
      // `current` present the sentinel-less tmp is inert: never
      // promoted, cleared by the next save.)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/current")) &&
          fs.exists(new org.apache.hadoop.fs.Path(s"$dir/current_tmp")) &&
          !fs.exists(new org.apache.hadoop.fs.Path(
            s"$dir/current_tmp/_layout")))
        throw new IllegalStateException(
          s"no complete model generation at $dir: current_tmp lacks " +
            "its _layout completion sentinel (a first save is in " +
            "flight or crashed) — retry after the save, or retrain")
      graft.operators.GateOps.recoverGeneration(fs, dir, "current")
      val base = s"$dir/current"
      val mp = new org.apache.hadoop.fs.Path(s"$base/_layout")
      // the one layout save writes: a `current` generation whose
      // manifest carries a gen_id. Anything else fails fast naming
      // what the dir holds.
      val m = if (fs.exists(mp)) graft.operators.GateLayout.read(fs, mp)
        else Map.empty[String, String]
      if (!m.contains("gen_id")) throw new IllegalStateException(
        s"no model generation with a gen_id at $base (found at $dir: " +
          graft.operators.GateLayout.found(fs, new org.apache.hadoop.fs
            .Path(dir)) + ") — not a layout this version reads; save " +
          "the models again")
      def rd(name: String): DataFrame =
        spark.read.parquet(s"$base/$name").localCheckpoint()
      val loaded = Models(rd("nb_counts"), rd("nb_priors"),
        rd("lm_table"), rd("eval_grams"),
        m("eval_from").toLong, m("eval_until").toLong)
      // each rd() re-resolves $base at its own time, so a cadence
      // retrain's generation swap landing between them would
      // otherwise assemble a MIXED model set silently (or the swap's
      // old-generation delete turns a read into a loud
      // FileNotFoundException — acceptable; silence is not). The
      // gen_id pin closes the silent path: unchanged across the
      // reads ⇒ every frame came from one generation.
      val mAfter = graft.operators.GateLayout.read(fs, mp)
      if (m.get("gen_id") != mAfter.get("gen_id"))
        throw new IllegalStateException(
          s"models at $dir were swapped by a concurrent save during " +
            "load (gen_id moved) — retry the load")
      loaded
    }
  }

  /** The one models rule of the curated streams ([[start]],
    * [[IncrementalIngest.start]]), resolved through [[resolver]]:
    *  - explicit models only: fixed for the stream's lifetime (no
    *    handle);
    *  - a dir only (`fallback = None`): loaded at construction — a
    *    stream that cannot load a complete generation at start fails
    *    loudly, it never runs model-less;
    *  - both (`fallback = Some(models)`): the explicit models run until
    *    the dir holds a COMPLETE generation — the `_layout` completion
    *    sentinel of `current` or of a finished save's `current_tmp`,
    *    not mere non-emptiness (a first save in flight or torn makes
    *    the dir non-empty but unloadable) — and the dir's generations
    *    from then on. Nothing is loaded at construction, so a stream
    *    can start before the dir's first save lands.
    * A flat `<dir>/_layout` (a layout [[Models.load]] no longer reads)
    * fails at construction, naming what the dir holds.
    *
    * Once a generation is held, [[refresh]] re-reads the save dir's
    * manifest once per batch — one tiny k=v file — reloading only when
    * the generation actually moved: a batch retrain job
    * [[Models.save]]s a new generation at any time (atomic swap); the
    * in-flight micro-batch KEEPS the generation it started with (a
    * mid-batch model change would mix generations within one batch's
    * verdicts); the NEXT batch's refresh picks the swap up.
    *
    * Failure posture: a refresh whose [[Models.load]] races the NEXT
    * swap (the gen_id pin throws) or hits a transient read failure
    * keeps what this batch held — the held generation, else the
    * explicit models — warns on stderr, and retries at the next batch.
    * A standing stream can therefore never be stalled or torn by a
    * retrain.
    *
    * One redundant-reload edge is tolerated by design: if a swap lands
    * between the manifest read and load's own, load succeeds under the
    * NEWER generation while heldGen records the older id — the next
    * refresh re-loads the same generation once (idempotent) and
    * re-synchronizes. The inverted order (load, then read the gen)
    * would record a NEWER gen than what was loaded — a silent,
    * unbounded pin to the stale generation. */
  final class ModelsHandle(spark: SparkSession, dir: String,
      fallback: Option[Models] = None) {
    private val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_layout")))
      throw new IllegalStateException(
        s"models dir $dir holds a flat _layout (found: " +
          graft.operators.GateLayout.found(fs,
            new org.apache.hadoop.fs.Path(dir)) +
          ") — not a layout this version reads; save the models again")
    private var heldGen: Option[String] = None
    private var held: Option[Models] = None
    if (fallback.isEmpty) adopt(readGen())

    private def adopt(gen: Option[String]): Unit = {
      held = Some(Models.load(spark, dir))
      heldGen = gen
    }

    private def readGen(): Option[String] = {
      val mp = new org.apache.hadoop.fs.Path(s"$dir/current/_layout")
      if (fs.exists(mp))
        graft.operators.GateLayout.read(fs, mp).get("gen_id")
      else None // mid-swap: current is momentarily missing
    }

    /** The models for this batch — call once at the top of each
      * micro-batch. */
    def refresh(): Models = {
      try {
        if (held.isEmpty) {
          if (Seq("current", "current_tmp").exists(g =>
              fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$g/_layout"))))
            adopt(readGen())
        } else {
          val g = readGen()
          if (g.isDefined && g != heldGen) {
            adopt(g)
            System.err.println(
              s"[curation-models] picked up generation ${g.get} from $dir")
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[curation-models] refresh against $dir failed " +
              s"(${e.getMessage}) — keeping this batch on the " +
              s"${if (held.isEmpty) "explicit models" else "held generation"}, " +
              "retrying next batch")
      }
      held.orElse(fallback).get
    }
  }

  /** The per-batch models of a curated stream under the one rule
    * [[ModelsHandle]] states; None when neither is given. */
  private[streaming] def resolver(spark: SparkSession,
      models: Option[Models], dir: Option[String]): Option[() => Models] =
    dir.map { d =>
      val h = new ModelsHandle(spark, d, models)
      () => h.refresh()
    }.orElse(models.map(m => () => m))

  /** Zero-row frame with the given DDL schema — the shared empty-
    * seed/empty-placeholder construction (one definition; the seed
    * and both census fallbacks use it). */
  private def emptyFrame(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Per-doc distinct 13-gram md5s (array_distinct — a per-row fold,
    * matching the decontamination oracle's list_distinct). */
  private def gramArr: org.apache.spark.sql.Column = when(
    size(Dedup.tokens(col("text"))) >= 13,
    Dedup.md5Shingles(col("text"), 13))
    .otherwise(array().cast("array<string>"))

  private def lmToks(df: DataFrame): DataFrame = df
    .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
    .filter(size(col("t")) >= 2)

  /** Train the stage-3/4/5 reference artifacts over `corpus`
    * (doc_id, text, lang): NB labeled-token counts + priors (label =
    * lang == 'en'), the bigram LM table, and the eval slice's
    * per-doc-distinct 13-gram index (NOT globally distinct — the
    * contamination census counts (gram, eval-doc) pairs). */
  def trainModels(corpus: DataFrame, evalFrom: Long = 400L,
      evalUntil: Long = 500L): Models = {
    def labTok(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        when(col("lang") === "en", 1).otherwise(0).as("y"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    Models(
      nbCounts = TextClassify.nbTrainCounts(labTok(corpus)),
      nbPriors = corpus
        .select(when(col("lang") === "en", 1).otherwise(0).as("y"))
        .agg(sum("y").as("d1"), sum(lit(1) - col("y")).as("d0"))
        .localCheckpoint(),
      lmTable = LmScore.trainBigramTable(LmScore.bigrams(lmToks(corpus))),
      evalGrams = corpus
        .filter(col("doc_id") >= evalFrom && col("doc_id") < evalUntil)
        .select(explode(gramArr).as("g"))
        .localCheckpoint(),
      evalFrom = evalFrom, evalUntil = evalUntil)
  }

  /** Run one micro-batch (doc_id, text) through the five-gate chain,
    * mutating both gates' durable state, and return the per-doc
    * verdict frame: (doc_id, is_novel, is_neardup, quality_kept,
    * decontam_kept, lm_kept, kept). */
  def curateBatch(batch: DataFrame, ngate: NoveltyGate,
      ndgate: NearDupGate, models: Models): DataFrame =
    curateBatchWithShed(batch, ngate, ndgate, models)._1

  /** [[curateBatch]] plus the tick's stage-2 shed as a one-row frame
    * (summed `n_capped_keys` over this batch's near-dup verdicts —
    * already pinned by the gate, so the extra aggregation re-reads
    * nothing). The per-tick census [[start]] emits needs the shed
    * without scanning the gate's whole verdict log. */
  def curateBatchWithShed(batch: DataFrame, ngate: NoveltyGate,
      ndgate: NearDupGate, models: Models): (DataFrame, DataFrame) = {
    // one row per doc_id before ANY stage (the shared explicit-width
    // idiom — GateOps.dedupAtWidth has the AQE rule): an upstream
    // at-least-once duplicate inside one batch would otherwise
    // multiply rows through every stage join and double nbPredict's
    // per-doc bit sums while the priors stay single, which can flip
    // quality_kept for that doc vs batch semantics
    val (b, nBatch) = graft.operators.GateOps.pinCounted(
      graft.operators.GateOps.dedupAtWidth(
        batch.select(col("doc_id"), col("text")), "doc_id"))
    // measured-count broadcast discipline for every doc_id-keyed
    // stage/assembly join (the gates' rule: planner stats on
    // checkpointed survivor frames cannot be trusted — a join-shaped
    // origin overestimates and silently degrades all six assembly
    // joins to sort-merge). Every broadcast side below is bounded by
    // the batch (verdict/id frames), so one count, measured by the
    // batch pin's own jobs, gates them all.
    val smallBatch = nBatch <= graft.operators.GateOps.broadcastRowCap
    def mb(df: DataFrame): DataFrame =
      if (smallBatch) broadcast(df) else df
    // Pinning discipline (measured, r21): the SMALL per-doc verdict
    // frames are pinned (nov here, nd/q3/dec by the gate or below) —
    // they are each consumed by 2+ downstream plans and their
    // recompute re-reads gate state. The TEXT-CARRYING survivor
    // frames s1–s4 are deliberately NOT pinned: each is just
    // `b ⋈ broadcast(id-set)` over the already-pinned batch, a
    // map-side re-evaluation costing one in-memory block scan —
    // cheaper than the localCheckpoint jobs that used to materialize
    // the corpus text four more times (~1s/batch of pure pin cost on
    // the sf0.1 fixture).
    // stage 1: exact novelty (first-wins per fingerprint, ownership-
    // backed so a replay reproduces)
    val nov = ngate.admitScored(b, "doc_id", "text").localCheckpoint()
    val s1 = b.join(mb(nov.filter(col("is_novel") === 1)
      .select(col("id").as("doc_id"))), Seq("doc_id"))
    // stage 2: near-dup vs earlier-curated docs only
    val nd = ndgate.admitScored(s1, "doc_id", "text")
    val s2 = s1.join(mb(nd.filter(col("is_neardup") === 0)
      .select(col("id").as("doc_id"))), Seq("doc_id"))
    // stage 3: Gopher rules ∧ NB classifier
    val rules = TextClassify
      .gopherMetrics(s2, keyCols = Seq("doc_id"))
      .select(col("doc_id"),
        TextClassify.gopherPassCol.cast("int").as("gp"))
    val pred = TextClassify.nbPredict(
        s2.select(col("doc_id"), lit(0).as("y"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
          .filter(col("token") =!= ""),
        models.nbCounts, models.nbPriors)
      .select(col("doc_id"), col("pred"))
    val q3 = rules.join(mb(pred), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("gp") === 1 && coalesce(col("pred"), lit(0)) === 1)
          .cast("int").as("quality_kept"))
      .localCheckpoint()
    val s3 = s2.join(mb(q3.filter(col("quality_kept") === 1)
      .select(col("doc_id"))), Seq("doc_id"))
    // stage 4: decontamination (eval members themselves are excluded
    // from a training corpus by definition)
    val hits = s3
      .select(col("doc_id"), explode(gramArr).as("g"))
      .join(broadcast(models.evalGrams), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    val dec = s3.select(col("doc_id"))
      .join(mb(hits), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (!(col("doc_id") >= models.evalFrom &&
          col("doc_id") < models.evalUntil) &&
          coalesce(col("n_shared"), lit(0L)) === 0)
          .cast("int").as("decontam_kept"))
      .localCheckpoint()
    val s4 = s3.join(mb(dec.filter(col("decontam_kept") === 1)
      .select(col("doc_id"))), Seq("doc_id"))
    // stage 5: LM perplexity filter under the shared table
    val lmk = LmScore.scoreDocs(LmScore.bigrams(lmToks(s4)),
        models.lmTable)
      .select(col("doc_id"),
        (expr("total_bits * 1000 div n_bigrams") < 12000)
          .cast("int").as("lm_kept"))
    val verdicts = b.select(col("doc_id"))
      .join(mb(nov.select(col("id").as("doc_id"), col("is_novel"))),
        Seq("doc_id"), "left")
      .join(mb(nd.select(col("id").as("doc_id"), col("is_neardup"))),
        Seq("doc_id"), "left")
      .join(mb(q3), Seq("doc_id"), "left")
      .join(mb(dec), Seq("doc_id"), "left")
      .join(mb(s4.select(col("doc_id"), lit(1).as("reached_lm"))),
        Seq("doc_id"), "left")
      .join(mb(lmk), Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_novel"), col("is_neardup"),
        col("quality_kept"), col("decontam_kept"),
        // a doc that reached stage 5 but produced no bigram rows has
        // no LM evidence → 0, never NULL
        when(col("reached_lm") === 1,
          coalesce(col("lm_kept"), lit(0))).as("lm_kept"))
      .withColumn("kept", coalesce(
        col("is_novel") === 1 && col("is_neardup") === 0 &&
          col("quality_kept") === 1 &&
          col("decontam_kept") === 1 && col("lm_kept") === 1,
        lit(false)).cast("int"))
    (verdicts,
      nd.agg(coalesce(sum(col("n_capped_keys")), lit(0L)).as("shed")))
  }

  /** Wire a parquet document stream through the chain: per-batch
    * verdicts append to `outDir/scored`, gate state lives under
    * `outDir/nov` and `outDir/nd`. `models` are typically
    * [[trainModels]] over the reference corpus.
    *
    * Models follow the one rule of both curated entries
    * ([[ModelsHandle]]): `models` alone stay fixed for the stream's
    * lifetime; with `modelsDir` as well, batches run on `models` until
    * the dir holds a complete generation and on the dir's current
    * generation from then on, a retrain being picked up at the next
    * batch. A flat `<modelsDir>/_layout` fails at start.
    *
    * `bandKeyCap`/`candCap` pass straight through to the stage-2
    * [[NearDupGate]] — the production entry point must be able to
    * enable its own scale remedy (a hot band key otherwise makes
    * stage 2's candidate-pair volume unbounded at 100 TB; with the
    * cap on it is bounded at batch·bands·cap, shed reported in the
    * gate's own verdicts table under `outDir/nd/verdicts`, matching
    * [[startEmbedding]]'s knob). Defaults (0 / 100000) keep the
    * exact oracle semantics the ev_stream_curate row replays.
    *
    * `targetKeyLoad` (default 64 — ON) is the gate's self-sizing cap
    * policy and the PRODUCTION posture: the gate runs exact until an
    * auto-compaction measures a band key hotter than the target, then
    * engages `bandKeyCap = targetKeyLoad` (durable, monotone, shed
    * reported — the gate scaladoc has the full contract). On by
    * default because a sustained-ingest deployment that forgets the
    * knob must inherit the bounded posture, not the scale-killer; the
    * oracle fixtures are unaffected (single-batch runs never reach an
    * auto-compaction, and the policy only engages past a measured
    * hot key). Exact-at-any-cost semantics are the explicit opt-OUT:
    * `targetKeyLoad = 0` with `bandKeyCap = 0`.
    *
    * `logMergeBytes` > 0 switches the scored log's cadence
    * compaction to the bounded INCREMENTAL tier
    * ([[graft.operators.GateOps.compactLog]]): per-tick cost stops
    * growing with stream age once merged epochs seal at the
    * threshold — the sustained-ingest posture; 0 (default) keeps the
    * wholesale one-sorted-file rewrite. */
  def start(spark: SparkSession, docsGlob: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      models: Models, autoCompactEvery: Int = 16,
      bandKeyCap: Int = 0, candCap: Int = 100000,
      logMergeBytes: Long = 0L, targetKeyLoad: Int = 64,
      trigger: Trigger = Trigger.AvailableNow(),
      modelsDir: Option[String] = None): StreamingQuery = {
    val getModels = resolver(spark, Some(models), modelsDir).get
    val (ngate, ndgate) = gates(outDir, autoCompactEvery, bandKeyCap,
      candCap, targetKeyLoad)
    // the verdict table and the standing per-tick census log beside
    // it, both seeded with their zero-row schema
    guardedStream(spark.readStream.schema(schema).parquet(docsGlob),
        outDir, s"$outDir/_ckpt", Seq("scored" -> Some(verdictDdl),
          "report" -> Some("stage STRING, n_evaluated BIGINT, " +
            "n_kept BIGINT, n_dropped BIGINT, shed_keys BIGINT, " +
            "batch_id BIGINT")),
        "graft_stream_curate", trigger, autoCompactEvery) {
      (batch, batchId, tick) =>
        val (v, shed) = curateBatchWithShed(batch, ngate, ndgate,
          getModels())
        // pinned once: consumed by both the scored write and the tick
        // census below — without the pin the census would re-run the
        // whole five-gate assembly
        val verdicts = v.localCheckpoint()
        graft.operators.GateOps.writeLog(batch.sparkSession, outDir,
          "scored", "doc_id", Some(verdicts), tick, logMergeBytes)
        // the STANDING census: the same per-stage arithmetic as the
        // post-hoc [[curationReport]], over just this tick's verdicts,
        // appended to a `report` log — a sustained-ingest operator
        // watches the census as a stream instead of re-scanning the
        // whole scored log per look. Replay-stable: a checkpoint retry
        // re-runs the same batch to the same verdicts (curateBatch's
        // contract) and the same batch_id, so the re-appended rows are
        // byte-identical and the read-side distinct absorbs them —
        // including a crash BETWEEN the scored append and this one.
        // distinct() on the tick's own verdicts mirrors the post-hoc
        // read discipline (a doc duplicated within one batch was
        // already collapsed by curateBatch's dedupAtWidth, so it is a
        // no-op here by construction, kept for the shared-arithmetic
        // guarantee). It self-tends on the scored log's cadence,
        // sorted by tick, always in the wholesale tier (6 rows per
        // tick).
        graft.operators.GateOps.writeLog(batch.sparkSession, outDir,
          "report", "batch_id", Some(censusStages(verdicts.distinct(),
            shed).withColumn("batch_id", lit(batchId))), tick, 0L)
    }.start()
  }

  /** The per-doc verdict frame's schema ([[curateBatch]]'s output). */
  private[streaming] val verdictDdl: String =
    "doc_id BIGINT, is_novel INT, is_neardup INT, quality_kept INT, " +
      "decontam_kept INT, lm_kept INT, kept INT"

  /** The curated streams' stage-1/stage-2 gate pair under `root`
    * (`root/nov`, `root/nd`), self-tending on `autoCompactEvery`: every
    * N-th admit compacts the gates' per-batch file accumulation inside
    * the admit turn (single-batch fixture runs never reach it). The
    * novelty gate's PERFORMANCE geometry also self-sizes at those
    * compactions (bloom grows to k·n·2 ≤ bits, buckets widen past
    * 256 MB) — both verdict-invariant, unlike the embedding gate's
    * band width, which changes collision semantics and therefore stays
    * opt-in. One pair per stream (driver-side foreachBatch closure):
    * the cached filters load once and fold per-batch deltas in
    * memory. */
  private[streaming] def gates(root: String, autoCompactEvery: Int = 16,
      bandKeyCap: Int = 0, candCap: Int = 100000,
      targetKeyLoad: Int = 64): (NoveltyGate, NearDupGate) =
    (new NoveltyGate(s"$root/nov", autoCompactEvery = autoCompactEvery,
        growBloomFactor = 2, widenBucketBytes = 256L << 20),
      new NearDupGate(s"$root/nd", candCap = candCap,
        bandKeyCap = bandKeyCap, autoCompactEvery = autoCompactEvery,
        targetKeyLoad = targetKeyLoad))

  /** The one replay-guarded micro-batch loop of the curated streams
    * ([[start]], [[IncrementalIngest.start]] and the ingest-curated
    * registry rows). At start it heals each of the caller's `logs`
    * under `root` — a crash inside a previous run's log compaction can
    * leave one mid-generation-swap — and then seeds those given a DDL
    * with their zero-row schema, so a stream that drains with no
    * non-empty batch still leaves them readable. Per non-empty batch
    * it runs `body(batch, batchId, tick)` and then writes the
    * `_last_commit` marker under `root`. `tick` is the logs'
    * compaction clock on the gates' cadence, every
    * `autoCompactEvery`-th batch: a tick's log write folds the batch's
    * rows into [[graft.operators.GateOps.compactLog]] instead of
    * appending them, so the logs do not accumulate one file set per
    * batch forever at sustained ingest.
    *
    * Replay idempotence under a LIVE models dir: a crash after the
    * body completed but before Spark committed the batch's offsets
    * replays the batch — and if a retrain landed in the restart
    * window, the replay would re-curate under the NEW generation and
    * append log rows that differ from the first run's (read-side
    * distinct() keeps both, breaking the census sum property). Spark
    * replays only the LAST in-flight batch, so ONE marker suffices:
    * the body is skipped when `_last_commit` already records this
    * batch (the first run fully committed — gate state, logs and
    * merge all landed before the marker did). Residual window: a
    * crash BETWEEN the appends and the marker write replays a torn
    * batch; same-generation replays stay byte-identical (absorbed as
    * before), and only a retrain landing in that exact window can
    * still produce conflicting rows — the narrow, documented remainder
    * of a non-transactional log. The marker pairs the batchId with
    * the CHECKPOINT's stable query id
    * ([[graft.operators.GateOps.commitIdentity]]: checkpoint-side fs,
    * success-only caching, loud degradation): a reused root under a
    * FRESH checkpoint restarts batchIds at 0, which a bare-batchId
    * marker would wrongly match whenever the prior run's last batch
    * was 0 (the AvailableNow common case) — silently dropping the new
    * stream's first batch. A fresh checkpoint has a fresh id, so it
    * never matches; an unreadable metadata file degrades to a
    * per-process random id, i.e. the guard turns off on the safe
    * (re-run) side.
    *
    * Returns the writer; the caller starts it. Spark pins the call site
    * of every job a streaming query runs to its start() call, so
    * starting it in the caller keeps the batch's jobs named after the
    * caller's code, not after this loop. */
  private[streaming] def guardedStream(stream: DataFrame, root: String,
      ckptDir: String, logs: Seq[(String, Option[String])],
      queryName: String, trigger: Trigger, autoCompactEvery: Int)(
      body: (DataFrame, Long, Boolean) => Unit): DataStreamWriter[Row] = {
    val spark = stream.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    logs.foreach { case (name, ddl) =>
      graft.operators.GateOps.recoverGeneration(fs, root, name)
      ddl.foreach(emptyFrame(spark, _).write.mode("ignore")
        .parquet(s"$root/$name"))
    }
    val ckptId = graft.operators.GateOps.commitIdentity(
      spark.sparkContext.hadoopConfiguration, ckptDir)
    // driver-side, one per stream (the gates keep their own clocks)
    var batchesSinceCompact = 0
    stream.writeStream.queryName(queryName)
      .option("checkpointLocation", ckptDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val commitKey = s"${ckptId()}:$batchId"
        val committed = graft.operators.GateOps.replayCommitted(
          graft.operators.GateOps.readMarker(fs, root, "_last_commit"),
          commitKey)
        if (!batch.isEmpty && !committed) {
          val tick = autoCompactEvery > 0 &&
            batchesSinceCompact + 1 >= autoCompactEvery
          body(batch, batchId, tick)
          // commit point for the replay guard — written only after
          // everything the body wrote landed
          graft.operators.GateOps.writeMarker(fs, root, "_last_commit",
            commitKey)
          batchesSinceCompact = if (tick) 0 else batchesSinceCompact + 1
        }
      }
  }

  /** The census a sustained-ingest operator actually watches, read
    * from a [[start]] output directory: per-stage evaluated / kept /
    * dropped counts over the scored verdict log (stage N's evaluated
    * = docs whose stage-N verdict is non-NULL — the stage lattice
    * means exactly the previous stage's survivors reached it), plus
    * the stage-2 gate's total shed under a band-key cap (summed
    * n_capped_keys from the gate's own verdicts — 0 when uncapped,
    * so the column doubles as a cap-is-off check). Corpus growth is
    * the `1_novelty` row's n_kept: stage-1 survivors are precisely
    * what both stateful gates index per batch. Two single-pass
    * aggregations (scored; nd verdicts) joined as broadcast scalars —
    * report cost never scales past the log scan. distinct() on both
    * reads absorbs at-least-once replay duplicates, matching the
    * logs' own read discipline.
    *
    * COUNTING SEMANTICS under re-ingestion: n_evaluated counts
    * EVALUATIONS (distinct verdict rows), not distinct doc_ids. A
    * doc_id genuinely re-submitted in a later batch re-runs the
    * chain, and because verdicts are arrival-time facts (the corpus
    * the near-dup probe sees has evolved; the text may have changed)
    * the re-evaluation can write a DIFFERENT verdict row — both rows
    * survive the distinct and both count, which is the census a
    * sustained-ingest operator wants (work done per stage), not a
    * per-doc latest-verdict rollup. Re-arrivals whose verdicts are
    * unchanged collapse to one row. A census read that straddles the
    * stream's own log-compaction swap can fail transiently (the
    * GateOps.compactLog reader contract) — retry. */
  def curationReport(spark: SparkSession, outDir: String): DataFrame =
    curationReportFrom(spark, s"$outDir/scored", s"$outDir/nd/verdicts")

  /** [[curationReport]] for any verdict-log + gate layout — the
    * ingest topology keeps its log and gate state under different
    * roots ([[IncrementalIngest.start]]: `tableDir/curation_log`,
    * `tableDir/curation/nd`), and the census only touches the shared
    * verdict columns, so the same report reads both layouts. */
  def curationReportFrom(spark: SparkSession, scoredPath: String,
      ndVerdictsPath: String): DataFrame = {
    // the ingest layout only creates its log inside the non-empty-
    // batch branch, so a pipeline that drained empty has NO log dir
    // (unlike Curation.start's scored, seeded from batch zero) — a
    // missing path reports the zero census, not PATH_NOT_FOUND. Only
    // the verdict columns matter to the census, so the empty frame
    // carries just those (the two layouts' id columns differ).
    val sfs = new org.apache.hadoop.fs.Path(scoredPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scored =
      (if (sfs.exists(new org.apache.hadoop.fs.Path(scoredPath)))
        spark.read.parquet(scoredPath)
      else emptyFrame(spark,
        "is_novel INT, is_neardup INT, quality_kept INT, " +
          "decontam_kept INT, lm_kept INT, kept INT"))
      .distinct()
    // the gate creates its verdicts dir only at the first non-empty
    // admit (and an all-null-text first batch leaves it schema-less),
    // while scored is seeded from batch zero — guard + explicit
    // schema so the report works on a drained-empty pipeline
    val ndv = ndVerdictsPath
    val ndvExists = new org.apache.hadoop.fs.Path(ndv)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(ndv))
    val shed =
      (if (ndvExists)
        spark.read
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "id BIGINT, n_cands BIGINT, best_eq BIGINT, " +
              "is_neardup INT, n_capped_keys BIGINT"))
          .parquet(ndv).distinct()
      else emptyFrame(spark, "n_capped_keys BIGINT"))
      .agg(coalesce(sum(col("n_capped_keys")), lit(0L)).as("shed"))
    censusStages(scored, shed)
  }

  /** The standing per-tick census a [[start]] stream emits: one
    * six-stage census block per non-empty batch, keyed by `batch_id`,
    * read back with the log family's distinct() replay absorption.
    *
    * Sum property (spec-pinned): for a stream of distinct documents,
    * summing n_evaluated / n_kept / n_dropped / shed_keys per stage
    * across ticks equals the post-hoc [[curationReport]] exactly. The
    * one divergence is DELIBERATE: a doc genuinely re-submitted in a
    * later batch whose re-evaluation writes a byte-identical verdict
    * row counts once in the post-hoc census (the scored log's
    * distinct collapses it) but in BOTH ticks here — the per-tick log
    * is the work-done record, and tick N's work happened regardless
    * of whether tick M had the same outcome. */
  def curationTicks(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/report").distinct()

  /** The per-stage census arithmetic over a (deduplicated) verdict
    * frame plus a one-row `shed` frame — shared by the post-hoc
    * [[curationReport]] and the per-tick rows [[start]] emits into its
    * standing `report` log. One aggregation pass, stacked into the
    * six-stage lattice. */
  private def censusStages(scored: DataFrame, shed: DataFrame): DataFrame = {
    val agg = scored.agg(
      count(lit(1)).as("n_all"),
      coalesce(sum((col("is_novel") === 1).cast("long")), lit(0L))
        .as("k1"),
      count(col("is_neardup")).as("e2"),
      coalesce(sum((col("is_neardup") === 0).cast("long")), lit(0L))
        .as("k2"),
      count(col("quality_kept")).as("e3"),
      coalesce(sum((col("quality_kept") === 1).cast("long")), lit(0L))
        .as("k3"),
      count(col("decontam_kept")).as("e4"),
      coalesce(sum((col("decontam_kept") === 1).cast("long")), lit(0L))
        .as("k4"),
      count(col("lm_kept")).as("e5"),
      coalesce(sum((col("lm_kept") === 1).cast("long")), lit(0L))
        .as("k5"),
      coalesce(sum((col("kept") === 1).cast("long")), lit(0L))
        .as("k6"))
    agg.crossJoin(broadcast(shed))
      .selectExpr(
        """stack(6,
          |  '1_novelty', n_all, k1, CAST(0 AS BIGINT),
          |  '2_neardup', e2, k2, shed,
          |  '3_quality', e3, k3, CAST(0 AS BIGINT),
          |  '4_decontam', e4, k4, CAST(0 AS BIGINT),
          |  '5_lm', e5, k5, CAST(0 AS BIGINT),
          |  '6_overall', n_all, k6, CAST(0 AS BIGINT)
          |) AS (stage, n_evaluated, n_kept, shed_keys)""".stripMargin)
      .select(col("stage"), col("n_evaluated"), col("n_kept"),
        (col("n_evaluated") - col("n_kept")).as("n_dropped"),
        col("shed_keys"))
      .orderBy(col("stage"))
  }

  /** The embedding-side standing check, for callers running the
    * vector twin of the text chain: one [[EmbedNearDupGate]] per
    * stream, batches of (id, vector) admitted in arrival order.
    *
    * `targetKeyLoad` (default 64 — ON, parity with [[start]]'s text
    * gate) engages the gate's SELF-SIZING band width: each
    * auto-compaction widens rowBits until per-key corpus load ≤
    * target, through [[graft.operators.EmbedNearDupGate
    * .regenerateAtWidth]]'s crash-safe generation-swap migration
    * (manifest-persisted, restart-safe; `rowBits` then only seeds the
    * width before the first resize). The migration's
    * collision-semantics contract — what a width change does and does
    * not preserve — lives on `regenerateAtWidth` itself. Pass
    * `targetKeyLoad = 0` to opt out (exact fixed-width semantics, the
    * oracle rows' configuration); the opted-out gate is still not
    * silent about growth: its compactions measure the hottest
    * sign-band key and warn loudly past `keyLoadWarnBudget`
    * (lower it for an earlier warning, 0 to acknowledge-and-silence
    * a legitimately hot exact index). */
  def startEmbedding(spark: SparkSession, vecsGlob: String,
      schema: org.apache.spark.sql.types.StructType, outDir: String,
      dim: Int, idCol: String, vecCol: String,
      bands: Int = 4, rowBits: Int = 4, minCosine: Double = 0.5,
      bandKeyCap: Int = 0, candCap: Int = 100000,
      autoCompactEvery: Int = 16, targetKeyLoad: Int = 64,
      trigger: Trigger = Trigger.AvailableNow(),
      keyLoadWarnBudget: Int = 4096): StreamingQuery = {
    val gate = new EmbedNearDupGate(outDir, dim, bands = bands,
      rowBits = rowBits, minCosine = minCosine, candCap = candCap,
      bandKeyCap = bandKeyCap, autoCompactEvery = autoCompactEvery,
      targetKeyLoad = targetKeyLoad,
      keyLoadWarnBudget = keyLoadWarnBudget)
    spark.readStream.schema(schema).parquet(vecsGlob)
      .writeStream.queryName("graft_stream_embed_nd")
      .option("checkpointLocation", s"$outDir/_ckpt")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) gate.admit(batch, idCol, vecCol)
      }
      .start()
  }
}
