package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index — the build-once / probe-many lifecycle the
  * inline [[Similarity.knnJoinIvfPq]] family lacks: every inline call
  * re-assigns cells and re-encodes PQ codes for the FULL corpus, so at
  * 100 TB the encode pass dominates every query. This index
  * materializes the encoded corpus ONCE as a maintained on-disk table
  * and answers k-NN joins from it; incremental append encodes only the
  * new batch. (The reference engine has no ANN surface — this is part
  * of the beyond-reference training-data-pipeline family, same public
  * literature as the inline joins: Jégou, Douze & Schmid, TPAMI'11.)
  *
  * On-disk layout at `indexPath` — GENERATIONS under a versioned
  * pointer, so maintenance never takes the index offline:
  * {{{
  *   ptr-NNNNNNNNN                versioned pointer files; the HIGHEST
  *                                version names the live generation.
  *                                Readers resolve the max; publishes
  *                                keep the superseded version as a
  *                                one-version grace (below)
  *   gen-NNNNNN/                  one complete, immutable-once-
  *                                published index generation:
  *     _ann_layout                GateLayout manifest: geometry (dim,
  *                                nlist, m, ksub, id/vec cols) AND the
  *                                trained quantizer itself (centroids +
  *                                codebooks, exact-round-trip doubles) —
  *                                the index is self-contained; probes
  *                                and appends never re-train
  *     base/cell=N/part….parquet  (corpus_id, codes, cn, vec) — the
  *                                built corpus, partitioned by coarse
  *                                cell so probes prune to nprobe/nlist
  *     delta-000001/cell=N/...    append batches, one dir per commit,
  *                                landing in the CURRENT generation
  * }}}
  *
  * Scale shape: the ADC candidate scan reads only (corpus_id, codes,
  * cn) from the PROBED cell partitions — column-pruned and
  * partition-pruned, ~nprobe/nlist of the compressed table; the exact
  * rerank reads `vec` for the same pruned cells only (the inverted
  * lists carry their vectors, the standard IVF deployment shape —
  * codes stay hot, floats are touched at shortlist selectivity). No
  * step ever re-encodes a stored vector.
  *
  * READER LIVENESS (the month table's availability contract, applied
  * to the index): probes resolve the pointer once and scan that
  * generation's immutable files, so BUILD and COMPACT — which stage a
  * complete NEW generation and commit by publishing the next pointer
  * version — never blank a probe. The publish sweeps with a
  * ONE-VERSION GRACE: the superseded pointer and its generation
  * survive until the NEXT publish, so a reader that resolved the
  * pointer just before a commit still finds every file it planned
  * against (maintenance publishes are hours apart; two publishes
  * inside one probe's runtime is the same out-of-contract overlap
  * [[MergeOps.readMonthTable]] documents for its month-dir grace).
  * Readers take NO destructive action, ever — there is no torn state
  * for them to repair: a build/compact crash before its pointer
  * publish leaves only an unreferenced generation dir that the next
  * WRITER sweeps, with the old generation still live throughout.
  *
  * Concurrency contract: WRITERS (build/append/compact) are strictly
  * SINGLE-WRITER — schedule them against each other (the reference
  * deployment shape: one maintenance driver). Readers are live
  * against every writer: appends commit with one atomic rename that
  * probes see all-or-nothing, build/compact swap generations behind
  * the pointer as above. (No CAS machinery is needed on the pointer —
  * that exists in [[MergeOps]] because two committer CLASSES race
  * there; here versions are strictly writer-ordered.)
  *
  * LATEST-WINS updates: `append` re-accepts an existing corpus_id as
  * an UPDATE. Every component carries an implicit commit number (base
  * = 0, delta-NNNNNN = N) and probes keep only each id's highest-
  * commit row among the SCANNED components before ranking; [[compact]]
  * folds the dedup permanently. Ids must be unique WITHIN one build
  * corpus / append batch (fail-fast checked — the same key-uniqueness
  * contract the month merge's latest-wins rests on). Caveat, stated
  * not hidden: an update whose new vector lands in a DIFFERENT coarse
  * cell leaves the superseded row as a shadow in the old cell — a
  * probe whose nprobe covers the old cell but not the new one can
  * still return it (the probe dedups over what it scans). Compact
  * removes shadows globally; probe at nprobe=nlist when staleness
  * must be zero between compacts.
  */
object AnnIndex {

  private val layoutName = "_ann_layout"
  private val deltaPrefix = "delta-"
  private val deltaStaging = "_delta_staging"
  private val genPrefix = "gen-"
  private val ptrPrefix = "ptr-"

  /** No-op default for the maintenance hooks — [[build]]/[[compact]]
    * fire it at "staged" (new generation fully written, old still
    * live), "published" (pointer committed — readers now resolve the
    * new generation), and "swept" (grace applied): the commit points
    * the liveness row probes from. */
  val noHook: String => Unit = _ => ()

  private def serVecs(vs: Seq[Seq[Double]]): String =
    vs.map(_.map(_.toString).mkString(",")).mkString(";")
  private def parseVecs(s: String): Seq[Seq[Double]] =
    s.split(";", -1).toSeq.map(_.split(",", -1).toSeq.map(_.toDouble))
  private def serBooks(bs: Seq[Seq[Seq[Double]]]): String =
    bs.map(serVecs).mkString("|")
  private def parseBooks(s: String): Seq[Seq[Seq[Double]]] =
    s.split("\\|", -1).toSeq.map(parseVecs)

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive (path, length, mtime) census of an index component —
    * the no-re-encode proof's ONE measuring stick (the probe registry
    * row, the lifecycle ScaleProbes, and specs compare these
    * before/after maintenance ops: any rewrite changes task-UUID file
    * names, lengths, and mtimes). Shared so the property every
    * surface certifies cannot drift between copies. */
  def fileCensus(spark: SparkSession,
      dir: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return Seq.empty
    val it = fs.listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      buf += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    buf.sortBy(_._1).toSeq
  }

  // ------------------------------------------------------------------
  // generation pointer
  // ------------------------------------------------------------------

  private def ptrVersions(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(dest)) Nil
    else fs.listStatus(dest).map(_.getPath.getName)
      .filter(n => n.startsWith(ptrPrefix) &&
        n.stripPrefix(ptrPrefix).nonEmpty &&
        n.stripPrefix(ptrPrefix).forall(_.isDigit))
      .map(_.stripPrefix(ptrPrefix).toLong).sorted.toSeq

  private def ptrPath(dest: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(dest, f"$ptrPrefix$v%09d")

  /** Resolve the live generation: the highest pointer version's
    * payload. Belt-and-braces beside the write-side grace: losing the
    * list-then-open race (our resolved pointer swept between listing
    * and open — the state advanced by TWO publishes) re-lists and
    * resolves the newer max rather than surfacing FileNotFound. */
  private def resolveGen(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Option[(Long, String)] = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val vs = ptrVersions(fs, dest)
      if (vs.isEmpty) return None
      val v = vs.max
      try {
        val m = GateLayout.read(fs, ptrPath(dest, v))
        return Some((v, m("gen")))
      } catch {
        case _: java.io.IOException => // advanced — re-list
      }
    }
    throw new java.io.IOException(
      s"pointer resolution did not stabilize after $attempts attempts " +
        s"at $dest — more than one maintenance publish per read is " +
        "out of the single-writer contract")
  }

  /** The live generation's directory name (e.g. "gen-000002") — for
    * callers that census the index's FILES (specs, registry rows);
    * query callers never need it. Fails fast on a missing index. */
  def currentGeneration(spark: SparkSession, indexPath: String): String = {
    val dest = new org.apache.hadoop.fs.Path(indexPath)
    liveGen(fsOf(spark, dest), dest).getName
  }

  /** Writer-side sweep, run at writer entry and after each publish:
    * keep the TOP TWO pointer versions (the live one + the one-version
    * reader grace), delete every other pointer, every generation dir
    * no surviving pointer references (superseded generations past
    * grace, and the partial stagings of crashed builds/compacts —
    * readers never look at an unreferenced generation, so sweeping it
    * can strand no one), pointer-write temp debris, and append staging
    * inside surviving generations. Writers only — the single-writer
    * contract is what makes deleting an unreferenced generation safe
    * (no other writer can be mid-stage in it). A root holding a
    * layout manifest outside any generation is a layout this version
    * does not write: the sweep fails fast on it before deleting
    * anything. */
  private def sweep(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(dest)) return
    val vs = ptrVersions(fs, dest)
    val keep = vs.sorted.takeRight(2).toSet
    // STRICT reads: a kept pointer that cannot be read must ABORT the
    // sweep (propagate), never be treated as referencing nothing — a
    // transient IO fault mapped to "no generation" would delete the
    // generation the live pointer still references, destroying the
    // index's only copy. (Kept pointers are immutable once published
    // and only writers delete them, so under the single-writer
    // contract a failed read here is never a lost race.)
    val kept = keep.toSeq.sorted.map { v =>
      GateLayout.read(fs, ptrPath(dest, v))("gen")
    }.toSet
    val entries = fs.listStatus(dest).map(_.getPath)
    require(!entries.exists(_.getName == layoutName), s"the ANN index " +
      s"root $dest holds ${GateLayout.found(fs, dest)}: a $layoutName " +
      "outside any generation is not a layout this version reads")
    entries.foreach { p =>
      val n = p.getName
      if (n.startsWith(ptrPrefix)) {
        val core = n.stripPrefix(ptrPrefix)
        if (core.nonEmpty && core.forall(_.isDigit)) {
          if (!keep.contains(core.toLong)) fs.delete(p, false)
        } else fs.delete(p, true) // _tmp debris of a crashed publish
      } else if (n.startsWith(genPrefix)) {
        if (!kept.contains(n)) fs.delete(p, true)
        else fs.delete(new Path(p, deltaStaging), true)
      }
    }
  }

  /** Commit a staged generation: publish the next pointer version
    * (GateLayout's temp-write + atomic rename — readers can never see
    * a torn pointer), then apply the grace sweep. */
  private def publish(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path, gen: String,
      hook: String => Unit): Unit = {
    val v = ptrVersions(fs, dest).lastOption.getOrElse(0L) + 1
    GateLayout.write(fs, ptrPath(dest, v), Seq("gen" -> gen))
    hook("published")
    sweep(fs, dest)
    hook("swept")
  }

  private def nextGenName(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): String = {
    val n = if (!fs.exists(dest)) 0L
      else fs.listStatus(dest).map(_.getPath.getName)
        .filter(g => g.startsWith(genPrefix) &&
          g.stripPrefix(genPrefix).forall(_.isDigit))
        .map(_.stripPrefix(genPrefix).toLong)
        .foldLeft(0L)(math.max)
    f"$genPrefix${n + 1}%06d"
  }

  /** Fail fast on duplicate ids within one STAGED component —
    * latest-wins resolution is BY COMMIT NUMBER, so two rows of one
    * id at the same commit would tie undecidably (the same
    * key-uniqueness fail-fast the month merge applies to its
    * batches). Validated from the staged PARQUET, never the caller's
    * DataFrame: a column-pruned scan of the one 8-byte id column
    * costs ~nothing, where re-running the caller's lineage would
    * double the price of an arbitrarily expensive upstream pipeline
    * (and re-execute non-deterministic sources). On violation runs
    * `abort` (sweep the staging) before throwing. */
  private def requireUniqueStaged(spark: SparkSession,
      stagedDir: org.apache.hadoop.fs.Path, idCol: String,
      what: String, abort: () => Unit): Unit = {
    val r = spark.read.parquet(stagedDir.toString)
      .agg(count(lit(1)).as("n"),
        count_distinct(col("corpus_id")).as("d")).head()
    if (r.getLong(0) != r.getLong(1)) {
      abort()
      throw new IllegalArgumentException(
        s"$what has ${r.getLong(0)} rows but only ${r.getLong(1)} " +
          s"distinct $idCol values — ids must be unique within one " +
          "batch (re-append an id in a LATER batch to update it)")
    }
  }

  /** Encode a corpus slice with the index's quantizer —
    * [[Similarity.encodedCorpus]], the encode the inline IVF-PQ joins
    * use — under the index's stored names: (corpus_id, vec, cell,
    * codes, cn). */
  private def encoded(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    Similarity.encodedCorpus(df, idCol, vecCol, centroids, codebooks)
      .select(col("corpus_id"), col("_cv").as("vec"),
        col("_cell").as("cell"), col("_codes").as("codes"),
        col("_cn").as("cn"))

  /** Build (or rebuild) the index: encode the full corpus once into a
    * fresh generation, commit by publishing the pointer — probes stay
    * live on the old generation until the instant of the publish and
    * resolve the new one after it. The quantizer (trained by the
    * caller via [[Similarity.trainIvfCentroids]] /
    * [[Similarity.trainPqCodebooks]], or pinned) is persisted in the
    * layout — the index answers probes with no other input. `hook`
    * fires at "staged" / "published" / "swept" (see [[noHook]]). */
  def build(spark: SparkSession, indexPath: String, corpus: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]],
      hook: String => Unit = noHook): Unit = {
    import org.apache.hadoop.fs.Path
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "codebooks must be non-empty")
    val dim = centroids.head.length
    val dsub = codebooks.head.head.length
    require(codebooks.length * dsub == dim,
      s"codebooks cover ${codebooks.length}·$dsub dims, corpus has $dim")
    val dest = new Path(indexPath)
    val fs = fsOf(spark, dest)
    sweep(fs, dest)
    val gen = nextGenName(fs, dest)
    val genPath = new Path(dest, gen)
    encoded(corpus, idCol, vecCol, centroids, codebooks)
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("corpus_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(new Path(genPath, "base").toString)
    // abort = drop the staged generation; clear the root only when it
    // is EMPTY afterwards (the fresh failed-first-build case) — NEVER
    // recursively: the path may hold a live index, or content this
    // build did not create
    def abortStaged(): Unit = {
      fs.delete(genPath, true)
      if (fs.exists(dest) && fs.listStatus(dest).isEmpty)
        fs.delete(dest, true)
    }
    // a 0-row corpus writes a partitionless parquet dir that every
    // later read of the generation would die on (schema inference
    // finds nothing) — refuse to publish an unreadable generation,
    // and leave the live one (if any) untouched
    if (!hasCellDirs(fs, new Path(genPath, "base"))) {
      abortStaged()
      throw new IllegalArgumentException(
        s"refusing to build an ANN index from an EMPTY corpus at " +
          s"$indexPath — the artifact would be unreadable")
    }
    requireValidCells(fs, new Path(genPath, "base"), centroids.length,
      dim, s"build corpus for $indexPath", abortStaged _)
    requireUniqueStaged(spark, new Path(genPath, "base"), idCol,
      s"build corpus for $indexPath", abortStaged _)
    GateLayout.write(fs, new Path(genPath, layoutName), Seq(
      "id_col" -> idCol, "vec_col" -> vecCol,
      // value TYPES ride in the manifest so append's type contract
      // costs zero filesystem I/O (catalogString: nullability-free)
      "id_type" -> corpus.schema(idCol).dataType.catalogString,
      "vec_type" -> corpus.schema(vecCol).dataType.catalogString,
      "dim" -> dim.toString,
      "nlist" -> centroids.length.toString,
      "m" -> codebooks.length.toString,
      "ksub" -> codebooks.head.length.toString,
      "metric" -> "cosine",
      "centroids" -> serVecs(centroids),
      "codebooks" -> serBooks(codebooks)))
    hook("staged")
    publish(fs, dest, gen, hook)
  }

  private def readLayout(fs: org.apache.hadoop.fs.FileSystem,
      genPath: org.apache.hadoop.fs.Path): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(genPath, layoutName)
    require(fs.exists(p),
      s"no ANN index generation at $genPath (missing $layoutName)")
    GateLayout.read(fs, p)
  }

  /** Resolve the live generation for a READ — fail fast when the
    * index does not exist. */
  private def liveGen(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    resolveGen(fs, dest) match {
      case Some((_, g)) => new org.apache.hadoop.fs.Path(dest, g)
      case None => throw new IllegalArgumentException(s"no ANN index " +
        s"at $dest (no pointer; found ${GateLayout.found(fs, dest)})")
    }

  private def deltaDirs(fs: org.apache.hadoop.fs.FileSystem,
      genPath: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(genPath)) Nil
    else fs.listStatus(genPath).map(_.getPath.getName)
      .filter(n => n.startsWith(deltaPrefix) &&
        n.stripPrefix(deltaPrefix).nonEmpty &&
        n.stripPrefix(deltaPrefix).forall(_.isDigit)).sorted.toSeq

  /** Whether a staged component actually holds data: a 0-row
    * partitioned write leaves no `cell=` dirs, and committing such a
    * dir would make every later read of the index die on schema
    * inference. */
  private def hasCellDirs(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("cell="))

  /** Fail fast on a staged component whose cell partitions fall
    * outside [0, nlist) — the on-disk symptom of a WRONG-DIMENSION or
    * null vector: the assignment arithmetic yields no real argmin for
    * those, the row lands at cell=-1 (or the null partition) which no
    * probe ever scans (ivfProbes emits 0..nlist-1 only), and the
    * batch would silently vanish from every result while compact
    * carries it forever. The layout persists `dim` exactly so the
    * artifact can self-validate; this is the check — FILESYSTEM-level
    * (partition dir names), zero data scanned. Runs `abort` (sweep
    * the staging) before throwing. */
  private def requireValidCells(fs: org.apache.hadoop.fs.FileSystem,
      stagedDir: org.apache.hadoop.fs.Path, nlist: Int, dim: Int,
      what: String, abort: () => Unit): Unit = {
    val bad = fs.listStatus(stagedDir).map(_.getPath.getName)
      .filter(_.startsWith("cell="))
      .map(_.stripPrefix("cell="))
      .filter(c => !(c.forall(_.isDigit) && c.nonEmpty &&
        c.length <= 9 && c.toInt < nlist))
    if (bad.nonEmpty) {
      abort()
      throw new IllegalArgumentException(
        s"$what holds vectors the index's quantizer cannot assign " +
          s"(cell partitions ${bad.mkString(",")} outside [0,$nlist)) " +
          s"— every vector must be non-null with exactly dim=$dim " +
          "elements; such rows would be invisible to every probe")
    }
  }

  /** Incrementally add a batch: encode ONLY the batch with the
    * persisted quantizer and commit it as the next delta directory of
    * the LIVE generation — one atomic rename; the base and every prior
    * delta are never opened, let alone rewritten (the property the
    * spec pins with a file census). A batch may RE-APPEND existing ids
    * to update them: the delta's commit number outranks every earlier
    * component, and probes/compact resolve latest-wins (see the object
    * doc for the cross-cell shadow caveat). Cell geometry is frozen at
    * build time — the standard IVF posture; re-train + rebuild when
    * drift matters. */
  def append(spark: SparkSession, indexPath: String, batch: DataFrame,
      idCol: String, vecCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    val dest = new Path(indexPath)
    val fs = fsOf(spark, dest)
    sweep(fs, dest)
    val genPath = liveGen(fs, dest)
    val m = readLayout(fs, genPath)
    require(m("id_col") == idCol && m("vec_col") == vecCol,
      s"index at $indexPath was built on (${m("id_col")}, " +
        s"${m("vec_col")}), append offered ($idCol, $vecCol)")
    // TYPE contract, not just names: a mismatched id type would make
    // latest-wins resolution coerce (long 7 vs string "007" never
    // supersede each other) or brick later reads with an
    // AnalysisException AFTER the commit — and append is the last
    // validation point. The stored types ride in the manifest (zero
    // filesystem I/O; catalogString is nullability-insensitive —
    // parquet round-trips flip containsNull, the contract is the
    // value type).
    for ((bCol, key, oCol, oName) <- Seq(
        ("corpus_id", "id_type", idCol, "id"),
        ("vec", "vec_type", vecCol, "vector"))) {
      val stored = m(key)
      require(stored == batch.schema(oCol).dataType.catalogString,
        s"index at $indexPath stores $oName column $bCol as " +
          s"$stored, append offered " +
          s"${batch.schema(oCol).dataType.catalogString}")
    }
    val staging = new Path(genPath, deltaStaging)
    encoded(batch, idCol, vecCol,
        parseVecs(m("centroids")), parseBooks(m("codebooks")))
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("corpus_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(staging.toString)
    // an empty batch (routine: a day with no new rows) stages nothing
    // — committing the empty dir would brick every later read on
    // schema inference, so the append is a clean no-op instead
    if (!hasCellDirs(fs, staging)) {
      fs.delete(staging, true)
      return
    }
    requireValidCells(fs, staging, m("nlist").toInt, m("dim").toInt,
      s"append batch for $indexPath",
      () => { fs.delete(staging, true); () })
    requireUniqueStaged(spark, staging, idCol,
      s"append batch for $indexPath",
      () => { fs.delete(staging, true); () })
    // the rename IS the commit; writers are strictly single-writer
    // (object doc), so the next delta name cannot be contended — a
    // failed rename is a contract violation or an IO fault, loud
    // either way
    // NUMERIC max, not the lexicographic lastOption: at the
    // delta-999999 -> delta-1000000 width rollover string order would
    // re-derive a taken name and an HDFS rename would nest the batch
    // invisibly inside it
    val n = deltaDirs(fs, genPath)
      .map(_.stripPrefix(deltaPrefix).toLong)
      .foldLeft(0L)(math.max) + 1
    val target = new Path(genPath, f"$deltaPrefix$n%06d")
    if (!fs.rename(staging, target))
      throw new java.io.IOException(
        s"could not commit delta $target for $indexPath — appends " +
          "are single-writer; a concurrent writer violates the contract")
  }

  private def commitOf(component: String): Long =
    if (component == "base") 0L
    else component.stripPrefix(deltaPrefix).toLong

  /** Total bytes under the generation's committed deltas — the
    * physical size that drives [[readCells]]' dedup-plan choice. */
  private def deltaBytes(fs: org.apache.hadoop.fs.FileSystem,
      genPath: org.apache.hadoop.fs.Path, deltas: Seq[String]): Long =
    deltas.map(d => fs.getContentSummary(
      new org.apache.hadoop.fs.Path(genPath, d)).getLength).sum

  /** Physical delta bytes below which the delta id set comfortably
    * broadcasts: 256 MB of PHYSICAL delta bytes bounds the id set far
    * below it (each row carries codes + a raw vector, ≥100 B, vs an
    * 8-byte id), i.e. a ≲20 MB broadcast worst-case. The steady state
    * (daily appends, periodic compact) lives entirely below this;
    * override per session for unusual geometries. */
  val deltaBroadcastBytesKey = "spark.graft.ann.deltaBroadcastBytes"

  private def deltasBroadcastable(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      genPath: org.apache.hadoop.fs.Path, deltas: Seq[String]): Boolean = {
    val cap = spark.conf
      .getOption(deltaBroadcastBytesKey).map(_.toLong)
      .getOrElse(256L << 20)
    deltas.isEmpty || deltaBytes(fs, genPath, deltas) <= cap
  }

  /** The broadcast-path delta resolution, computed ONCE per probe
    * over the union of every column the call's component reads need
    * (probe reads the pruned cells twice — codes for ADC, vectors for
    * the rerank — and each used to pay its own delta scan + window +
    * pin; the resolved rows are identical, only the projection
    * differs). Bounded by the broadcastable-delta contract like the
    * per-call form it replaces. */
  private def resolveDeltaWins(spark: SparkSession,
      genPath: org.apache.hadoop.fs.Path, deltas: Seq[String],
      cells: Option[Seq[Int]], cols: Seq[String]): DataFrame = {
    def component(d: String): DataFrame = {
      val all = spark.read
        .parquet(new org.apache.hadoop.fs.Path(genPath, d).toString)
      cells.fold(all)(cs => all.filter(col("cell").isin(cs: _*)))
        .select(cols.map(col): _*)
    }
    val deltaUnion = deltas.map(d =>
        component(d).withColumn("_icommit", lit(commitOf(d))))
      .reduce(_ unionByName _)
    graft.plans.GroupedTopK.windowed(deltaUnion,
        Seq("corpus_id"), Seq("_icommit"), descending = true, 1)
      .drop("_icommit")
      .localCheckpoint()
  }

  /** The persisted-index read: base + every committed delta of the
    * live generation, pruned to `cells` (partition pruning — the scan
    * unit the whole layout exists for), with only `cols` read (column
    * pruning: the ADC pass never deserializes `vec`, the rerank never
    * reads `codes`), then resolved LATEST-WINS: each component
    * carries its commit number and only each corpus_id's highest-
    * commit row among the scanned components survives.
    *
    * Dedup plan, sized to where the rows are: with no deltas (fresh
    * or compacted index) there is nothing to resolve and the base
    * scan streams through untouched — the steady post-compact state
    * pays NOTHING. With `broadcastDeltaIds` (the caller's one
    * physical-size check, [[deltasBroadcastable]]), only the DELTAS —
    * small by the maintenance contract — pay a window sort, and the
    * base scan sheds superseded rows through a broadcast LEFT ANTI
    * join on the delta id set: no shuffle, no sort, map-side only —
    * the base never pays for being large, which is the whole layout's
    * point. Only a delta backlog past the broadcast bound (a missed
    * compact) falls back to the spill-safe windowed top-k over the
    * full pruned scan. */
  private def readCells(spark: SparkSession,
      genPath: org.apache.hadoop.fs.Path, deltas: Seq[String],
      cells: Option[Seq[Int]], cols: Seq[String],
      broadcastDeltaIds: Boolean,
      sharedDeltaWins: Option[DataFrame] = None): DataFrame = {
    def component(d: String): DataFrame = {
      val all = spark.read
        .parquet(new org.apache.hadoop.fs.Path(genPath, d).toString)
      // None = a deliberately UNPRUNED read (the exact baseline is
      // inherently all-corpus) — stated here instead of a no-op
      // isin over every cell id
      cells.fold(all)(cs => all.filter(col("cell").isin(cs: _*)))
        .select(cols.map(col): _*)
    }
    val base = component("base")
    if (deltas.isEmpty) return base
    if (broadcastDeltaIds) {
      // localCheckpoint (inside resolveDeltaWins): the anti-join's
      // broadcast side and the union branch are different projections
      // of this subtree, so exchange reuse would NOT apply and the
      // delta scan + window would run twice per call
      // (ivfPqAtRecallCore's 'scored' precedent); bounded by the
      // broadcastable-delta contract. A caller reading the same
      // pruned cells more than once passes the resolution in
      // (`sharedDeltaWins`, superset columns) so the delta scan +
      // window + pin run once per PROBE, not once per read.
      val deltaWins = sharedDeltaWins
        .map(_.select(cols.map(col): _*))
        .getOrElse(resolveDeltaWins(spark, genPath, deltas, cells, cols))
      base.join(broadcast(deltaWins.select(col("corpus_id"))),
          Seq("corpus_id"), "left_anti")
        .unionByName(deltaWins)
    } else {
      val deltaUnion = deltas.map(d =>
          component(d).withColumn("_icommit", lit(commitOf(d))))
        .reduce(_ unionByName _)
      val unioned = base.withColumn("_icommit", lit(0L))
        .unionByName(deltaUnion)
      // corpus_id cardinality is the scan's, unbounded — the heap
      // operator's keys×k memory contract does not apply; windowed
      // spills
      graft.plans.GroupedTopK.windowed(unioned, Seq("corpus_id"),
        Seq("_icommit"), descending = true, 1).drop("_icommit")
    }
  }

  /** The empty-result schema both probes share when no cell is
    * probed: query_id typed from the query side, corpus_id from the
    * INDEX (footer-only read — an empty batch must not flip the
    * result schema when the two id types differ), plus the caller's
    * extra columns. */
  private def emptyProbeResult(spark: SparkSession,
      genPath: org.apache.hadoop.fs.Path, queries: DataFrame,
      idCol: String,
      extra: Seq[org.apache.spark.sql.types.StructField]): DataFrame = {
    import org.apache.spark.sql.types._
    val corpusIdType = spark.read
      .parquet(new org.apache.hadoop.fs.Path(genPath, "base").toString)
      .schema("corpus_id").dataType
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("query_id", queries.schema(idCol).dataType),
        StructField("corpus_id", corpusIdType),
        StructField("cosine", DoubleType)) ++ extra))
  }

  /** What both probes read from the live generation: its quantizer,
    * the probed-cell set — collected once, ≤ nlist values whatever the
    * query count, so the scans below are partition-pruned reads of
    * nprobe/nlist of the table — and, pruned to those cells with one
    * latest-wins delta resolution shared by both reads, the skeleton's
    * two sides: codes (_cell, corpus_id, codes, cn) and vectors
    * (corpus_id, vec, cn). `sides` is None when no cell is probed. */
  private final case class Probed(genPath: org.apache.hadoop.fs.Path,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      deltas: Seq[String], bcastDeltas: Boolean,
      sides: Option[(DataFrame, DataFrame)])

  private def probed(spark: SparkSession, indexPath: String,
      queries: DataFrame, vecCol: String, nprobe: Int): Probed = {
    val dest = new org.apache.hadoop.fs.Path(indexPath)
    val fs = fsOf(spark, dest)
    val genPath = liveGen(fs, dest)
    val lay = readLayout(fs, genPath)
    val centroids = parseVecs(lay("centroids"))
    val deltas = deltaDirs(fs, genPath)
    val bcastDeltas = deltasBroadcastable(spark, fs, genPath, deltas)
    val cells = queries
      .select(Similarity.probedCells(col(vecCol), centroids, nprobe))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val sides = if (cells.isEmpty) None else {
      val sharedWins =
        if (deltas.nonEmpty && bcastDeltas)
          Some(resolveDeltaWins(spark, genPath, deltas, Some(cells),
            Seq("cell", "corpus_id", "codes", "cn", "vec")))
        else None
      def read(cols: String*) = readCells(spark, genPath, deltas,
        Some(cells), cols, bcastDeltas, sharedWins)
      Some((read("cell", "corpus_id", "codes", "cn")
          .withColumnRenamed("cell", "_cell"),
        read("corpus_id", "vec", "cn")))
    }
    Probed(genPath, centroids, parseBooks(lay("codebooks")), deltas,
      bcastDeltas, sides)
  }

  /** Answer an IVF-PQ k-NN join FROM the index — the same path as
    * [[Similarity.knnJoinIvfPq]] (bit-identical results over the same
    * corpus and quantizer), with the corpus-side assignment and PQ
    * encode replaced by partition-pruned reads of the persisted
    * artifact. The query side broadcasts — a bounded probe batch
    * against a huge corpus. */
  def probe(spark: SparkSession, indexPath: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 2,
      shortlist: Int = 50): DataFrame = {
    Similarity.requireDials(k, shortlist)
    val p = probed(spark, indexPath, queries, vecCol, nprobe)
    p.sides.fold(emptyProbeResult(spark, p.genPath, queries, idCol,
        Seq.empty)) { case (codes, vecs) =>
      Similarity.ivfPqJoin(codes, vecs, queries, idCol, vecCol, k,
        p.centroids, p.codebooks, nprobe, shortlist)
    }
  }

  /** [[probe]] at a DECLARED recall target — the persisted index at
    * feature parity with [[Similarity.knnJoinIvfPqAtRecall]]: the
    * shortlist dial is calibrated against an exact baseline and the
    * smallest qualifying shortlist's pairs are returned with the
    * measured recall ×1000 on every row. The calibration core is
    * SHARED with the inline join ([[Similarity.ivfPqAtRecallCore]] —
    * one rule, two data sources), with the index's stored codes and
    * vectors injected where the inline join would re-encode: the ADC
    * ranking and the rerank read partition-pruned probed cells; only
    * the exact baseline (inherently all-corpus) reads every cell's
    * vectors. Every injected side is latest-wins resolved first, so
    * the dial calibrates against the same updated corpus the probe
    * answers from. `sampleQueries > 0` runs that whole calibration on
    * a seeded hash-ordered query subset and applies the dial to all
    * queries through the plain [[probe]] — the same executable
    * at-scale posture as the inline knob. */
  def probeAtRecall(spark: SparkSession, indexPath: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 2, shortlists: Seq[Int] = Seq.empty,
      targetX100: Int = 90, sampleQueries: Int = 0): DataFrame = {
    val ss = Similarity.shortlistLadder(k, shortlists, targetX100)
    // sample branch FIRST: it needs only the ladder — the recursive
    // calibration and the final probe each do their own layout read
    if (sampleQueries > 0)
      return Similarity.sampleDial(queries, idCol, sampleQueries,
        "shortlist", ss.last, qs => probeAtRecall(spark, indexPath, qs,
          idCol, vecCol, k, nprobe, ss, targetX100, 0))(
        s => probe(spark, indexPath, queries, idCol, vecCol, k, nprobe, s))
    val p = probed(spark, indexPath, queries, vecCol, nprobe)
    import org.apache.spark.sql.types._
    p.sides.fold(emptyProbeResult(spark, p.genPath, queries, idCol, Seq(
        StructField("shortlist", IntegerType),
        StructField("recall_x1000", LongType)))) { case (codes, vecs) =>
      // the exact baseline is inherently all-corpus: every cell's
      // stored vectors, renamed back to the caller's column contract
      val fullVecs = readCells(spark, p.genPath, p.deltas, None,
          Seq("corpus_id", "vec"), p.bcastDeltas)
        .withColumnsRenamed(Map("corpus_id" -> idCol, "vec" -> vecCol))
      Similarity.ivfPqAtRecallCore(codes, vecs,
        Similarity.knnJoinExact(fullVecs, queries, idCol, vecCol, k)
          .select(col("query_id"), col("corpus_id")),
        queries, idCol, vecCol, k, p.centroids, p.codebooks, nprobe, ss,
        targetX100)
    }
  }

  /** Fold every committed delta into a fresh base — the periodic
    * floor-sweep that bounds a probe's component count (each probe
    * unions base + N deltas; sustained daily appends would otherwise
    * grow N without limit, and each component is a separate parquet
    * read) AND makes latest-wins permanent: each corpus_id keeps only
    * its highest-commit row, resolved GLOBALLY (all cells — this is
    * where cross-cell update shadows die). No vector is RE-ENCODED:
    * the stored (cell, codes, cn, vec) rows are carried as-is through
    * one dedup + repartition-by-cell rewrite — compaction cost is
    * shuffle-I/O-shaped, never quantization work. Commits by staging
    * a complete NEW generation and publishing the pointer ([[build]]'s
    * discipline — probes stay live on the old generation throughout;
    * a crash leaves the old generation live and an unreferenced
    * staging for the next writer's sweep). The layout's quantizer
    * rides along unchanged so probe results are identical before and
    * after (bar shadows resolved). `hook` fires at "staged" /
    * "published" / "swept". Returns the number of deltas folded. */
  def compact(spark: SparkSession, indexPath: String,
      hook: String => Unit = noHook): Int = {
    import org.apache.hadoop.fs.Path
    val dest = new Path(indexPath)
    val fs = fsOf(spark, dest)
    sweep(fs, dest)
    val genPath = liveGen(fs, dest)
    val lay = readLayout(fs, genPath)
    val deltas = deltaDirs(fs, genPath)
    if (deltas.isEmpty) return 0
    val gen = nextGenName(fs, dest)
    val newGenPath = new Path(dest, gen)
    // the SAME latest-wins resolution probes apply, over every cell
    // (ingress refuses cells outside [0, nlist)) — one
    // implementation, so probe and compact can never resolve an
    // update differently
    readCells(spark, genPath, deltas, None,
        Seq("cell", "corpus_id", "codes", "cn", "vec"),
        deltasBroadcastable(spark, fs, genPath, deltas))
      .withColumn("cell", col("cell").cast("int"))
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("corpus_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(new Path(newGenPath, "base").toString)
    GateLayout.write(fs, new Path(newGenPath, layoutName),
      lay.toSeq.sorted)
    hook("staged")
    publish(fs, dest, gen, hook)
    deltas.size
  }

  /** Maintenance census: (dir, cell, rows) per component of the live
    * generation plus the layout geometry — the observability row a
    * maintained artifact owes its operators. Counts are PHYSICAL (a
    * superseded update shadow counts until compact folds it — the
    * census describes storage, probes describe results). Bounded by
    * components × nlist. */
  def census(spark: SparkSession, indexPath: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val dest = new Path(indexPath)
    val fs = fsOf(spark, dest)
    val genPath = liveGen(fs, dest)
    readLayout(fs, genPath) // fail fast on a missing/torn index
    val deltas = deltaDirs(fs, genPath)
    ("base" +: deltas).map { d =>
      spark.read.parquet(new Path(genPath, d).toString)
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("n_vectors"))
        .withColumn("component", lit(d))
    }.reduce(_ unionByName _)
  }
}
