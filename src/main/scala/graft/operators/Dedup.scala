package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-scale near-duplicate detection for training-data pipelines:
  * exact fingerprints, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale stance (100 TB): every operator here is
  * scan → narrow per-row transforms → ONE keyed shuffle (band bucket /
  * fingerprint). No cross joins: candidate generation is always via an
  * inverted index (band hash or shingle), so cost is O(collisions) not
  * O(n²). Signatures are fixed-width arrays of longs — cheap to
  * shuffle and spill-friendly.
  */
object Dedup {

  /** Ensure at least default parallelism BEFORE an expensive per-row
    * compute (shingling, signatures). A small parquet table is one
    * split, so without this the whole HOF/signature compute runs on a
    * single core while the rest idle — the repartition shuffles only
    * the narrow projected input, never the computed arrays. No-op when
    * the source already has enough splits (the 100 TB case).
    *
    * The split count is ESTIMATED from the optimized logical plan's
    * size statistic divided by `spark.sql.files.maxPartitionBytes` —
    * never from `df.rdd.getNumPartitions`, which physically plans the
    * subtree a second time and throws on a streaming frame. Sources
    * with no real estimate report Long.MaxValue bytes and correctly
    * fall on the "already parallel enough" side (no extra shuffle).
    *
    * EXCEPT for checkpointed lineages (all leaves LogicalRDD): there
    * the partition count is KNOWN without re-planning, and the size
    * estimate must not be trusted — a join-shaped plan overestimates
    * by multiplied selectivities (measured: a 5 MB join output
    * estimated at 16.6 GB), while an AQE-coalesced checkpoint is
    * often ONE partition, so the estimate's "big enough, skip" answer
    * silently serialized the whole downstream per-row compute AND the
    * first post-compute join's output onto one core (the curate
    * chain's near-dup admit: 39 s vs 5 s).
    */
  private[operators] def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    val rddParts = leaves.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.getNumPartitions
    }
    if (rddParts.length == leaves.length && rddParts.nonEmpty) {
      if (rddParts.max >= target) df else df.repartition(target)
    } else {
      val splitBytes = org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
      val estSplits =
        (plan.stats.sizeInBytes / splitBytes) + 1
      if (estSplits >= target) df else df.repartition(target)
    }
  }

  /** Whitespace word tokens of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word n-gram shingles, distinct. Built by zipping the token array
    * with its shifted slices (O(W)); indexing element_at(w, i) inside a
    * transform re-evaluates the inlined tokenizer per element — O(W²)
    * per row (CollapseProject inlines the alias).
    */
  def shingles(text: Column, n: Int): Column = {
    val w = tokens(text)
    val combined = (1 until n).foldLeft(w) { (acc, j) =>
      zip_with(acc, slice(w, lit(j + 1), size(w)),
        (a, b) => concat(a, lit(" "), b)) // null tail propagates
    }
    array_distinct(
      when(size(w) < n, array(array_join(w, " ")))
        .otherwise(filter(combined, s => s.isNotNull)))
  }

  /** md5-hex word n-gram shingles — bit-identical to
    * `array_distinct(transform(shingles(text, n), md5))` (spec-pinned)
    * through one codegen'd loop instead of the n−1 interpreted
    * zip_with passes + per-element md5 that chain costs; the hot path
    * of every exact-decontamination site.
    */
  def md5Shingles(text: Column, n: Int): Column =
    graft.functions.Md5Shingles.md5_shingles(text, n)

  /** Exact duplicate fingerprint: md5 of whitespace-normalized text. */
  def exactFingerprint(text: Column): Column =
    md5(trim(regexp_replace(text, "\\s+", " ")))

  // ---- fp-prefix-bucketed novelty gate --------------------------------

  /** Layout constants of the bucketed fingerprint table: data rows are
    * partitioned by the first [[fpPrefixChars]] hex digits of the
    * fingerprint (16 directory buckets by default — see the
    * bucket-count tradeoff note on [[NoveltyGate.admit]]), and a Bloom
    * bitmap of [[noveltyBloomBits]] bits / [[noveltyBloomK]] salted
    * positions fronts the whole table. SIZE THE BITMAP TO TABLE
    * CAPACITY: the flat-cost regime needs expected false positives
    * per batch ≪ 1, i.e. (occupancy)^k · batch ≲ 1 — the 2^22
    * default holds ~300k fingerprints at ≈0.1% probe rate; the
    * ScaleProbe run passes 2^25 for its 1.6M-row table. A saturated
    * bloom is a correctness no-op but degrades every batch to bucket
    * scans, so the gate warns loudly past 50% occupancy.
    */
  private[graft] val fpPrefixChars = 1
  private[graft] val noveltyBloomBits = 1 << 22
  private[graft] val noveltyBloomK = 4

  /** Ceiling for the collected-INSET parquet-pushdown trick both
    * gates use. Spark translates an IN at or below
    * `spark.sql.parquet.pushdown.inFilterThreshold` into an OR-CHAIN
    * of eq predicates, and parquet evaluates that chain by recursive
    * visitor — past ~1.2k values the row-group filter overflows the
    * executor stack (measured on this Spark/parquet pair: 1000 values
    * fine, 1500 SO — found by the hot-band-key ScaleProbe, whose
    * candidate sets are the first in the registry to cross 1k).
    * Raising the threshold past this limit is therefore a crash, not
    * a tuning choice; above it Spark pushes only the min/max range
    * (which sorted files still row-group-prune when the probed keys
    * cluster) and the residual InSet evaluates post-scan — safe, and
    * the partition-directory pruning that does the heavy lifting is
    * unaffected. */
  private[operators] val inPushdownLimit = 1000

  /** The i-th salted Bloom position of a fingerprint — the ONE
    * expression both the delta writer and the probe build on (a salt
    * mismatch would be a silent false-negative factory). */
  private[operators] def bloomPos(fp: Column, i: Int, bits: Int): Column =
    portableHash(concat(lit(s"nb$i|"), fp), 15)
      .bitwiseAND(lit((bits - 1).toLong))

  /** OR-fold the append-only Bloom delta rows into a words array.
    * Each append writes at most bits/64 (word_idx, word) rows (the
    * delta is grouped by word before writing), so the file grows by a
    * bounded amount per batch and this read collapses it with one
    * tiny aggregation. Missing path = all-zero words (first batch). */
  private[graft] def readNoveltyBloom(spark: org.apache.spark.sql.SparkSession,
      bloomPath: String, bits: Int): Array[Long] = {
    val words = new Array[Long](bits / 64)
    val p = new org.apache.hadoop.fs.Path(bloomPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      spark.read.parquet(bloomPath)
        .groupBy(col("word_idx")).agg(expr("bit_or(word)").as("word"))
        .collect().foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    }
    words
  }

  /** Bloom membership probe against the in-memory words, as a pure
    * codegen-friendly Column: k salted positions, each tested via two
    * O(1) element_at lookups (word index, then a bit mask from the
    * shared 64-entry mask table — no column-valued shifts). The words
    * array rides the plan as ONE ArrayType literal, not bits/64
    * nodes. False negatives impossible for any fingerprint whose
    * delta write committed; false positives fall through to the
    * bucket probe. */
  /** A primitive long[] as ONE UnsafeArrayData-backed array literal —
    * NOT typedLit(Seq[Long]): the generic literal boxes every element,
    * and a 2^25-bit bitmap (524k words) then costs seconds of
    * driver-side conversion/compare per plan (measured ~2.5 s per
    * admit before the switch). */
  private[operators] def longArrayLit(words: Array[Long]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(words),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)))

  private[operators] def bloomMight(fp: Column, words: Array[Long],
      bits: Int, k: Int): Column = {
    val w = longArrayLit(words)
    (0 until k).map { i =>
      val pos = bloomPos(fp, i, bits)
      element_at(w, (pos / 64).cast("int") + 1)
        .bitwiseAND(element_at(bitMasks, (pos % 64).cast("int") + 1)) =!= 0L
    }.reduce(_ && _)
  }

  private[operators] def bitMasksCol: Column = bitMasks

  /** The bucketed table's fingerprints for read-side censuses — an
    * empty typed frame when no batch ever appended (the all-empty
    * replay must census n=0, not fail on a missing path). */
  def readBucketedFingerprints(spark: org.apache.spark.sql.SparkSession,
      tableRoot: String): DataFrame = {
    val dataPath = s"$tableRoot/data"
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "fp STRING, fp_b STRING"))
      .parquet(dataPath).select(col("fp"))
    else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL("fp STRING"))
  }

  /** Hashed word n-gram shingles without building shingle strings:
    * per-token xxhash64 once, then a 31-bit-masked polynomial combine
    * of n consecutive token hashes (mask keeps every product < 2^36 —
    * ANSI-overflow-safe). ~3× cheaper than string shingling for the
    * MinHash path, where only hash identity matters. Codegen'd
    * (graft.functions.ShingleHashes) — the HOF formulation below is
    * its bit-equality spec oracle.
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.ShingleHashes.shingle_hashes(text, n)

  /** The composed-built-ins formulation ShingleHashes replaced — kept
    * as its independent test oracle (six interpreted array passes per
    * row; DedupSimilaritySpec asserts bit equality on fixture texts).
    */
  private[graft] def shingleHashesHof(text: Column, n: Int): Column = {
    val m31 = lit(0x7FFFFFFFL)
    val th = transform(tokens(text), t => xxhash64(t).bitwiseAND(m31))
    // Combine n consecutive token hashes by zipping the array with its
    // own shifted slices — n-1 array builds per row total. (An
    // element_at-per-position formulation re-materializes the whole
    // token-hash array on every access: O(W²) per row.)
    val combined = (1 until n).foldLeft(th) { (acc, j) =>
      zip_with(acc, slice(th, lit(j + 1), size(th)),
        (a, b) => (a * 31L + b).bitwiseAND(m31)) // null b (tail) → null
    }
    val whole = aggregate(th, lit(0L),
      (acc, h) => (acc * 31L + h).bitwiseAND(m31))
    array_distinct(
      when(size(th) < n, array(whole))
        .otherwise(filter(combined, h => h.isNotNull)))
  }

  // Affine permutations (a·h + b) mod p over a base 31-bit hash give k
  // independent MinHash functions from one xxhash64 pass. p MUST be
  // smaller than the h range so a·h actually wraps: with p = 2^61-1 and
  // a·h < 2^62 the map is monotone in h and every "permutation" picks
  // the same argmin shingle (caught by the minhash-vs-exact-jaccard
  // property test). p = 2^31-1 wraps a·h ~2^31 times while the product
  // stays < 2^62 — no long overflow (ANSI-safe).
  private val mersenne31 = (1L << 31) - 1

  private def hashCoeffs(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(k) {
      val a0 = rng.nextInt(Int.MaxValue).toLong + 1L
      // a = 2^31-1 ≡ 0 mod P would make (a·h+b) mod P constant — a
      // degenerate "permutation" inflating est_jaccard by 1/k on every
      // pair, deterministically for any seed that draws it. Remap to
      // the identity permutation (a=1) rather than redraw, so every
      // other seed's coefficient sequence is byte-identical to before.
      (if (a0 == mersenne31) 1L else a0, rng.nextInt(Int.MaxValue).toLong)
    }
  }

  /** The ONE banding expression — band hashes are comparable and
    * replayable only while every call site (lshBands,
    * minhashCandidatePairs, nearDupAgainstCorpus) stays bit-identical,
    * so they all route through here.
    */
  private[operators] def bandHashExpr(sig: Column, b: Column, rows: Column): Column =
    // explicit null arm: concat_ws SKIPS null args, so without it a
    // NULL signature (null doc text) hashes to xxhash64(bandIndex) —
    // the same value for every null doc, silently bucketing all null
    // docs together as mutual duplicate candidates. A null band hash
    // instead drops out of the band equi-join: null docs pair with
    // nothing.
    when(sig.isNull, lit(null).cast("long"))
      .otherwise(xxhash64(concat_ws("_", b.cast("string"),
        array_join(slice(sig, b * rows + 1, rows), "_"))))

  /** MinHash signature: array of k minimums of permuted shingle hashes
    * over the hashed shingles — one scan, no shuffle, no UDF. The hot
    * k×shingles loop is the codegen'd MinHashSig expression
    * (see graft.functions.MinHashSig for why).
    */
  def minhashSignature(text: Column, numHashes: Int = 64,
      shingleSize: Int = 3, seed: Long = 42L): Column = {
    val coeffs = hashCoeffs(numHashes, seed)
    graft.functions.MinHashSig.minhash_sig(
      shingleHashes(text, shingleSize),
      coeffs.map(_._1).toArray, coeffs.map(_._2).toArray)
  }

  /** Engine-portable uniform hash: the first `hexChars` md5 hex digits
    * as a long. The one idiom every oracle-checkable hash family in the
    * repo builds on — DuckDB mirror:
    * `CAST(('0x' || substr(md5(x), 1, hexChars)) AS BIGINT)`. Keep the
    * two sides in lockstep through THIS helper, not per-site copies.
    */
  def portableHash(c: Column, hexChars: Int): Column =
    conv(substring(md5(c), 1, hexChars), 16, 10).cast("long")

  /** Engine-portable base hashes: 28-bit ints from the md5 hex prefix
    * of each word-n-gram STRING (vs [[shingleHashes]]' xxhash64 token
    * composite — cheaper, but xxhash64 exists only in Spark). Any
    * uniform base hash gives an equally valid MinHash family; this one
    * lets DuckDB recompute signatures bit-for-bit.
    */
  def shingleHashesPortable(text: Column, n: Int): Column =
    transform(shingles(text, n), s => portableHash(s, 7))

  /** [[minhashSignature]] over the portable md5 base hash — same
    * codegen'd k-min loop, oracle-checkable. The affine family and
    * modulus are identical; only the base hash differs.
    */
  def minhashSignaturePortable(text: Column, numHashes: Int = 64,
      shingleSize: Int = 3, seed: Long = 42L): Column = {
    val coeffs = hashCoeffs(numHashes, seed)
    graft.functions.MinHashSig.minhash_sig(
      shingleHashesPortable(text, shingleSize),
      coeffs.map(_._1).toArray, coeffs.map(_._2).toArray)
  }

  /** The (a, b) coefficient table for [[minhashSignaturePortable]]'s
    * oracle SQL — callers embed these as literals so DuckDB applies the
    * identical affine family.
    */
  def portableCoeffs(numHashes: Int = 64, seed: Long = 42L): Seq[(Long, Long)] =
    hashCoeffs(numHashes, seed)

  /** LSH banding: (docId, band, bandHash) rows — one per band. Equal
    * bandHash within a band ⇒ candidate duplicate pair. `bands` must
    * divide the signature length.
    */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
      bands: Int): DataFrame = {
    require(bands >= 1, s"bands >= 1, got $bands")
    val sig = col(sigCol)
    // Runtime divisibility guard: a non-dividing bands count silently
    // ignores trailing signature positions (recall below the b/r
    // curve), and bands > length degenerates to empty band slices —
    // the failure class minhashCandidatePairs rejects statically. The
    // signature length is only known per-row here, so the guard is a
    // per-row expression (size + mod, negligible next to the hash).
    // A NULL signature (null doc text null-propagated through the
    // hash) must pass THROUGH, not abort: the when-condition is NULL
    // for it, so without the isNull arm the otherwise branch would
    // raise_error with a null-propagated (null!) message on a row
    // that is data, not a config error.
    val rows = when(
        sig.isNull ||
          (size(sig) >= lit(bands) && size(sig) % lit(bands) === 0),
        size(sig) / bands)
      .otherwise(raise_error(concat(
        lit(s"lshBands: bands ($bands) must divide signature length "),
        size(sig).cast("string"))))
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => bandHashExpr(sig, b, rows)))
        .as(Seq("band", "band_hash")))
  }

  /** MinHash-LSH candidate pairs with estimated Jaccard (fraction of
    * matching signature positions). One shuffle on (band, band_hash);
    * pairs deduped across bands via min-band aggregation.
    */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      minEstimate: Double = 0.0, maxBucketSize: Int = 500,
      portable: Boolean = false): DataFrame = {
    // rows = 0 (bands > numHashes) would give every doc the same empty
    // band slice — silently zero pairs past the bucket cap, or an
    // all-pairs join under it; a non-dividing bands count silently
    // ignores trailing signature positions, lowering recall below the
    // configured b/r curve.
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    // The band join shuffles ONLY (id, band, band_hash) triples —
    // signatures are recomputed per join side instead of being
    // shuffled along (a 64-long array per banded row is ~100× the
    // bytes of the id pair, and MinHashSig recomputation is a cheap
    // codegen'd scan). `portable` swaps in the md5-base signature so
    // an external engine can replay the pair generation (band equality
    // ⟺ slice equality).
    val sigs = spread(docs.select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"),
        (if (portable) minhashSignaturePortable(col("t"), numHashes, shingleSize)
         else minhashSignature(col("t"), numHashes, shingleSize)).as("sig"))
    val rows = numHashes / bands
    val bandedAll = sigs.select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => bandHashExpr(col("sig"), b, lit(rows))))
      ).toDF("id", "band", "band_hash")
    // Skew control: a bucket of n docs contributes n² candidate pairs,
    // so one boilerplate-heavy bucket can dominate the whole job. Caps
    // like this are standard in production LSH dedup — oversized
    // buckets mean "everything here is the same boilerplate" and are
    // better handled by exact-fingerprint dedup.
    val banded =
      if (maxBucketSize == Int.MaxValue) bandedAll
      else {
        val bucketW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_hash"))
        bandedAll
          .withColumn("_bsz", count(lit(1)).over(bucketW))
          .filter(col("_bsz") <= maxBucketSize)
          .drop("_bsz")
      }
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    // per-pair signature agreement via the codegen'd ArrayEqCount
    // (the HOF zip ran interpreted once per candidate pair — millions
    // of boxed 64-wide zips under heavy duplication)
    pairs
      .join(sigs.toDF("id1", "sig1"), "id1")
      .join(sigs.toDF("id2", "sig2"), "id2")
      .withColumn("est_jaccard",
        graft.functions.VecOps.arrayEqCount(col("sig1"), col("sig2"))
          .cast("double") / size(col("sig1")).cast("double"))
      .filter(col("est_jaccard") >= minEstimate)
      .select(col("id1"), col("id2"), col("est_jaccard"))
  }

  /** 64-bit SimHash over word tokens: per bit, +1/-1 votes from each
    * token's xxhash64; sign of the vote total sets the bit. The hot
    * loop is the codegen'd SimHash64 expression (allocation-free per
    * token); the HOF formulation below is kept as its independent test
    * oracle.
    */
  def simhash64(text: Column): Column =
    graft.functions.SimHash64.simhash64(text)

  /** Composed-built-ins SimHash — the spec oracle for the SimHash64
    * expression. Identical semantics, but interpreted HOF evaluation
    * allocates two 64-long arrays per token per row: correct, and ~10×
    * slower — do not use in the hot path.
    */
  private val bitMasks: Column = typedLit((0 until 64).map(1L << _))

  private[graft] def simhash64Hof(text: Column): Column = {
    val votes = aggregate(
      tokens(text),
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(acc,
        transform(bitMasks,
          m => when(xxhash64(t).bitwiseAND(m) =!= 0L, 1L).otherwise(-1L)),
        (a, v) => a + v))
    aggregate(
      zip_with(votes, bitMasks,
        (v, m) => when(v > 0, m).otherwise(0L)),
      lit(0L), (acc, bit) => acc.bitwiseOR(bit))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Engine-portable 60-bit SimHash: per-token base hash = md5 hex
    * prefix (15 hex chars = 60 bits, BIGINT-safe in DuckDB), vote loop
    * in the codegen'd SimHashBits expression. Same sketch semantics as
    * [[simhash64]]; only the base hash and width differ — this variant
    * exists so the registry query is oracle-checkable bit-for-bit.
    */
  def simhash60Portable(text: Column): Column =
    graft.functions.SimHashBits.simhash_bits(
      transform(tokens(text), t => portableHash(t, 15)),
      bits = 60)

  /** SimHash near-dup candidate pairs: band the 64 bits into `bands`
    * equal keys (any exact band match ⇒ candidate). Pigeonhole: every
    * pair within Hamming distance `bands - 1` is guaranteed to share at
    * least one band; the full distance then verifies. `bands` must
    * divide 64.
    */
  def simhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, bands: Int = 8): DataFrame = {
    require(64 % bands == 0, s"bands ($bands) must divide 64")
    // the pigeonhole recall guarantee only covers distance <= bands-1;
    // a larger maxDistance would silently return a subset of what the
    // signature promises
    require(maxDistance <= bands - 1,
      s"maxDistance ($maxDistance) exceeds the banding guarantee " +
        s"(bands - 1 = ${bands - 1}); raise bands")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val sigs = docs.select(col(idCol).as("id"), simhash64(col(textCol)).as("sh"))
    val banded = sigs.select(col("id"), col("sh"), posexplode(
      array((0 until bands).map(b => concat_ws(":", lit(b),
        shiftrightunsigned(col("sh"), b * width).bitwiseAND(lit(mask))
          .cast("string"))): _*))
      ).toDF("id", "sh", "band", "band_key")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        hammingDistance(col("a.sh"), col("b.sh")).as("hamming")).distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** Duplicate-cluster labeling: connected components over candidate
    * pairs (the step between pair generation and canonical-document
    * selection — LSH yields pairs, dedup needs clusters). Min-label
    * propagation: every node converges to the smallest doc id reachable
    * in its component.
    *
    * Scale notes: each round is (neighbor-min join + groupBy) followed
    * by a pointer jump (label := label of own label), so label
    * distance to the component minimum roughly halves per round —
    * O(log diameter) rounds instead of O(diameter), the same
    * contraction idea as large-star/small-star. All joins are
    * hash-partitioned on the node id. A checkpoint every round cuts
    * the exponential lineage growth iterative Spark plans otherwise
    * accumulate, and the convergence probe reads the checkpointed
    * round result (old label carried through) — no extra join job.
    *
    * Fault tolerance: with `checkpointDir` unset, rounds materialize
    * via `localCheckpoint` — executor-local block storage, the right
    * call on local[N] where executor loss means the JVM died anyway.
    * On a real cluster that storage is NOT fault-tolerant: losing one
    * executor mid-iteration discards blocks whose lineage was
    * truncated, killing the job. Pass a reliable `checkpointDir`
    * (HDFS/S3) there — rounds then go through `df.checkpoint()`, which
    * survives executor loss at the cost of a distributed write per
    * round (rounds are O(log diameter), so the cost is bounded).
    *
    * Returns (node, cluster_id) for every node that appears in `pairs`
    * (singletons never enter the pair stream).
    */
  def duplicateClusters(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2", maxIters: Int = 20,
      checkpointDir: Option[String] = None): DataFrame =
    duplicateClustersWithRounds(pairs, id1, id2, maxIters, checkpointDir)._1

  /** Sampled-edge mode for pathological duplicate clusters — the
    * 100 TB guard `maxBucketSize` cannot provide: bucket caps bound
    * pairs PER BUCKET, but one document duplicated a million times
    * forms a clique spread across every band's buckets, and its
    * candidate-pair count stays quadratic in clone count (the funnel
    * probe's measured curve). This cap bounds the EDGE LIST instead:
    * each node keeps edges to its `maxDegree` smallest-id neighbors
    * (an edge survives if EITHER endpoint keeps it), so the edge
    * volume entering clustering is ≤ 2·maxDegree·nodes — linear, not
    * quadratic — and fully deterministic (neighbor rank by id, no
    * sampling seed).
    *
    * What survives exactly: any clique-shaped cluster (the clone
    * blowup case) stays one component — every member keeps its edge
    * toward the clique minimum, leaving a connected star. What can
    * change: a component whose only bridge ranks beyond `maxDegree`
    * at BOTH endpoints can split — which is why the capped nodes are
    * returned for LOUD reporting (mirroring maxBucketSize's
    * contract: bounded work, visible approximation) rather than
    * silently dropped.
    *
    * Returns (kept pairs as (id1, id2), capped nodes as
    * (node, degree) for every node whose degree exceeded the cap).
    * One shuffle for the rank window, one for the distinct.
    */
  def capDegree(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2", maxDegree: Int = 64): (DataFrame, DataFrame) = {
    require(maxDegree >= 1, s"maxDegree must be >= 1, got $maxDegree")
    val directed = pairs.select(col(id1).as("node"), col(id2).as("nbr"))
      .union(pairs.select(col(id2).as("node"), col(id1).as("nbr")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("nbr"))
    val ranked = directed.withColumn("_rn", row_number().over(w))
    val kept = ranked.filter(col("_rn") <= maxDegree)
      .select(least(col("node"), col("nbr")).as(id1),
        greatest(col("node"), col("nbr")).as(id2))
      .distinct()
    val capped = directed.groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
      .filter(col("degree") > maxDegree)
    (kept, capped)
  }

  /** [[duplicateClusters]] behind [[capDegree]]: bounded-edge
    * clustering for corpora where a single duplicate cluster can be
    * pathologically large, plus the loud part of the contract — the
    * count of clusters that contain at least one degree-capped node
    * (the only places the approximation can have changed anything).
    * Returns (labels, capped_cluster_count, rounds).
    */
  def duplicateClustersCapped(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2", maxDegree: Int = 64, maxIters: Int = 20,
      checkpointDir: Option[String] = None): (DataFrame, Long, Int) = {
    val (kept, cappedNodes) = capDegree(pairs, id1, id2, maxDegree)
    val (labels, rounds) =
      duplicateClustersWithRounds(kept, id1, id2, maxIters, checkpointDir)
    val cappedClusters = labels
      .join(cappedNodes.select(col("node")), Seq("node"))
      .select(col("cluster_id")).distinct().count()
    (labels, cappedClusters, rounds)
  }

  /** [[duplicateClusters]] plus the number of propagation rounds it
    * took to converge — the O(log diameter) claim as a measured number
    * (the dedup-funnel scale probe records this curve).
    */
  def duplicateClustersWithRounds(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2", maxIters: Int = 20,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        pairs.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      case None => df => df.localCheckpoint()
    }
    val edges = ckpt(
      pairs.select(col(id1).as("a"), col(id2).as("b"))
        .union(pairs.select(col(id2).as("a"), col(id1).as("b")))
        .distinct())
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // candidate label per node: min of own label and neighbors'
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("node", "b2"), col("b") === col("b2"))
        .groupBy(col("a").as("node"))
        .agg(min(col("label")).as("nl"))
      val stepped = labels.join(viaNeighbors, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("mid"))
      // pointer jump: follow the new label one hop (label of label).
      // `stepped` is tiny relative to edges and recomputing it on the
      // probe side of the self-join is cheaper than a checkpoint job.
      val jump = stepped.select(col("node").as("l"), col("mid").as("ll"))
      val next = ckpt(stepped.join(jump, col("mid") === col("l"), "left")
        .select(col("node"), col("old"),
          least(col("mid"), coalesce(col("ll"), col("mid"))).as("label")))
      converged = next.filter(col("label") =!= col("old")).limit(1).count() == 0
      labels = next.select(col("node"), col("label"))
      i += 1
    }
    // A partial result here is internally INCONSISTENT (a node may
    // carry a different label than its neighbor), and downstream
    // canonical selection would silently keep several representatives
    // of one cluster — fail loudly instead. With the pointer jump,
    // convergence needs ~log2(diameter) rounds, so the default cap
    // covers any component up to ~2^20 hops across.
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge within $maxIters rounds — " +
        "raise maxIters (component diameter exceeds 2^maxIters)")
    (labels.select(col("node"), col("label").as("cluster_id")), i)
  }

  /** Canonical-document selection — the final step of the dedup
    * funnel: given cluster labels (from duplicateClusters) and the
    * corpus, keep ONE representative per cluster (longest text wins,
    * smallest id breaks ties — "keep the most complete copy") plus
    * every unclustered document. Returns the deduplicated corpus with
    * a `cluster_id` column (own id for singletons).
    *
    * Joins are keyed on the doc id (clusters is a tiny fraction of the
    * corpus — broadcast-sized in practice); the per-cluster argmax is
    * one window over the clustered slice only, never the full corpus.
    */
  def canonicalDocuments(docs: DataFrame, clusters: DataFrame,
      idCol: String, lengthCol: String): DataFrame = {
    val cl = clusters.withColumnRenamed("node", idCol)
    // Window ONLY over the clustered slice: a left-join + null-group
    // window would funnel every unclustered row through one task.
    // No broadcast hint on `cl`: a heavily duplicated corpus can have
    // an arbitrarily large clustered set, and a forced broadcast would
    // hit the driver/broadcast limits exactly when dedup matters most.
    // AQE broadcasts it at runtime whenever it IS small.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(lengthCol).desc, col(idCol))
    val keep = docs.join(cl, Seq(idCol))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .drop("_rk")
    val singletons = docs.join(cl, Seq(idCol), "left_anti")
      .withColumn("cluster_id", col(idCol))
    singletons.unionByName(keep)
  }

  /** Train/eval contamination check — the decontamination pass every
    * training-data pipeline needs: flag training documents whose
    * bottom-k fingerprint shares at least `minShared` sketch hashes
    * with any eval/benchmark document (sketch-hash overlap approximates
    * shingle containment). Inverted index on the sketch hashes — the
    * join is |train sketches| × |eval sketches| on hash equality, never
    * doc × doc. Eval sets are small; the exploded eval side broadcasts.
    *
    * Returns (train id, worst eval match, shared-hash count), one row
    * per contaminated training doc; ties on overlap resolve to the
    * smallest eval id.
    */
  def contaminationReport(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 5, k: Int = 8,
      minShared: Int = 2): DataFrame = {
    def fps(df: DataFrame, out: String) =
      spread(df.select(col(idCol).as(out), col(textCol).as("t")))
        .select(col(out), explode(
          TextAnalysis.bottomKFingerprintHex(col("t"), shingleSize, k)).as("h"))
    val overlaps = fps(train, "train_id")
      .join(broadcast(fps(eval, "eval_id")), "h")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    // worst-match selection via a window, not an arithmetic negation
    // trick — ids of ANY orderable type (incl. the string event ids of
    // the unified schema) tie-break correctly. The window partitions
    // the already-small overlap relation, never the corpora.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("train_id"))
      .orderBy(col("n_shared").desc, col("eval_id"))
    overlaps
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .drop("_rk")
  }

  /** EXACT n-gram decontamination — the canonical "any shared 13-gram"
    * overlap test between a training corpus and an eval set, the
    * stricter complement of the sketch-based [[contaminationReport]]
    * (sketches approximate containment; this one proves a verbatim
    * n-token collision). Same scale shape: inverted index on the gram
    * hash, eval side exploded and broadcast, never doc × doc. Grams
    * are md5'd so the join key is fixed-width instead of an n-token
    * string.
    *
    * Returns (train_id, eval_id, n_shared distinct grams), every
    * colliding pair — the caller picks worst-match/threshold policy.
    */
  def exactNgramContamination(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    def grams(df: DataFrame, out: String): DataFrame = {
      // shingles' zip_with construction is O(W·n) per row; a
      // slice-per-position formulation re-evaluates the tokenizer per
      // gram → O(W²) (see the shingles scaladoc). Docs shorter than n
      // tokens contribute NO gram (shingles' whole-text fallback is
      // filtered by the size guard) — a <n-token doc can't contain a
      // verbatim n-gram.
      val arr = when(size(tokens(col("t"))) >= n,
        md5Shingles(col("t"), n))
        .otherwise(array().cast("array<string>"))
      spread(df.select(col(idCol).as(out), col(textCol).as("t")))
        .select(col(out), explode(arr).as("g"))
    }
    grams(train, "train_id")
      .join(broadcast(grams(eval, "eval_id")), "g")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Exact n-gram Jaccard over candidate pairs via inverted shingle
    * index (SURVEY-declared semantics; the oracle-checked query in
    * TextQueries instantiates the same shape).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double): DataFrame = {
    val sh = spread(docs.select(col(idCol).as("id"), col(textCol).as("t")))
      .select(col("id"), shingles(col("t"), n).as("shingles"))
    val sizes = sh.select(col("id"), size(col("shingles")).cast("long").as("n"))
    val inv = sh.select(col("id"), explode(col("shingles")).as("s"))
    inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("id1", "n1"), "id1")
      .join(sizes.toDF("id2", "n2"), "id2")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Incremental NEAR-dup check of a batch against an existing corpus —
    * the training-pipeline admission shape ([[exactFingerprint]]'s
    * anti-join generalized from exact to MinHash similarity). The band
    * join is ONE-SIDED (batch bands ⋈ corpus bands, batch side
    * broadcast): cost is proportional to the batch's bucket collisions,
    * never corpus × corpus — at 100 TB the corpus band index is the
    * stored artifact and each arriving batch probes it.
    *
    * Returns one row per batch doc: (id, n_corpus_cands, best_eq,
    * is_neardup) where best_eq is the best signature agreement (out of
    * numHashes — an integer, so the threshold `minEq` and the output
    * stay float-free) and novel docs surface with n_corpus_cands = 0.
    */
  def nearDupAgainstCorpus(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 32,
      bands: Int = 16, shingleSize: Int = 1, minEq: Int = 16,
      portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def sigs(df: DataFrame) =
      spread(df.select(col(idCol).as("id"), col(textCol).as("t")))
        .select(col("id"),
          (if (portable) minhashSignaturePortable(col("t"), numHashes, shingleSize)
           else minhashSignature(col("t"), numHashes, shingleSize)).as("sig"))
    val rows = numHashes / bands
    def banded(df: DataFrame) = df.select(col("id"), col("sig"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => bandHashExpr(col("sig"), b, lit(rows))))
      ).toDF("id", "sig", "band", "band_hash")
    val corpusB = banded(sigs(corpus))
    val batchB = banded(sigs(batch))
    val matches = broadcast(batchB).as("q").join(corpusB.as("c"),
        col("q.band") === col("c.band") &&
          col("q.band_hash") === col("c.band_hash"))
      .select(col("q.id").as("id"), col("c.id").as("cid"),
        graft.functions.VecOps.arrayEqCount(col("q.sig"), col("c.sig"))
          .as("n_eq"))
      .groupBy(col("id"), col("cid"))
      .agg(first(col("n_eq")).as("n_eq")) // dedup multi-band hits
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_corpus_cands"), max(col("n_eq")).as("best_eq"))
    sigs(batch).select(col("id")).join(matches, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_corpus_cands"), lit(0L)).as("n_corpus_cands"),
        coalesce(col("best_eq"), lit(0L)).as("best_eq"))
      .withColumn("is_neardup", (col("best_eq") >= minEq).cast("int"))
  }

  /** Span-REMOVAL dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): the transform real
    * pipelines run after the span census (`dd_dup_span_fraction`
    * measures duplicated n-gram span mass; this CUTS it). A word
    * n-gram occurring in >= `minDocFreq` distinct documents is
    * boilerplate; every word covered by an instance of such a shingle
    * is removed, adjacent covered spans merging naturally because
    * coverage is computed per word position.
    *
    * Scale shape — keyed shuffles only, never all-pairs: (1) shingle
    * instances explode (the known n× token-volume cost of span
    * dedup); (2) doc-frequency partial-aggregates map-side on the
    * shingle key; (3) the duplicated-shingle table (distinct shingles
    * with df >= min — far smaller than instances) joins back to
    * instances on that same key; (4) duplicated start positions
    * collect per doc (bounded by doc length) and the cut itself is a
    * per-row HOF — filter word j unless some duplicated start s
    * covers it (s <= j < s+n). The coverage test is O(W·|starts|)
    * worst case per row; |starts| is doc-bounded and in the
    * boilerplate-heavy regime spans coalesce, so the practical cost
    * is the explode, linear in duplicated span mass.
    *
    * Output: (id, n_words, n_kept, cleaned) — cleaned is the
    * space-joined surviving words ("" when fully covered; texts with
    * fewer than n words have no shingles and survive whole).
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocFreq: Int = 2): DataFrame = {
    require(n >= 1 && minDocFreq >= 2,
      s"need n>=1, minDocFreq>=2; got n=$n, minDocFreq=$minDocFreq")
    val toks = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
    val inst = spread(toks).filter(size(col("t")) >= n)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, size(t)-$n), " +
          s"i -> array_join(slice(t, i+1, $n), ' '))"))
        .as(Seq("i", "s")))
    val dupShingles = inst.select(col("id"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocFreq)
      .select(col("s"))
    val starts = inst.join(dupShingles, "s")
      .groupBy(col("id")).agg(collect_set(col("i")).as("starts"))
    toks.join(starts, Seq("id"), "left")
      .select(col("id"), col("t"),
        coalesce(col("starts"), typedLit(Array.empty[Int])).as("starts"))
      .select(col("id"), size(col("t")).cast("long").as("n_words"),
        filter(col("t"), (x, j) =>
          !exists(col("starts"), st =>
            st <= j && j < st + lit(n))).as("kept"))
      .select(col("id"), col("n_words"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("cleaned"))
  }
}

/** The tiny durable layout manifest each standing gate keeps next to
  * its tables (`<root>/_layout`, k=v lines): the constructor
  * parameters that define how on-disk artifacts were WRITTEN — bloom
  * geometry, bucket width, signature shape — so a gate reopened with
  * different parameters fails fast instead of (a) crashing deep in a
  * bloom read with an index-out-of-bounds, or (b) silently degrading
  * (a width mismatch makes every prefix probe miss, decaying the gate
  * to dup appends; a signature-shape mismatch is a false-negative
  * factory). A gate writes its manifest at the first open of a fresh
  * root, before any table exists; a root whose tables exist without
  * one is not a layout the gates read, and the first open fails fast
  * on it ([[StandingGate]]).
  */
private[graft] object GateLayout {
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** The one atomic small-file write (manifests, markers, pointers,
    * swap-unit lists): `text` lands in the sibling `<name><tmpSuffix>`
    * first, so a crash mid-write never leaves a truncated file in
    * place (an empty manifest would pass every check vacuously), then
    * an overwrite-capable rename installs it — NOT
    * delete-then-rename, whose between-window would leave NO file: the
    * next open would then refuse the gate's manifest-less tables, and
    * a concurrent marker reader would see none. */
  def writeAtomic(fs: FileSystem, p: Path, text: String,
      tmpSuffix: String = "_tmp"): Unit = {
    val tmp = new Path(p.getParent, p.getName + tmpSuffix)
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The one small-file read: the whole file, UTF-8. */
  def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** The sorted entry names under `p` ("nothing" when it is missing
    * or empty) — what a fail-fast on an unknown layout reports. */
  def found(fs: FileSystem, p: Path): String =
    if (!fs.exists(p) || fs.listStatus(p).isEmpty) "nothing"
    else fs.listStatus(p).map(_.getPath.getName).sorted.mkString(", ")

  def write(fs: FileSystem, p: Path, kv: Seq[(String, String)]): Unit =
    writeAtomic(fs, p, kv.map { case (key, v) => s"$key=$v" }.mkString("\n"))

  def read(fs: FileSystem, p: Path): Map[String, String] =
    readText(fs, p).linesIterator.filter(_.contains("=")).map { l =>
      val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
    }.toMap

  /** Fail fast on a parameter the on-disk artifacts were not written
    * with — the gates check these at every first open and before a
    * fresh object's compaction, so the remedy is to reopen with the
    * on-disk parameters (or start the gate over in a new root). */
  def check(m: Map[String, String], root: String,
      expect: Seq[(String, String)]): Unit =
    expect.foreach { case (key, v) =>
      m.get(key).filter(_ != v).foreach { disk =>
        throw new IllegalStateException(
          s"gate layout mismatch for $root: $key=$disk on disk but " +
            s"$key=$v requested — reopen with the on-disk parameters, " +
            "or start the gate over in a new root")
      }
    }
}

/** Maintenance machinery shared by the standing-gate family (one
  * implementation — a fix here reaches every gate). */
private[graft] object GateOps {
  /** Crash-ordered generation swap: `<root>/<name>_tmp` replaces
    * `<root>/<name>`, keeping the old generation as `_old` until the
    * new one is in place — a crash mid-swap leaves either generation
    * intact, never neither.
    *
    * The tmp rename's result is CHECKED, not assumed: a concurrent
    * [[recoverGeneration]] can legitimately promote a COMPLETED tmp
    * itself (Models.load racing the tail of a first Models.save —
    * sentinel written, swap not yet run), in which case this swap
    * finds its tmp gone after having retired `cur` to `_old`; an
    * unchecked rename would then fall through to the final
    * delete(old) and destroy the only surviving generation. Instead
    * the retired generation is restored (the swap's OUTCOME holds
    * either way: the tmp's content is installed at `cur` — by
    * whichever mover won), and `_old` is only cleared once a live
    * generation exists. */
  def swapGeneration(fs: org.apache.hadoop.fs.FileSystem,
      root: String, name: String): Unit = {
    val cur = new org.apache.hadoop.fs.Path(s"$root/$name")
    val tmp = new org.apache.hadoop.fs.Path(s"$root/${name}_tmp")
    val old = new org.apache.hadoop.fs.Path(s"$root/${name}_old")
    fs.delete(old, true)
    if (fs.exists(cur)) fs.rename(cur, old)
    // RawLocalFileSystem throws FileNotFoundException (copy-fallback)
    // for a missing rename source rather than returning false — both
    // shapes mean "tmp vanished"
    val renamed =
      try fs.exists(tmp) && fs.rename(tmp, cur)
      catch { case _: java.io.FileNotFoundException => false }
    if (!renamed && !fs.exists(cur)) {
      if (fs.exists(old)) {
        // the restore is CHECKED like its two sibling branches: a
        // false rename (or the FNF shape — a concurrent recover can
        // consume _old too) that leaves cur STILL missing strands the
        // only surviving generation at _old, and returning silently
        // would let the caller read a missing table until the next
        // recoverGeneration — the exact silent-outcome failure the
        // other branches throw on
        val restored =
          try fs.rename(old, cur)
          catch { case _: java.io.FileNotFoundException => false }
        if (!restored && !fs.exists(cur))
          throw new IllegalStateException(
            s"swapGeneration($root/$name): tmp vanished and the " +
              "restore rename(old, cur) failed with cur still " +
              "missing — sole surviving generation stranded at _old; " +
              "recoverGeneration heals it, but the swap did not hold")
      }
      else throw new IllegalStateException(
        s"swapGeneration($root/$name): tmp vanished mid-swap and no " +
          "generation survives at cur/old — state loss")
      // tmp STILL present after a false rename = a genuine rename
      // failure, not the concurrent-recover interleaving (whose mover
      // consumed the tmp) — the old generation is restored above, but
      // swallowing this would silently abandon the completed new
      // generation on every tick and nobody would find out
      if (fs.exists(tmp)) throw new IllegalStateException(
        s"swapGeneration($root/$name): rename(tmp, cur) failed with " +
          "tmp still present — old generation restored, new one " +
          "abandoned at _tmp; investigate the filesystem")
    }
    if (fs.exists(cur)) fs.delete(old, true)
  }

  /** First-open counterpart of [[swapGeneration]] — between its
    * rename(cur→old) and rename(tmp→cur) the live path exists at
    * NEITHER location, and a gate reopened inside that crash window
    * would otherwise see an empty table and silently re-admit
    * everything (total dedup-state loss, the worst failure a standing
    * gate has). The swap only runs after the `_tmp` generation is
    * fully written, so a surviving `_tmp` beside a missing live dir
    * IS the complete new generation: restore it. A surviving `_old`
    * with neither (not reachable from swapGeneration's ordering, but
    * cheap to honor) restores the old generation rather than none.
    * Every gate calls this for each of its tables at first open,
    * before any existence check — no-op in the no-crash case beyond
    * clearing a stale `_old`. */
  def recoverGeneration(fs: org.apache.hadoop.fs.FileSystem,
      root: String, name: String): Unit = {
    val cur = new org.apache.hadoop.fs.Path(s"$root/$name")
    val tmp = new org.apache.hadoop.fs.Path(s"$root/${name}_tmp")
    val old = new org.apache.hadoop.fs.Path(s"$root/${name}_old")
    if (!fs.exists(cur)) {
      if (fs.exists(tmp)) fs.rename(tmp, cur)
      else if (fs.exists(old)) fs.rename(old, cur)
    }
    // the old generation is only safe to clear once a live dir exists
    if (fs.exists(cur)) fs.delete(old, true)
  }

  /** Single-value marker file INSIDE a table generation (name starts
    * with `_` so parquet readers ignore it): geometry that must
    * travel ATOMICALLY with the data it describes. The root-level
    * manifest alone has a crash window on every resize — the
    * generation swap lands, the process dies before the manifest
    * refresh, and the reopened gate follows the stale width against
    * already re-written data (silent mis-keying). A marker written
    * into the `_tmp` generation BEFORE the swap rides the same
    * rename, so data and width can never disagree; the manifest
    * heals from it at the next open.
    *
    * Written write-tmp-then-rename ([[GateLayout.writeAtomic]],
    * staged as `<name>.wtmp`), NOT overwrite-in-place: markers
    * like `_last_commit` gate replay idempotence, and a torn
    * overwrite could leave a prefix of the intended value — a torn
    * "<uuid>:12" reads as "<uuid>:1" and would wrongly match that
    * batch on a later replay (silent batch drop). With the rename
    * discipline a crash leaves either the old marker, no marker, or
    * the complete new one — every case on the re-run (safe) side. */
  def writeMarker(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      name: String, value: String): Unit =
    GateLayout.writeAtomic(fs, new org.apache.hadoop.fs.Path(s"$dir/$name"),
      value, ".wtmp")

  /** The stable query id from a Structured Streaming checkpoint's
    * `metadata` file — the identity that distinguishes "same
    * checkpoint, genuine replay" from "fresh checkpoint over a reused
    * output dir, batchIds restarting at 0". A replay-idempotence
    * marker keyed on the bare batchId wrongly skips the new stream's
    * batch 0 whenever the previous run's last batch was 0 (the
    * AvailableNow common case); pairing the marker with this id makes
    * a fresh checkpoint never match. None (missing/unreadable
    * metadata) must disable the guard on the safe side — callers pair
    * it with a per-process random id so nothing cross-process ever
    * matches. */
  def checkpointQueryId(fs: org.apache.hadoop.fs.FileSystem,
      ckptDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$ckptDir/metadata")
    try {
      if (!fs.exists(p)) None
      else {
        val s = GateLayout.readText(fs, p)
        // anchored to the object's FIRST key being "id" — Spark's
        // StreamMetadata is exactly {"id":"<uuid>"}; an unanchored
        // scan would silently return the wrong field if the format
        // ever gained an earlier id-like key, where this returns
        // None and the guard degrades loudly to the re-run side
        // (format dependency pinned by StreamingStateSpec's marker
        // cross-check against the live metadata file)
        "^\\s*\\{\\s*\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(s)
          .map(_.group(1))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Memoizing resolver for a replay guard's checkpoint identity.
    * Resolves the FileSystem from the CHECKPOINT path itself (a
    * caller-supplied checkpoint may live on a different filesystem
    * than the output dir — resolving with the output dir's fs throws
    * Wrong-FS and would silently disable the guard), caches only a
    * SUCCESSFUL read (a transient metadata-read failure degrades just
    * that batch and retries at the next, instead of pinning a random
    * id for the stream's lifetime), and warns once per resolver when
    * degraded — the codebase's degraded-but-loud posture. The
    * fallback id is stable within the resolver so one run's markers
    * stay self-consistent, and random so nothing cross-process ever
    * matches (the safe, re-run side). */
  def commitIdentity(conf: org.apache.hadoop.conf.Configuration,
      ckptDir: String): () => String = {
    var cached: Option[String] = None
    val fallback = java.util.UUID.randomUUID().toString
    var warned = false
    () => {
      if (cached.isEmpty) {
        cached =
          try checkpointQueryId(new org.apache.hadoop.fs.Path(ckptDir)
            .getFileSystem(conf), ckptDir)
          catch { case scala.util.control.NonFatal(_) => None }
        if (cached.isEmpty && !warned) {
          warned = true
          System.err.println(
            s"[commit-guard] could not read the checkpoint query id " +
              s"at $ckptDir/metadata — replay idempotence degraded " +
              "to per-process for now (a post-crash replay will " +
              "re-run rather than skip); retrying per batch")
        }
      }
      cached.getOrElse(fallback)
    }
  }

  /** Whether a persisted `_last_commit` marker proves THIS batch
    * already fully committed: it holds exactly `commitKey`, the
    * `<queryId>:<batchId>` a completed batch writes. Any other value —
    * a different stream's identity, another batch, a bare batchId —
    * re-runs the batch (the safe side). */
  def replayCommitted(marker: Option[String], commitKey: String): Boolean =
    marker.contains(commitKey)

  def readMarker(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    if (!fs.exists(p)) None else Some(GateLayout.readText(fs, p).trim)
  }

  /** The verdict-table schema generation the near-dup gates stamp
    * into their layout manifests: v2 = (id, n_cands,
    * best_eq|best_cos, is_neardup, n_capped_keys). A manifest whose
    * version differs — or that has none — describes verdict files
    * this reader does not read (a newer generation's would be
    * silently column-dropped), so the first open fails fast on it. */
  val verdictSchemaVersion: String = "2"

  /** Broadcast-side row ceiling shared by the gate family's
    * measured-count discipline (planner stats on checkpointed
    * survivor frames cannot be trusted — see BandedGate.runAdmit).
    * A dedicated constant, deliberately NOT a candidate-fetch knob
    * like candCap: raising a fetch cap must never force-broadcast a
    * multi-million-row frame and OOM the driver. */
  val broadcastRowCap: Long = 100000L

  /** `df` pinned (localCheckpoint), with its row count measured by the
    * pin's own jobs: an `observe` on the checkpointed plan, so the
    * count runs no action of its own (a `count()` on the pinned frame
    * costs two more jobs). */
  def pinCounted(df: DataFrame): (DataFrame, Long) = {
    val seen = org.apache.spark.sql.Observation()
    val pinned = df.observe(seen, count(lit(1)).as("n")).localCheckpoint()
    (pinned, seen.get("n").asInstanceOf[Long])
  }

  /** The repo-wide explicit-width batch dedup (one implementation —
    * the AQE rule lives here): a bare dropDuplicates lets AQE
    * coalesce the small post-aggregation shuffle to ONE partition,
    * and a following localCheckpoint freezes that width, so every
    * downstream join output streams single-core (measured: a 6 s
    * admit at 38-44 s). A user-specified repartition width is exempt
    * from coalescing and already satisfies the aggregate's
    * distribution, so the dedup adds no second exchange. */
  def dedupAtWidth(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(key))
      .dropDuplicates(key)

  /** Pipeline-level log/verdict-sink compaction — the gate verdict
    * tables' epoch maintenance applied to the sinks OUTSIDE the gates
    * (Curation.start's `scored` / `report`, IncrementalIngest's
    * `curation_log`), which otherwise accumulate one file set per
    * batch forever at sustained ingest: read, distinct, rewrite as
    * one `sortCol`-sorted file, crash-ordered generation swap. Same
    * run-between-appends contract as the gates' compact (the
    * per-batch cadence inside foreachBatch satisfies it); a crash
    * mid-swap heals at the next [[recoverGeneration]] — callers
    * recover the log at stream start for exactly that. No-op on a
    * missing dir.
    *
    * CONTRACT: the log is a SET of verdict rows — the read-side
    * discipline everywhere is `.distinct()`, and compaction
    * materializes exactly that view. distinct() therefore absorbs
    * at-least-once replays (a replayed batch observes the same gate
    * state — ownership-backed novelty, own-batch band exclusion — so
    * it rewrites byte-identical rows) AND any re-arrival whose
    * verdicts are unchanged; arrival MULTIPLICITY is deliberately
    * not preserved. A doc_id re-SUBMITTED in a later batch is only
    * byte-identical when the state it observes still produces the
    * same verdicts — verdicts are arrival-time facts, so a re-arrival
    * after the corpus evolved (e.g. a near-dup of the doc was indexed
    * in between, or the doc's text changed) writes a genuinely
    * DIFFERENT row, and both survive the distinct: log-derived
    * censuses count EVALUATIONS, not distinct doc_ids (see
    * Curation.curationReport). The ingest logs key by the
    * full-record hash (scraped_at included), so distinct crawls of
    * the same payload stay distinct rows there.
    *
    * COST — two tiers on one knob. `maxMergeBytes <= 0` (default) is
    * the WHOLESALE tier: each tick rewrites the whole log to exactly
    * one sorted file (the gates' generation design), so per-tick
    * cost grows with log size — right while the log is
    * rewrite-sized. `maxMergeBytes > 0` is the INCREMENTAL tier for
    * sustained ingest: only files below the threshold merge, merged
    * epochs seal at the threshold and are never rewritten, so
    * per-tick cost is bounded by threshold + recent appends
    * regardless of stream age, at the price of one file per sealed
    * epoch and cross-epoch duplicates surviving on disk (absorbed by
    * the read discipline).
    *
    * CONCURRENT READERS: the wholesale tier's generation swap means
    * an EXTERNAL read (monitoring census, ad-hoc query) that lists
    * the dir as the swap lands can fail transiently — the path is
    * briefly at neither location, and a pre-swap listing's files are
    * deleted after it. Same contract as the gate state tables and
    * any swap-compacted parquet store: retry the read. The
    * incremental tier has NO missing-path window (merge-in before
    * source delete); a straddling read can only see absorbed
    * duplicates or a vanished-source listing retry. The pipeline's
    * OWN reads never race either tier (compaction runs inside the
    * foreachBatch turn, serialized with the appends). */
  def compactLog(spark: org.apache.spark.sql.SparkSession,
      parent: String, name: String, sortCol: String,
      maxMergeBytes: Long = 0L): Unit =
    writeLog(spark, parent, name, sortCol, None, tick = true,
      maxMergeBytes)

  /** One batch's write to a pipeline log: an append, or on a `tick`
    * of the log's compaction clock the [[compactLog]] pass — with the
    * batch's `rows` folded in. The wholesale tier then writes the
    * batch once, inside its (stored ∪ batch) distinct sorted rewrite,
    * instead of appending it and reading it straight back; the
    * incremental tier appends, then merges. */
  def writeLog(spark: org.apache.spark.sql.SparkSession, parent: String,
      name: String, sortCol: String, rows: Option[DataFrame],
      tick: Boolean, maxMergeBytes: Long): Unit = {
    val path = s"$parent/$name"
    if (!tick || maxMergeBytes > 0L)
      rows.foreach(_.write.mode("append").parquet(path))
    if (!tick) return
    val fs = new org.apache.hadoop.fs.Path(parent)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverGeneration(fs, parent, name)
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val stored = fs.exists(dirPath)
    if (!stored && (maxMergeBytes > 0L || rows.isEmpty)) return
    // either tier owns the other's leftover: a crash inside the
    // incremental tier's write can strand ${name}_merge_tmp, which
    // recoverGeneration knows nothing about — clear it here so a
    // deployment that switches tiers (or crashed mid-merge) never
    // leaks a full merged copy forever
    val mergeTmp =
      new org.apache.hadoop.fs.Path(s"$parent/${name}_merge_tmp")
    fs.delete(mergeTmp, true)
    if (maxMergeBytes <= 0L) {
      (Option.when(stored)(spark.read.parquet(path)) ++ rows)
        .reduce(_ unionByName _)
        .distinct()
        .coalesce(1).sortWithinPartitions(col(sortCol))
        .write.mode("overwrite").parquet(s"$parent/${name}_tmp")
      swapGeneration(fs, parent, name)
      return
    }
    // INCREMENTAL (LSM-style) tier for logs whose history outgrows
    // wholesale rewrites: merge only the data files smaller than
    // maxMergeBytes into one sorted epoch file — a merged file that
    // crosses the threshold SEALS and is never rewritten again, so
    // per-tick cost is bounded by threshold + the batches appended
    // since the last tick, independent of stream age. Trade vs the
    // wholesale tier: duplicates spanning SEALED epochs survive on
    // disk (the read-side distinct() — every reader's documented
    // discipline — still absorbs them), and the dir holds one file
    // per sealed epoch instead of exactly one. Crash-ordering needs
    // no generation swap (and therefore has NO reader-visible
    // missing-path window): the merged epoch file is moved IN before
    // the consumed sources are deleted — a crash between the two
    // leaves duplicate rows, which the read discipline absorbs;
    // rows are never lost.
    val files = fs.listStatus(dirPath).filter(f => f.isFile && {
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })
    val small = files.filter(_.getLen < maxMergeBytes)
    if (small.length <= 1) {
      // a threshold at/below the per-batch append size makes every
      // file "born sealed" and silently disables compaction — the
      // exact accumulation pathology this exists to prevent. The
      // misconfiguration must be LOUD, and EARLY: waiting for an
      // absolute file count (64) hides the first ~63 batches of the
      // pathology, so the no-op ticks also track GROWTH — the file
      // count at the START of the current consecutive no-op run
      // persists in a `_noop_files` marker (parquet readers ignore
      // `_` names; later no-op ticks leave it alone), and CUMULATIVE
      // unmergeable growth of ≥8 files across the run fires the
      // warning long before the absolute backstop. Any tick that
      // actually merges clears the marker, so healthy cadences
      // (occasional single-append ticks, sealed epochs accumulating
      // over stream age) never trip it.
      val prevNoop = readMarker(fs, dirPath.toString, "_noop_files")
        .flatMap(_.toIntOption)
      if (files.length >= 64 ||
          prevNoop.exists(p => files.length - p >= 8)) System.err.println(
        s"[compact-log] $parent/$name holds ${files.length} files " +
          s"(${prevNoop.fold("")(p => s"up from $p at the start of " +
            "this zero-merge run, ")}none below " +
          s"maxMergeBytes=$maxMergeBytes) — the threshold is " +
          "at/below the per-batch append size and compaction is a " +
          "no-op; raise it")
      // the marker is the EARLIEST count of the current consecutive
      // no-op run — written once and left alone until a merging tick
      // clears it, so CUMULATIVE growth across the run trips the
      // threshold. Rewriting it every no-op tick would reduce the
      // check to adjacent-tick deltas: steady one-append-per-tick
      // growth would never fire and the "early" warning would
      // degenerate to the 64-file backstop.
      if (prevNoop.isEmpty)
        writeMarker(fs, dirPath.toString, "_noop_files",
          files.length.toString)
      return
    }
    // this tick merges — clear the zero-merge growth tracker so the
    // misconfiguration heuristic only ever sees CONSECUTIVE no-ops
    fs.delete(
      new org.apache.hadoop.fs.Path(dirPath, "_noop_files"), false)
    spark.read.parquet(small.map(_.getPath.toString): _*)
      .distinct()
      .coalesce(1).sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(mergeTmp.toString)
    // move-in is CHECKED before the destructive deletes (the
    // swapGeneration lesson): a failed rename with the sources then
    // deleted would be silent row loss — abort instead, leaving the
    // sources intact (any epoch files already moved in are
    // read-absorbed duplicates, the crash-window state)
    fs.listStatus(mergeTmp).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .foreach { p =>
        val dst = new org.apache.hadoop.fs.Path(dirPath,
          s"epoch_${java.util.UUID.randomUUID()}.parquet")
        if (!fs.rename(p, dst)) throw new IllegalStateException(
          s"compactLog($parent/$name): failed to move merged epoch " +
            s"$p into the log — sources left intact, aborting before " +
            "any delete")
      }
    small.foreach(f => fs.delete(f.getPath, false))
    fs.delete(mergeTmp, true)
  }

  /** Per-band-key candidate truncation with shed reporting, shared by
    * the MinHash and embedding gates: rank each key's sharers by id,
    * keep the `cap` earliest-seen, and emit the keys that LOST
    * candidates for per-doc reporting. `keyCols` are the band-key
    * columns, `idCol` the sharer id. */
  def capPerKey(cand: DataFrame, keyCols: Seq[String], idCol: String,
      cap: Int): (DataFrame, DataFrame) = {
    val ranked = cand
      .select((idCol +: keyCols).map(col): _*).distinct()
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col(idCol))))
    (ranked.filter(col("rk") <= cap).drop("rk"),
      ranked.filter(col("rk") > cap)
        .select(keyCols.map(col): _*).distinct()
        // bounded by the probed key count — consumed by both the shed
        // report and the verdict join
        .localCheckpoint(false))
  }
}

/** The lifecycle every standing gate shares, written once: the first
  * open (each durable table's swap-crash recovery, the layout
  * handshake, the in-memory filter build), the admit scope, the
  * auto-compaction clock, and the compaction prologue and epilogue.
  * `tables` are the gate's durable tables under `root`; the first is
  * the one whose absence leaves nothing to compact. A gate supplies
  * its layout pieces ([[pins]], [[restoreLayout]], [[writeLayout]]),
  * its in-memory filter ([[load]]) and its compaction policy. */
abstract class StandingGate private[operators] (root: String,
    tables: Seq[String], autoCompactEvery: Int) {
  import org.apache.hadoop.fs.{FileSystem, Path}
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types.StructType

  // admits since the last compaction — the maintenance-policy clock.
  // autoCompactEvery > 0 makes every N-th admit a TICK: the gate's
  // compaction runs inside that admit (the same foreachBatch turn, so
  // it can never race another admit) and folds the admit's own rows
  // into its rewrite instead of appending them first. Every other
  // admit appends files to the gate's tables, so probe-time listings
  // degrade O(batches) between epochs — the policy bounds that at
  // O(N).
  private var admitsSinceCompact: Int = 0

  // the rows the running tick folds into its rewrite, per table —
  // empty outside a tick's rewrite
  private var folded: Map[String, DataFrame] = Map.empty

  /** Whether the first open ran (the in-memory filter is built). */
  protected def opened: Boolean

  /** The layout entries the on-disk artifacts were written with —
    * checked fail-fast against the manifest ([[GateLayout.check]]). */
  protected def pins: Seq[(String, String)]

  /** Restore the LIVE geometry — state a previous process' compaction
    * persisted, where disk truth wins over the constructor — from the
    * manifest `m` (None: none on disk yet) and the tables themselves.
    * True when the manifest is missing or stale and must be
    * rewritten. */
  protected def restoreLayout(fs: FileSystem,
      m: Option[Map[String, String]]): Boolean

  protected def writeLayout(fs: FileSystem): Unit

  /** Build the in-memory filter from the recovered tables. */
  protected def load(spark: SparkSession, fs: FileSystem): Unit

  protected final def fsOf(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run a tick's `compact` with the tick's own rows per table folded
    * into its rewrite: the tick writes its batch once, in the new
    * generation, instead of appending it and reading it straight back.
    * A crash before the swap leaves nothing of the batch on disk (the
    * caller's replay guard re-runs it). */
  protected final def ticking(rows: Map[String, DataFrame])(
      compact: => Unit): Unit = {
    folded = rows
    try compact finally folded = Map.empty
  }

  /** Whether `table` holds rows: on disk, or folded in by the running
    * tick. */
  protected final def exists(fs: FileSystem, table: String): Boolean =
    folded.contains(table) || fs.exists(new Path(s"$root/$table"))

  /** `table` as a compaction rewrites it: `stored` (read only when the
    * table is on disk) ∪ the rows the running tick folds in, cast to
    * `ddl`. Outside a tick, `stored`. */
  protected final def withFolded(fs: FileSystem, table: String,
      ddl: String)(stored: => DataFrame): DataFrame =
    folded.get(table).fold(stored) { rows =>
      val cast = rows.select(
        StructType.fromDDL(ddl).map(f => col(f.name).cast(f.dataType)): _*)
      if (fs.exists(new Path(s"$root/$table"))) stored.unionByName(cast)
      else cast
    }

  protected final def layout(
      fs: FileSystem): Option[Map[String, String]] = {
    val mp = new Path(s"$root/_layout")
    if (fs.exists(mp)) Some(GateLayout.read(fs, mp)) else None
  }

  /** Each table's swap-crash recovery ([[GateOps.recoverGeneration]]),
    * run BEFORE any existence check: a restart inside a compaction's
    * generation-swap crash window (live dir at neither cur nor
    * `_tmp`) must restore the surviving generation, or the gate would
    * see an empty table and silently re-admit everything. */
  private def recover(fs: FileSystem): Unit =
    tables.foreach(GateOps.recoverGeneration(fs, root, _))

  /** The layout handshake: fail fast on a layout this version does
    * not write (tables with no manifest, a manifest missing a pinned
    * entry) or on a pin mismatch, restore the live geometry, and
    * write the manifest when the root is fresh or it is stale. */
  private def syncLayout(fs: FileSystem): Unit = {
    val m = layout(fs)
    val odd = m.fold(
      tables.filter(exists(fs, _)).map(_ + " without _layout"))(mm =>
      pins.map(_._1).filterNot(mm.contains).map("_layout without " + _))
    require(odd.isEmpty, s"gate root $root holds ${odd.mkString(", ")} — " +
      "not a layout this version reads; start the gate over in a new root")
    m.foreach(GateLayout.check(_, root, pins))
    if (restoreLayout(fs, m)) writeLayout(fs)
  }

  /** One piece of live geometry, restored marker over manifest over
    * `cur`. The table generation's own `marker` is ground truth: it
    * rode the same rename as the data ([[GateOps.writeMarker]]), so it
    * can never be stale the way the root manifest can after a crash
    * between a resize's swap and its manifest refresh. Only resizing
    * compactions write the marker, so the manifest's `key` covers the
    * generations no resize has marked. A persisted
    * value must pass `valid` — a corrupt one fails fast rather than
    * being stamped into a fresh manifest. Returns the live value and
    * whether the manifest disagrees with the marker (heal it). */
  protected final def restoreGeometry(fs: FileSystem, table: String,
      marker: String, m: Option[Map[String, String]], key: String,
      cur: Int)(valid: Int => Boolean, what: String): (Int, Boolean) = {
    val mk = GateOps.readMarker(fs, s"$root/$table", marker).map(_.toInt)
    val persisted = mk.orElse(m.flatMap(_.get(key)).map(_.toInt))
    persisted.foreach(v => require(valid(v), s"persisted $key=$v $what"))
    (persisted.getOrElse(cur),
      mk.exists(v => !m.flatMap(_.get(key)).contains(v.toString)))
  }

  /** One admit: `body` inside the parquet IN-pushdown scope, preceded
    * on the first call by the first open (recovery, the layout
    * handshake, the filter build). `body` learns whether this admit is
    * a tick of the auto-compaction clock; a tick's body runs the
    * compaction itself, with its own rows folded in ([[ticking]]),
    * instead of appending them.
    *
    * The scope: the gates' pruned reads push a collected INSET of
    * keys / candidate ids into the parquet scan so row-group stats on
    * the sorted files can skip, and Spark only pushes IN filters up to
    * `spark.sql.parquet.pushdown.inFilterThreshold` (default 10 —
    * above it the filter degrades to a min/max range, useless for
    * scattered keys). It is raised to [[Dedup.inPushdownLimit]], not
    * to a candidate cap: the pushed form is a recursive OR-chain that
    * overflows the executor stack past ~1.2k values (the constant's
    * scaladoc has the measurement), so larger sets keep the range +
    * post-scan InSet plan. Restored, or unset, on every exit. */
  protected final def admitting[A](spark: SparkSession)(
      body: (FileSystem, Boolean) => A): A = {
    val fs = fsOf(spark)
    val thrKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    // getAll (explicitly set keys only), not getOption: getOption
    // reports the default for an unset key, and restoring that would
    // leave the key explicitly set
    val priorThr = spark.conf.getAll.get(thrKey)
    spark.conf.set(thrKey, Dedup.inPushdownLimit.toString)
    val tick = autoCompactEvery > 0 &&
      admitsSinceCompact + 1 >= autoCompactEvery
    val out = try {
      if (!opened) {
        recover(fs)
        syncLayout(fs)
        load(spark, fs)
      }
      body(fs, tick)
    } finally priorThr match {
      case Some(v) => spark.conf.set(thrKey, v)
      case None => spark.conf.unset(thrKey)
    }
    admitsSinceCompact = if (tick) 0 else admitsSinceCompact + 1
    out
  }

  /** One compaction — run between admit epochs (it must not race an
    * admit; a tick satisfies this by running inside the admit turn).
    * A manual compaction on a fresh object gets the first open's
    * swap-crash-window recovery, and the layout handshake, so it
    * compacts at the persisted live geometry rather than its
    * constructor's. `rewrite` is the gate's policy: it writes
    * `<table>_tmp` for each table it rewrites and returns the step to
    * run once they are live. Each rewritten table then swaps in
    * crash-ordered ([[GateOps.swapGeneration]] — either generation
    * intact, never neither). After the recovery a `_tmp` beside a
    * table can only be this rewrite's: recovery promotes a `_tmp`
    * whose live table is missing, and every policy rewrites each live
    * table.
    *
    * Inside [[ticking]] the rewrite reads the tick's own rows beside
    * the stored ones ([[exists]], [[withFolded]]). */
  protected final def compacting(spark: SparkSession)(
      rewrite: FileSystem => () => Unit): Unit = {
    val fs = fsOf(spark)
    recover(fs)
    val after = try {
      if (!exists(fs, tables.head)) None
      else {
        if (!opened) syncLayout(fs)
        Some(rewrite(fs))
      }
    } finally folded = Map.empty // the swaps and the step see disk alone
    after.foreach { step =>
      tables.filter(t => exists(fs, s"${t}_tmp"))
        .foreach(GateOps.swapGeneration(fs, root, _))
      step()
    }
  }
}

/** The admit the two banded near-dup gates share — [[NearDupGate]]
  * over MinHash band hashes, [[EmbedNearDupGate]] over hyperplane
  * sign bands. Durable state under `root`: the band `index` (id + the
  * band-key columns `keyDDL`, partitioned by `indexPart`, sorted by
  * the last key column within each file), the scored `corpus` (id +
  * one value), and `verdicts` (id, n_cands, the `bestDDL` column,
  * is_neardup, n_capped_keys), fronted by an in-memory filter over
  * the seen band keys.
  *
  * A doc is a near-dup iff its `score` against ANY earlier-seen doc
  * sharing a band key reaches `threshold`: earlier batches via the
  * index (any indexed doc NOT of this batch — excluding the batch's
  * own ids is what makes an at-least-once replay harmless, since a
  * replayed batch finds its own and its batchmates' keys already
  * indexed), same-batch predecessors via a smaller-id self probe. A
  * doc with no candidates verdicts `noMatch`. Null values carry no
  * band keys: they verdict as novel and are never indexed.
  *
  * The gate supplies the band scheme ([[keyed]], the filter, the
  * pruned [[indexRead]]), its live per-key cap and its index
  * compaction policy; the skeleton never branches on which gate runs
  * it. */
abstract class BandedGate private[operators] (root: String,
    index: String, indexDDL: String, indexPart: String, keyDDL: String,
    corpus: String, corpusDDL: String, value: Column => Column,
    score: (Column, Column) => Column, scoreType: String,
    bestDDL: String, noMatch: Column, threshold: Column,
    candCap: Int, autoCompactEvery: Int)
    extends StandingGate(root, Seq(index, corpus, "verdicts"),
      autoCompactEvery) {
  import org.apache.hadoop.fs.FileSystem
  import org.apache.spark.sql.{Row, SparkSession}
  import org.apache.spark.sql.types.StructType

  protected val keyCols: Seq[String] =
    StructType.fromDDL(keyDDL).fieldNames.toSeq
  private val valueCol = StructType.fromDDL(corpusDDL).fieldNames(1)
  private val best = StructType.fromDDL(bestDDL).fieldNames(0)

  /** The batch's band keys: (id, key columns…) per non-null key, plus
    * whatever the gate's [[selfProbe]] needs. */
  protected def keyed(batch: DataFrame): DataFrame
  /** The columns the in-memory filter tests, collected per batch. */
  protected def probeCols: Seq[String] = keyCols
  protected def mightHold(key: Row): Boolean
  protected def remember(key: Row): Unit
  /** The index rows that may share the filter-positive keys `pos`
    * (`bandKeys`: the batch's own keys). */
  protected def indexRead(spark: SparkSession, pos: Seq[Row],
      bandKeys: DataFrame): DataFrame
  /** The live per-band-key candidate cap — 0 = exact. */
  protected def keyCap: Int
  /** The gate's compaction at its default arguments. */
  protected def autoCompact(spark: SparkSession): Unit
  /** Index rows as stored, from (id, key columns…). */
  protected def indexRows(keys: DataFrame): DataFrame =
    keys.select(("id" +: keyCols).map(col): _*)

  protected final def readIndex(spark: SparkSession): DataFrame =
    read(spark, index, indexDDL)

  protected final def readCorpus(spark: SparkSession): DataFrame =
    read(spark, corpus, corpusDDL)

  private def read(spark: SparkSession, table: String,
      ddl: String): DataFrame =
    withFolded(fsOf(spark), table, ddl)(
      spark.read.schema(StructType.fromDDL(ddl)).parquet(s"$root/$table"))

  private def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType.fromDDL(ddl))

  private def keyJoin: Column =
    keyCols.map(k => col(s"q.$k") === col(s"c.$k")).reduce(_ && _)

  protected final def writeIndex(keys: DataFrame, mode: String,
      dir: String): Unit =
    indexRows(keys).repartition(col(indexPart))
      .sortWithinPartitions(col(keyCols.last))
      .write.mode(mode).partitionBy(indexPart).parquet(s"$root/$dir")

  /** Same-batch candidates, scored: each doc against its smaller-id
    * batchmates sharing a (capped) key. The kept capped candidates are
    * each key's smallest ids, so every one still precedes any over-cap
    * query doc (the c.id < q.id guard keeps exact in-batch order). */
  protected def selfProbe(keyRows: DataFrame, bandKeys: DataFrame,
      selfCand: DataFrame, batchVals: DataFrame,
      maybeBroadcast: DataFrame => DataFrame): DataFrame =
    bandKeys.as("q")
      .join(maybeBroadcast(selfCand).as("c"),
        keyJoin && col("c.id") < col("q.id"))
      .select(col("q.id").as("id"), col("c.id").as("cid"))
      .distinct()
      .join(maybeBroadcast(batchVals.toDF("cid", "cval")), "cid")
      .join(maybeBroadcast(batchVals.toDF("id", "qval")), "id")
      .select(col("id"), col("cid"),
        score(col("qval"), col("cval")).as("score"))

  /** The admit: appends the batch's verdicts and returns them
    * (localCheckpointed when `pin` — admitScored's caller joins them
    * again; a plain admit's write is their only consumer). A tick
    * folds the batch's verdicts, keys and values into its compaction
    * instead of appending them. */
  protected final def runAdmit(batch: DataFrame, idCol: String,
      srcCol: String, pin: Boolean): DataFrame =
    admitting(batch.sparkSession) { (fs, tick) =>
      val spark = batch.sparkSession
      val indexExists = exists(fs, index)
      // guarded independently of indexExists: a crash between the
      // first-ever index append and the corpus append leaves the index
      // present but the corpus missing — on restart the filter
      // rebuilds from the index, every replayed doc is positive, and
      // an unguarded corpus read would throw on every retry,
      // permanently wedging the stream. The empty typed frame scores
      // those candidates absent (never scored → novel), which the
      // replayed append then heals.
      val corpusExists = exists(fs, corpus)
      // 1. the batch's values, pinned once (consumed by the key
      // collect, both probes, the verdict base and the appends;
      // bounded by the batch). The id-keyed dedupAtWidth replaces the
      // round-robin parallelism shuffle: a batch carrying the same id
      // twice (upstream at-least-once duplication inside one batch)
      // would otherwise double every pair in the scoring joins and
      // emit two verdict rows for that id.
      val (batchVals, nBatch) = GateOps.pinCounted(
        GateOps.dedupAtWidth(batch.select(
          col(idCol).as("id"), col(srcCol).as(valueCol)), "id")
        .select(col("id"), value(col(valueCol)).as(valueCol)))
      // 2. broadcast the batch side by MEASURED count, not planner
      // stats: a localCheckpoint inherits its ORIGIN plan's size
      // estimate, and a join-shaped origin (the curate chain's
      // survivor frames) overestimates by multiplied selectivities
      // (measured: 5 MB estimated as 16.6 GB) — the static planner
      // then refuses the broadcast, AQE cannot re-plan a LogicalRDD
      // leaf, and every probe join degrades to sort-merge with
      // skew-hot band keys (measured: 38 s vs 4.7 s for the identical
      // admit). The pin's own jobs measure the count; a degenerate
      // huge admit keeps the shuffle-join plan instead of OOMing the
      // driver.
      val smallBatch = nBatch <= GateOps.broadcastRowCap
      def maybeBroadcast(df: DataFrame): DataFrame =
        if (smallBatch) broadcast(df) else df
      // 3. the batch's distinct keys collect and test the filter
      // IN-DRIVER (no filter literal ever enters a plan); negative
      // keys have NO stored collision — for a mostly-novel batch that
      // is nearly all of them, so the index is not read at all and
      // per-batch cost is flat in corpus size
      val keyRows = keyed(batchVals)
      val bandKeys = keyRows.select(("id" +: keyCols).map(col): _*)
      val probed = keyRows.select(probeCols.map(col): _*).distinct()
        .collect()
      val pos = probed.filter(mightHold).toSeq
      // per-band-key candidate truncation (cap on): the shared
      // GateOps.capPerKey earliest-seen rank, shed reported per doc
      def capPerKey(cand: DataFrame): (DataFrame, DataFrame) =
        if (keyCap <= 0) (cand, empty(spark, keyDDL))
        else GateOps.capPerKey(cand, keyCols, "id", keyCap)
      val (crossScored, crossCapped) =
        if (pos.isEmpty || !indexExists)
          (empty(spark, s"id BIGINT, cid BIGINT, score $scoreType"),
            empty(spark, keyDDL))
        else {
          // 4. "earlier-seen" for the cross probe = IN THE INDEX AND
          // NOT OF THIS BATCH, not smaller-id: an id guard would
          // encode arrival order as id order, which the file source
          // does not promise. The anti-join runs BEFORE the per-key
          // cap so replayed own rows never consume cap slots —
          // otherwise the kept set, and hence the verdicts, would
          // differ between a run and its replay. Under id-ordered
          // arrival the guards coincide, which is why the id-ordered
          // oracles still replay these verdicts exactly.
          val (idxCand, capped) = capPerKey(
            indexRead(spark, pos, bandKeys).join(
              maybeBroadcast(batchVals.select(col("id"))), Seq("id"),
              "left_anti"))
          val pairs = maybeBroadcast(bandKeys).as("q")
            .join(idxCand.as("c"), keyJoin)
            .select(col("q.id").as("id"), col("c.id").as("cid"))
            .distinct()
            // pinned: consumed by the cid collect AND the scoring
            // join, and bounded by candCap·batch collisions in the
            // common path
            .localCheckpoint()
          // 5. candidate values are fetched through a collected-id
          // INSET, never scanned corpus-wide — past candCap, a
          // semi-join against the pairs instead
          val cids = pairs.select(col("cid")).distinct()
            .limit(candCap + 1).collect().map(_.getLong(0))
          // 6. dropDuplicates carries the at-least-once contract: a
          // replayed admit appends its values AGAIN, and a duplicated
          // row would double every matching pair in the scoring join.
          // Scoped to CANDIDATE rows on both branches.
          val stored =
            if (corpusExists) readCorpus(spark) else empty(spark, corpusDDL)
          val candVals =
            (if (cids.length <= candCap)
              stored.filter(col("id").isin(cids.toSeq: _*))
            else stored.join(pairs.select(col("cid").as("id")).distinct(),
              Seq("id"), "left_semi"))
            .dropDuplicates("id")
          // 7. pairs first, then score: only (id, cid) moves through
          // the band join, and each DISTINCT pair scores once
          (pairs.join(candVals.toDF("cid", "cval"), "cid")
            .join(maybeBroadcast(batchVals.toDF("id", "qval")), "id")
            .select(col("id"), col("cid"),
              score(col("qval"), col("cval")).as("score")),
            capped)
        }
      // 8. the self probe through the same per-key cap
      val (selfCand, selfCapped) = capPerKey(bandKeys)
      val internal =
        selfProbe(keyRows, bandKeys, selfCand, batchVals, maybeBroadcast)
      // 9. cross (cid NOT of this batch, by the pre-cap anti-join) and
      // internal (cid of this batch) are DISJOINT by construction and
      // each pair-distinct, so the union needs no (id, cid) re-dedup
      // before the per-doc rollup. Shed REPORTING (never silent):
      // n_capped_keys = how many of the doc's band keys had their
      // candidate list truncated — 0 when the cap is off or never
      // fired, so the uncapped verdict shape is a strict subset.
      val matches = crossScored.unionByName(internal)
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_cands"), max(col("score")).as(best))
      val nCapped = bandKeys
        .join(crossCapped.unionByName(selfCapped).distinct(), keyCols)
        .groupBy(col("id")).agg(count(lit(1)).as("n_capped_keys"))
      // 10. the verdicts. Both joined sides are bounded by the batch,
      // but `matches` inherits a checkpointed origin's size estimate —
      // broadcast by the measured count, like the probes
      val assembled = batchVals.select(col("id"))
        .join(maybeBroadcast(matches), Seq("id"), "left")
        .join(maybeBroadcast(nCapped), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("n_cands"), lit(0L)).as("n_cands"),
          coalesce(col(best), noMatch).as(best),
          coalesce(col("n_capped_keys"), lit(0L)).as("n_capped_keys"))
        .withColumn("is_neardup", (col(best) >= threshold).cast("int"))
        .select(col("id"), col("n_cands"), col(best), col("is_neardup"),
          col("n_capped_keys"))
      val verdicts = if (pin) assembled.localCheckpoint() else assembled
      // 11. fold the keys into memory, then write verdicts, keys and
      // values. A batch of only null values has no keys; skipping the
      // key and value writes avoids creating EMPTY table directories a
      // later schema read or restart rebuild would otherwise hit — and
      // with no index yet there is nothing for a tick to compact.
      probed.foreach(remember)
      val values = batchVals.filter(col(valueCol).isNotNull)
      if (tick && (indexExists || probed.nonEmpty))
        ticking(Map("verdicts" -> verdicts) ++
          (if (probed.isEmpty) Map.empty
          else Map(index -> indexRows(keyRows), corpus -> values)))(
          autoCompact(spark))
      else {
        verdicts.write.mode("append").parquet(s"$root/verdicts")
        if (probed.nonEmpty) {
          writeIndex(keyRows, "append", index)
          values.coalesce(1).sortWithinPartitions(col("id"))
            .write.mode("append").parquet(s"$root/$corpus")
        }
      }
      verdicts
    }

  /** The banded gates' epoch maintenance: the gate's `rewriteIndex`
    * policy writes `<index>_tmp` (one key-sorted, exactly-deduplicated
    * file per partition) and returns its post-swap step; the corpus
    * and the verdicts each rewrite to one id-sorted deduplicated file
    * here — the at-least-once decay (replayed-batch duplicate rows)
    * repaired and the per-batch file accumulation collapsed, so
    * probe-time listings stay O(partitions). */
  protected final def compactBanded(spark: SparkSession)(
      rewriteIndex: FileSystem => () => Unit): Unit =
    compacting(spark) { fs =>
      val after = rewriteIndex(fs)
      // guarded like admit's corpus read: the index-present /
      // corpus-missing crash window must not wedge an auto-compaction
      // fired from a replayed admit
      rewrite(spark, fs, corpus, corpusDDL)(_.dropDuplicates("id"))
      // distinct() absorbs at-least-once replays (a replayed batch
      // rewrites identical verdict rows). Guarded: a gate that only
      // ever saw empty batches has no verdicts directory.
      rewrite(spark, fs, "verdicts",
        s"id BIGINT, n_cands BIGINT, $bestDDL, is_neardup INT, " +
          "n_capped_keys BIGINT")(_.distinct())
      after
    }

  private def rewrite(spark: SparkSession, fs: FileSystem, table: String,
      ddl: String)(f: DataFrame => DataFrame): Unit =
    if (exists(fs, table)) f(read(spark, table, ddl))
      .coalesce(1).sortWithinPartitions(col("id"))
      .write.mode("overwrite").parquet(s"$root/${table}_tmp")
}

/** The standing novelty gate over the fp-prefix-bucketed fingerprint
  * table — one instance per ingest stream, driver-side (foreachBatch
  * closures run on the driver), caching the Bloom bitmap across
  * batches so the per-batch cost is independent of stream history:
  * the words load from disk ONCE (restart = one re-read), and each
  * batch folds its own delta into the cache in-memory.
  *
  * Per [[admit]] call:
  *
  *  1. distinct batch fingerprints test the cached bitmap;
  *     bloom-negative fps are DEFINITELY novel — no table I/O, the
  *     common case for mostly-novel ingest and the reason per-batch
  *     cost stays flat as the table grows;
  *  2. the possible-members (false positives + true duplicates, a
  *     set bounded by `posCap` — beyond it the gate falls back to a
  *     bucket-scan anti-join, the dup-heavy-batch shape where a scan
  *     is the right plan anyway) COLLECT to the driver, and one read
  *     of ONLY their prefix buckets, with the fp list pushed down as
  *     an INSET filter, resolves which are actually present;
  *  3. novel = batch fps minus present — a pure expression over the
  *     batch, no table read, so evaluating it for both the delta and
  *     the data append costs two batch scans, never two table scans;
  *  4. the bloom delta (≤ bits/64 grouped words) collects, folds
  *     into the cache, and lands as one durable file; novel fps then
  *     append under their prefix partitions, fp-sorted within each
  *     file so parquet row-group stats can refine future bucket
  *     probes below directory granularity.
  *
  * A tick of the auto-compaction clock (every `autoCompactEvery`-th
  * admit) skips steps 1-4: its [[compact]] reads the stored table
  * beside the batch's fingerprints — a stored fingerprint keeps its
  * stored owner, the others are novel and take the batch's — and
  * writes table and bloom once, in the new generation.
  *
  * Bucket-count tradeoff, measured: prefixChars=2 (256 dirs) costs
  * ~4 s of dynamic-partition commit overhead PER BATCH on a local fs
  * (256 file creations + renames — the same rename storm that makes
  * fine-grained dynamic partitioning expensive on object stores), vs
  * ~0.6 s at prefixChars=1 (16 dirs). The default is therefore 1:
  * a standing gate pays the commit cost forever, while bucket width
  * only bounds the (rare, bloom-filtered) probe reads. At petabyte
  * table sizes, raise the width at [[compact]] time — compaction
  * pays the many-directory cost once per epoch instead of every
  * batch.
  *
  * Consistency: the table is AT-LEAST-ONCE, not exactly-once — a
  * replayed batch, or a crash between the bloom append and the data
  * append, can duplicate table rows or leave bloom bits set for fps
  * not yet stored; both decay to duplicate rows, so dedup is enforced
  * at READ time (the census is distinct-first), never assumed of the
  * stored rows.
  * The delta writes BEFORE the data append so no evaluation of
  * `novel` can ever observe its own append (and in the common path
  * `novel` reads no table at all). A saturated bitmap (occupancy
  * > 50%) warns loudly at load: correctness is unaffected, but every
  * batch degrades toward the fallback scan — resize via
  * `compact(newBits)`, or set `growBloomFactor` so compaction
  * self-sizes the width to the table (k·n·2 ≤ bits). Like the bucket
  * width, `bits` is LIVE state restored from the layout manifest at
  * reopen (the persisted width wins over the constructor's — a
  * smaller value would crash reading the delta file, a larger one
  * would misposition every stored bit); `k` stays manifest-pinned
  * fail-fast.
  */
final class NoveltyGate(tableRoot: String,
    bits: Int = Dedup.noveltyBloomBits, k: Int = Dedup.noveltyBloomK,
    prefixChars: Int = Dedup.fpPrefixChars, posCap: Int = 100000,
    autoCompactEvery: Int = 0, widenBucketBytes: Long = 0L,
    growBloomFactor: Int = 0)
    extends StandingGate(tableRoot, Seq("data", "bloom"),
      autoCompactEvery) {
  import org.apache.spark.sql.{Row, SparkSession}
  import org.apache.spark.sql.types.StructType
  import org.apache.hadoop.fs.FileSystem
  require(growBloomFactor == 0 ||
    (growBloomFactor >= 2 && Integer.bitCount(growBloomFactor) == 1),
    "growBloomFactor must be 0 (off) or a power of two ≥ 2")
  // bloomPos masks with bits-1, so power-of-two was always the
  // implicit contract; reopen/compact already enforce it against the
  // persisted value — rejecting it HERE keeps a gate from creating a
  // width it would brick itself on at the first restart
  require(bits > 0 && Integer.bitCount(bits) == 1,
    s"bits=$bits must be a power of two (bloom positions mask with bits-1)")

  private var words: Array[Long] = _
  // the LIVE bucket width — compact(newPrefixChars) can widen it for
  // a grown table, and every subsequent probe/append must follow.
  // Durable in the layout manifest: an in-memory-only width would
  // reset to the constructor default on process restart, silently
  // mis-bucketing every append after a widening compact.
  private var pcCur: Int = prefixChars
  // the LIVE bloom width — like pcCur, bits is STATE-BEARING geometry
  // (the delta files' word_idx space), so the persisted value wins at
  // reopen: a smaller constructor `bits` would crash in
  // readNoveltyBloom (stored word_idx past the array), a larger one
  // would silently misposition every previously-set bit. The manifest
  // restores it; [[compact]] (explicit newBits, or the
  // growBloomFactor policy) is the resize path, rebuilding the file
  // wholesale at the new width. `k` stays fail-fast: it is SEMANTIC
  // shape (which salted positions mean what), not resizable state.
  private var bitsCur: Int = bits

  private def isPow2(b: Int): Boolean = b > 0 && Integer.bitCount(b) == 1

  protected def opened: Boolean = words != null
  protected def pins: Seq[(String, String)] = Seq("k" -> k.toString)

  /** Live bucket width and bloom width, disk truth first. The
    * partition DIRECTORIES are ground truth for the bucket width: a
    * crash between a widening compaction's data swap and its manifest
    * refresh leaves the two disagreeing, and following the stale
    * manifest would mis-prefix every probe (silent dedup decay) — so
    * the on-disk layout wins and the manifest heals. The bloom width
    * follows the bloom generation's `_bits` marker. */
  protected def restoreLayout(fs: FileSystem,
      m: Option[Map[String, String]]): Boolean = {
    val dw = dirWidth(fs)
    val (b, bitsStale) = restoreGeometry(fs, "bloom", "_bits", m, "bits",
      bitsCur)(isPow2, "is not a power of two")
    bitsCur = b
    pcCur = dw.orElse(m.flatMap(_.get("prefix_chars")).map(_.toInt))
      .getOrElse(pcCur)
    m.isEmpty || bitsStale ||
      (dw.isDefined && m.flatMap(_.get("prefix_chars")) != dw.map(_.toString))
  }

  /** The live bucket width as written on disk — max fp_b= directory
    * name length. It leads the manifest because a crash between a
    * widening compaction's data swap and its manifest refresh leaves
    * the manifest one width behind the directories. */
  private def dirWidth(
      fs: org.apache.hadoop.fs.FileSystem): Option[Int] = {
    val dp = new org.apache.hadoop.fs.Path(s"$tableRoot/data")
    if (!fs.exists(dp)) return None
    val widths = fs.listStatus(dp).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("fp_b="))
      .map(_.stripPrefix("fp_b=").length)
    if (widths.nonEmpty) Some(widths.max) else None
  }

  protected def writeLayout(fs: FileSystem): Unit =
    GateLayout.write(fs,
      new org.apache.hadoop.fs.Path(s"$tableRoot/_layout"),
      Seq("bits" -> bitsCur.toString, "k" -> k.toString,
        "prefix_chars" -> pcCur.toString))

  protected def load(spark: SparkSession, fs: FileSystem): Unit = {
    words = Dedup.readNoveltyBloom(spark, s"$tableRoot/bloom", bitsCur)
    val occupied =
      words.foldLeft(0L)((a, w) => a + java.lang.Long.bitCount(w))
    if (occupied * 2 > bitsCur) System.err.println(
      s"[novelty-gate] bloom ${occupied * 100 / bitsCur}% occupied " +
        s"for $tableRoot — probes degrade to bucket scans; resize " +
        s"via compact(newBits) or set growBloomFactor")
  }

  def admit(batch: DataFrame): Unit = {
    admitFps(batch.sparkSession, batch
      .select(Dedup.exactFingerprint(col("text")).as("fp")).distinct()
      .filter(col("fp").isNotNull)
      // plain admits record no ownership — their fingerprints can
      // never verdict is_novel=1 for a later scored doc, which is
      // exactly right (they were seen before that doc)
      .withColumn("owner", lit(null).cast("long")))
    ()
  }

  /** Per-doc form of [[admit]] for pipeline composition
    * (ev_stream_curate): the same state transition, plus a returned
    * verdict frame (id, is_novel) where is_novel=1 marks the doc that
    * OWNS its fingerprint's stored row — a table-novel fingerprint's
    * smallest-id holder in the batch that admitted it (first-wins,
    * the D1 rule). Ownership is read back from the TABLE after the
    * append, not derived from this batch's novelty probe, which is
    * what makes the verdicts REPLAY-STABLE: a foreachBatch retry
    * after the gate state committed finds every fingerprint
    * table-known, but the stored owner ids still name the first
    * attempt's winners, so the replay reproduces its verdicts
    * bit-for-bit instead of flipping first occurrences to is_novel=0.
    * On a tick the rewrite's pinned (fp, owner) relation IS the table
    * after the admit, so ownership comes from it without a re-read.
    * A null-text doc has no identity and verdicts 0, landing in the
    * duplicates remainder exactly as the novelty census counts it. */
  def admitScored(batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = batch.sparkSession
    val docs = batch.select(col(idCol).as("id"),
      Dedup.exactFingerprint(col(textCol)).as("fp"))
      .localCheckpoint()
    val docFps = docs.filter(col("fp").isNotNull)
    val batchFps = broadcast(docFps.select(col("fp")).distinct())
    val tickOwners = admitFps(spark,
      docFps.groupBy(col("fp")).agg(min(col("id")).as("owner")))
    val stored = tickOwners match {
      case Some(all) => all.join(batchFps, Seq("fp"), "left_semi")
      case None =>
        // bounded driver set: distinct batch prefixes (≤ 16^pcCur)
        val ps = docFps
          .select(substring(col("fp"), 1, pcCur).as("p")).distinct()
          .collect().map(_.getString(0)).toSeq
        if (ps.isEmpty) spark.createDataFrame(
          new java.util.ArrayList[Row](),
          StructType.fromDDL("fp STRING, owner BIGINT"))
        else spark.read
          .schema(StructType.fromDDL(
            "fp STRING, owner BIGINT, fp_b STRING"))
          .parquet(s"$tableRoot/data")
          .filter(col("fp_b").isin(ps: _*))
          .join(batchFps, Seq("fp"), "left_semi")
          // min ignores NULLs: at-least-once duplicate rows collapse,
          // and a plain-admit row (owner null) yields null — correctly
          // unownable
          .groupBy(col("fp")).agg(min(col("owner")).as("owner"))
    }
    docs.join(stored, Seq("fp"), "left")
      .select(col("id"),
        when(col("owner").isNotNull && col("owner") === col("id"), 1)
          .otherwise(0).as("is_novel"))
  }

  /** The bloom words of `fps`' k salted positions at `bitsCur`:
    * (word_idx, OR of the word's bits). */
  private def bloomWords(fps: DataFrame): Array[(Long, Long)] =
    fps
      .select(posexplode(array((0 until k).map(i =>
        Dedup.bloomPos(col("fp"), i, bitsCur)): _*)).as(Seq("i", "pos")))
      .select((col("pos") / 64).cast("long").as("word_idx"),
        element_at(Dedup.bitMasksCol, (col("pos") % 64).cast("int") + 1)
          .as("m"))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(m)").as("word"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  private def writeBloom(spark: SparkSession, ws: Seq[(Long, Long)],
      mode: String, dir: String): Unit = {
    val rows = new java.util.ArrayList[Row]()
    ws.foreach { case (i, w) => rows.add(Row(i, w)) }
    spark.createDataFrame(rows,
        StructType.fromDDL("word_idx BIGINT, word BIGINT"))
      .coalesce(1)
      .write.mode(mode).parquet(s"$tableRoot/$dir")
  }

  /** Fingerprint-level core shared by [[admit]] and [[admitScored]]:
    * probes, then updates bloom + table state. `fps` must be distinct
    * non-null (fp, owner) rows; owner (nullable) is stored beside each
    * novel fingerprint and carries the admitScored ownership contract.
    * A tick skips the probe and the appends: its compaction derives
    * the novel set itself (a fingerprint no stored row holds) and
    * writes it once, in the new generation. Returns the tick's pinned
    * (fp, owner) table relation; None on other admits. */
  private def admitFps(spark: SparkSession,
      fps: DataFrame): Option[DataFrame] =
    admitting(spark) { (fs, tick) =>
      if (tick) compactWith(spark, Some(fps), None, None)
      else { appendFps(spark, fs, fps); None }
    }

  /** A non-tick admit: the probe, the bloom delta, the data append. */
  private def appendFps(spark: SparkSession, fs: FileSystem,
      fps: DataFrame): Unit = {
    val dataPath = s"$tableRoot/data"
    // Robustness pair used on every internal read: an existence check
    // (the bloom commits BEFORE the data append, so a crash window can
    // leave bloom bits with no data path yet) and an EXPLICIT schema
    // (a first batch of only null-text docs appends zero rows, and a
    // schema-inference read of the resulting empty directory throws).
    val dataExists = exists(fs, "data")
    def readData() = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "fp STRING, fp_b STRING"))
      .parquet(dataPath)
    // collected-INSET pushdown inside the admit scope (see
    // StandingGate.admitting); bigger possible-member sets fall back
    // to range + post-scan InSet with bucket pruning intact
    val might = Dedup.bloomMight(col("fp"), words, bitsCur, k)
    val pos = fps.filter(might).select(col("fp")).limit(posCap + 1)
      .collect().map(_.getString(0))
    val novel: DataFrame =
      if (pos.isEmpty || !dataExists) fps
      else if (pos.length <= posCap) {
        val prefixes = pos.map(_.take(pcCur)).distinct.toSeq
        val present = readData()
          .filter(col("fp_b").isin(prefixes: _*))
          .filter(col("fp").isin(pos.toSeq: _*))
          .select(col("fp")).collect().map(_.getString(0)).toSeq
        if (present.isEmpty) fps
        else fps.filter(!col("fp").isin(present: _*))
      } else {
        // dup-heavy fallback: prefixes of the possible-members (a
        // bounded ≤ 16^prefixChars driver set), then one anti-join
        // against just those buckets. Evaluated twice below (delta +
        // data) — two bucket scans on the rare path, accepted.
        val prefixes = fps.filter(might)
          .select(substring(col("fp"), 1, pcCur).as("p")).distinct()
          .collect().map(_.getString(0)).toSeq
        val known = readData()
          .filter(col("fp_b").isin(prefixes: _*))
          .select(col("fp"))
        fps.filter(might).join(known, Seq("fp"), "left_anti")
          .union(fps.filter(!might))
      }
    // pin once: the delta write and the data append both consume
    // this batch-bounded frame (the fallback branch reads the table
    // it is ABOUT to append to — materializing before the append
    // also removes that read-after-write ambiguity)
    val novelPinned = novel.localCheckpoint()
    val delta = bloomWords(novelPinned)
    writeBloom(spark, delta.toSeq, "append", "bloom")
    delta.foreach { case (i, w) => words(i.toInt) |= w }
    novelPinned
      .select(col("fp"), col("owner"),
        substring(col("fp"), 1, pcCur).as("fp_b"))
      .repartition(col("fp_b"))
      .sortWithinPartitions(col("fp"))
      .write.mode("append").partitionBy("fp_b").parquet(dataPath)
  }

  /** The periodic maintenance pass the bucket-count tradeoff note
    * prescribes — run it between admit epochs (it must not race an
    * admit): in one pass it (1) rewrites every bucket's accumulated
    * per-batch files into ONE fp-sorted, exactly-deduplicated file —
    * repairing the at-least-once decay (replayed-batch duplicate
    * rows) and restoring the O(buckets) file count a probe must
    * list; and (2) rebuilds the Bloom file from the table itself,
    * collapsing the append-only delta log to one file whose bits are
    * exactly the stored fingerprints' (a crash that left the bloom
    * behind the data heals here). Compaction is also the moment to
    * RAISE prefixChars for a grown table (the many-directory write
    * cost is paid once per epoch here instead of every batch) and to
    * RESIZE the bloom: explicit `newBits`, or the `growBloomFactor`
    * policy, rebuilds the file wholesale at a width sized to the
    * table and persists it in the manifest.
    *
    * Crash ordering: both rewrites land in `_tmp` siblings first,
    * then swap via rename with the old generation kept as `_old`
    * until the swap completes — a crash mid-compaction leaves either
    * the old or the new generation intact, never neither. The cached
    * bitmap is rebuilt from the rewritten table so the standing gate
    * continues without a reload.
    */
  def compact(spark: SparkSession,
      newPrefixChars: Option[Int] = None,
      newBits: Option[Int] = None): Unit = {
    compactWith(spark, None, newPrefixChars, newBits)
    ()
  }

  /** [[compact]], folding in a tick's (fp, owner) `batch` rows; returns
    * the pinned (fp, owner) relation it wrote (None when there was
    * nothing to compact). */
  private def compactWith(spark: SparkSession, batch: Option[DataFrame],
      newPrefixChars: Option[Int],
      newBits: Option[Int]): Option[DataFrame] = {
    var written: Option[DataFrame] = None
    ticking(batch.map("data" -> _).toMap)(compacting(spark) { fs =>
      val hp = new org.apache.hadoop.fs.Path(s"$tableRoot/data")
      val onDisk = fs.exists(hp)
      if (newPrefixChars.isEmpty) {
        // every compaction re-derives the live width from disk,
        // directory ground truth first (see restoreLayout) — the
        // manifest can be one crash behind a widening compaction
        val m = layout(fs)
        dirWidth(fs).orElse(m.flatMap(_.get("prefix_chars")).map(_.toInt))
          .foreach(w => pcCur = w)
      }
      // bloom resize: explicit newBits wins; otherwise the
      // growBloomFactor policy sizes the width to the table (occupied
      // bits ≤ k·n, so k·n·2 ≤ bits keeps occupancy under ~50% — the
      // probe-degradation threshold the load warning names), bounded
      // at 2^28 (32 MB of driver bitmap)
      newBits.foreach { b =>
        require(isPow2(b), "bits must be a power of two")
        bitsCur = b
      }
      // self-tending width: when the largest bucket's data has outgrown
      // the configured threshold, this compaction widens the layout by
      // one hex digit (16× more, 1/16-sized buckets) — paying the
      // many-directory write here, once per epoch, exactly as the
      // bucket-count tradeoff note prescribes. Bounded at 4 hex chars
      // (65536 dirs) — past that the commit storm outweighs any probe
      // win on every filesystem this was measured on.
      val autoWiden = newPrefixChars.isEmpty && widenBucketBytes > 0L &&
        pcCur < 4 && onDisk && {
          val dirs = fs.listStatus(hp).filter(_.isDirectory)
          dirs.nonEmpty && dirs.map(d =>
            fs.listStatus(d.getPath).filter(_.isFile).map(_.getLen).sum)
            .max > widenBucketBytes
        }
      val pc = newPrefixChars.getOrElse(if (autoWiden) pcCur + 1 else pcCur)
      val stored = Option.when(onDisk)(spark.read
        .schema(StructType.fromDDL("fp STRING, owner BIGINT, fp_b STRING"))
        .parquet(hp.toString)
        .select(col("fp"), col("owner"), lit(true).as("stored")))
      val rows = (stored ++ batch.map(_.select(col("fp"), col("owner"),
        lit(false).as("stored")))).reduce(_ unionByName _)
      // exact dedup preserving OWNERSHIP: a stored fingerprint keeps its
      // stored owner (min skips nulls, so an at-least-once duplicate
      // keeps its owner and plain-admit rows stay null) — the batch's
      // holders of it were seen after it; a fingerprint only the batch
      // holds is novel and takes the batch's owner. Pinned: consumed by
      // both rewrites, and the source dirs are about to be swapped away.
      val (fps, n) = GateOps.pinCounted(rows
        .filter(col("fp").isNotNull)
        .groupBy(col("fp"))
        .agg(when(max(col("stored")),
            min(when(col("stored"), col("owner"))))
          .otherwise(min(col("owner"))).as("owner")))
      written = Some(fps)
      if (newBits.isEmpty && growBloomFactor >= 2) {
        while (k.toLong * n * 2 > bitsCur && bitsCur < (1 << 28))
          bitsCur = math.min(bitsCur.toLong * growBloomFactor,
            (1 << 28).toLong).toInt
      }
      fps
        .select(col("fp"), col("owner"),
          substring(col("fp"), 1, pc).as("fp_b"))
        .repartition(col("fp_b"))
        .sortWithinPartitions(col("fp"))
        .write.mode("overwrite").partitionBy("fp_b")
        .parquet(s"$tableRoot/data_tmp")
      val rebuilt = new Array[Long](bitsCur / 64)
      bloomWords(fps).foreach { case (i, w) => rebuilt(i.toInt) = w }
      writeBloom(spark, rebuilt.zipWithIndex.collect {
        case (w, i) if w != 0L => (i.toLong, w) }.toSeq,
        "overwrite", "bloom_tmp")
      // the width marker rides the generation swap (see
      // GateOps.writeMarker): a crash between the swaps and the
      // manifest refresh must not leave the reopened gate reading the
      // rebuilt file at a stale width
      GateOps.writeMarker(fs, s"$tableRoot/bloom_tmp", "_bits",
        bitsCur.toString)
      // compaction rewrote every artifact at THIS gate's parameters —
      // refresh the manifest once they are live, so a restart opens at
      // the new width (and compact(newBits) is the resize path)
      () => {
        words = rebuilt
        pcCur = pc
        writeLayout(fs)
      }
    })
    written
  }
}


/** The standing NEAR-dup gate over a persistent banded MinHash index —
  * [[NoveltyGate]]'s sibling with exact fingerprints generalized to
  * signature similarity, one instance per ingest stream (driver-side;
  * foreachBatch closures run on the driver). The durable memory is
  * two tables under `root`: `sigs` (id, sig — one 32-long signature
  * per seen doc, id-sorted files) and `bands` (id, band, band_hash —
  * the banded index, PARTITIONED by the band hash's low 4 bits and
  * band_hash-sorted within each file), fronted by a DRIVER-STATE
  * Bloom bitmap over the corpus' distinct band hashes.
  *
  * The bitmap is deliberately NOT persisted (unlike NoveltyGate's
  * delta-file protocol): band keys are `bands`× the doc count, so a
  * per-batch durable delta would collect and write ~16× more rows
  * than the novelty gate's every batch — instead the bitmap rebuilds
  * from the bands table in ONE aggregation at gate construction (a
  * stream-start cost, amortized over the stream's life), and each
  * batch folds its own collected hashes in-driver. That also removes
  * every crash window: the bands table is the single source of
  * truth, and a restarted gate's bitmap is exactly its content.
  * Per-batch driver transfer is the batch's distinct band hashes
  * (≤ `bands`·batch longs — micro-batch-bounded by construction).
  *
  * Gate semantics (what the ev_stream_neardup oracle replays): a doc
  * is a near-dup iff its signature agrees in ≥ minEq of numHashes
  * positions with ANY EARLIER-SEEN doc — earlier batches via the
  * persistent index (any indexed doc NOT of this batch; excluding
  * the batch's own ids is what makes an at-least-once replay
  * harmless, since a replayed batch finds its own and its
  * batchmates' bands already indexed and the exclusion removes
  * exactly those), same-batch predecessors via a smaller-id
  * self-probe. Arrival order, not id order, defines "earlier" for
  * the cross probe — under id-ordered arrival (what the file-stream
  * fixture delivers and the oracle's smaller-id SQL assumes) the two
  * definitions coincide.
  *
  * Per [[admit]], the novelty-gate cost model transplanted to bands
  * (join sides carry checkpointed size stats, so AQE broadcasts the
  * batch side whenever it is batch-sized — no forced hint that a
  * degenerate huge admit would OOM on):
  *
  *  1. the batch's distinct band hashes collect and test the bitmap
  *     IN-DRIVER (no bitmap literal ever enters a plan);
  *     bloom-negative hashes have NO corpus collision — for a
  *     mostly-novel batch that is nearly all of them, so the index
  *     is not read at all and per-batch cost is flat in corpus size;
  *  2. possible-colliding hashes (bounded by candCap, else the
  *     full-scan fallback — the dup-heavy shape where scanning is
  *     the right plan) prune the index read twice over: directory
  *     pruning on the low-4-bit bucket, then a pushed band_hash
  *     INSET that parquet row-group stats on the sorted files
  *     resolve below bucket granularity (admit raises the parquet
  *     IN-pushdown threshold for its own reads — the default 10
  *     silently degrades larger INSETs to a useless min/max range);
  *  3. candidate pair ids join the sigs table through the same
  *     collected-INSET trick for verification (signatures are
  *     fetched for the few candidates, never scanned corpus-wide);
  *  4. per-doc verdicts (id, n_cands, best_eq, is_neardup) append,
  *     the batch hashes fold into the bitmap, then bands and sigs
  *     append — on a tick of the auto-compaction clock, all three
  *     fold into the compaction's rewrite instead.
  *
  * Driver/plan hash parity: the in-driver fold and probe use
  * [[NearDupGate.bhPosDriver]], a bit-exact replica of the
  * `xxhash64(lit(i), band_hash)` chain the construction-time rebuild
  * evaluates in-plan — DedupSimilaritySpec pins the two equal, since
  * a drift would be a silent false-negative factory.
  *
  * Null-text docs carry no signature: they verdict as novel and are
  * never indexed. At-least-once decay = duplicate verdict/sig/band
  * rows; read-side censuses dedup first, and candidate pairs are
  * distinct, so no verdict changes. Bloom sizing rule as for
  * [[NoveltyGate]] but per BAND key: the index holds `bands`× more
  * keys than docs (16 by default), so size bits to 16× expected docs
  * (the ScaleProbe run uses 2^26 bits / k=12 for its 4M-band table).
  *
  * `bandKeyCap` (default 0 = off, the exact oracle semantics): the
  * one remaining unbounded term in the cost model is candidate-pair
  * VOLUME — a template-heavy corpus puts millions of docs behind one
  * hot band key, and every matching batch doc then fans out into a
  * pair per sharer; exact per-doc verdicts genuinely require those
  * pairs, so at 100 TB a deployment caps them. With the cap on, each
  * band key contributes at most `bandKeyCap` candidates per probe —
  * the `bandKeyCap` SMALLEST ids, i.e. the earliest-seen sharers
  * (deterministic, and for the self-probe it guarantees every kept
  * candidate still precedes any over-cap query doc). Shedding is
  * REPORTED, never silent (the `dd_degree_cap` stance): each verdict
  * carries `n_capped_keys`, the number of the doc's band keys whose
  * candidate list was truncated — a doc judged novel with
  * n_capped_keys > 0 is "novel among the candidates examined". The
  * cap bounds per-batch pair volume at batch·bands·bandKeyCap
  * regardless of corpus skew; the ScaleProbe `neardupcap` pair
  * measures the flat-vs-linear curve against a hot-key corpus.
  *
  * `targetKeyLoad` (default 0 = off) is the SELF-SIZING form of the
  * cap — the [[EmbedNearDupGate]]'s `targetKeyLoad` transplanted to
  * the geometry this gate actually has. The embedding gate's policy
  * WIDENS its band keyspace to spread load; a MinHash band key is a
  * 64-bit content hash with no width to widen (collision IS the
  * similarity signal), so the only load remedy is the cap, and the
  * policy's job is to decide WHEN it must engage: each
  * auto-compaction measures the hottest band key's stored-sharer
  * count (one aggregation over the distinct rows the rewrite
  * materializes anyway), and once any key's load exceeds the target
  * the live cap engages AT the target. Until that moment the gate
  * runs exact — a deployment states its per-key load budget once and
  * keeps uncapped semantics for as long as the corpus earns them.
  * Engagement is monotone (the corpus only grows; a later compaction
  * never loosens an engaged cap) and DURABLE: the engaged value
  * persists in the layout manifest as live maintenance state (the
  * pcCur discipline — restored at first open, never fail-fast
  * checked), so a restarted gate does not silently run uncapped
  * until its next compaction. An explicit `bandKeyCap` > 0 seeds the
  * live cap; the policy can only TIGHTEN it (min), mirroring how
  * `rowBits` merely seeds the embedding gate's width. The SEED is
  * per-process semantics and is NOT written to the manifest — only
  * policy engagements persist — so a later reopen with the
  * documented exact opt-out (bandKeyCap=0, targetKeyLoad=0) really
  * is exact unless an engagement is on record. The
  * StreamingStateSpec hot-key case pins convergence: under a
  * sustained hot-key stream the live cap reaches the target by the
  * first over-budget compaction and verdicts from then on equal a
  * hand-capped gate's.
  */
final class NearDupGate(root: String, numHashes: Int = 32,
    bands: Int = 16, shingleSize: Int = 1, minEq: Int = 16,
    bits: Int = 1 << 22, k: Int = Dedup.noveltyBloomK,
    candCap: Int = 100000, bandKeyCap: Int = 0,
    autoCompactEvery: Int = 0, targetKeyLoad: Int = 0)
    extends BandedGate(root,
      index = "bands",
      indexDDL = "id BIGINT, band INT, band_hash BIGINT, bh_b BIGINT",
      indexPart = "bh_b", keyDDL = "band INT, band_hash BIGINT",
      corpus = "sigs", corpusDDL = "id BIGINT, sig ARRAY<BIGINT>",
      value = Dedup.minhashSignaturePortable(_, numHashes, shingleSize),
      score = graft.functions.VecOps.arrayEqCount, scoreType = "INT",
      bestDDL = "best_eq BIGINT", noMatch = lit(0L),
      threshold = lit(minEq), candCap = candCap,
      autoCompactEvery = autoCompactEvery) {
  import org.apache.hadoop.fs.FileSystem
  import org.apache.spark.sql.{Row, SparkSession}
  require(numHashes % bands == 0, "bands must divide numHashes")
  require(targetKeyLoad >= 0, "targetKeyLoad must be >= 0")

  private var words: Array[Long] = _
  private val rows = numHashes / bands
  // the LIVE per-band-key candidate cap — 0 = exact/uncapped. The
  // targetKeyLoad policy can engage/tighten it at compactions, and
  // like pcCur/rbCur it is state the NEXT process must restore (an
  // in-memory-only cap would reset to the constructor seed on
  // restart and silently run uncapped until the next compaction).
  private var capCur: Int = bandKeyCap
  // the cap's POLICY state (0 = none on record): what targetKeyLoad
  // engagements wrote — this value and ONLY this value persists to
  // the manifest. It is tracked separately from capCur because capCur
  // is min(constructor seed, policy): persisting capCur would let a
  // one-off explicit bandKeyCap TIGHTEN the durable policy (open with
  // seed 8 on a policy-64 table, manifest rewritten to 8), making the
  // seed irreversible table state — the exact opt-out
  // (bandKeyCap=0, targetKeyLoad=0) would then inherit the seed
  // forever via tightest-wins restore.
  private var capPolicy: Int = 0

  protected def opened: Boolean = words != null
  protected def keyCap: Int = capCur
  protected def autoCompact(spark: SparkSession): Unit = compact(spark)

  /** The signature shape is pinned (a numHashes/bands/shingleSize
    * mismatch against stored sigs+bands is a silent false-negative
    * factory — stored and fresh signatures would never agree).
    * `bits`/`k` deliberately NOT pinned: the bitmap is in-memory only,
    * rebuilt from the bands table at first open through the CURRENT
    * geometry, so resizing it is free here.
    *
    * The VERDICT table's schema generation is pinned too
    * ([[GateOps.verdictSchemaVersion]]): a manifest with another
    * version, or none, fails fast instead of this reader silently
    * mis-reading verdict files it does not know. */
  protected def pins: Seq[(String, String)] =
    Seq("num_hashes" -> numHashes.toString,
      "bands" -> bands.toString, "shingle_size" -> shingleSize.toString,
      "verdict_schema" -> GateOps.verdictSchemaVersion)

  /** band_key_cap is LIVE maintenance state (the pcCur/rbCur
    * discipline), never fail-fast checked: a targetKeyLoad policy
    * engagement in a previous process must survive the restart, or
    * the gate silently runs uncapped until its next compaction. The
    * LIVE cap is tightest-wins against the constructor seed (an
    * explicit bandKeyCap can only be tightened by the persisted
    * policy value, never loosened by it); the POLICY state is the
    * manifest's own value, carried forward unchanged by later
    * refreshes (a seed may tighten this process's behavior, never
    * the table's record). */
  protected def restoreLayout(fs: FileSystem,
      m: Option[Map[String, String]]): Boolean = {
    m.flatMap(_.get("band_key_cap")).flatMap(_.toIntOption)
      .filter(_ > 0).foreach { c =>
        capCur = if (capCur > 0) math.min(capCur, c) else c
        capPolicy = c
      }
    m.isEmpty
  }

  /** Manifest refresh: the pins plus the live cap — persisted ONLY
    * when it is policy state (a targetKeyLoad engagement, now or in a
    * prior process), never the constructor seed: an absent key means
    * "no engagement on record", so exact-mode reopens stay exact and
    * a one-off explicit bandKeyCap does not become irreversible table
    * state. */
  protected def writeLayout(fs: FileSystem): Unit =
    GateLayout.write(fs, new org.apache.hadoop.fs.Path(s"$root/_layout"),
      pins ++ (if (capPolicy > 0)
          Seq("band_key_cap" -> capPolicy.toString)
        else Seq.empty))

  private def bhPosCol(bh: Column, i: Int): Column =
    xxhash64(lit(i), bh).bitwiseAND(lit((bits - 1).toLong))

  private def bhPos(bh: Long, i: Int): Long =
    NearDupGate.bhPosDriver(bh, i) & (bits - 1).toLong

  protected def mightHold(key: Row): Boolean =
    (0 until k).forall { i =>
      val pos = bhPos(key.getLong(0), i)
      (words((pos >> 6).toInt) & (1L << (pos & 63))) != 0L
    }

  protected def remember(key: Row): Unit =
    (0 until k).foreach { i =>
      val pos = bhPos(key.getLong(0), i)
      words((pos >> 6).toInt) |= (1L << (pos & 63))
    }

  // the bloom tests band hashes alone
  override protected def probeCols: Seq[String] = Seq("band_hash")

  protected def keyed(batch: DataFrame): DataFrame =
    // `_keys` (the doc's full band-hash array) rides along so the
    // uncapped self-probe can emit each candidate pair exactly once —
    // at the pair's FIRST colliding band — instead of once per
    // colliding band followed by a distinct over the (quadratic on a
    // template clique) pair volume. A null signature has null band
    // hashes.
    batch.select(col("id"), col("sig"),
        transform(sequence(lit(0), lit(bands - 1)),
          b => Dedup.bandHashExpr(col("sig"), b, lit(rows)))
          .as("_keys"))
      .select(col("id"), col("sig"), col("_keys"),
        posexplode(col("_keys")).as(Seq("band", "band_hash")))
      .filter(col("band_hash").isNotNull)

  override protected def indexRows(keys: DataFrame): DataFrame =
    keys.select(col("id"), col("band"), col("band_hash"),
      col("band_hash").bitwiseAND(lit(15L)).as("bh_b"))

  /** Possible-colliding hashes (bounded by candCap) prune the index
    * read twice over: directory pruning on the low-4-bit bucket, then
    * a pushed band_hash INSET that parquet row-group stats on the
    * sorted files resolve below bucket granularity. Past candCap the
    * index is scanned — the dup-heavy shape where scanning is the
    * right plan — and, with the cap on, restricted to the batch's own
    * keys (broadcast semi-join) BEFORE ranking: otherwise the cap
    * would rank, and report shed for, every hot key in the whole
    * index rather than the ones this batch probes. */
  protected def indexRead(spark: SparkSession, pos: Seq[Row],
      bandKeys: DataFrame): DataFrame = {
    val hashes = pos.map(_.getLong(0))
    val idx = readIndex(spark)
    if (hashes.length <= candCap)
      idx.filter(col("bh_b").isin(hashes.map(_ & 15L).distinct: _*))
        .filter(col("band_hash").isin(hashes: _*))
    else if (capCur > 0)
      idx.join(bandKeys.select(col("band"), col("band_hash")).distinct(),
        Seq("band", "band_hash"), "left_semi")
    else idx
  }

  /** Uncapped self-probe: the template-clique shape makes the
    * all-bands pair volume quadratic (sf0.1 fixture: 79M join rows
    * collapsing to 12.1M distinct pairs through a full hash
    * aggregation). Emit each pair exactly ONCE instead — at its FIRST
    * colliding band — via a codegen'd element_at chain over the
    * band-key arrays both sides already carry (a pair at band b is
    * kept iff no band b' < b had equal keys; higher-order functions
    * are deliberately avoided here — ArrayExists/ZipWith don't
    * codegen and interpret ~16x slower on this volume), and score it
    * inline from the sigs riding the same join, so neither the
    * distinct exchange nor the two pair-level sig joins exist. Result
    * multiset is identical by construction: every colliding pair has
    * exactly one minimal band. The capped path keeps the shared
    * distinct shape — its candidate set is "per-KEY rank ≤ cap",
    * where a pair shed from its minimal band can legitimately survive
    * via a later band, so first-band emission would change the
    * (oracle-pinned) capped semantics. */
  override protected def selfProbe(keyRows: DataFrame,
      bandKeys: DataFrame, selfCand: DataFrame, batchVals: DataFrame,
      maybeBroadcast: DataFrame => DataFrame): DataFrame =
    if (capCur > 0)
      super.selfProbe(keyRows, bandKeys, selfCand, batchVals,
        maybeBroadcast)
    else {
      val firstBand = (0 until bands - 1).map { i =>
        (col("q.band") <= i) ||
          !(element_at(col("q._keys"), i + 1) <=>
            element_at(col("c._keys"), i + 1))
      }.reduce(_ && _)
      keyRows.as("q")
        .join(maybeBroadcast(keyRows).as("c"),
          col("q.band") === col("c.band") &&
            col("q.band_hash") === col("c.band_hash") &&
            col("c.id") < col("q.id"))
        .filter(firstBand)
        .select(col("q.id").as("id"), col("c.id").as("cid"),
          graft.functions.VecOps.arrayEqCount(
            col("q.sig"), col("c.sig")).as("score"))
    }

  /** Rebuild the bitmap from the bands table — one aggregation over
    * the distinct stored hashes, folded through the IN-PLAN position
    * expression (the driver replica's parity partner). */
  protected def load(spark: SparkSession, fs: FileSystem): Unit = {
    words = new Array[Long](bits / 64)
    if (!exists(fs, "bands")) return
    readIndex(spark)
      .select(col("band_hash")).distinct()
      .select(posexplode(array((0 until k).map(i =>
        bhPosCol(col("band_hash"), i)): _*)).as(Seq("i", "pos")))
      .select((col("pos") / 64).cast("long").as("word_idx"),
        element_at(Dedup.bitMasksCol, (col("pos") % 64).cast("int") + 1)
          .as("m"))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(m)").as("word"))
      .collect().foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    val occupied = words.foldLeft(0L)((a, w) => a + java.lang.Long.bitCount(w))
    if (occupied * 2 > bits) System.err.println(
      s"[neardup-gate] bloom ${occupied * 100 / bits}% occupied for " +
        s"$root — probes degrade to index scans; resize bits ($bits) " +
        s"to ~${bands}x expected docs")
  }

  def admit(batch: DataFrame, idCol: String, textCol: String): Unit = {
    runAdmit(batch, idCol, textCol, pin = false)
    ()
  }

  /** Per-doc form of [[admit]] for pipeline composition
    * (ev_stream_curate): identical state transition, returning the
    * localCheckpointed verdict frame it appended —
    * (id, n_cands, best_eq, is_neardup, n_capped_keys). Plain
    * [[admit]] skips that pin (the write is its only consumer). */
  def admitScored(batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    runAdmit(batch, idCol, textCol, pin = true)

  /** Epoch maintenance, mirroring [[NoveltyGate.compact]] through the
    * shared [[BandedGate]] compaction: the band index rewrites to one
    * band_hash-sorted, exactly-deduplicated file per bucket. The
    * cached bloom needs NO rebuild: deduplication cannot change the
    * distinct band-hash set. */
  def compact(spark: SparkSession): Unit = compactBanded(spark) { fs =>
    val distinctBands = readIndex(spark)
      .select(col("id"), col("band"), col("band_hash")).distinct()
      // pinned: consumed by the rewrite AND (policy on) the hot-key
      // load measurement, and the source dirs are about to be swapped
      .localCheckpoint()
    // targetKeyLoad policy (see the class scaladoc): measure the
    // hottest band key's stored-sharer count on the distinct rows the
    // rewrite materializes anyway; once it exceeds the target, the
    // cap engages AT the target — monotone (only ever tightens) and
    // durable (manifest-persisted below). The skip condition is the
    // POLICY state, not the live cap: a process whose constructor
    // seed is tighter than the target still behaves capped locally,
    // but the TABLE has no engagement on record — skipping the
    // measurement then would leave a genuinely hot table policy-less
    // forever, and a later exact reopen (seed gone, nothing
    // persisted) would run uncapped against it. Once the policy is
    // at/under the target no further tightening is possible and the
    // aggregation really is pure cost.
    if (targetKeyLoad > 0 &&
        (capPolicy <= 0 || capPolicy > targetKeyLoad)) {
      val maxLoad = distinctBands
        .groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
      if (maxLoad > targetKeyLoad) {
        // monotone policy tightening: a later engagement never
        // loosens what an earlier one (possibly another process's,
        // restored at open) put on record. The live cap stays
        // tightest-wins against the seed.
        capPolicy =
          if (capPolicy > 0) math.min(capPolicy, targetKeyLoad)
          else targetKeyLoad
        capCur =
          if (capCur > 0) math.min(capCur, targetKeyLoad)
          else targetKeyLoad
        System.err.println(
          s"[neardup-gate] hottest band key holds $maxLoad sharers " +
            s"(> targetKeyLoad=$targetKeyLoad) for $root — engaging " +
            s"bandKeyCap=$capPolicy (live cap $capCur); shed is " +
            "reported per-verdict in n_capped_keys")
        writeLayout(fs)
      }
    }
    writeIndex(distinctBands, "overwrite", "bands_tmp")
    () => ()
  }
}

object NearDupGate {
  /** Bit-exact driver replica of the in-plan `xxhash64(lit(i), bh)`
    * chain (XxHash64 folds each argument with the running hash as
    * seed, starting from the function's 42L default) — pinned equal
    * to the Column form by DedupSimilaritySpec. */
  private[graft] def bhPosDriver(bh: Long, i: Int): Long = {
    val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashInt(i, 42L)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(bh, h1)
  }
}
