package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Single-query top-k ([[cosineTopK]], [[annTopK]], [[ivfTopK]]) is one
  * scan with a per-row dot-product fold and a final
  * TakeOrderedAndProject.
  *
  * The k-NN joins (every query against the corpus) share one skeleton:
  * candidate generation, then an optional exact rerank, then a grouped
  * top-k (partial per-partition GroupedTopK heaps, one exchange, final
  * heaps). The query side broadcasts; the corpus is scored in place.
  * The candidate generators:
  *  - exact: every (corpus, query) pair — [[knnJoinExact]];
  *  - LSH bucket: pairs sharing a random-hyperplane sign-pattern bucket
  *    (candidates ≈ n / 2^bits) — [[knnJoinLsh]], its int8-quantized
  *    corpus form [[knnJoinLshQ8]], and [[knnJoinLshMultiProbe]], which
  *    also probes every single-bit-flip bucket;
  *  - IVF cells: each query's `nprobe` nearest coarse cells —
  *    [[knnJoinIvf]];
  *  - IVF-PQ ADC: compressed-domain scores inside the probed cells,
  *    reranked exactly — [[knnJoinIvfPq]], [[knnJoinIvfPqResidual]],
  *    and the persisted index's [[AnnIndex.probe]];
  *  - JL projection: exact cosine in a projected space, reranked
  *    exactly — [[knnJoinRerank]].
  * The two recall tuners, [[knnJoinIvfAtRecall]] (nprobe dial) and
  * [[knnJoinIvfPqAtRecall]] (shortlist dial), share one stopping rule
  * that picks the smallest dial reaching a recall target.
  */
object Similarity {

  /** Deterministic unit-free random hyperplanes (seeded). */
  private def hyperplanes(bits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** The hyperplane table as DuckDB VALUES rows `(i, [d0, d1, ...])` —
    * oracle SQL embeds these literals so an external engine can replay
    * the sign-pattern bucketing exactly. Double.toString is the
    * shortest round-trip form, so parsing it back yields the identical
    * bits.
    */
  def hyperplaneSqlValues(bits: Int, dim: Int, seed: Long = 7L): String =
    hyperplanes(bits, dim, seed).zipWithIndex
      .map { case (h, i) => s"($i, [${h.mkString(", ")}])" }
      .mkString(", ")

  /** Dot product of a vector column against a constant vector, via the
    * codegen'd [[graft.functions.ArrayDot]] expression (bit-identical
    * left fold; see [[dotHof]] for the HOF oracle formulation).
    */
  def dotConst(vec: Column, const: Seq[Double]): Column =
    graft.functions.VecOps.arrayDot(vec, typedLit(const))

  /** Johnson–Lindenstrauss random projection: `proj` = the k dot
    * products of the vector against the pinned Gaussian planes (same
    * seeded table the LSH family uses; [[hyperplaneSqlValues]] embeds
    * it in oracle SQL). Plain per-row arithmetic — scan-speed, no
    * shuffle, codegen'd folds. E‖proj‖² = k·‖v‖², so distances scale
    * by k in expectation; at 100 TB this is the cheap width-reduction
    * stage (64→16 dims = 4× fewer vector bytes into every downstream
    * distance operator) whose error the sim_random_projection census
    * measures rather than asserts.
    */
  def randomProjection(df: DataFrame, vecCol: String, k: Int, dim: Int,
      seed: Long = 7L): DataFrame =
    df.withColumn("proj", projection(col(vecCol), k, dim, seed))

  private def projection(vec: Column, k: Int, dim: Int,
      seed: Long): Column =
    array(hyperplanes(k, dim, seed).map(h => dotConst(vec, h)): _*)

  /** Dot product of two vector columns (codegen'd). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VecOps.arrayDot(a, b)

  /** The composed-built-ins dot product ArrayDot replaced — kept as
    * its independent test oracle (DedupSimilaritySpec asserts bit
    * equality on real vectors): zip_with pads unequal lengths with
    * null and the cast products null-propagate, which is exactly
    * ArrayDot's null contract.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, p) => acc + p)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force exact cosine top-k against a query vector. */
  def cosineTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame =
    queryTopK(embeddings, idCol, vecCol, query, k)

  /** Exact cosine of every row against one driver-side query vector,
    * then the top k by cosine (id ascending on ties), `extra` columns
    * carried along. */
  private def queryTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, extra: Column*): DataFrame = {
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    df.select(Seq(col(idCol), (dotConst(col(vecCol), query) /
        (norm(col(vecCol)) * lit(qNorm))).as("cosine")) ++ extra: _*)
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Sign-pattern LSH bucket id for each vector (int, `bits` wide). */
  def lshBucket(vec: Column, bits: Int, dim: Int, seed: Long = 7L): Column =
    hyperplanes(bits, dim, seed).zipWithIndex.map { case (h, i) =>
      when(dotConst(vec, h) >= 0.0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_.bitwiseOR(_))

  /** Attach LSH buckets — the materialization step. At scale, write
    * this out partitioned by `bucket`.
    */
  def withLshBucket(embeddings: DataFrame, vecCol: String, bits: Int,
      dim: Int, seed: Long = 7L): DataFrame =
    embeddings.withColumn("bucket", lshBucket(col(vecCol), bits, dim, seed))

  /** ANN top-k: probe the query's bucket only, then exact cosine within
    * it. Returns (id, cosine, bucket).
    */
  def annTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, bits: Int, seed: Long = 7L): DataFrame = {
    val dim = query.length
    val planes = hyperplanes(bits, dim, seed)
    val qBucket = planes.zipWithIndex.map { case (h, i) =>
      if (h.zip(query).map { case (a, b) => a * b }.sum >= 0.0) 1 << i else 0
    }.reduce(_ | _)
    queryTopK(withLshBucket(embeddings, vecCol, bits, dim, seed)
      .filter(col("bucket") === qBucket), idCol, vecCol, query, k,
      col("bucket"))
  }

  /** IVF (inverted-file) coarse quantizer, trained on a bounded sample.
    *
    * A coarse quantizer needs only a representative sample, never the
    * corpus: ONE deterministic bounded collect (hash-ordered top-k — a
    * single narrow TakeOrdered pass, no shuffle of the full table),
    * then Lloyd's iterations run driver-local over ≤ sampleSize
    * vectors. At 100 TB this is the difference between an O(sample)
    * setup step and `iters` full-corpus explode+shuffle+collect rounds
    * (the previous formulation). The trained centroids then feed
    * `withIvfCell`/`ivfTopK`, whose per-row assignment stays fully
    * distributed.
    *
    * Tie-breaking matches ivfAssignment (strict-less argmin in index
    * order), so sample assignment == query-path assignment.
    */
  def trainIvfCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, nlist: Int, iters: Int = 5,
      sampleSize: Int = 10000): Seq[Seq[Double]] = {
    val sample = vecSample(embeddings, idCol, vecCol, sampleSize)
    require(sample.nonEmpty, "cannot train IVF centroids on empty input")
    lloydIters(sample, nlist, iters, dim)
  }

  /** Bounded hash-ordered driver-side vector sample — the shared
    * front of both quantizer trainers (deterministic: xxhash64 order
    * with id tiebreak, so the same table always yields the same
    * sample regardless of layout).
    */
  private def vecSample(embeddings: DataFrame, idCol: String,
      vecCol: String, sampleSize: Int): Array[Array[Double]] =
    embeddings
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleSize)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Lloyd's k-means over a driver-side sample, init = first k sample
    * vectors, empty cells keep their centroid. Extracted verbatim
    * from [[trainIvfCentroids]] so the PQ sub-space trainer reuses
    * the identical loop (per-centroid norms hoisted — they were ~half
    * the inner loop's FLOPs).
    */
  private def lloydIters(sample: Array[Array[Double]], k: Int,
      iters: Int, dim: Int): Seq[Seq[Double]] = {
    var centroids: Array[Array[Double]] = sample.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val cNorms = centroids.map { c =>
        var cn = 0.0; var p = 0
        while (p < dim) { cn += c(p) * c(p); p += 1 }
        cn
      }
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        var best = -1; var bestD = Double.MaxValue
        var i = 0
        while (i < centroids.length) {
          val c = centroids(i)
          var d = 0.0
          var p = 0
          while (p < dim) { d += v(p) * c(p); p += 1 }
          val dist = cNorms(i) - 2.0 * d
          if (dist < bestD) { bestD = dist; best = i }
          i += 1
        }
        counts(best) += 1
        var p = 0
        while (p < dim) { sums(best)(p) += v(p); p += 1 }
      }
      centroids = centroids.indices.map { i =>
        if (counts(i) == 0) centroids(i)
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    centroids.map(_.toSeq).toSeq
  }

  /** Product-quantization codebooks (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11 — public
    * literature): the vector splits into `m` contiguous sub-spaces of
    * dim/m dimensions and each sub-space trains its own
    * `ksub`-centroid codebook with the SAME bounded hash-ordered
    * driver sample and Lloyd loop as [[trainIvfCentroids]]. Returns
    * codebooks(j)(c) = centroid c of sub-space j.
    */
  def trainPqCodebooks(embeddings: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, ksub: Int, iters: Int = 5,
      sampleSize: Int = 10000): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0,
      s"dim $dim must split evenly into m=$m sub-spaces")
    val dsub = dim / m
    val sample = vecSample(embeddings, idCol, vecCol, sampleSize)
    require(sample.nonEmpty, "cannot train PQ codebooks on empty input")
    (0 until m).map { j =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      lloydIters(sub, ksub, iters, dsub)
    }
  }

  /** PQ codes: array<int> of length m (0-based codes), code_j =
    * argmin over the sub-space codebook of |c|² − 2·(sub_j·c), index
    * tiebreak — the declarative struct-sort [[ivfProbes]] uses, NOT
    * [[ivfAssignment]]'s when-fold: the fold duplicates its
    * accumulator per step, which is fine at nlist=4 but builds a
    * ~2^ksub expression tree at ksub=16 (Catalyst analysis hangs).
    * array_sort on (d, i) structs matches the strict-less first-index
    * argmin exactly. Pure per-row expression arithmetic: at 100 TB
    * the encoded corpus (cell + m small codes + one norm) is written
    * ONCE and is ~(4·dim)/m× smaller than the float corpus — the
    * table an ADC scan keeps hot.
    */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val dsub = codebooks.head.head.length
    array(codebooks.zipWithIndex.map { case (book, j) =>
      val sub = slice(vec, j * dsub + 1, dsub)
      val ds = book.zipWithIndex.map { case (c, ci) =>
        val cNorm = c.map(x => x * x).sum
        struct((lit(cNorm) - lit(2.0) * dotConst(sub, c)).as("d"),
          lit(ci).as("i"))
      }
      element_at(array_sort(array(ds: _*)), 1).getField("i")
    }: _*)
  }

  /** Per-query ADC lookup table: array<double> of length m·ksub with
    * lut[j·ksub + c] = sub_j · codebook(j)(c). Computed ONCE per
    * query on the broadcast side; scoring a corpus row is then m
    * array lookups instead of a dim-long dot product.
    */
  def pqLut(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val dsub = codebooks.head.head.length
    array(codebooks.zipWithIndex.flatMap { case (book, j) =>
      val sub = slice(vec, j * dsub + 1, dsub)
      book.map(c => dotConst(sub, c))
    }: _*)
  }

  /** ADC approximate dot product: init + Σ_j lut[j·ksub + codes_j],
    * folded in sub-space order — bit-identical to an ordered
    * list_reduce over list_prepend(init, lookups) (the oracle's
    * formulation). `init` is 0.0 for raw-vector codes and the
    * query·centroid term for residual codes.
    */
  def adcDot(lut: Column, codes: Column, m: Int, ksub: Int,
      init: Column = lit(0.0)): Column =
    (0 until m).foldLeft(init) { (acc, j) =>
      acc + element_at(lut,
        (lit(j * ksub) + element_at(codes, j + 1) + lit(1)).cast("int"))
    }

  /** The residual a corpus vector leaves against its assigned coarse
    * centroid, as a double array: residual = v − centroid(cell).
    * The column every residual-PQ code is computed over.
    */
  def residualCol(vec: Column, centroids: Seq[Seq[Double]],
      cell: Column): Column =
    zip_with(vec,
      element_at(typedLit(centroids), (cell + lit(1)).cast("int")),
      (a, b) => a.cast("double") - b)

  /** Residual-PQ codebooks — the production IVF-PQ form (Jégou et
    * al., TPAMI'11 §IV): sub-space codebooks are trained on v −
    * centroid(cell) instead of the raw vector, so each codebook
    * models the (much lower-variance) within-cell displacement and
    * the same ksub spends its precision where the data actually
    * varies. Same bounded hash-ordered driver sample; assignment uses
    * the identical cnorm − 2·dot argmin as [[ivfAssignment]].
    */
  def trainPqResidualCodebooks(embeddings: DataFrame, idCol: String,
      vecCol: String, dim: Int, centroids: Seq[Seq[Double]], m: Int,
      ksub: Int, iters: Int = 5, sampleSize: Int = 10000)
      : Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0,
      s"dim $dim must split evenly into m=$m sub-spaces")
    val dsub = dim / m
    val cents = centroids.map(_.toArray).toArray
    val cNorms = cents.map(c => c.map(x => x * x).sum)
    val sample = vecSample(embeddings, idCol, vecCol, sampleSize)
    require(sample.nonEmpty,
      "cannot train residual PQ codebooks on empty input")
    val residuals = sample.map { v =>
      var best = -1; var bestD = Double.MaxValue
      cents.indices.foreach { i =>
        var d = 0.0
        v.indices.foreach(p => d += v(p) * cents(i)(p))
        val dist = cNorms(i) - 2.0 * d
        if (dist < bestD) { bestD = dist; best = i }
      }
      v.indices.map(p => v(p) - cents(best)(p)).toArray
    }
    (0 until m).map { j =>
      val sub = residuals.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      lloydIters(sub, ksub, iters, dsub)
    }
  }

  // ------------------------------------------------------------------
  // The kNN-join skeleton. Every knnJoin* (and AnnIndex.probe*) is a
  // candidate generator composed with these: candidates → optional
  // exact rerank → grouped top-k, all sides named (corpus_id, _cv, _cn)
  // and (query_id, _qv, _qn).
  // ------------------------------------------------------------------

  /** `k ≥ 1` and `shortlist ≥ k`: the dial checks of every join (a join
    * without a shortlist passes `k`). `nprobe ≥ 1` is checked where the
    * probes are cut, in [[probedCells]]. */
  private[operators] def requireDials(k: Int, shortlist: Int): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
  }

  /** The corpus side: (corpus_id, _cv, extra…, _cn). `vec` and `extra`
    * are evaluated over `df`, so a join can bucket the raw vector while
    * scoring a transformed one. */
  private def corpusSide(df: DataFrame, idCol: String, vec: Column,
      extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as("corpus_id"), vec.as("_cv")) ++ extra: _*)
      .withColumn("_cn", norm(col("_cv")))

  /** The query side: (query_id, _qv, extra…, _qn). */
  private def querySide(df: DataFrame, idCol: String, vec: Column,
      extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as("query_id"), vec.as("_qv")) ++ extra: _*)
      .withColumn("_qn", norm(col("_qv")))

  /** Exact cosine of a joined (corpus, query) pair — per-row norms are
    * computed once per side, not per pair. */
  private def exactCosine: Column =
    (dot(col("_cv"), col("_qv")) / (col("_cn") * col("_qn"))).as("cosine")

  /** Top `n` rows per group by `score`, `corpus_id` breaking ties, both
    * descending: a PARTIAL per-partition GroupedTopK heap pass reduces
    * each partition to ≤ groups×n rows before the single exchange, and
    * the FINAL pass keeps the true top-n. */
  private def topK(df: DataFrame, score: String, n: Int,
      groups: Seq[String] = Seq("query_id")): DataFrame =
    graft.plans.GroupedTopK.combined(df, groups, Seq(score, "corpus_id"),
      descending = true, n)

  /** Exact cosine over candidate pairs, top-k per query. */
  private def topKCosine(pairs: DataFrame, k: Int): DataFrame = {
    requireDials(k, k)
    topK(pairs.select(col("query_id"), col("corpus_id"), exactCosine),
      "cosine", k)
  }

  /** A shortlist's (query_id, corpus_id, carry…) pairs joined back to
    * the full vectors and the broadcast query side. `vecSide` is
    * (corpus_id, vector, norm) in that order, under any names (the
    * persisted index keeps its stored ones); they are renamed to _cv /
    * _cn after the join, where the rename costs no operator. */
  private def withVectors(shortlist: DataFrame, vecSide: DataFrame,
      qSide: DataFrame, carry: String*): DataFrame = {
    val Array(_, v, n) = vecSide.columns
    shortlist.select((Seq("query_id", "corpus_id") ++ carry).map(col): _*)
      .join(vecSide, "corpus_id")
      .join(broadcast(qSide), "query_id")
      .withColumnsRenamed(Map(v -> "_cv", n -> "_cn"))
  }

  /** The exact rerank: a shortlist rescored with full vectors. */
  private def rerank(shortlist: DataFrame, vecSide: DataFrame,
      qSide: DataFrame, k: Int): DataFrame =
    topKCosine(withVectors(shortlist, vecSide, qSide), k)

  /** A query's `nprobe` nearest cells, one row each — the IVF candidate
    * cut of every IVF join and of the persisted index's probes. */
  private[operators] def probedCells(vec: Column,
      centroids: Seq[Seq[Double]], nprobe: Int): Column = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe — 0 would " +
      "read as 'no neighbors exist'")
    explode(ivfProbes(vec, centroids, nprobe))
  }

  /** The corpus encoded with an IVF-PQ quantizer —
    * (corpus_id, _cv, _cell, _codes, _cn) — the ONE encode the inline
    * IVF-PQ joins and the persisted index's build/append
    * ([[AnnIndex]]) share, so the two cannot drift. Residual codes
    * quantize v − centroid(cell). */
  private[operators] def encodedCorpus(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], residual: Boolean = false): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "codebooks must be non-empty")
    val cell = ivfAssignment(col(vecCol), centroids)
    if (!residual) corpusSide(corpus, idCol, col(vecCol), cell.as("_cell"),
      pqEncode(col(vecCol), books).as("_codes"))
    else corpusSide(corpus.withColumn("_cell", cell), idCol, col(vecCol),
      col("_cell"), pqEncode(residualCol(col(vecCol), centroids,
        col("_cell")), books).as("_codes"))
  }

  /** The encoded corpus as the two sides [[ivfPqJoin]] takes: codes
    * (_cell, corpus_id, _codes, _cn) and vectors (corpus_id, _cv,
    * _cn). */
  private def encodedSides(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      residual: Boolean): (DataFrame, DataFrame) = {
    val c = encodedCorpus(corpus, idCol, vecCol, centroids, books, residual)
    (c.select(col("_cell"), col("corpus_id"), col("_codes"), col("_cn")),
      c.select(col("corpus_id"), col("_cv"), col("_cn")))
  }

  /** The broadcast side of the ADC scan: (_cell, query_id, _lut, _qn),
    * one row per probed cell, with each query's ADC lookup table. The
    * residual form adds `_qc`, the query's dot with every centroid. */
  private def adcQueries(queries: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      nprobe: Int, residual: Boolean): DataFrame = {
    val q = querySide(queries, idCol, col(vecCol))
      .withColumn("_lut", pqLut(col("_qv"), books))
    val qc = if (!residual) q else q.withColumn("_qc",
      array(centroids.map(cen => dotConst(col("_qv"), cen)): _*))
    qc.withColumn("_cell", probedCells(col("_qv"), centroids, nprobe))
      .select((Seq("_cell", "query_id", "_lut") ++
        (if (residual) Seq("_qc") else Nil) :+ "_qn").map(col): _*)
  }

  /** The IVF-PQ candidate scan: `codesSide` — compressed rows only, no
    * full vectors: (_cell, corpus_id, codes, norm) in that order, the
    * last two under any names — joined to the broadcast probed-cell
    * queries, scored adcDot/(|c|·|q|) and cut to each query's top `n`.
    * `init` is the residual form's query·centroid term. */
  private def adcShortlist(codesSide: DataFrame, q: DataFrame,
      books: Seq[Seq[Seq[Double]]], n: Int,
      init: Column = lit(0.0)): DataFrame = {
    val Array(_, _, codes, cn) = codesSide.columns
    topK(codesSide.join(broadcast(q), "_cell")
        .select(col("query_id"), col("corpus_id"),
          (adcDot(col("_lut"), col(codes), books.length, books.head.length,
            init) / (col(cn) * col("_qn"))).as("adc_cosine")),
      "adc_cosine", n)
  }

  /** IVF-PQ candidates, then the exact rerank of each query's
    * `shortlist`, over INJECTED sides — the inline joins pass a freshly
    * encoded corpus, [[AnnIndex.probe]] partition-pruned reads of its
    * stored codes and vectors, so the two cannot drift. */
  private[operators] def ivfPqJoin(codesSide: DataFrame,
      vecSide: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], nprobe: Int, shortlist: Int,
      residual: Boolean = false): DataFrame = {
    requireDials(k, shortlist)
    val init = if (!residual) lit(0.0)
      else element_at(col("_qc"), (col("_cell") + lit(1)).cast("int"))
    rerank(adcShortlist(codesSide, adcQueries(queries, idCol, vecCol,
        centroids, books, nprobe, residual), books, shortlist, init),
      vecSide, querySide(queries, idCol, col(vecCol)), k)
  }

  /** The shortlist dial both IVF-PQ recall tuners calibrate over —
    * `shortlists`, or k, 2k, 4k, 8k — sorted, and validated with the
    * recall target. */
  private[operators] def shortlistLadder(k: Int, shortlists: Seq[Int],
      targetX100: Int): Seq[Int] = {
    require(targetX100 >= 1 && targetX100 <= 100,
      s"targetX100 in [1,100], got $targetX100")
    val ss = (if (shortlists.nonEmpty) shortlists
      else Seq(k, 2 * k, 4 * k, 8 * k)).distinct.sorted
    requireDials(k, ss.head)
    ss
  }

  /** The stopping rule of every recall tuner: count each dial value's
    * `curve` pairs that hit the `exact` top-k, choose the SMALLEST dial
    * whose recall reaches targetX100/100 (else `fallback`, the most
    * exhaustive), and return its pairs with the measured recall ×1000
    * (integer-exact). LEFT join + coalesce: a chosen dial with ZERO hits
    * (possible only on the fallback path — adversarial vectors where
    * even the most exhaustive setting retrieves none of the true top-k)
    * has no row in `hits`; an inner join would silently return an EMPTY
    * result instead of best-effort pairs with recall_x1000 = 0. */
  private def pickDial(curve: DataFrame, dialCol: String,
      exact: DataFrame, targetX100: Int, fallback: Int): DataFrame = {
    val exactN = exact.agg(count(lit(1)).as("_n_exact"))
    val hits = curve.join(exact, Seq("query_id", "corpus_id"))
      .groupBy(col(dialCol)).agg(count(lit(1)).as("_hits"))
    val chosen = hits.crossJoin(broadcast(exactN))
      .filter(col("_hits") * 100 >=
        lit(targetX100.toLong) * col("_n_exact"))
      .agg(coalesce(min(col(dialCol)), lit(fallback)).as("_chosen"))
    curve.join(broadcast(chosen), col(dialCol) === col("_chosen"))
      .join(broadcast(hits), Seq(dialCol), "left")
      .withColumn("_hits", coalesce(col("_hits"), lit(0L)))
      .crossJoin(broadcast(exactN))
      .select(col("query_id"), col("corpus_id"), col("cosine"),
        col(dialCol), expr("_hits * 1000 div _n_exact").as("recall_x1000"))
  }

  /** The sample mode of every recall tuner (inline IVF, inline IVF-PQ,
    * and the persisted index's probe): calibrate through the caller's
    * own in-plan path on a seeded hash-ordered query subset, read the
    * dial and measured recall off one row (falling back to `fallback`
    * with recall 0 when the calibration returns nothing), then answer
    * ALL queries through `join` at that dial, every row carrying the
    * sample-measured recall. One implementation so the sampling contract
    * cannot drift between callers. */
  private[operators] def sampleDial(queries: DataFrame, idCol: String,
      sampleQueries: Int, dialCol: String, fallback: Int,
      calibrate: DataFrame => DataFrame)(
      join: Int => DataFrame): DataFrame = {
    val qs = queries.orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleQueries)
    val (dial, recall) = calibrate(qs)
      .select(col(dialCol), col("recall_x1000"))
      .limit(1).collect().headOption
      .map(r => (r.getInt(0), r.getLong(1)))
      .getOrElse((fallback, 0L))
    join(dial).withColumn(dialCol, lit(dial))
      .withColumn("recall_x1000", lit(recall))
  }

  /** IVF-PQ join at a DECLARED recall target — the shortlist dial
    * turned automatically, the PQ counterpart of
    * [[knnJoinIvfAtRecall]]'s nprobe dial (a user needs "give me
    * ≥0.9", not a number to stare at). The calibration economy
    * differs from the nprobe sweep and is much cheaper: the ADC
    * ranking is computed ONCE at the LARGEST candidate shortlist and
    * every smaller shortlist's reranked top-k derives from rank
    * prefixes of that one table — no re-scoring per curve point. The
    * candidate set (≤ |queries|·max(shortlists) rows) is exact-scored
    * once and localCheckpointed (two consumers: the curve and the
    * returned pairs), the exact top-k baseline once (as in the nprobe
    * sweep). Picks the SMALLEST shortlist whose measured recall
    * reaches targetX100/100 (fallback: the largest), returning its
    * pairs with the chosen shortlist and measured recall ×1000
    * (integer-exact) on every row.
    *
    * `sampleQueries > 0` is the 100 TB posture made EXECUTABLE (not
    * advice in a doc comment): the whole calibration — exact ground
    * truth included, the O(|corpus|·|queries|) term — runs on a
    * seeded deterministic query subset (hash-ordered with id
    * tiebreak, the same sampling contract as the quantizer trainers),
    * the dial read off it is applied to ALL queries through the plain
    * [[knnJoinIvfPq]], and every returned row carries the
    * sample-measured recall. The dial choice is the in-plan
    * calibration itself run on the sample — one code path, so the
    * sample-chosen dial cannot drift from the full-set rule (the
    * property the spec pins). 0 (default) keeps the original
    * calibrate-on-everything shape.
    */
  def knnJoinIvfPqAtRecall(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      nprobe: Int = 2, shortlists: Seq[Int] = Seq.empty,
      targetX100: Int = 90, sampleQueries: Int = 0): DataFrame = {
    // the ladder (and its validation) is computed ONCE, above the
    // sample branch — the sample path's fallback must use the same
    // rule as the in-plan path or the two could silently drift
    val ss = shortlistLadder(k, shortlists, targetX100)
    if (sampleQueries > 0)
      return sampleDial(queries, idCol, sampleQueries, "shortlist",
        ss.last, qs => knnJoinIvfPqAtRecall(corpus, qs, idCol, vecCol, k,
          centroids, codebooks, nprobe, ss, targetX100, 0))(
        s => knnJoinIvfPq(corpus, queries, idCol, vecCol, k, centroids,
          codebooks, nprobe, s))
    val (codes, vecs) = encodedSides(corpus, idCol, vecCol, centroids,
      codebooks, residual = false)
    ivfPqAtRecallCore(codes, vecs,
      knnJoinExact(corpus, queries, idCol, vecCol, k)
        .select(col("query_id"), col("corpus_id")),
      queries, idCol, vecCol, k, centroids, codebooks, nprobe, ss,
      targetX100)
  }

  /** The shortlist-dial calibration shared by the inline
    * [[knnJoinIvfPqAtRecall]] and the persisted index's
    * [[AnnIndex.probeAtRecall]] — the encoded corpus, the rerank
    * vectors, and the exact baseline are INJECTED as in [[ivfPqJoin]].
    * `codesSide` and `vecSide` as in [[adcShortlist]] and
    * [[withVectors]]; `exactPairs` = the exact top-k (query_id,
    * corpus_id) baseline over the same corpus. */
  private[operators] def ivfPqAtRecallCore(codesSide: DataFrame,
      vecSide: DataFrame, exactPairs: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      nprobe: Int, ss: Seq[Int], targetX100: Int): DataFrame = {
    // rank within the top-max(ss) candidates only (the ADC shortlist
    // bounds the window's input to |queries|·max(ss) rows before it runs)
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_cosine").desc, col("corpus_id").desc)
    val cand = adcShortlist(codesSide, adcQueries(queries, idCol, vecCol,
        centroids, codebooks, nprobe, residual = false), codebooks, ss.last)
      .withColumn("adc_rank", row_number().over(rankW))
    // exact cosine ONCE per surviving candidate; every curve point
    // reads this bounded artifact
    val scored = withVectors(cand, vecSide,
        querySide(queries, idCol, col(vecCol)), "adc_rank")
      .select(col("query_id"), col("corpus_id"), col("adc_rank"),
        exactCosine)
      .localCheckpoint()
    val curve = scored.withColumn("s", explode(array(ss.map(lit(_)): _*)))
      .filter(col("adc_rank") <= col("s"))
    pickDial(topK(curve, "cosine", k, Seq("s", "query_id")), "s",
        exactPairs.localCheckpoint(), targetX100, ss.last)
      .select(col("query_id"), col("corpus_id"), col("cosine"),
        col("s").cast("int").as("shortlist"), col("recall_x1000"))
  }

  /** Residual-encoded IVF-PQ k-NN join — [[knnJoinIvfPq]] with the
    * TPAMI'11 §IV refinement wired in: corpus codes quantize the
    * RESIDUAL v − centroid(cell), and ADC reconstructs dot(q, v) ≈
    * dot(q, centroid(cell)) + Σ_j lut[code_j]. The centroid term is
    * per (query, probed cell) — one lookup into the query's
    * precomputed centroid-dot array, paid once per candidate row —
    * and the LUT is the same m·ksub table shape as the raw form.
    * Everything else (compressed-corpus candidate scan, broadcast
    * queries, GroupedTopK shortlist, exact rerank) is identical.
    */
  def knnJoinIvfPqResidual(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Seq[Seq[Double]], resBooks: Seq[Seq[Seq[Double]]],
      nprobe: Int = 2, shortlist: Int = 50): DataFrame = {
    val (codes, vecs) = encodedSides(corpus, idCol, vecCol, centroids,
      resBooks, residual = true)
    ivfPqJoin(codes, vecs, queries, idCol, vecCol, k, centroids, resBooks,
      nprobe, shortlist, residual = true)
  }

  /** IVF-PQ k-NN join (Jégou et al., TPAMI'11) — the 100 TB ANN
    * memory path. The candidate scan reads only the COMPRESSED corpus
    * (cell, m codes, exact norm — no full vectors): queries broadcast
    * with their per-query ADC lookup table, candidate cosine is
    * approximated as adcDot/(|c|·|q|) inside the probed cells, and
    * the per-query `shortlist` (ADC order) is reranked with exact
    * cosine by joining full vectors back for shortlist ids only. At
    * scale the compressed table (written once via [[pqEncode]],
    * partitioned by cell) stays hot while the float table is read at
    * shortlist/|corpus| selectivity. Codes quantize the RAW vector —
    * residual-vs-centroid encoding is the production refinement,
    * omitted here so the DuckDB oracle replays the exact arithmetic
    * term for term.
    */
  def knnJoinIvfPq(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]], nprobe: Int = 2,
      shortlist: Int = 50): DataFrame = {
    val (codes, vecs) = encodedSides(corpus, idCol, vecCol, centroids,
      codebooks, residual = false)
    ivfPqJoin(codes, vecs, queries, idCol, vecCol, k, centroids, codebooks,
      nprobe, shortlist)
  }

  /** Attach the IVF cell assignment — the materialization step
    * mirroring withLshBucket. At scale, write the result partitioned by
    * `cell` so ivfTopK probes become partition-pruned scans.
    */
  def withIvfCell(embeddings: DataFrame, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    embeddings.withColumn("cell", ivfAssignment(col(vecCol), centroids))

  /** Nearest-centroid index per vector: argmin of −2·v·c + |c|²
    * (the |v|² term is constant per row). One fold, no shuffle.
    */
  def ivfAssignment(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val best = centroids.zipWithIndex.foldLeft(
      struct(lit(Double.MaxValue).as("d"), lit(-1).as("i"))) {
      case (acc, (c, i)) =>
        val cNorm = c.map(x => x * x).sum
        val d = lit(cNorm) - lit(2.0) * dotConst(vec, c)
        when(d < acc.getField("d"),
          struct(d.as("d"), lit(i).as("i"))).otherwise(acc)
    }
    best.getField("i")
  }

  /** The nprobe cells nearest a concrete (driver-side) query vector —
    * the probe set ivfTopK scans; exposed so sweeps can report the
    * scanned-row cost of each nprobe alongside its recall.
    */
  def probeCells(query: Seq[Double], centroids: Seq[Seq[Double]],
      nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      val d = c.map(x => x * x).sum -
        2.0 * c.zip(query).map { case (a, b) => a * b }.sum
      (d, i)
    }.sortBy(_._1).take(nprobe).map(_._2)

  /** IVF ANN top-k: probe the `nprobe` centroids nearest to the query,
    * exact cosine within those cells only. At 100 TB the assignment
    * column is materialized once (partitioned-by-cell table) so a
    * probe is a partition-pruned scan of nprobe/nlist of the data.
    */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, centroids: Seq[Seq[Double]],
      nprobe: Int = 2): DataFrame =
    queryTopK(embeddings
      .withColumn("_cell", ivfAssignment(col(vecCol), centroids))
      .filter(col("_cell").isin(probeCells(query, centroids, nprobe): _*)),
      idCol, vecCol, query, k, col("_cell").as("cell"))

  /** The `nprobe` centroid indices nearest to a vector (ascending
    * distance, index tiebreak) as an array column — the per-QUERY side
    * of the IVF join. Declarative struct-sort over the centroid list:
    * array_sort on (distance, index) structs matches ivfAssignment's
    * strict-less argmin exactly at nprobe = 1.
    */
  def ivfProbes(vec: Column, centroids: Seq[Seq[Double]],
      nprobe: Int): Column = {
    val ds = centroids.zipWithIndex.map { case (c, i) =>
      val cNorm = c.map(x => x * x).sum
      struct((lit(cNorm) - lit(2.0) * dotConst(vec, c)).as("d"),
        lit(i).as("i"))
    }
    transform(slice(array_sort(array(ds: _*)), 1, nprobe),
      s => s.getField("i"))
  }

  /** IVF k-NN JOIN — the partition-pruned ANN join: every corpus row
    * is assigned its single nearest cell (materialized ONCE at scale —
    * withIvfCell, table partitioned by cell), each query explodes to
    * its `nprobe` nearest cells, and the broadcast-joined scoring
    * touches only corpus rows in probed cells (~nprobe/nlist of the
    * data per query — a partition-pruned scan of the cell-partitioned
    * table, where the LSH joins must still read every bucket that any
    * query hashes to). Same partial+final GroupedTopK reduction as
    * [[knnJoinExact]]; a corpus row lives in exactly one cell, so no
    * candidate dedup is needed. Recall rises with `nprobe` at linearly
    * more scan — the measured lever in sim_recall_report.
    */
  def knnJoinIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Seq[Seq[Double]],
      nprobe: Int = 2): DataFrame =
    topKCosine(corpusSide(corpus, idCol, col(vecCol),
        ivfAssignment(col(vecCol), centroids).as("_cell"))
      .join(broadcast(querySide(queries, idCol, col(vecCol)).withColumn(
        "_cell", probedCells(col("_qv"), centroids, nprobe))), "_cell"), k)

  /** IVF k-NN join at a DECLARED recall target — the nprobe dial
    * turned automatically instead of reported (`sim_recall_report`
    * measures ~0.6 at nprobe=2; a user needs "give me ≥0.9", not a
    * number to stare at). Computes the recall curve of [[knnJoinIvf]]
    * at nprobe = 1..nlist against [[knnJoinExact]] on the same pairs,
    * picks the SMALLEST nprobe whose measured recall reaches
    * targetX100/100 (falling back to exhaustive nlist when none
    * does), and returns the join pairs at that nprobe with the chosen
    * config and its measured recall ×1000 (integer-exact) on every
    * row. The exact pairs and the curve each feed TWO consumers (the
    * hit/pick aggregates and the returned pairs), and both are already
    * top-k-reduced to ≤ |queries|·k·(nlist+1) rows — so they are
    * localCheckpointed: the expensive sweep joins run ONCE and the
    * pick reads the bounded artifact, instead of a lazy single plan
    * that would re-execute the whole sweep for each consumer (~2× the
    * calibration cost). At 100 TB the calibration half runs once on a
    * query SAMPLE against the cell-partitioned corpus and the chosen
    * nprobe is reused by the fleet; scoring all nlist curve points
    * costs nlist × the probed fraction ≈ one exhaustive pass, paid at
    * calibration time only.
    *
    * `sampleQueries > 0` makes that posture executable (mirror of
    * [[knnJoinIvfPqAtRecall]]'s knob): calibration — the exact ground
    * truth and the nprobe sweep — runs on a seeded hash-ordered query
    * subset, the chosen nprobe is applied to ALL queries through the
    * plain [[knnJoinIvf]], and rows carry the sample-measured recall.
    * One code path chooses the dial in both modes.
    */
  def knnJoinIvfAtRecall(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, centroids: Seq[Seq[Double]],
      targetX100: Int = 90, sampleQueries: Int = 0): DataFrame = {
    require(targetX100 >= 1 && targetX100 <= 100,
      s"targetX100 in [1,100], got $targetX100")
    val nlist = centroids.length
    if (sampleQueries > 0)
      return sampleDial(queries, idCol, sampleQueries, "nprobe", nlist,
        qs => knnJoinIvfAtRecall(corpus, qs, idCol, vecCol, k, centroids,
          targetX100, 0))(
        np => knnJoinIvf(corpus, queries, idCol, vecCol, k, centroids, np))
    val exact = knnJoinExact(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("corpus_id"))
      .localCheckpoint()
    val curve = (1 to nlist).map { np =>
      knnJoinIvf(corpus, queries, idCol, vecCol, k, centroids, np)
        .withColumn("nprobe", lit(np))
    }.reduce(_ unionByName _)
      .localCheckpoint()
    pickDial(curve, "nprobe", exact, targetX100, nlist)
  }

  /** Exact k-NN JOIN: for every query vector, the k nearest corpus
    * vectors by cosine. The query side broadcasts (retrieval-eval /
    * cross-corpus audit workloads have queries ≪ corpus); the corpus
    * is scored in place — no shuffle of scored pairs: a PARTIAL
    * per-partition GroupedTopK heap pass reduces each partition to
    * ≤ queries×k candidates before the single exchange, and the FINAL
    * pass reduces candidates to the true top-k. Per-query norms are
    * computed once on the broadcast side, per-corpus-row norms once
    * per row (not per pair).
    */
  def knnJoinExact(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    topKCosine(corpusSide(corpus, idCol, col(vecCol))
      .crossJoin(broadcast(querySide(queries, idCol, col(vecCol)))), k)

  /** LSH-bucketed k-NN join — the scale path: both sides bucket with
    * the SAME hyperplanes, the (small) bucketed query side broadcasts,
    * and each corpus row is scored only against the queries sharing
    * its bucket (candidates ≈ queries/2^bits per row). Same partial+
    * final top-k reduction as [[knnJoinExact]]. Single-probe recall:
    * a neighbor hashing to a different bucket is missed — raise
    * recall by lowering `bits` or unioning probes over bit-flipped
    * query buckets (multi-probe), both without changing this shape.
    * At 100 TB the corpus side is materialized partitioned by bucket
    * (withLshBucket scaladoc), making the join a co-located scan.
    */
  def knnJoinLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, bits: Int = 8,
      seed: Long = 7L): DataFrame =
    lshJoin(corpus, queries, idCol, vecCol, dim, k, bits, seed,
      col(vecCol), multiProbe = false)

  /** The LSH candidate generator: both sides bucket the RAW vector with
    * the same hyperplanes and join on bucket; the corpus scores
    * `corpusVec`, and `multiProbe` widens each query to its own bucket
    * plus every single-bit flip. */
  private def lshJoin(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, bits: Int, seed: Long,
      corpusVec: Column, multiProbe: Boolean): DataFrame = {
    val bucket = lshBucket(col(vecCol), bits, dim, seed).as("bucket")
    val q = querySide(queries, idCol, col(vecCol), bucket)
    val probes = if (!multiProbe) q else q.withColumn("bucket",
      explode(array((col("bucket") +: (0 until bits).map(j =>
        col("bucket").bitwiseXOR(lit(1 << j)))): _*)))
    topKCosine(corpusSide(corpus, idCol, corpusVec, bucket)
      .join(broadcast(probes), "bucket"), k)
  }

  /** Symmetric per-vector int8 scalar quantization — the storage
    * lever for embedding tables at scale (float32 → int8 is 4× less
    * scan volume; recall loss is bounded by the per-vector max-abs
    * scale). q_i = clamp(floor(x_i / scale · 127 + 0.5), ±127) with
    * scale = max|x| — floor(x+0.5) rather than round() because both
    * engines floor the SAME double exactly, while decimal round sits
    * on the shortest-repr-vs-binary fault line. A zero vector
    * quantizes to zeros (scale guarded to 1.0).
    */
  def quantizeInt8(vec: Column): Column = {
    val scale = array_max(transform(vec, x => abs(x.cast("double"))))
    val safe = when(scale === 0.0, lit(1.0)).otherwise(scale)
    struct(
      safe.as("scale"),
      transform(vec, x =>
        greatest(lit(-127.0), least(lit(127.0),
          floor(x.cast("double") / safe * 127.0 + 0.5))).cast("int"))
        .as("q"))
  }

  /** Dequantize back to doubles: x̂_i = q_i · scale / 127. */
  def dequantizeInt8(quant: Column): Column =
    transform(quant.getField("q"),
      q => q.cast("double") * quant.getField("scale") / 127.0)

  /** Quantized-corpus variant of [[knnJoinLsh]] — [[quantizeInt8]]
    * wired into the join, which is the reason the quantizer exists:
    * the corpus side is STORED as int8 + per-vector scale (4× less
    * scan volume than float32 — at 100 TB of embeddings, the scan is
    * the dominant cost and this is the lever), buckets are
    * materialized at write time from the original floats (bucketing
    * happens once, before precision is dropped), and scoring runs on
    * the dequantized reconstruction. Recall vs the float join is
    * bounded by the per-vector max-abs quantization error
    * (sim_quantize_int8 pins recon_err); the spec measures the
    * realized pair overlap.
    */
  def knnJoinLshQ8(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, bits: Int = 8,
      seed: Long = 7L): DataFrame =
    // At scale the table stores (id, int8 payload, bucket) and the
    // read side dequantizes; here the store→read roundtrip is fused
    // into one codegen'd expression (QuantRoundtrip — semantically
    // dequantizeInt8∘quantizeInt8, which as interpreted HOFs cost 7×
    // the whole join; spec pins the bit-equality).
    lshJoin(corpus, queries, idCol, vecCol, dim, k, bits, seed,
      graft.functions.VecOps.quantRoundtrip(col(vecCol)), multiProbe = false)

  /** Multi-probe variant of [[knnJoinLsh]]: each query probes its own
    * bucket PLUS every single-bit-flip neighbor bucket (bits+1 probes)
    * — the standard recall lever for sign-pattern LSH (a near neighbor
    * differing in one hyperplane sign is recovered). Only the SMALL
    * broadcast query side explodes ×(bits+1); the corpus is still
    * scored in place, and a (query, corpus) pair can match at most one
    * probe (the corpus row's bucket), so no dedup pass is needed.
    * Recall rises from P(all signs agree) to P(≤1 sign differs) at the
    * cost of ~(bits+1)× more candidates per corpus row — still
    * queries/2^bits·(bits+1) ≪ brute force.
    */
  def knnJoinLshMultiProbe(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int, bits: Int = 8,
      seed: Long = 7L): DataFrame =
    lshJoin(corpus, queries, idCol, vecCol, dim, k, bits, seed,
      col(vecCol), multiProbe = true)

  /** SemDeDup-style semantic dedup census (Abbas et al. 2023,
    * arXiv:2303.09540, public method): assign every embedding to its
    * nearest coarse-quantizer centroid, then inside each cluster prune
    * any document whose cosine to a LOWER-id document in the same
    * cluster reaches `minCosine` — the min-id member of every near-dup
    * neighborhood survives. This is the paper's keep-one-per-ε-ball
    * rule made deterministic (lowest id = the kept exemplar), which
    * intentionally differs from connected-components canonicalization
    * (`Dedup.canonicalDocuments`): a chain a~b~c with a≁c keeps only
    * `a` here, because both b and c have SOME earlier neighbor.
    *
    * Scale stance: pair generation is confined to clusters, and at
    * 100 TB nlist grows with the corpus (SemDeDup uses ~sqrt(N)
    * clusters) so per-cluster membership stays bounded; the pair join
    * shuffles on `cell` only. `maxCellSize` is the same guard rail as
    * minhashCandidatePairs' maxBucketSize — a degenerate cluster
    * (constant boilerplate embeddings) is excluded from the pair join
    * and reported `capped = 1` with all members kept, rather than
    * detonating n² pairs.
    *
    * Output: one census row per cluster — size, capped flag, pruned /
    * kept counts, and the exact kept-id sum (a checksum of the kept
    * SET, so the oracle compare pins which documents survived, not
    * just how many).
    */
  def semanticPruneCensus(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], minCosine: Double,
      maxCellSize: Int = 100000): DataFrame = {
    val assigned = embeddings
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell", ivfAssignment(col("v"), centroids))
    val cellW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
    val sized = assigned.withColumn("_csz", count(lit(1)).over(cellW))
    val joinable = sized.filter(col("_csz") <= maxCellSize)
      .select(col("cell"), col("id"), col("v"))
    val prunedIds = joinable.as("a").join(joinable.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(cosine(col("a.v"), col("b.v")) >= minCosine)
      .select(col("b.cell").as("cell"), col("b.id").as("id"))
      .distinct()
    sized
      .join(prunedIds.withColumn("_pruned", lit(1)), Seq("cell", "id"),
        "left")
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("cluster_size"),
        max(when(col("_csz") > maxCellSize, 1L).otherwise(0L))
          .as("capped"),
        sum(when(col("_pruned") === 1, 1L).otherwise(0L)).as("pruned"),
        sum(when(col("_pruned").isNull, 1L).otherwise(0L)).as("kept"),
        sum(when(col("_pruned").isNull, col("id")).otherwise(lit(0L)))
          .as("kept_id_sum"))
      .orderBy(col("cell"))
  }

  /** Projection-prefilter k-NN join — the compressed-domain rerank
    * pattern: candidates are shortlisted by cosine in the kDim-wide
    * JL-projected space (the 4×-smaller table from
    * [[randomProjection]] — at 100 TB that is the table that fits in
    * scan cache while the full-width vectors stay on disk), then ONLY
    * the shortlist pairs fetch full vectors for the exact rerank.
    * Unlike the LSH/IVF joins, no candidate is lost to a hard bucket
    * boundary — the shortlist degrades smoothly with projection
    * error, which sim_random_projection MEASURES (240/250 pair
    * distances within 2×), so recall is high by construction and
    * sim_recall_report reports the number. Same GroupedTopK
    * partial+final reduction as every join variant; the rerank join
    * touches shortlist×queries rows only.
    */
  def knnJoinRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, kDim: Int = 16, dim: Int = 64,
      shortlist: Int = 50, seed: Long = 7L): DataFrame = {
    requireDials(k, shortlist)
    // candidates: the exact join in the projected space
    val proj = projection(col(vecCol), kDim, dim, seed)
    rerank(topKCosine(corpusSide(corpus, idCol, proj)
        .crossJoin(broadcast(querySide(queries, idCol, proj))), shortlist),
      corpusSide(corpus, idCol, col(vecCol)),
      querySide(queries, idCol, col(vecCol)), k)
  }

  /** One Lloyd iteration of k-means, as a census: assign every vector
    * to its nearest centroid (same squared-distance argmin as
    * [[ivfAssignment]]), recompute per-cell per-dimension means, and
    * report per cell the membership count, an id-sum checksum pinning
    * the exact assignment, the new centroid compressed to integral
    * grain (Σ_j mean_j at ×1e4), and the L1 centroid shift vs the
    * input centroids — the convergence number a k-means loop watches.
    *
    * The distributed shape is the textbook one: assignment is a
    * per-row fold over broadcast-literal centroids (scan speed, no
    * shuffle), the per-dim explode fans out IN PLACE, and the single
    * (cell, dim) aggregation partial-aggregates map-side into
    * k·dim cells of state regardless of input size. Iterating =
    * feeding the new means back in; at 100 TB each iteration is one
    * scan + one sketch-sized shuffle (k·dim rows).
    *
    * Cross-engine exactness: per-row cells are floor(x·1e4)+OFFSET —
    * floor of the same double is engine-exact, and the offset keeps
    * every summand (and thus the integral-division mean) positive, so
    * truncating division agrees between engines regardless of their
    * negative-division convention. Old-centroid cells enter as
    * JVM-computed integer literals shared textually with the oracle —
    * no float op crosses engines anywhere.
    */
  def kmeansStepCensus(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]]): DataFrame = {
    val offset = 100000L
    val assigned = embeddings
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell", ivfAssignment(col("v"), centroids))
    val oldLit = array(centroids.map(c =>
      array(c.map(x => lit(math.floor(x * 10000).toLong)): _*)): _*)
    val perDim = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("j0", "x")))
      .select(col("cell"), (col("j0") + 1).cast("int").as("dim"),
        (floor(col("x").cast("double") * 10000).cast("long") + lit(offset))
          .as("y"))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      .select(col("cell"), col("dim"), col("n"),
        (expr("sy div n") - lit(offset)).as("mean_x1e4"))
    val stats = perDim
      .withColumn("old_x1e4",
        element_at(element_at(oldLit, col("cell").cast("int") + 1),
          col("dim")))
      .groupBy(col("cell"))
      .agg(max(col("n")).as("n_members"),
        sum(col("mean_x1e4")).as("sum_mean_x1e4"),
        sum(abs(col("mean_x1e4") - col("old_x1e4"))).as("l1_shift_x1e4"))
    val ids = assigned.groupBy(col("cell"))
      .agg(sum(col("id")).as("id_sum"))
    stats.join(ids, "cell").orderBy(col("cell"))
  }

  /** Embedding-cosine near-duplicate pairs via shared LSH bucket (the
    * embedding analog of MinHash banding): one shuffle on bucket, exact
    * cosine verification within buckets.
    *
    * Skew control mirrors Dedup.minhashCandidatePairs: a bucket of n
    * vectors contributes n² pairs, and real encoder output DOES
    * produce near-constant embeddings for boilerplate, collapsing a
    * corpus slice into one bucket. Buckets above `maxBucketSize` are
    * dropped from the pair join — "everything here is the same
    * boilerplate" is exact-fingerprint-dedup territory, not ANN's.
    */
  def embeddingNearDupPairs(embeddings: DataFrame, idCol: String,
      vecCol: String, dim: Int, minCosine: Double, bits: Int = 8,
      seed: Long = 7L, maxBucketSize: Int = 500): DataFrame = {
    val bAll = withLshBucket(embeddings, vecCol, bits, dim, seed)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("bucket"))
    val b =
      if (maxBucketSize == Int.MaxValue) bAll
      else {
        val bucketW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket"))
        bAll.withColumn("_bsz", count(lit(1)).over(bucketW))
          .filter(col("_bsz") <= maxBucketSize)
          .drop("_bsz")
      }
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  private[operators] def bandedHyperplanes(planes: Int, dim: Int,
      seed: Long): Seq[Seq[Double]] = hyperplanes(planes, dim, seed)

  /** Sign-pattern band keys — ONE source of truth shared by
    * [[EmbedNearDupGate]] and the ScaleProbe seeding path (a drifted
    * replica would silently miss every stored candidate). */
  private[graft] def signBandKeyCols(vecCol: Column, bands: Int,
      rowBits: Int, dim: Int, seed: Long): Seq[Column] = {
    val planes = hyperplanes(bands * rowBits, dim, seed)
    (0 until bands).map { b =>
      planes.slice(b * rowBits, (b + 1) * rowBits).zipWithIndex
        .map { case (h, i) =>
          when(dotConst(vecCol, h) >= 0.0, lit(1 << i)).otherwise(lit(0))
        }.reduce(_.bitwiseOR(_))
    }
  }
}

/** The standing EMBEDDING near-dup gate — [[graft.operators
  * .NearDupGate]]'s semantic sibling for vector columns, one instance
  * per ingest stream: an arriving embedding is a near-dup iff its
  * cosine with ANY earlier-seen vector sharing a hyperplane sign-band
  * reaches `minCosine` (earlier batches via the persistent band
  * index, same-batch predecessors via a smaller-id self-probe; the
  * cross probe excludes the batch's own ids, the arrival-order
  * "earlier" that makes at-least-once replay harmless).
  *
  * Candidate structure: `bands` bands of `rowBits` pinned random
  * hyperplanes each (the seed-7 family every sim_* oracle embeds as
  * literals); a vector's band key is the sign pattern of its band's
  * planes — near vectors agree on most signs, so they collide in ≥1
  * band with high probability while the orthant partition sheds far
  * pairs. Durable state under `root`: `keys` (id, band, bkey —
  * PARTITIONED by band, bkey-sorted files) and `vecs` (id, v,
  * id-sorted files); verdicts (id, n_cands, best_cos, is_neardup)
  * append per batch.
  *
  * One structural difference from the MinHash gate, and why there is
  * no Bloom here: a sign-band keyspace is bands·2^rowBits — SMALL by
  * construction (64 keys at the defaults; even 20-bit bands are only
  * millions) — so the driver front is an EXACT seen-key set, rebuilt
  * from the keys table in one distinct at construction. No false
  * positives, and a batch whose keys are all unseen never reads the
  * index at all. Probes that do hit prune by band partition + a bkey
  * INSET on sorted files. Scoring fetches only candidate vectors
  * through a collected-id INSET (capped at [[Dedup.inPushdownLimit]]
  * — the pushed-OR-chain stack-overflow ceiling — before falling
  * back to a vecs scan). Cosines are the [[Similarity.cosine]]
  * left-fold, so the DuckDB oracle replays every verdict bit-exactly.
  * Null vectors verdict as novel and are never indexed.
  *
  * SIZING RULE (this gate's analog of the Bloom-bits rule): expected
  * candidates per arriving vector ≈ bands · corpus / 2^rowBits, so
  * size rowBits to log2(corpus / target-candidates-per-band) — at the
  * 4-bit default every key is seen once the corpus passes a few
  * thousand vectors and per-batch cost grows with corpus/keyspace.
  * The rule is AUTOMATED two ways: `compact(newRowBits)` widens the
  * band layout explicitly (full re-band from the vecs table,
  * manifest-persisted, restart-safe), and `targetKeyLoad` > 0 lets
  * every compaction self-size — one bit per factor-of-two of excess
  * per-key corpus load, within the int-keyspace bound.
  * Where raising rowBits is off the table (recall), `bandKeyCap` is
  * the bound: each key contributes at most its cap earliest-seen
  * sharers per probe, per-doc shed REPORTED in the verdicts'
  * n_capped_keys (the [[graft.operators.NearDupGate]] discipline —
  * never silent), making per-batch pair volume batch·bands·cap
  * regardless of corpus skew. Default off = exact oracle semantics.
  */
final class EmbedNearDupGate(root: String, dim: Int, bands: Int = 4,
    rowBits: Int = 4, minCosine: Double = 0.5, seed: Long = 7L,
    candCap: Int = 100000, autoCompactEvery: Int = 0,
    bandKeyCap: Int = 0, targetKeyLoad: Int = 0,
    keyLoadWarnBudget: Int = 4096)
    extends BandedGate(root,
      index = "keys", indexDDL = "id BIGINT, bkey INT, band INT",
      indexPart = "band", keyDDL = "band INT, bkey INT",
      corpus = "vecs", corpusDDL = "id BIGINT, v ARRAY<FLOAT>",
      value = v => v, score = Similarity.cosine, scoreType = "DOUBLE",
      bestDDL = "best_cos DOUBLE", noMatch = lit(-2.0d),
      threshold = lit(minCosine), candCap = candCap,
      autoCompactEvery = autoCompactEvery) {
  import org.apache.hadoop.fs.FileSystem
  import org.apache.spark.sql.{Row, SparkSession}
  require(bands * rowBits <= 30, "band keyspace must stay int-sized")
  require(targetKeyLoad >= 0, "targetKeyLoad must be >= 0")

  // exact driver memory of the seen (band, bkey) keys — keyspace is
  // bands·2^rowBits, so this is bounded by construction
  private var seen: scala.collection.mutable.Set[Long] = _
  // the LIVE row-bits width — compact(newRowBits) can widen it for a
  // grown corpus (the sizing rule: rowBits ≈ log2(corpus /
  // target-candidates-per-band)), and every subsequent key
  // derivation must follow. Durable in the layout manifest, restored
  // at first open (the NoveltyGate pcCur discipline): an
  // in-memory-only width would reset to the constructor default on
  // restart and silently mis-key every probe after a widening.
  private var rbCur: Int = rowBits

  protected def opened: Boolean = seen != null
  protected def keyCap: Int = bandKeyCap
  protected def autoCompact(spark: SparkSession): Unit = compact(spark)

  /** Family-standard layout manifest (see [[graft.operators
    * .GateLayout]]): a dim/band/seed mismatch against stored keys +
    * vectors is a silent false-negative factory — fail fast. The
    * verdict schema generation is pinned exactly as in
    * [[graft.operators.NearDupGate]]. `row_bits` is LIVE maintenance
    * state rather than a fail-fast parameter (the NoveltyGate
    * prefix-width discipline): [[compact]] can widen it for a grown
    * corpus, so first open restores the persisted width instead of
    * rejecting it — in the resize crash window the manifest is
    * legitimately one refresh behind the keys generation's
    * `_row_bits` marker. */
  protected def pins: Seq[(String, String)] =
    Seq("dim" -> dim.toString, "bands" -> bands.toString,
      "seed" -> seed.toString,
      "verdict_schema" -> GateOps.verdictSchemaVersion)

  protected def restoreLayout(fs: FileSystem,
      m: Option[Map[String, String]]): Boolean = {
    // every manifest this gate writes carries row_bits
    require(m.forall(_.contains("row_bits")), s"gate root $root holds " +
      "_layout without row_bits — not a layout this version reads; " +
      "start the gate over in a new root")
    val (rb, stale) = restoreGeometry(fs, "keys", "_row_bits", m,
      "row_bits", rbCur)(rb => rb > 0 && bands * rb <= 30,
      "overflows the int keyspace")
    rbCur = rb
    m.isEmpty || stale
  }

  protected def writeLayout(fs: FileSystem): Unit =
    GateLayout.write(fs, new org.apache.hadoop.fs.Path(s"$root/_layout"),
      pins :+ ("row_bits" -> rbCur.toString))

  private def keyOf(key: Row): Long =
    key.getInt(0).toLong * (1L << rbCur) + key.getInt(1)

  protected def mightHold(key: Row): Boolean = seen(keyOf(key))
  protected def remember(key: Row): Unit = seen += keyOf(key)

  /** (id, band, bkey) sign-band keys at `rb` row bits per band. */
  private def keyedAt(vecs: DataFrame, rb: Int): DataFrame = vecs
    .filter(col("v").isNotNull)
    .select(col("id"), posexplode(array(Similarity.signBandKeyCols(
      col("v"), bands, rb, dim, seed): _*)).as(Seq("band", "bkey")))

  protected def keyed(batch: DataFrame): DataFrame =
    keyedAt(batch, rbCur).localCheckpoint()

  /** Probes prune by band partition + a bkey INSET on sorted files
    * (Int literals, matching the partition column's type — a Long
    * literal would wrap the column in a cast and defeat the
    * partition-directory pruning). */
  protected def indexRead(spark: SparkSession, pos: Seq[Row],
      bandKeys: DataFrame): DataFrame =
    readIndex(spark)
      .filter(col("band").isin(pos.map(_.getInt(0)).distinct: _*))
      .filter(col("bkey").isin(pos.map(_.getInt(1)).distinct: _*))

  /** The exact seen-key set, rebuilt from the keys table in one
    * distinct. */
  protected def load(spark: SparkSession, fs: FileSystem): Unit = {
    seen = scala.collection.mutable.Set.empty[Long]
    if (!exists(fs, "keys")) return
    readIndex(spark).select(col("band"), col("bkey")).distinct()
      .collect().foreach(r => seen += keyOf(r))
  }

  def admit(batch: DataFrame, idCol: String, vecCol: String): Unit = {
    runAdmit(batch, idCol, vecCol, pin = false)
    ()
  }

  /** Per-doc form for pipeline composition, returning the
    * localCheckpointed verdicts it appended; plain [[admit]] skips
    * the pin (the write is its only consumer). */
  def admitScored(batch: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    runAdmit(batch, idCol, vecCol, pin = true)

  /** Epoch maintenance (the [[graft.operators.NearDupGate.compact]]
    * contract, through the shared [[BandedGate]] compaction): dedup +
    * one file per band partition. The seen-key set needs no rebuild —
    * deduplication cannot change the distinct key set.
    *
    * `newRowBits = Some(rb)` additionally WIDENS the band layout —
    * the sizing rule's remedy for a grown corpus (candidates/vector ≈
    * bands·corpus/2^rowBits, so raise rowBits as the corpus grows):
    * the keys table is re-banded in full from the VECS table (the
    * durable source of truth — bkey values change with the width, so
    * a dedup rewrite cannot carry them over), the live width and
    * manifest update, and the seen-key set rebuilds against the new
    * keyspace. Post-widening the gate is indistinguishable from one
    * constructed at the new width over the same corpus
    * (spec-pinned). Same generation-swap crash ordering as every
    * other compact; a restart mid-widening recovers whichever
    * generation survived, and the width can never disagree with the
    * data: a `_row_bits` marker written INTO the new generation rides
    * its rename, is ground truth at reopen, and heals the root
    * manifest (which alone would have a stale window between the
    * swap and its refresh). */
  def compact(spark: SparkSession,
      newRowBits: Option[Int] = None): Unit = compactBanded(spark) { fs =>
    // self-sizing width (the scaladoc'd sizing rule automated, the
    // novelty gate's growBloomFactor twin): expected candidates per
    // arriving vector ≈ bands · corpus / 2^rowBits, so when the
    // per-key corpus load exceeds targetKeyLoad, widen one bit at a
    // time (each bit halves the load) within the int-keyspace bound
    // distinct non-null vec-id count — shared by the sizing policy
    // and the widen diagnostic so neither pays a second vecs scan
    var vecIdCount: Option[Long] = None
    def distinctVecIds(): Long = {
      if (vecIdCount.isEmpty)
        vecIdCount = Some(readCorpus(spark)
          .dropDuplicates("id").filter(col("v").isNotNull).count())
      vecIdCount.get
    }
    val policyBits =
      if (newRowBits.isEmpty && targetKeyLoad > 0 && exists(fs, "vecs")) {
        val n = distinctVecIds()
        var rb = rbCur
        // exact criterion (no integer-division floor): widen while
        // corpus > target · 2^rb
        while (n > targetKeyLoad.toLong * (1L << rb) &&
            bands * (rb + 1) <= 30)
          rb += 1
        Some(rb).filter(_ != rbCur)
      } else None
    val widen = newRowBits.filter(_ != rbCur).orElse(policyBits)
    widen.foreach { rb =>
      require(rb > 0 && bands * rb <= 30,
        "band keyspace must stay int-sized")
      require(exists(fs, "vecs"),
        "widening re-bands from the vecs table, which is missing")
    }
    widen match {
      case Some(rb) =>
        // the widening re-band derives keys solely from the VECS
        // table: an id sitting in the keys-appended-but-vecs-append-
        // crashed window is dropped from the index here rather than
        // healed (verdict-neutral — cosine scoring needs the vec
        // anyway, so such an id could never have flagged a probe) —
        // but the shrink must be OBSERVABLE, not silent. Count
        // compare, not an anti-join: vecs ids ⊆ keys ids by append
        // order (keys land first), so the orphan count is the
        // cardinality difference. The keys aggregate is the
        // diagnostic's only extra job (widens are rare maintenance
        // events); the vecs count reuses the policy's scan when the
        // widen was policy-driven
        val keyIds = readIndex(spark)
          .agg(count_distinct(col("id"))).head().getLong(0)
        val vecIds = distinctVecIds()
        if (keyIds > vecIds) System.err.println(
          s"[embed-gate] widening to rowBits=$rb drops " +
            s"${keyIds - vecIds} key-table id(s) absent from vecs " +
            s"(keys-appended/vecs-crashed window) for $root")
        writeIndex(keyedAt(readCorpus(spark).dropDuplicates("id"), rb),
          "overwrite", "keys_tmp")
      case None =>
        val distinctKeysPlan = readIndex(spark)
          .select(col("id"), col("bkey"), col("band")).distinct()
        // pinned ONLY when the diagnostic below will actually consume
        // it a second time (remedies off, budget on) — with a remedy
        // engaged the keys_tmp write is the sole consumer and an
        // eager checkpoint would be a pure extra pass per compaction
        // (the admit path's conditional-pin idiom)
        val diagOn = targetKeyLoad == 0 && bandKeyCap <= 0 &&
          keyLoadWarnBudget > 0
        val distinctKeys =
          if (diagOn) distinctKeysPlan.localCheckpoint()
          else distinctKeysPlan
        // Loud-misconfiguration diagnostic (the _noop_files
        // discipline): Curation.startEmbedding now defaults
        // self-sizing ON, so this path guards deployments that
        // EXPLICITLY opted out (targetKeyLoad=0, no bandKeyCap — e.g.
        // the exact fixed-width oracle anchors) and would otherwise
        // inherit unbounded per-key load silently as the corpus
        // grows. When both load remedies are off, each
        // compaction measures the hottest (band, bkey) stored-id
        // count on the distinct rows the rewrite materializes anyway
        // and warns past the budget, naming the remedies — the gate
        // stays exact, but the growth is on record long before probe
        // latency says so.
        if (diagOn) {
          val maxLoad = distinctKeys
            .groupBy(col("band"), col("bkey"))
            .agg(count(lit(1)).as("n"))
            .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
          if (maxLoad > keyLoadWarnBudget) System.err.println(
            s"[embed-gate] hottest sign-band key holds $maxLoad " +
              s"stored ids (> keyLoadWarnBudget=$keyLoadWarnBudget) " +
              s"for $root and both load remedies are off — every " +
              "probe colliding with it scores that many candidates; " +
              "set targetKeyLoad (self-sizing width), bandKeyCap " +
              "(bounded candidates), or raise rowBits")
        }
        writeIndex(distinctKeys, "overwrite", "keys_tmp")
    }
    // the width marker rides the generation swap (see
    // GateOps.writeMarker): data and width can never disagree even if
    // a crash lands between the swaps and the manifest refresh
    GateOps.writeMarker(fs, s"$root/keys_tmp", "_row_bits",
      widen.getOrElse(rbCur).toString)
    () => widen.foreach { rb =>
      rbCur = rb
      writeLayout(fs)
      // the keyspace changed — the exact seen-key set must rebuild
      // against the re-banded table
      load(spark, fs)
    }
  }

  /** Width migration as a NAMED maintenance contract — re-derive the
    * whole band index at `newRowBits` from the stored vectors, inside
    * the same crash-safe generation swap every compaction uses (the
    * re-banded `keys_tmp` carries its `_row_bits` marker through the
    * rename, so data and width can never disagree; a fresh open
    * restores the migrated width from the marker/manifest and the
    * constructor's `rowBits` only seeds a table that has never
    * resized).
    *
    * COLLISION-SEMANTICS CONTRACT (the reason self-sizing was
    * historically opt-in, now carried here where the migration
    * actually happens): the band width is part of the gate's
    * candidate-recall definition — widening by one bit halves the
    * expected per-key load and with it the chance that two
    * merely-similar vectors share a band. What the migration
    * GUARANTEES: (1) committed verdicts are append-only history and
    * never flip; (2) no stored vector loses index presence — keys are
    * re-derived from the full vectors, so identical (and
    * sign-identical-per-band) arrivals still collide at any width;
    * (3) the migration is atomic-or-absent under crash. What it does
    * NOT guarantee: post-migration probes score the new width's
    * candidate sets, so a borderline pair that would have collided at
    * the old width may verdict novel at the new one — the standard
    * LSH recall/cost dial, moved deliberately. Deployments pinning
    * exact oracle replay must keep `targetKeyLoad = 0` and never call
    * this. */
  def regenerateAtWidth(spark: org.apache.spark.sql.SparkSession,
      newRowBits: Int): Unit = {
    require(newRowBits > 0 && bands * newRowBits <= 30,
      s"rowBits=$newRowBits overflows the int band keyspace " +
        s"(bands=$bands)")
    compact(spark, Some(newRowBits))
  }
}
