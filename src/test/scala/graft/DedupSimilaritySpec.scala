package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupSimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the green hills tonight"
  private val nearDup = base.replace("green", "blue") // 1-word edit
  private val unrelated = "completely different content about database engines and vectorized execution pipelines with columnar storage formats"

  private def corpus = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated),
    (4L, base + " extra trailing words"), (5L, "short text")
  ).toDF("doc_id", "text")

  test("minhash signature: identical text → identical signature") {
    val sigs = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
      .select(Dedup.minhashSignature(col("text")).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs(0) === sigs(1))
    assert(sigs(0).length === 64)
  }

  test("minhash LSH finds near-duplicate pairs, not unrelated ones") {
    val pairs = Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      numHashes = 64, bands = 32, shingleSize = 3, minEstimate = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "near-dup pair found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated not paired")
  }

  test("lshBands rejects a non-dividing or oversized bands count at run time") {
    val sigs = corpus.select($"doc_id",
      Dedup.minhashSignature($"text", numHashes = 64).as("sig"))
    // 7 does not divide 64: trailing positions would silently drop
    val e1 = intercept[Exception] {
      Dedup.lshBands(sigs, "doc_id", "sig", bands = 7).collect()
    }
    assert(e1.getMessage.contains("lshBands"), e1.getMessage)
    // bands > signature length: every band slice would be empty
    val e2 = intercept[Exception] {
      Dedup.lshBands(sigs, "doc_id", "sig", bands = 128).collect()
    }
    assert(e2.getMessage.contains("lshBands"), e2.getMessage)
    // the dividing config still works and yields bands × docs rows
    assert(Dedup.lshBands(sigs, "doc_id", "sig", bands = 16).count() ===
      16L * corpus.count())
  }

  test("lshBands passes NULL signatures through instead of aborting") {
    // a NULL text null-propagates through minhashSignature; the
    // divisibility guard must treat that as data (null band hashes),
    // not raise a config error with a null-propagated message
    val withNull = corpus.union(
      Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val sigs = withNull.select($"doc_id",
      Dedup.minhashSignature($"text", numHashes = 64).as("sig"))
    val rows = Dedup.lshBands(sigs, "doc_id", "sig", bands = 16)
    assert(rows.count() === 16L * (corpus.count() + 1))
    assert(rows.filter($"doc_id" === 99L && $"band_hash".isNull)
      .count() === 16L)
  }

  test("removeDupSpans cuts cross-doc duplicated 8-gram spans and nothing else") {
    val boiler = "one two three four five six seven eight" // exactly 8 words
    val docs = Seq(
      (1L, s"alpha $boiler beta"),
      (2L, s"gamma delta $boiler"),
      (3L, "totally unique words that never repeat anywhere at all here"),
      (4L, "short doc"), // < n words: no shingles, survives whole
      // repeated 8-gram WITHIN one doc only (df = 1 doc): not cut —
      // duplication is across-document, consistent with the census
      (5L, "p1 p2 p3 p4 p5 p6 p7 p8 p1 p2 p3 p4 p5 p6 p7 p8"))
      .toDF("doc_id", "text")
    val got = Dedup.removeDupSpans(docs, "doc_id", "text",
        n = 8, minDocFreq = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got(0) === ((1L, 10L, 2L, "alpha beta")))
    assert(got(1) === ((2L, 10L, 2L, "gamma delta")))
    assert(got(2)._3 === 10L) // unique doc untouched
    assert(got(3) === ((4L, 2L, 2L, "short doc")))
    assert(got(4)._3 === 16L) // within-doc repeat untouched
  }

  test("minhash estimate approximates true jaccard") {
    val est = Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      numHashes = 64, bands = 32, shingleSize = 3)
      .filter($"id1" === 1 && $"id2" === 2)
      .head().getAs[Double]("est_jaccard")
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.0)
      .filter($"id1" === 1 && $"id2" === 2)
      .head().getAs[Double]("jaccard")
    assert(math.abs(est - exact) < 0.25, s"est $est vs exact $exact")
  }

  test("exact n-gram contamination flags verbatim window overlap only") {
    val train = Seq(
      (1L, "a b c d e f g h"),       // shares the 5-gram "c d e f g"
      (2L, "totally different words here now"),
      (3L, "a b x d e f g h"))       // x breaks every shared 5-gram
      .toDF("doc_id", "text")
    val eval = Seq((100L, "z z c d e f g z z")).toDF("doc_id", "text")
    val got = Dedup.exactNgramContamination(train, eval, "doc_id", "text",
        n = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 100L, 1L)))
    // n longer than every doc: no grams, no rows, no descending-sequence blowup
    assert(Dedup.exactNgramContamination(train, eval, "doc_id", "text",
      n = 50).count() === 0)
  }

  test("chunking covers every token with the declared overlap") {
    val docs = Seq((1L, (1 to 300).map("t" + _).mkString(" ")),
      (2L, "only four tokens here"), (3L, "")).toDF("doc_id", "text")
    val rows = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
        chunkSize = 128, overlap = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val byDoc = rows.groupBy(_._1)
    // 300 tokens, stride 112 → ceil((300-16)/112) = 3 chunks
    assert(byDoc(1L).length === 3)
    val c = byDoc(1L).sortBy(_._2).map(_._3.split(" ").toSeq)
    assert(c(0).length === 128 && c(1).length === 128)
    assert(c(2) === (225 to 300).map("t" + _))      // tail chunk clamps
    assert(c(0).takeRight(16) === c(1).take(16))    // declared overlap
    assert(byDoc(2L).map(_._3) === Array("only four tokens here"))
    assert(byDoc(3L).length === 1)                  // empty doc → one chunk
  }

  test("duplicate clusters: min-label propagation labels components") {
    // components: {1,2,3,4 chain}, {10,11}, {20,21,22 star on 20}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("id1", "id2")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("ShingleHashes expression == HOF chain, bit-exact incl. edges") {
    import spark.implicits._
    val fixture = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"text").limit(100)
    val edges = Seq("", " ", "one", "one two", "a b c", "a b c d e",
      "a a a a", "  padded  ", "tab\tsep", "trail\t", "x\ny z")
      .toDF("text")
    for (df <- Seq(fixture, edges); n <- Seq(2, 3, 5)) {
      val rows = df.select(
          graft.operators.Dedup.shingleHashes($"text", n).as("fast"),
          graft.operators.Dedup.shingleHashesHof($"text", n).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1),
          s"divergence at n=$n")
      }
    }
  }

  test("Md5Shingles expression == HOF chain, bit-exact incl. edges") {
    import spark.implicits._
    val fixture = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"text").limit(100)
    val edges = Seq("", " ", "one", "one two", "a b c", "a b c d e",
      "a a a a", "  padded  ", "tab\tsep", "trail\t", "x\ny z",
      "ünïcode wörds héré mixed in", "a b a b a b a b")
      .toDF("text")
    for (df <- Seq(fixture, edges); n <- Seq(2, 5, 13)) {
      val rows = df.select(
          graft.operators.Dedup.md5Shingles($"text", n).as("fast"),
          array_distinct(transform(
            graft.operators.Dedup.shingles($"text", n),
            x => md5(x))).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1),
          s"divergence at n=$n")
      }
    }
  }

  test("ArrayEqCount expression == HOF zip-filter-size, incl. length skew") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 9L, 3L)),
      (Seq(1L, 2L), Seq(1L, 2L, 3L)),      // shorter left: pad dropped
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 2L)),  // shorter right
      (Seq.empty[Long], Seq(1L)),
      (Seq(7L), Seq(7L))).toDF("a", "b")
    df.select(
        graft.functions.VecOps.arrayEqCount($"a", $"b").as("fast"),
        size(filter(zip_with($"a", $"b", (x, y) => x === y),
          b => b)).as("hof"))
      .collect()
      .foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("LangVotes expression == HOF fold, bit-exact incl. edges") {
    import spark.implicits._
    val fixture = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"text").limit(100)
    val edges = Seq("", " ", "THE Und La", "the the the", "el la le il",
      "für nicht", "no markers here at all xyzzy", "that with dans")
      .toDF("text")
    for (df <- Seq(fixture, edges)) {
      df.select(
          graft.operators.TextAnalysis.langVotes($"text").as("fast"),
          graft.operators.TextAnalysis.langVotesHof($"text").as("hof"))
        .collect()
        .foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
    }
  }

  test("QuantRoundtrip expression == dequantize(quantize) HOF chain, bit-exact") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(200)
    val got = emb.select(
        graft.functions.VecOps.quantRoundtrip($"embedding").as("fused"),
        Similarity.dequantizeInt8(
          Similarity.quantizeInt8($"embedding")).as("hof"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val f = r.getSeq[Double](0)
      val h = r.getSeq[Double](1)
      assert(f.length === h.length)
      f.zip(h).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToRawLongBits(a) ===
          java.lang.Double.doubleToRawLongBits(b))
      }
    }
    // zero vector: scale guards to 1.0, reconstruction is all zeros
    import spark.implicits._
    val z = Seq(Tuple1(Array(0.0f, 0.0f))).toDF("embedding")
      .select(graft.functions.VecOps.quantRoundtrip($"embedding"))
      .head().getSeq[Double](0)
    assert(z === Seq(0.0, 0.0))
  }

  test("quantized knn join: near-total pair overlap with the float join") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = emb.filter($"vec_id" % 50 =!= 0)
    val queries = emb.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val f = pairs(Similarity.knnJoinLsh(corpus, queries,
      "vec_id", "embedding", dim = 64, k = 3, bits = 4))
    val q8 = pairs(Similarity.knnJoinLshQ8(corpus, queries,
      "vec_id", "embedding", dim = 64, k = 3, bits = 4))
    assert(f.nonEmpty)
    val overlap = f.intersect(q8).size.toDouble / f.size
    // int8 reconstruction error flips only razor-thin rank margins;
    // bound pinned just below the measured overlap on the fixture
    assert(overlap >= 0.9, s"q8-vs-float pair overlap only $overlap")
  }

  test("duplicate clusters: reliable checkpoint dir yields same labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("id1", "id2")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toFile.getAbsolutePath
    val got = Dedup.duplicateClusters(pairs, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("sequence packing fills contiguous bins in order; shard partitioning keeps bins local") {
    val docs = Seq((1L, 300L), (2L, 300L), (3L, 100L), (4L, 500L), (5L, 10L))
      .toDF("doc_id", "n")
    val got = TextAnalysis.packSequencesGlobal(docs, "doc_id", "n", maxTokens = 512L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bin")).toMap
    // cum-before: 0, 300, 600, 700, 1200 → bins 0, 0, 1, 1, 2
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
    // sharded: bins restart per shard
    val sharded = Seq(("a", 1L, 400L), ("a", 2L, 400L), ("b", 3L, 400L))
      .toDF("shard", "doc_id", "n")
    val gs = TextAnalysis.packSequences(sharded, "doc_id", "n", 512L,
      shardCol = "shard")
      .collect().map(r => r.getLong(1) -> r.getAs[Long]("bin")).toMap
    assert(gs === Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("repetition profile counts duplicated lines and their char share") {
    val df = Seq("aaa\nbbb\naaa\n\n  \nccc").toDF("t")
    val r = df.select(TextAnalysis.repetitionProfile(col("t")).as("p"))
      .select("p.*").head()
    // lines: aaa, bbb, aaa, ccc (blank/whitespace dropped)
    assert(r.getLong(0) === 4L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 0.75)
    assert(r.getDouble(3) === 6.0 / 12.0) // both aaa copies = 6 of 12 chars
  }

  test("pii scrub redacts emails and ipv4s with typed placeholders") {
    val df = Seq("mail a.b@x.co or 10.1.2.3 and c@y.org").toDF("t")
    val r = df.select(TextAnalysis.piiScrub(col("t")).as("p")).select("p.*").head()
    assert(r.getString(0) === "mail <EMAIL> or <IP> and <EMAIL>")
    assert(r.getLong(1) === 3L)
  }

  test("weighted mix caps each stratum at its quota and drops unlisted strata") {
    val docs = (1L to 100L).map(i => (i, if (i % 2 == 0) "en" else "xx"))
      .toDF("doc_id", "lang")
    val got = TextAnalysis.weightedMix(docs, "lang", "doc_id", Map("en" -> 7))
      .collect().map(r => r.getString(1))
    assert(got.length === 7 && got.forall(_ == "en"))
  }

  test("contamination report flags sketch overlap with the eval set, not unrelated docs") {
    val train = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
    val eval = Seq((100L, nearDup)).toDF("doc_id", "text")
    val got = Dedup.contaminationReport(train, eval, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the near-dup of doc 1 is in eval → doc 1 flagged with overlap ≥ 2;
    // doc 2 shares no 5-gram sketches → absent
    assert(got.map(_._1).toSet === Set(1L))
    val (_, evalId, shared) = got.head
    assert(evalId === 100L && shared >= 2)
  }

  test("duplicate clusters: deep chain converges within the iteration cap") {
    // a 64-node path is the worst case for plain min-propagation
    // (needs 63 rounds, over the default maxIters=20); the pointer
    // jump makes label distance halve per round, so it must converge
    // well inside the cap — this pins the O(log diameter) behavior.
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 64 && got.values.forall(_ == 1L),
      s"chain not fully contracted: ${got.filter(_._2 != 1L)}")
  }

  test("simhash codegen expression matches the HOF oracle exactly") {
    // edge shapes: empty, spaces-only, tab-led (leading empty token),
    // trailing whitespace (trailing empty token), unicode, plus real
    // document text
    val edges = Seq("", "   ", "\tfoo bar", "a b ", "über die brücke",
      base, nearDup, unrelated).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .unionByName(edges)
    val diff = docs.select(
        Dedup.simhash64($"text").as("a"),
        Dedup.simhash64Hof($"text").as("b"))
      .filter($"a" =!= $"b" || ($"a".isNull =!= $"b".isNull))
    assert(diff.count() === 0)
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val sh = corpus.select($"doc_id", Dedup.simhash64($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < 12, "near-dup close")
    assert(ham(sh(1L), sh(3L)) > 12, "unrelated far")
  }

  test("simhash candidate pairs finds the near-dup") {
    // 16 bands of 4 bits guarantee detection up to Hamming distance 15
    val pairs = Dedup.simhashCandidatePairs(corpus, "doc_id", "text",
      maxDistance = 15, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("exact fingerprint ignores whitespace differences") {
    val fps = Seq(("a b  c"), ("a b c"), (" a b c ")).toDF("text")
      .select(Dedup.exactFingerprint($"text")).collect().map(_.getString(0))
    assert(fps.distinct.length === 1)
  }

  test("brute-force cosine top-k ranks by similarity") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.cosineTopK(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), 3).collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L, 3L))
  }

  test("ANN LSH probe returns the exact best match from its bucket") {
    val rng = new scala.util.Random(123)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val query = (0 until 16).map(i => if (i == 0) 1.0 else 0.05)
    val ann = Similarity.annTopK(vecs, "vec_id", "embedding", query, 5, bits = 3)
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding", query, 40)
      .collect().map(_.getLong(0)).toSeq
    assert(ann.nonEmpty)
    // every ANN hit must be among the global top-40 by exact cosine
    assert(ann.forall(brute.contains), s"ann $ann not within brute top-40 $brute")
  }

  test("IVF: centroids train, cells partition, probe finds the cluster") {
    val rng = new scala.util.Random(99)
    // three well-separated gaussian clusters in 8 dims
    val centers = Seq(
      Array.fill(8)(5.0f), Array.fill(8)(-5.0f),
      (0 until 8).map(i => if (i % 2 == 0) 5.0f else -5.0f).toArray)
    val vecs = (0 until 300).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + rng.nextGaussian().toFloat * 0.3f))
    }.toDF("vec_id", "embedding")
    val centroids = Similarity.trainIvfCentroids(vecs, "vec_id", "embedding",
      dim = 8, nlist = 6, iters = 4)
    assert(centroids.size === 6)
    // every vector lands in a valid cell
    val cells = vecs.select(
      Similarity.ivfAssignment(col("embedding"), centroids).as("c"))
      .distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < 6))
    // probing with a query near cluster 0 must return cluster-0 members
    val query = Seq.fill(8)(5.0)
    val got = Similarity.ivfTopK(vecs, "vec_id", "embedding", query,
      k = 5, centroids, nprobe = 2).collect()
    assert(got.length === 5)
    assert(got.forall(_.getLong(0) % 3 === 0), // cluster 0 = ids ≡ 0 mod 3
      got.map(_.getLong(0)).mkString(","))
    // recall vs brute force top-5
    val brute = Similarity.cosineTopK(vecs, "vec_id", "embedding", query, 5)
      .collect().map(_.getLong(0)).toSet
    assert(got.map(_.getLong(0)).count(brute.contains) >= 4)
  }

  test("embedding near-dup pairs finds duplicated vectors") {
    val rng = new scala.util.Random(7)
    val baseVecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat)))
    val dup = (100L, baseVecs.head._2.map(x => (x * 1.001f)))
    val vecs = (baseVecs :+ dup).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      dim = 8, minCosine = 0.999, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)))
  }

  test("semantic prune census: conservation, min-id survival, cap path") {
    val rng = new scala.util.Random(13)
    // two well-separated synthetic clusters + exact clones inside each
    def vec(base: Array[Float]): Array[Float] =
      base.map(x => x + rng.nextGaussian().toFloat * 0.01f)
    val c0 = Array.fill(8)(rng.nextGaussian().toFloat)
    val c1 = c0.map(-_)
    val rows = (0 until 20).map(i => (i.toLong, vec(c0))) ++
      (20 until 40).map(i => (i.toLong, vec(c1)))
    val df = rows.toDF("vec_id", "embedding")
    val cents = Seq(c0.map(_.toDouble).toSeq, c1.map(_.toDouble).toSeq)
    val census = Similarity.semanticPruneCensus(df, "vec_id", "embedding",
      cents, minCosine = 0.999).collect()
    assert(census.length === 2)
    census.foreach { r =>
      val (size, capped, pruned, kept) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(capped === 0L)
      assert(pruned + kept === size) // conservation
      assert(pruned > 0L, "clones must prune")
    }
    // min-id member of each cluster always survives: kept_id_sum must
    // include id 0 (cell of c0) and id 20 (cell of c1) — verified by
    // re-deriving the kept set at a threshold that prunes everyone else
    val tight = Similarity.semanticPruneCensus(df, "vec_id", "embedding",
      cents, minCosine = 0.9).collect()
    tight.foreach { r =>
      assert(r.getLong(4) === 1L, "only the exemplar survives")
    }
    assert(tight.map(_.getLong(5)).toSet === Set(0L, 20L))
    // cap path: a cluster over maxCellSize is excluded from the pair
    // join — everyone kept, capped flagged
    val cappedRun = Similarity.semanticPruneCensus(df, "vec_id",
      "embedding", cents, minCosine = 0.9, maxCellSize = 5).collect()
    cappedRun.foreach { r =>
      assert(r.getLong(2) === 1L && r.getLong(3) === 0L &&
        r.getLong(4) === r.getLong(1))
    }
  }

  test("winnow fingerprints: rolling == direct hash, shared-run guarantee") {
    import graft.functions.WinnowHashes.winnow_hashes
    // independent direct (non-rolling) reimplementation
    def direct(s: String, k: Int, w: Int): Set[Long] = {
      val M = 1000000007L
      val cps = s.codePoints().toArray.map(_.toLong)
      if (cps.isEmpty) return Set.empty
      val hs =
        if (cps.length < k) Array(cps.foldLeft(0L)((a, c) => (a * 257 + c) % M))
        else (0 to cps.length - k).map(i =>
          (i until i + k).foldLeft(0L)((a, j) => (a * 257 + cps(j)) % M)).toArray
      if (hs.length <= w) Set(hs.min)
      else (0 to hs.length - w).map(i => hs.slice(i, i + w).min).toSet
    }
    val rng = new scala.util.Random(29)
    def randText(n: Int) = (0 until n).map(_ =>
      ('a' + rng.nextInt(26)).toChar).mkString
    val shared = randText(40)
    val d1 = randText(80) + shared + randText(80)
    val d2 = randText(90) + shared + randText(70)
    val texts = Seq((1L, d1), (2L, d2), (3L, randText(200)), (4L, "ab"),
      (5L, "")).toDF("id", "text")
    val got = texts.select($"id", winnow_hashes($"text", 4, 16).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // engine (rolling + deque) == independent direct formulation
    Seq(1L -> d1, 2L -> d2, 3L -> null, 4L -> "ab", 5L -> "").foreach {
      case (id, t) =>
        val ref = direct(Option(t).getOrElse(
          texts.filter($"id" === id).head().getString(1)), 4, 16)
        assert(got(id) === ref, s"doc $id")
    }
    // winnowing guarantee: a shared run of >= w + k - 1 chars yields
    // at least one shared fingerprint
    assert((got(1L) intersect got(2L)).nonEmpty)
    // unrelated random docs share nothing at these lengths
    assert((got(3L) intersect got(1L)).isEmpty)
  }

  test("ArrayDot is bit-identical to the HOF fold and honors its null contract") {
    val rng = new scala.util.Random(11)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat),
        Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("id", "a", "b")
    val rows = vecs.select(
      Similarity.dot($"a", $"b").as("fast"),
      Similarity.dotHof($"a", $"b").as("oracle")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // null contract: unequal lengths and null elements give null,
    // exactly like the zip_with padding / null-product propagation
    val edge = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 2.0f), null)).toDF("a", "b")
      .select(Similarity.dot($"a", $"b")).collect()
    assert(edge.forall(_.isNullAt(0)))
  }

  test("knn join (partial+final heaps) matches the brute-force window formulation") {
    val rng = new scala.util.Random(23)
    val all = (0 until 300).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
      .repartition(8) // force multiple partitions so PARTIAL does work
    val corpus = all.filter($"vec_id" % 50 =!= 0)
    val queries = all.filter($"vec_id" % 50 === 0)
    val got = Similarity.knnJoinExact(corpus, queries, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // oracle: score every pair, window-rank per query
    val scored = corpus.select($"vec_id".as("corpus_id"), $"embedding".as("cv"))
      .crossJoin(queries.select($"vec_id".as("query_id"), $"embedding".as("qv")))
      .select($"query_id", $"corpus_id",
        (Similarity.dotHof($"cv", $"qv") /
          (sqrt(Similarity.dotHof($"cv", $"cv")) *
            sqrt(Similarity.dotHof($"qv", $"qv")))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cosine".desc, $"corpus_id".desc)
    val want = scored.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.size === 6 * 4) // 6 queries x k
    // the joins no other spec calls directly give the same answer once
    // their candidate cut keeps everything: IVF probing every cell, and
    // a projection shortlist covering the whole corpus
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.trainIvfCentroids(all, "vec_id", "embedding",
      dim = 16, nlist = 4)
    assert(pairs(Similarity.knnJoinIvf(corpus, queries, "vec_id",
      "embedding", 4, cents, nprobe = cents.length)) === want)
    assert(pairs(Similarity.knnJoinRerank(corpus, queries, "vec_id",
      "embedding", 4, kDim = 4, dim = 16, shortlist = 300)) === want)
  }

  test("every knn join checks k >= 1, shortlist >= k and nprobe >= 1 " +
      "before planning") {
    val rng = new scala.util.Random(31)
    val all = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val corpus = all.filter($"vec_id" % 10 =!= 0)
    val queries = all.filter($"vec_id" % 10 === 0)
    val cents = Similarity.trainIvfCentroids(all, "vec_id", "embedding",
      dim = 16, nlist = 4)
    val books = Similarity.trainPqCodebooks(all, "vec_id", "embedding",
      dim = 16, m = 4, ksub = 4)
    val resBooks = Similarity.trainPqResidualCodebooks(all, "vec_id",
      "embedding", dim = 16, cents, m = 4, ksub = 4)
    def refused(msg: String)(join: => Any): Unit = {
      val e = intercept[IllegalArgumentException](join)
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    val k0 = "k must be >= 1, got 0"
    refused(k0)(Similarity.knnJoinExact(corpus, queries, "vec_id",
      "embedding", 0))
    refused(k0)(Similarity.knnJoinLsh(corpus, queries, "vec_id",
      "embedding", dim = 16, k = 0))
    refused(k0)(Similarity.knnJoinIvfPq(corpus, queries, "vec_id",
      "embedding", 0, cents, books))
    // the rerank used to return fewer than k rows per query here
    refused("shortlist 2 must be >= k 3")(Similarity.knnJoinRerank(
      corpus, queries, "vec_id", "embedding", 3, kDim = 4, dim = 16,
      shortlist = 2))
    refused("shortlist 2 must be >= k 3")(Similarity.knnJoinIvfPq(
      corpus, queries, "vec_id", "embedding", 3, cents, books,
      shortlist = 2))
    // the IVF joins used to return an empty result at nprobe = 0
    val np0 = "nprobe must be >= 1, got 0"
    refused(np0)(Similarity.knnJoinIvf(corpus, queries, "vec_id",
      "embedding", 3, cents, nprobe = 0))
    refused(np0)(Similarity.knnJoinIvfPq(corpus, queries, "vec_id",
      "embedding", 3, cents, books, nprobe = 0, shortlist = 6))
    refused(np0)(Similarity.knnJoinIvfPqResidual(corpus, queries,
      "vec_id", "embedding", 3, cents, resBooks, nprobe = 0,
      shortlist = 6))
    refused(np0)(Similarity.knnJoinIvfPqAtRecall(corpus, queries,
      "vec_id", "embedding", 3, cents, books, nprobe = 0))
  }

  test("LSH knn join returns only same-bucket neighbors, exact within bucket") {
    val rng = new scala.util.Random(29)
    val all = (0 until 300).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val corpus = all.filter($"vec_id" % 50 =!= 0)
    val queries = all.filter($"vec_id" % 50 === 0)
    val got = Similarity.knnJoinLsh(corpus, queries, "vec_id", "embedding",
      dim = 16, k = 3, bits = 2).collect()
    val buckets = Similarity.withLshBucket(all, "embedding", 2, 16)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    got.foreach { r =>
      assert(buckets(r.getLong(0)) === buckets(r.getLong(1)),
        s"pair crosses buckets: $r")
    }
    // every query with a same-bucket corpus vector must surface rows
    val queriesWithMates = (0 until 300 by 50).count { q =>
      buckets.exists { case (id, b) => id % 50 != 0 && b == buckets(q.toLong) }
    }
    assert(got.map(_.getLong(0)).distinct.length === queriesWithMates)
  }

  test("int8 quantization: bounded reconstruction error, cosine preserved, zero-safe") {
    val rng = new scala.util.Random(37)
    val vecs = ((0 until 100).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))) :+
      (999L, Array.fill(64)(0.0f)))
      .toDF("vec_id", "embedding")
    val qz = Similarity.quantizeInt8($"embedding")
    val rows = vecs.select($"vec_id", $"embedding", qz.as("qz"))
      .select($"vec_id",
        // per-element error must be within half a grid step:
        // scale/127/2, with a hair of float→double slack
        array_max(zip_with($"embedding", Similarity.dequantizeInt8($"qz"),
          (x, y) => abs(x.cast("double") - y))).as("err"),
        ($"qz.scale" / 127.0 / 2.0 * 1.000001).as("bound"),
        (Similarity.dot(Similarity.dequantizeInt8($"qz"),
            Similarity.dequantizeInt8($"qz"))).as("qnorm2"),
        Similarity.dot($"embedding", $"embedding").as("norm2"))
      .collect()
    rows.foreach { r =>
      if (r.getLong(0) == 999L) assert(r.getDouble(3) === 0.0)
      else {
        assert(r.getDouble(1) <= r.getDouble(2),
          s"vec ${r.getLong(0)}: err ${r.getDouble(1)} > bound ${r.getDouble(2)}")
        // squared norm survives within ~2% on 64-dim gaussian vectors
        assert(math.abs(r.getDouble(3) - r.getDouble(4)) / r.getDouble(4) < 0.02)
      }
    }
  }

  test("pqEncode matches a driver-side brute-force encoder bit for bit") {
    val rng = new scala.util.Random(17)
    val vecs = (0 until 120).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val books = Similarity.trainPqCodebooks(vecs, "vec_id", "embedding",
      dim = 16, m = 4, ksub = 4, iters = 3, sampleSize = 120)
    assert(books.length === 4)
    assert(books.forall(b => b.length === 4 && b.forall(_.length === 4)))
    val got = vecs.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), books).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // brute force with the SAME arithmetic shape (cnorm - 2*dot, dot
    // folded from 0.0 in index order, strict-less argmin)
    val byId = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    byId.foreach { case (id, v) =>
      val want = (0 until 4).map { j =>
        val sub = v.slice(j * 4, (j + 1) * 4)
        var best = -1; var bestD = Double.MaxValue
        books(j).zipWithIndex.foreach { case (c, ci) =>
          val cn = c.map(x => x * x).sum
          var d = 0.0
          sub.indices.foreach(p => d += sub(p).toDouble * c(p))
          val dist = cn - 2.0 * d
          if (dist < bestD) { bestD = dist; best = ci }
        }
        best
      }
      assert(got(id) === want, s"codes diverge for vec $id")
    }
  }

  test("ADC dot is exact on codebook-aligned vectors, approximate else") {
    val rng = new scala.util.Random(23)
    val trained = Similarity.trainPqCodebooks(
      (0 until 80).map(i => (i.toLong,
        Array.fill(16)(rng.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim = 16, m = 4, ksub = 4, iters = 3,
      sampleSize = 80)
    // snap centroids to float-representable values: the corpus column
    // is float, so only then can a stored vector EQUAL its centroids
    val books = trained.map(_.map(_.map(x => x.toFloat.toDouble)))
    // a corpus vector whose sub-vectors ARE codebook centroids has
    // zero quantization error: ADC dot == the true dot up to fold
    // grouping (the LUT entries are the same sub-dot products the
    // exact path sums in one longer fold)
    val aligned = books.map(_.head).flatten.map(_.toFloat).toArray
    val q = Array.fill(16)(rng.nextGaussian().toFloat)
    val df = Seq((1L, aligned, q)).toDF("id", "cv", "qv")
    val r = df.select(
        Similarity.adcDot(
          Similarity.pqLut(col("qv"), books),
          Similarity.pqEncode(col("cv"), books), 4, 4).as("adc"),
        Similarity.dot(col("cv"), col("qv")).as("exact"))
      .head()
    // both sides sum the same 4 sub-dot products; fold grouping
    // differs (per-sub LUT entries vs one 16-term fold), so allow
    // only rounding-grain slack
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
      s"adc ${r.getDouble(0)} vs exact ${r.getDouble(1)}")
  }

  test("IVF-PQ knn join: probed cells only, exact reranked cosines") {
    val rng = new scala.util.Random(41)
    val all = (0 until 400).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val corpus = all.filter($"vec_id" % 50 =!= 0)
    val queries = all.filter($"vec_id" % 50 === 0)
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id",
      "embedding", dim = 16, nlist = 4, iters = 3, sampleSize = 400)
    val books = Similarity.trainPqCodebooks(corpus, "vec_id",
      "embedding", dim = 16, m = 4, ksub = 8, iters = 3,
      sampleSize = 400)
    val got = Similarity.knnJoinIvfPq(corpus, queries, "vec_id",
        "embedding", k = 3, cents, books, nprobe = 2, shortlist = 12)
      .collect()
    val byQuery = got.groupBy(_.getLong(0))
    assert(byQuery.values.forall(_.length === 3))
    // the returned cosine is the EXACT cosine (rerank contract), not
    // the ADC approximation
    val vecById = all.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .toMap
    got.foreach { r =>
      val (q, c) = (vecById(r.getLong(0)), vecById(r.getLong(1)))
      val exact = q.zip(c).map { case (a, b) => a * b }.sum /
        (math.sqrt(q.map(x => x * x).sum) *
          math.sqrt(c.map(x => x * x).sum))
      assert(math.abs(r.getDouble(2) - exact) < 1e-9)
    }
    // every returned corpus row lives in one of its query's nprobe
    // cells (the partition-pruning contract)
    val cellOf = corpus.select(col("vec_id"),
        Similarity.ivfAssignment(col("embedding"), cents).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probesOf = queries.select(col("vec_id"),
        Similarity.ivfProbes(col("embedding"), cents, 2).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    got.foreach { r =>
      assert(probesOf(r.getLong(0)).contains(cellOf(r.getLong(1))))
    }
    // recall floor vs exact: PQ+rerank inside 2-of-4 probed cells on
    // gaussian data — generous bound, regression tripwire only
    val exactPairs = Similarity.knnJoinExact(corpus, queries,
        "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((gotPairs & exactPairs).size * 10 >= exactPairs.size * 3,
      s"recall ${(gotPairs & exactPairs).size}/${exactPairs.size}")
  }

  test("residual IVF-PQ: same join contract, tighter quantization") {
    val rng = new scala.util.Random(53)
    // CLUSTERED corpus — the regime residual encoding exists for:
    // within-cell displacement has far lower variance than the raw
    // vectors, so the same ksub models it with less error
    val centers = Array.fill(4)(Array.fill(16)(rng.nextGaussian() * 3))
    val all = (0 until 400).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val corpus = all.filter($"vec_id" % 50 =!= 0)
    val queries = all.filter($"vec_id" % 50 === 0)
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id",
      "embedding", dim = 16, nlist = 4, iters = 4, sampleSize = 400)
    val raw = Similarity.trainPqCodebooks(corpus, "vec_id",
      "embedding", dim = 16, m = 4, ksub = 4, iters = 4,
      sampleSize = 400)
    val res = Similarity.trainPqResidualCodebooks(corpus, "vec_id",
      "embedding", dim = 16, centroids = cents, m = 4, ksub = 4,
      iters = 4, sampleSize = 400)
    // quantization error census: mean |adc − exact| over all
    // (query, corpus-in-probed-cell) pairs, residual vs raw — the
    // claim the §IV form makes, measured on the data shaped for it
    def adcErr(books: Seq[Seq[Seq[Double]]], residual: Boolean) = {
      val c = corpus.select(col("vec_id").as("cid"),
          col("embedding").as("_cv"))
        .withColumn("_cell", Similarity.ivfAssignment(col("_cv"), cents))
        .withColumn("_codes", Similarity.pqEncode(
          if (residual)
            Similarity.residualCol(col("_cv"), cents, col("_cell"))
          else col("_cv"), books))
      val q = queries.select(col("vec_id").as("qid"),
          col("embedding").as("_qv"))
        .withColumn("_lut", Similarity.pqLut(col("_qv"), books))
        .withColumn("_qc", array(cents.map(cn =>
          Similarity.dotConst(col("_qv"), cn)): _*))
      c.crossJoin(q).select(
          abs(Similarity.adcDot(col("_lut"), col("_codes"), 4, 4,
            init = if (residual)
              element_at(col("_qc"), (col("_cell") + lit(1)).cast("int"))
            else lit(0.0)) -
            Similarity.dot(col("_cv"), col("_qv"))).as("err"))
        .agg(avg(col("err"))).head().getDouble(0)
    }
    val eRaw = adcErr(raw, residual = false)
    val eRes = adcErr(res, residual = true)
    assert(eRes < eRaw,
      f"residual ADC error $eRes%.4f not below raw $eRaw%.4f")
    // join contract identical to the raw form: k rows per query,
    // returned cosines are EXACT (rerank), pairs within probed cells
    val got = Similarity.knnJoinIvfPqResidual(corpus, queries,
        "vec_id", "embedding", k = 3, cents, res, nprobe = 2,
        shortlist = 12)
      .collect()
    assert(got.groupBy(_.getLong(0)).values.forall(_.length === 3))
    val vecById = all.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .toMap
    got.foreach { r =>
      val (q, c) = (vecById(r.getLong(0)), vecById(r.getLong(1)))
      val exact = q.zip(c).map { case (a, b) => a * b }.sum /
        (math.sqrt(q.map(x => x * x).sum) *
          math.sqrt(c.map(x => x * x).sum))
      assert(math.abs(r.getDouble(2) - exact) < 1e-9)
    }
  }

  test("PQ recall-target join: smallest qualifying shortlist, exact cosines") {
    val rng = new scala.util.Random(61)
    val all = (0 until 400).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val corpus = all.filter($"vec_id" % 50 =!= 0)
    val queries = all.filter($"vec_id" % 50 === 0)
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id",
      "embedding", dim = 16, nlist = 4, iters = 3, sampleSize = 400)
    val books = Similarity.trainPqCodebooks(corpus, "vec_id",
      "embedding", dim = 16, m = 4, ksub = 8, iters = 3,
      sampleSize = 400)
    // a LOW target must pick the smallest shortlist that clears it;
    // an unreachable target must fall back to the largest
    val low = Similarity.knnJoinIvfPqAtRecall(corpus, queries,
        "vec_id", "embedding", k = 3, cents, books, nprobe = 4,
        shortlists = Seq(3, 6, 12), targetX100 = 1)
      .collect()
    assert(low.nonEmpty)
    val lowS = low.map(_.getInt(3)).distinct
    assert(lowS.length === 1 && lowS.head === 3,
      s"target=1% must choose the smallest shortlist, got $lowS")
    val hi = Similarity.knnJoinIvfPqAtRecall(corpus, queries,
        "vec_id", "embedding", k = 3, cents, books, nprobe = 4,
        shortlists = Seq(3, 6, 12), targetX100 = 100)
      .collect()
    // with nprobe=nlist every cell is probed; shortlist 12 >> k means
    // the reranked top-k ~always equals exact — but if the measured
    // curve never reaches 100% the FALLBACK (largest) must be chosen;
    // either way the chosen shortlist is consistent across rows
    assert(hi.map(_.getInt(3)).distinct.length === 1)
    // k rows per query at the chosen config, recall consistent on
    // every row, cosines exact
    assert(hi.groupBy(_.getLong(0)).values.forall(_.length === 3))
    assert(hi.map(_.getLong(4)).distinct.length === 1)
    val vecById = all.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .toMap
    hi.foreach { r =>
      val (q, c) = (vecById(r.getLong(0)), vecById(r.getLong(1)))
      val exact = q.zip(c).map { case (a, b) => a * b }.sum /
        (math.sqrt(q.map(x => x * x).sum) *
          math.sqrt(c.map(x => x * x).sum))
      assert(math.abs(r.getDouble(2) - exact) < 1e-9)
    }
    // the recall the row reports is the recall the pairs realize
    val exactPairs = Similarity.knnJoinExact(corpus, queries,
        "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hiPairs = hi.map(r => (r.getLong(0), r.getLong(1))).toSet
    val reported = hi.head.getLong(4)
    val realized = (hiPairs & exactPairs).size * 1000L / exactPairs.size
    assert(reported === realized,
      s"reported recall_x1000 $reported != realized $realized")
  }

  test("sampleQueries: calibration on a seeded query subset chooses " +
      "the dial, pairs cover ALL queries — both recall-target joins") {
    // the 100 TB posture made executable: exact ground truth (the
    // O(|corpus|·|queries|) calibration term) runs on the sample; the
    // dial applies fleet-wide. On this fixture the sample-chosen dial
    // must equal the full-set choice — same rule, same code path.
    val rng = new scala.util.Random(61)
    val all = (0 until 400).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val corpus = all.filter($"vec_id" % 50 =!= 0)
    val queries = all.filter($"vec_id" % 50 === 0) // 8 queries
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id",
      "embedding", dim = 16, nlist = 4, iters = 3, sampleSize = 400)
    val books = Similarity.trainPqCodebooks(corpus, "vec_id",
      "embedding", dim = 16, m = 4, ksub = 8, iters = 3,
      sampleSize = 400)
    // PQ shortlist dial. With the sample covering the whole query set
    // the calibration input is IDENTICAL, so the one-code-path claim
    // is pinned exactly: same dial, same reported recall.
    val full = Similarity.knnJoinIvfPqAtRecall(corpus, queries,
        "vec_id", "embedding", k = 3, cents, books, nprobe = 4,
        shortlists = Seq(3, 6, 12), targetX100 = 1).collect()
    val sampledAll = Similarity.knnJoinIvfPqAtRecall(corpus, queries,
        "vec_id", "embedding", k = 3, cents, books, nprobe = 4,
        shortlists = Seq(3, 6, 12), targetX100 = 1,
        sampleQueries = 100).collect()
    assert(sampledAll.map(_.getInt(3)).distinct.toSeq ===
      full.map(_.getInt(3)).distinct.toSeq,
      "sample-covering-all dial differs from the full-set choice")
    assert(sampledAll.map(_.getLong(4)).distinct.toSeq ===
      full.map(_.getLong(4)).distinct.toSeq,
      "sample-covering-all recall differs from the full-set measure")
    // a PROPER subset: the dial still comes from the declared rule
    // (one of the offered shortlists), the PAIRS cover every query,
    // and the sample-measured recall rides on every row
    val sampled = Similarity.knnJoinIvfPqAtRecall(corpus, queries,
        "vec_id", "embedding", k = 3, cents, books, nprobe = 4,
        shortlists = Seq(3, 6, 12), targetX100 = 1,
        sampleQueries = 4).collect()
    assert(Seq(3, 6, 12).contains(sampled.head.getInt(3)))
    assert(sampled.map(_.getLong(0)).distinct.length ===
      queries.count().toInt)
    assert(sampled.groupBy(_.getLong(0)).values.forall(_.length === 3))
    assert(sampled.map(_.getLong(4)).distinct.length === 1)
    // IVF nprobe dial, same contract
    val fullIvf = Similarity.knnJoinIvfAtRecall(corpus, queries,
      "vec_id", "embedding", k = 3, cents, targetX100 = 1).collect()
    val sampledIvfAll = Similarity.knnJoinIvfAtRecall(corpus, queries,
      "vec_id", "embedding", k = 3, cents, targetX100 = 1,
      sampleQueries = 100).collect()
    assert(sampledIvfAll.map(_.getInt(3)).distinct.toSeq ===
      fullIvf.map(_.getInt(3)).distinct.toSeq,
      "sample-covering-all nprobe differs from the full-set choice")
    val sampledIvf = Similarity.knnJoinIvfAtRecall(corpus, queries,
      "vec_id", "embedding", k = 3, cents, targetX100 = 1,
      sampleQueries = 4).collect()
    assert((1 to 4).contains(sampledIvf.head.getInt(3)))
    assert(sampledIvf.map(_.getLong(0)).distinct.length ===
      queries.count().toInt)
  }

  test("multi-probe LSH knn join dominates single-probe recall") {
    val rng = new scala.util.Random(31)
    val all = (0 until 400).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val corpus = all.filter($"vec_id" % 50 =!= 0)
    val queries = all.filter($"vec_id" % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(Similarity.knnJoinLsh(corpus, queries,
      "vec_id", "embedding", dim = 16, k = 3, bits = 4))
    val multi = pairs(Similarity.knnJoinLshMultiProbe(corpus, queries,
      "vec_id", "embedding", dim = 16, k = 3, bits = 4))
    val exact = pairs(Similarity.knnJoinExact(corpus, queries,
      "vec_id", "embedding", 3))
    // recall vs exact must not DECREASE with more probes, and with
    // bits=4 on gaussian data multi-probe should strictly find more
    assert((multi & exact).size >= (single & exact).size)
    assert(multi.size >= single.size)
    // every multi-probe pair is within hamming distance 1 in bucket space
    val b = Similarity.withLshBucket(all, "embedding", 4, 16)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    multi.foreach { case (q, c) =>
      assert(Integer.bitCount(b(q) ^ b(c)) <= 1, s"pair ($q,$c) too far")
    }
  }

  test("embedding near-dup pairs caps degenerate buckets") {
    // 1k near-identical vectors (boilerplate embeddings) all land in
    // one LSH bucket — uncapped, that's ~500k pairs in one task. The
    // cap drops the oversized bucket entirely; a healthy small cluster
    // in the same corpus must still produce its pairs.
    val boiler = (0 until 1000).map(i =>
      (i.toLong, Array.tabulate(8)(j => 1.0f + (i % 7) * 1e-6f + j * 0f)))
    val healthy = Seq(
      (2000L, Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)),
      (2001L, Array(1.001f, -1.001f, 1.001f, -1.001f, 1.001f, -1.001f, 1.001f, -1.001f)))
    val vecs = (boiler ++ healthy).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      dim = 8, minCosine = 0.999, bits = 4, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bounded: no pair from the 1000-vector degenerate bucket survives
    assert(pairs.forall { case (a, b) => a >= 2000L && b >= 2000L },
      s"degenerate-bucket pairs leaked: ${pairs.size}")
    assert(pairs.contains((2000L, 2001L)))
  }

  test("capDegree: clique collapses to linear edges, stays one " +
      "component, capped nodes reported") {
    // 40-clique: 780 pairs uncapped; degree cap 3 must keep it ONE
    // cluster (every node keeps its edge toward the clique minimum)
    // with a linear edge count and every node reported as capped.
    val n = 40
    val clique = (for (a <- 1 to n; b <- (a + 1) to n)
      yield (a.toLong, b.toLong)).toDF("id1", "id2")
    val (kept, capped) = Dedup.capDegree(clique, maxDegree = 3)
    val keptCount = kept.count()
    assert(keptCount < clique.count() / 3,
      s"cap did not bound the clique: $keptCount edges kept of 780")
    assert(keptCount <= 2L * 3 * n, "kept edges exceed 2*maxDegree*n")
    assert(capped.count() === n.toLong, "every clique node exceeds degree 3")
    val labels = Dedup.duplicateClusters(kept)
    assert(labels.select($"cluster_id").distinct().count() === 1L,
      "clique split under the degree cap")
    assert(labels.count() === n.toLong)
  }

  test("capDegree: disjoint chains are untouched below the cap") {
    val chains = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("id1", "id2")
    val (kept, capped) = Dedup.capDegree(chains, maxDegree = 3)
    assert(kept.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L)))
    assert(capped.count() === 0L)
    val (labels, cappedClusters, _) =
      Dedup.duplicateClustersCapped(chains, maxDegree = 3)
    assert(cappedClusters === 0L)
    assert(labels.select($"cluster_id").distinct().count() === 2L)
  }

  test("language ID picks the right language on clear samples") {
    val samples = Seq(
      ("en", "the cat and the dog is in that house with the red door"),
      ("es", "el perro y la casa de los árboles que una vez por la mañana"),
      ("de", "der hund und die katze ist mit der frau für das kind nicht da"),
      ("fr", "le chien est dans la maison avec les enfants pour une fête des amis"))
      .toDF("expected", "text")
      .select($"expected", TextAnalysis.langId($"text").as("pred"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    samples.foreach { case (exp, pred) => assert(exp === pred) }
  }

  test("language ID returns 'und' on no markers") {
    val pred = Seq("zzz qqq xxx").toDF("text")
      .select(TextAnalysis.langId($"text")).head().getString(0)
    assert(pred === "und")
  }

  test("quality profile fields are sane") {
    val r = Seq("The quick brown fox, 42 times!").toDF("text")
      .select(TextAnalysis.qualityProfile($"text").as("q")).select("q.*").head()
    assert(r.getAs[Long]("n_tokens") === 6)
    assert(r.getAs[Double]("punct_ratio") > 0.0 && r.getAs[Double]("punct_ratio") < 0.2)
    assert(r.getAs[Double]("digit_ratio") > 0.0)
  }

  test("bottom-k fingerprint stable under trailing append") {
    val fps = Seq(base, base + " tail tail tail").toDF("text")
      .select(TextAnalysis.bottomKFingerprint($"text", 5, 8).as("fp"))
      .collect().map(_.getSeq[Long](0))
    val overlap = fps(0).toSet.intersect(fps(1).toSet).size
    assert(overlap >= 6, s"expected ≥6 shared of 8, got $overlap")
  }

  test("NearDupGate driver hash replica matches the in-plan xxhash64 chain") {
    // a drift between the driver fold/probe and the construction-time
    // in-plan rebuild would be a silent false-negative factory — pin
    // bit equality across salts and edge-case hash values
    val samples = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue,
      123456789L, -987654321L, 42L)
    val df = samples.flatMap(bh => (0 until 16).map(i => (i, bh)))
      .toDF("i", "bh")
    df.select(col("i"), col("bh"), xxhash64(col("i"), col("bh")).as("h"))
      .collect().foreach { r =>
        assert(r.getLong(2) ===
          graft.operators.NearDupGate.bhPosDriver(r.getLong(1), r.getInt(0)),
          s"i=${r.getInt(0)} bh=${r.getLong(1)}")
      }
  }
}
