package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, Similarity}
import java.nio.file.Files

/** The persisted IVF-PQ index lifecycle: build-once/probe-many
  * equality with the inline join, incremental append that provably
  * re-encodes nothing, reader liveness through build/compact
  * generation swaps, latest-wins id updates, and the crash windows
  * of every commit. */
class AnnIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private val rng = new scala.util.Random(61)
  private lazy val all = (0 until 400).map(i =>
    (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    .toDF("vec_id", "embedding").cache()
  private lazy val corpus = all.filter($"vec_id" % 50 =!= 0)
  private lazy val queries = all.filter($"vec_id" % 50 === 0)
  private lazy val cents = Similarity.trainIvfCentroids(corpus,
    "vec_id", "embedding", dim = 16, nlist = 4, iters = 3,
    sampleSize = 400)
  private lazy val books = Similarity.trainPqCodebooks(corpus,
    "vec_id", "embedding", dim = 16, m = 4, ksub = 8, iters = 3,
    sampleSize = 400)

  private def rowsOf(df: org.apache.spark.sql.DataFrame) = df
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    .toSeq.sortBy(t => (t._1, -t._3, t._2))

  private def fsFor(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def genOf(dir: String): String =
    AnnIndex.currentGeneration(spark, dir)

  private def census(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[(String, Long, Long)] = {
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    if (!fs.exists(root)) return Seq.empty
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      buf += ((f.getPath.toString.stripPrefix(root.toString),
        f.getLen, f.getModificationTime))
    }
    buf.sortBy(_._1).toSeq
  }

  test("probe from the built index is bit-identical to the inline " +
      "IVF-PQ join over the same corpus and quantizer") {
    val dir = Files.createTempDirectory("graft_ann_eq").toFile
      .getAbsolutePath + "/idx"
    AnnIndex.build(spark, dir, corpus, "vec_id", "embedding",
      cents, books)
    val fromIndex = AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12)
    val inline = Similarity.knnJoinIvfPq(corpus, queries, "vec_id",
      "embedding", k = 3, cents, books, nprobe = 2, shortlist = 12)
    assert(rowsOf(fromIndex) === rowsOf(inline))
    // a SECOND probe answers from the same artifact (build-once /
    // probe-many), different k — no rebuild, same equality
    val again = AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 5, nprobe = 2, shortlist = 12)
    val inline5 = Similarity.knnJoinIvfPq(corpus, queries, "vec_id",
      "embedding", k = 5, cents, books, nprobe = 2, shortlist = 12)
    assert(rowsOf(again) === rowsOf(inline5))
  }

  test("append encodes ONLY the batch: base and prior deltas are " +
      "byte-identical, probes see the union") {
    val dir = Files.createTempDirectory("graft_ann_app").toFile
      .getAbsolutePath + "/idx"
    val fs = fsFor(dir)
    val slabA = corpus.filter($"vec_id" % 7 =!= 3)
    val slabB = corpus.filter($"vec_id" % 7 === 3 &&
      $"vec_id" % 2 === 0)
    val slabC = corpus.filter($"vec_id" % 7 === 3 &&
      $"vec_id" % 2 =!= 0)
    AnnIndex.build(spark, dir, slabA, "vec_id", "embedding",
      cents, books)
    val gen = genOf(dir)
    val base0 = census(fs, s"$dir/$gen/base")
    AnnIndex.append(spark, dir, slabB, "vec_id", "embedding")
    // the no-re-encode proof: every base file untouched (a rewrite
    // changes task-UUID names, lengths, mtimes), one delta committed
    // into the SAME generation (appends never swap generations)
    assert(genOf(dir) === gen, "append must not publish a generation")
    assert(base0.nonEmpty && census(fs, s"$dir/$gen/base") === base0,
      "append rewrote base files — the full corpus was re-encoded")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/$gen/delta-000001")))
    val delta1 = census(fs, s"$dir/$gen/delta-000001")
    AnnIndex.append(spark, dir, slabC, "vec_id", "embedding")
    assert(census(fs, s"$dir/$gen/base") === base0)
    assert(census(fs, s"$dir/$gen/delta-000001") === delta1,
      "second append touched the first delta")
    // probe over base+deltas == inline over the full corpus: the
    // incremental path loses nothing and double-counts nothing
    val fromIndex = AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12)
    val inline = Similarity.knnJoinIvfPq(corpus, queries, "vec_id",
      "embedding", k = 3, cents, books, nprobe = 2, shortlist = 12)
    assert(rowsOf(fromIndex) === rowsOf(inline))
  }

  test("re-appending an id is a latest-wins UPDATE: probes return it " +
      "exactly once with the new vector; compact folds the shadow " +
      "permanently") {
    val dir = Files.createTempDirectory("graft_ann_upd").toFile
      .getAbsolutePath + "/idx"
    AnnIndex.build(spark, dir, corpus.filter($"vec_id" % 7 =!= 3),
      "vec_id", "embedding", cents, books)
    AnnIndex.append(spark, dir, corpus.filter($"vec_id" % 7 === 3),
      "vec_id", "embedding")
    // the update: every %11==0 corpus id re-appended with a REVERSED
    // vector (bit-exact transform, deterministic new cell)
    val updated = corpus.withColumn("embedding",
      when($"vec_id" % 11 === 0, reverse($"embedding"))
        .otherwise($"embedding"))
    AnnIndex.append(spark, dir,
      updated.filter($"vec_id" % 11 === 0), "vec_id", "embedding")
    // nprobe = nlist scans every cell — no cross-cell shadow can
    // hide, so the probe must equal the inline join over the UPDATED
    // corpus, each id exactly once
    val fromIndex = AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 4, shortlist = 12)
    val inline = Similarity.knnJoinIvfPq(updated, queries, "vec_id",
      "embedding", k = 3, cents, books, nprobe = 4, shortlist = 12)
    assert(rowsOf(fromIndex) === rowsOf(inline),
      "latest-wins probe diverged from the inline join over the " +
        "updated corpus")
    // both dedup plans resolve identically: the broadcast anti-join
    // (small deltas, the steady state) and the windowed fallback
    // (delta backlog past the broadcast bound — forced here by
    // zeroing the threshold)
    spark.conf.set(AnnIndex.deltaBroadcastBytesKey, "0")
    try assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 4, shortlist = 12)) ===
      rowsOf(inline),
      "windowed-fallback dedup diverged from the broadcast anti-join")
    finally spark.conf.unset(AnnIndex.deltaBroadcastBytesKey)
    // physical shadows exist pre-compact (census counts storage) ...
    val preRows = AnnIndex.census(spark, dir)
      .agg(sum($"n_vectors")).head().getLong(0)
    val distinctIds = corpus.count()
    assert(preRows > distinctIds,
      "expected superseded shadows in storage before compact")
    // ... and compact folds them: one base, one row per id, probe
    // unchanged
    assert(AnnIndex.compact(spark, dir) === 2)
    val postRows = AnnIndex.census(spark, dir)
      .agg(sum($"n_vectors")).head().getLong(0)
    assert(postRows === distinctIds,
      "compact must fold updates to exactly one row per id")
    assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 4, shortlist = 12)) ===
      rowsOf(inline), "compaction changed latest-wins probe results")
  }

  test("duplicate ids within one build corpus or append batch fail " +
      "fast (latest-wins resolves BETWEEN commits, not within one)") {
    val dir = Files.createTempDirectory("graft_ann_dup").toFile
      .getAbsolutePath + "/idx"
    val dupes = corpus.limit(10)
      .unionByName(corpus.limit(3))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.build(spark, dir, dupes, "vec_id", "embedding",
        cents, books)
    }
    assert(e.getMessage.contains("unique within one"))
    AnnIndex.build(spark, dir, corpus.limit(50), "vec_id", "embedding",
      cents, books)
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.append(spark, dir, dupes, "vec_id", "embedding")
    }
    assert(e2.getMessage.contains("unique within one"))
  }

  test("probes stay LIVE through build and compact: a probe fired at " +
      "every maintenance commit point returns full results, and the " +
      "superseded generation survives exactly one publish (grace)") {
    val dir = Files.createTempDirectory("graft_ann_live").toFile
      .getAbsolutePath + "/idx"
    val fs = fsFor(dir)
    AnnIndex.build(spark, dir, corpus.filter($"vec_id" % 7 =!= 3),
      "vec_id", "embedding", cents, books)
    val gen1 = genOf(dir)
    AnnIndex.append(spark, dir, corpus.filter($"vec_id" % 7 === 3),
      "vec_id", "embedding")
    val expect = rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12))
    // COMPACT preserves probe results, so continuity == equality at
    // every hook point: staged (old gen live), published (new gen
    // live), swept (grace applied)
    var points = Seq.empty[String]
    AnnIndex.compact(spark, dir, hook = p => {
      points :+= p
      assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
        "embedding", k = 3, nprobe = 2, shortlist = 12)) === expect,
        s"probe at compact commit point '$p' diverged or blanked")
    })
    assert(points === Seq("staged", "published", "swept"))
    val gen2 = genOf(dir)
    assert(gen2 !== gen1)
    // one-version grace: the superseded generation is still on disk
    // for a reader that resolved the pointer just before the publish
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$gen1")),
      "superseded generation must survive one publish (reader grace)")
    // REBUILD over the same corpus + quantizer: same invariant
    AnnIndex.build(spark, dir, corpus, "vec_id", "embedding",
      cents, books, hook = p => {
        assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
          "embedding", k = 3, nprobe = 2, shortlist = 12)) === expect,
          s"probe at build commit point '$p' diverged or blanked")
      })
    // the second publish retires gen1 past grace; gen2 is the new grace
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$gen1")),
      "a generation two publishes old must be swept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$gen2")))
  }

  test("crash debris is invisible to probes and swept by the next " +
      "writer: a staged-but-unpublished generation, a crashed " +
      "append's staging, and pointer temp files") {
    val dir = Files.createTempDirectory("graft_ann_cr").toFile
      .getAbsolutePath + "/idx"
    val fs = fsFor(dir)
    AnnIndex.build(spark, dir, corpus, "vec_id", "embedding",
      cents, books)
    val gen = genOf(dir)
    val expect = rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12))
    // 1. a build/compact that crashed after staging, before publish:
    // a complete-looking generation dir no pointer references
    val strayGen = new org.apache.hadoop.fs.Path(s"$dir/gen-000099")
    corpus.filter($"vec_id" === 1L)
      .withColumn("vec_id", lit(999999L))
      .select(col("vec_id").as("corpus_id"),
        col("embedding").as("vec"))
      .withColumn("cell", Similarity.ivfAssignment(col("vec"), cents))
      .withColumn("codes", Similarity.pqEncode(col("vec"), books))
      .withColumn("cn", Similarity.norm(col("vec")))
      .write.partitionBy("cell")
      .parquet(new org.apache.hadoop.fs.Path(strayGen, "base").toString)
    // 2. a crashed append: staged delta written but never renamed
    corpus.filter($"vec_id" === 2L)
      .withColumn("vec_id", lit(999998L))
      .select(col("vec_id").as("corpus_id"),
        col("embedding").as("vec"))
      .withColumn("cell", Similarity.ivfAssignment(col("vec"), cents))
      .withColumn("codes", Similarity.pqEncode(col("vec"), books))
      .withColumn("cn", Similarity.norm(col("vec")))
      .write.partitionBy("cell")
      .parquet(s"$dir/$gen/_delta_staging")
    // 3. a crashed pointer publish: torn temp beside the pointer
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/ptr-000000042_tmp")
    val out = fs.create(tmp, true)
    out.write("gen=gen-000099".getBytes("UTF-8")); out.close()
    // probes: all three invisible, results unchanged, and the reader
    // takes NO destructive action (a reader must never delete what
    // could be a live writer's staging)
    assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12)) === expect,
      "crash debris leaked into a probe")
    assert(fs.exists(strayGen) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$gen/_delta_staging")) &&
      fs.exists(tmp), "a probe must not destructively sweep debris")
    // the next writer sweeps all of it
    AnnIndex.append(spark, dir, corpus.filter($"vec_id" < 0),
      "vec_id", "embedding")
    assert(!fs.exists(strayGen), "writer must sweep unreferenced gens")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/$gen/_delta_staging")),
      "writer must sweep stray delta staging")
    assert(!fs.exists(tmp), "writer must sweep pointer temp debris")
    assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12)) === expect)
  }

  test("probeAtRecall: dial and pairs bit-identical to the inline " +
      "recall join over the same corpus; sample mode applies the " +
      "dial to all queries") {
    val dir = Files.createTempDirectory("graft_ann_rc").toFile
      .getAbsolutePath + "/idx"
    // split build/append so the calibration also covers the
    // incremental layout (base + one delta)
    AnnIndex.build(spark, dir, corpus.filter($"vec_id" % 7 =!= 3),
      "vec_id", "embedding", cents, books)
    AnnIndex.append(spark, dir, corpus.filter($"vec_id" % 7 === 3),
      "vec_id", "embedding")
    def full(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getLong(4)))
      .toSeq.sortBy(t => (t._1, -t._3, t._2))
    val fromIndex = full(AnnIndex.probeAtRecall(spark, dir, queries,
      "vec_id", "embedding", k = 3, nprobe = 4,
      shortlists = Seq(3, 6, 12), targetX100 = 50))
    val inline = full(Similarity.knnJoinIvfPqAtRecall(corpus, queries,
      "vec_id", "embedding", k = 3, cents, books, nprobe = 4,
      shortlists = Seq(3, 6, 12), targetX100 = 50))
    assert(fromIndex === inline,
      "persisted-index recall dial diverged from the inline join")
    // sample mode: dial from the seeded subset, pairs cover all
    // queries, reported recall constant
    val sampled = full(AnnIndex.probeAtRecall(spark, dir, queries,
      "vec_id", "embedding", k = 3, nprobe = 4,
      shortlists = Seq(3, 6, 12), targetX100 = 50, sampleQueries = 4))
    assert(Seq(3, 6, 12).contains(sampled.head._4))
    assert(sampled.map(_._1).distinct.length === queries.count().toInt)
    assert(sampled.map(_._5).distinct.length === 1)
  }

  test("compact folds deltas into one base without re-encoding: " +
      "probe identical, components bounded, appends continue") {
    val dir = Files.createTempDirectory("graft_ann_cp").toFile
      .getAbsolutePath + "/idx"
    val fs = fsFor(dir)
    AnnIndex.build(spark, dir, corpus.filter($"vec_id" % 7 =!= 3),
      "vec_id", "embedding", cents, books)
    AnnIndex.append(spark, dir,
      corpus.filter($"vec_id" % 7 === 3 && $"vec_id" % 2 === 0),
      "vec_id", "embedding")
    AnnIndex.append(spark, dir,
      corpus.filter($"vec_id" % 7 === 3 && $"vec_id" % 2 =!= 0),
      "vec_id", "embedding")
    val expect = rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12))
    assert(AnnIndex.compact(spark, dir) === 2)
    def components() = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/${genOf(dir)}"))
      .map(_.getPath.getName)
      .filter(n => n == "base" || n.startsWith("delta-")).sorted.toSeq
    assert(components() === Seq("base"),
      "compact must fold every delta into the base")
    assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12)) === expect,
      "compaction changed probe results")
    // idempotent on an already-compact index
    assert(AnnIndex.compact(spark, dir) === 0)
    // the lifecycle continues: post-compact appends restart the
    // delta chain and probes see them
    AnnIndex.append(spark, dir,
      corpus.filter($"vec_id" === 1L)
        .withColumn("vec_id", lit(777777L)), "vec_id", "embedding")
    assert(components() === Seq("base", "delta-000001"))
    val withNew = AnnIndex.probe(spark, dir,
      corpus.filter($"vec_id" === 1L), "vec_id", "embedding",
      k = 3, nprobe = 2, shortlist = 12)
    assert(withNew.collect().exists(_.getLong(1) === 777777L),
      "a probe must see vectors appended after a compact " +
        "(777777 clones query 1's vector — cosine 1.0)")
  }

  test("empty append is a clean no-op; empty build refuses to commit " +
      "an unreadable artifact") {
    val dir = Files.createTempDirectory("graft_ann_empty").toFile
      .getAbsolutePath + "/idx"
    val fs = fsFor(dir)
    // a 0-row corpus must not produce an index that bricks every read
    val e = intercept[IllegalArgumentException] {
      AnnIndex.build(spark, dir, corpus.filter($"vec_id" < 0),
        "vec_id", "embedding", cents, books)
    }
    assert(e.getMessage.contains("EMPTY corpus"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    // an empty REBUILD must leave the live index untouched
    AnnIndex.build(spark, dir, corpus, "vec_id", "embedding",
      cents, books)
    val expect = rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12))
    intercept[IllegalArgumentException] {
      AnnIndex.build(spark, dir, corpus.filter($"vec_id" < 0),
        "vec_id", "embedding", cents, books)
    }
    assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12)) === expect,
      "a refused empty rebuild must leave the live index intact")
    // a routine no-new-rows day: append(empty) commits nothing and
    // the index stays fully readable
    AnnIndex.append(spark, dir, corpus.filter($"vec_id" < 0),
      "vec_id", "embedding")
    assert(fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/${genOf(dir)}"))
      .map(_.getPath.getName).count(_.startsWith("delta-")) === 0,
      "empty append must not commit a delta")
    assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12)) === expect)
  }

  test("a pre-validation artifact's unassignable cells are invisible " +
      "to probes and dropped at compact; a stray 'delta-' name is " +
      "never a component") {
    val dir = Files.createTempDirectory("graft_ann_bad").toFile
      .getAbsolutePath + "/idx"
    val fs = fsFor(dir)
    AnnIndex.build(spark, dir, corpus.limit(100), "vec_id", "embedding",
      cents, books)
    val gen = genOf(dir)
    val expect = rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 4, shortlist = 12))
    // a stray 'delta-' dir (tooling debris — empty numeric suffix)
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/$gen/delta-")))
    // probes never scan it
    assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 4, shortlist = 12)) === expect)
    // appends keep numbering cleanly past the stray name
    AnnIndex.append(spark, dir,
      corpus.filter($"vec_id" === 1L)
        .withColumn("vec_id", lit(600000L)), "vec_id", "embedding")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/$gen/delta-000001")))
  }

  test("append fails fast on column-name, column-TYPE, and vector-" +
      "DIMENSION mismatches; probe fails fast on a missing index and " +
      "on nprobe < 1") {
    val dir = Files.createTempDirectory("graft_ann_ff").toFile
      .getAbsolutePath + "/idx"
    AnnIndex.build(spark, dir, corpus.limit(50), "vec_id", "embedding",
      cents, books)
    val expect = rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.append(spark, dir, corpus.limit(5)
        .withColumnRenamed("vec_id", "other_id"), "other_id", "embedding")
    }
    assert(e.getMessage.contains("was built on"))
    // a type-mismatched id would coerce in the latest-wins resolution
    // (long 7 never supersedes string "7") or brick reads AFTER the
    // commit — append is the last validation point, so it refuses
    val eT = intercept[IllegalArgumentException] {
      AnnIndex.append(spark, dir, corpus.limit(5)
        .withColumn("vec_id", $"vec_id".cast("string")),
        "vec_id", "embedding")
    }
    assert(eT.getMessage.contains("stores id column"))
    // wrong-dim (and null) vectors assign to no real cell: the rows
    // would be INVISIBLE to every probe while compact carries them
    // forever — refused from the staged artifact's partition names
    val eD = intercept[IllegalArgumentException] {
      AnnIndex.append(spark, dir, corpus.limit(5)
        .withColumn("embedding",
          concat($"embedding", $"embedding")),
        "vec_id", "embedding")
    }
    assert(eD.getMessage.contains("cannot assign"))
    val eN = intercept[IllegalArgumentException] {
      AnnIndex.append(spark, dir, corpus.limit(5)
        .withColumn("embedding",
          lit(null).cast("array<float>")),
        "vec_id", "embedding")
    }
    assert(eN.getMessage.contains("cannot assign"))
    // every refused append left the index fully intact
    assert(rowsOf(AnnIndex.probe(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 2, shortlist = 12)) === expect)
    intercept[IllegalArgumentException] {
      AnnIndex.probe(spark, dir + "_nope", queries, "vec_id",
        "embedding", k = 3)
    }
    val eP = intercept[IllegalArgumentException] {
      AnnIndex.probe(spark, dir, queries, "vec_id", "embedding",
        k = 3, nprobe = 0)
    }
    assert(eP.getMessage.contains("nprobe"))
  }
}
