package graft.tools

/** Regenerates PLANS.md: the executed (AQE-final) physical plans of
  * the flagship queries, with the scale property each plan is
  * evidence for. Run after plan-affecting changes:
  *   sbt "runMain graft.tools.DumpPlans [sfDir]"
  */
object DumpPlans {

  /** query → the scale property its plan demonstrates */
  val flagships: Seq[(String, String)] = Seq(
    "q1_pricing_summary" ->
      ("Pushed-down scan filter, two-phase (map-side partial) " +
        "aggregation, whole-stage codegen over the hot path."),
    "j5_join_revenue" ->
      ("Fact table shuffles once on the join key; both dimension " +
        "sides broadcast — no sort-merge of small dims."),
    "a9_topk_customers" ->
      "Top-k as TakeOrderedAndProject — never a global sort.",
    "etl_unify_score" ->
      ("The central adapter: one scan, one narrow repartition, then " +
        "pure per-row column algebra (uuid5, regex ladder, scorer) — " +
        "no shuffle until the final order+limit. Linear to 2.5M rows " +
        "(BENCH_NOTES.md)."),
    "dd_minhash_pairs" ->
      ("Banded LSH: signatures recomputed per side instead of " +
        "shuffled (id-triples move, 64-long arrays do not); bucket-" +
        "size cap bounds any task's pair fan-out."),
    "sim_knn_join" ->
      ("Partial GroupedTopK heaps directly on the broadcast-join " +
        "output, ONE hash exchange of candidates (partitions × " +
        "queries × k rows), final heaps after — the full scored " +
        "stream never moves."),
    "dd_embedding_neardup" ->
      ("Bucketed self-join (one shuffle on bucket) with a count-" +
        "window cap dropping degenerate boilerplate buckets; exact " +
        "cosine via the codegen'd ArrayDot expression."),
    "geo_radius" ->
      ("Degree-bounds bbox prefilter (pushdown-eligible on stored " +
        "columns) ahead of the exact haversine — the two-phase geo-" +
        "index shape."),
    "side_extraction_methods" ->
      ("Attempt batch aggregated map-side first; the stats merge is " +
        "a sort-merge full-outer join (Spark cannot broadcast full-" +
        "outer) over a methods-by-domains-sized table — trivial at " +
        "any corpus scale."),
    "etl_decontaminate_exact" ->
      ("Exact 13-gram decontamination: O(W·n) shingling on both " +
        "sides, inverted md5-gram index, eval side broadcast into the " +
        "hash-equality join — never doc × doc."),
    "s5_table_copy" ->
      ("Month-partitioned write + read-back: the read-back scan shows " +
        "PartitionFilters on start_month — the pruning every " +
        "start_date query rides at 100 TB."),
    "k1_partition_pruned" ->
      ("Partition-pruned month merge read-back: only touched month " +
        "directories were rewritten (the oracle's file census proves " +
        "it); the read-back aggregates over the partition column."),
    "sim_knn_join_q8" ->
      ("Quantized k-NN join: corpus scored from dequantized int8 " +
        "(4× less scan volume), bucket join against broadcast " +
        "queries, partial+final GroupedTopK — one exchange of " +
        "candidates."),
    "sim_knn_join_ivf" ->
      ("IVF k-NN join: corpus rows carry ONE cell each, queries " +
        "explode to nprobe cells and broadcast — at scale a " +
        "partition-pruned scan of the cell-partitioned corpus; " +
        "0.60 measured recall@3, best join variant in " +
        "sim_recall_report."),
    "j_asof_latest_view" ->
      ("As-of join WITHOUT a join node: union of side-tagged inputs " +
        "through one running window per key — one hash shuffle on " +
        "user_id, immune to key skew (no per-key quadratic term " +
        "however hot the key)."),
    "j_range_bucketed" ->
      ("Interval-containment join as a time-grid equi-join: " +
        "intervals explode to overlapped cells, points land in ONE " +
        "cell (no pair dedup), exact containment filter after — " +
        "never a broadcast-nested-loop."),
    "j_bloom_prefilter" ->
      ("Bloom pre-filter evaluated inside the fact scan (literal " +
        "bitmap, whole-stage codegen) — 92.6% of fact rows " +
        "eliminated before the join on the fixture, zero false " +
        "negatives by construction."),
    "dd_degree_cap" ->
      ("Sampled-edge dedup clustering: per-node degree cap keeps " +
        "edge volume linear in nodes where a pathological duplicate " +
        "cluster is quadratic; capped clusters reported, clique " +
        "connectivity preserved (funnelcap probe: flat wall-clock at " +
        "2000 clones)."),
    "dd_prefix_jaccard" ->
      ("Prefix-filtered exact similarity join: the inverted index " +
        "covers only each doc's rarest ~(1-tau) tokens (no global " +
        "rank window — (df, token) IS the order), length filter " +
        "before the verify joins, codegen'd sorted-merge intersect " +
        "in the verify projection. Near-linear on Zipf corpora " +
        "where the full index is quadratic (BENCH_NOTES ppjoinz)."),
    "dd_incremental_neardup" ->
      ("One-sided corpus probe: the batch's banded signatures " +
        "BROADCAST into the corpus band index — incremental cost " +
        "proportional to batch size; the corpus is never " +
        "self-joined."),
    "pg_pagerank" ->
      ("Iterate-shuffle loop over localCheckpointed edges: one " +
        "dst-keyed exchange per iteration, ~0.17 s marginal cost " +
        "each (BENCH_NOTES pagerank probe); integral rank cells " +
        "make the result partitioning-independent."),
    "mb_assoc_rules" ->
      ("Basket self-join shuffles on the basket key (cost bounded " +
        "by basket sizes, never items²); the 1-row basket count " +
        "broadcasts; frequent-pair support prune runs before rule " +
        "expansion."),
    "a18_cube" ->
      ("All four grouping sets computed in ONE Expand + partial-agg " +
        "shuffle — a hand-unioned cube would rescan the fact table " +
        "per grouping set."),
    "t9_text_search_stem2" ->
      ("Dictionary-applied Porter search: the 70-regex chain ran at " +
        "plan build over the distinct vocab only; the EXECUTED plan " +
        "is a regex-free INSET probe + per-doc agg (the pushdown " +
        "trap and its fix are in BENCH_NOTES; the regex-free " +
        "property is pinned by PlanAuditSpec)."),
    "ta_nb_classifier" ->
      ("Naive Bayes gate: token-keyed partial-agg train collapses " +
        "the corpus to a vocab-bounded checkpointed count table; " +
        "scoring is one token-keyed LEFT join + per-doc partial agg " +
        "with broadcast 1-row totals/priors — nothing grows with the " +
        "train corpus at fixed vocab (ScaleProbe nb: table flat at " +
        "the vocab bound from 1x to 10x)."),
    "ta_lm_terciles" ->
      ("CCNet tercile cut: boundaries from a cumulative sum over the " +
        "BOUNDED integral bits-per-bigram histogram (checkpointed), " +
        "assignment as a broadcast comparison at scan speed — never " +
        "a global-sort ntile over scored docs."),
    "w_ntile_hist" ->
      ("Histogram-quantile quartiles (w_ntile's scale-safe sibling): " +
        "the corpus partial-aggregates to a bounded per-(priority, " +
        "bin) histogram, windows run ONLY over that tiny table " +
        "(PlanAuditSpec pins every Window above an aggregate), and " +
        "quartile assignment is a broadcast-join comparison at scan " +
        "speed — no per-key global sort of the fact table."))
  // The streaming gates (ev_stream_novelty/neardup/quality_gate) are
  // deliberately NOT dumped here: the registry fn returns the
  // post-drain census read, so its executed plan would show a trivial
  // parquet scan, not the foreachBatch probe — their plan-shaped
  // claims live in the operator scaladoc and are exercised by
  // StreamingStateSpec + the ScaleProbe novelty rows instead.

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    graft.GraftSession.run() { spark =>
      val sb = new StringBuilder
      sb.append("# PLANS — flagship physical plans (generated by " +
        "graft.tools.DumpPlans)\n\n")
      sb.append(s"AQE-final executed plans at `$sfDir`, " +
        s"${spark.sparkContext.master}, shuffle.partitions=" +
        s"${spark.conf.get("spark.sql.shuffle.partitions")}. Regenerate with\n" +
        "`sbt \"runMain graft.tools.DumpPlans\"` after plan-affecting " +
        "changes.\n")
      flagships.foreach { case (name, why) =>
        val df = graft.SparkEntry.registry(name).fn(spark, sfDir)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0).trim
        sb.append(s"\n## $name\n\n$why\n\n```\n$p\n```\n")
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("PLANS.md"), sb.toString)
      println(s"wrote PLANS.md (${flagships.size} plans)")
    }
  }
}
