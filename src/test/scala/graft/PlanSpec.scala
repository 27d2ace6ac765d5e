package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that make these plans
  * survive a 100× scale-up are pinned here so a regression (lost
  * pushdown, lost broadcast, lost partial agg) fails CI, not the
  * cluster. (SURVEY.md §4: Catalyst provides these — this spec
  * proves the queries are shaped so it actually does.)
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // Verify-shaped planner: every driver-run session installs
    // GraftExtensions (functions + threshold-inference optimizer
    // rules), so the pins here must hold under the same rules —
    // register() is the live-session path (the spec JVM's session may
    // already exist, so .withExtensions wouldn't apply)
    graft.functions.GraftExtensions.register(s)
    s
  }

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  private def optimized(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan.toString

  test("q02: filter and projection push down to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), s"no pushed filters in:\n$p")
    // PushedFilters rendering truncates; DataFilters carries the full list
    assert("l_quantity#\\d+ > 45.0".r.findFirstIn(p).isDefined
      && "l_discount#\\d+ >= 0.09".r.findFirstIn(p).isDefined,
      s"expected quantity/discount pushdown in:\n$p")
    // only the 5 needed columns are read, not all 11
    assert(!p.contains("l_returnflag"), "scan reads columns the query never uses")
  }

  test("events: ts-range filters push through the normalize cast to the scan") {
    // Tables.normalizeTs wraps ts in a cast on the native-micros
    // fixture path; Catalyst must still unwrap the comparison and
    // push the range predicate into the parquet scan — time-range
    // scans over events are THE hot path at 100 TB, and losing this
    // pushdown would silently read every row group. (The legacy
    // nanos-as-long path cannot push ts filters at all — `ts div
    // 1000` is opaque to the scan — so the micros fixture is also
    // the strictly better layout.)
    import org.apache.spark.sql.functions.{col, lit}
    val p = Tables.events(spark, dir)
      .filter(col("ts") >= lit("2025-01-01").cast("timestamp"))
      .select(col("event_id"), col("ts"))
      .queryExecution.executedPlan.toString
    assert(p.contains("GreaterThanOrEqual(ts,"),
      s"ts range predicate not pushed to the events scan:\n$p")
  }

  test("q01: aggregation is two-phase (map-side partial before shuffle)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final agg in:\n$p")
    assert(p.contains("partial_sum"), s"map-side partial aggregation missing in:\n$p")
  }

  test("q10: small dimension side is broadcast, not shuffled") {
    val p = plan("q10_join_inner")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$p")
  }

  test("q13/q14: semi and anti joins stay semi/anti at the physical level") {
    assert(plan("q13_join_semi").contains("LeftSemi"))
    assert(plan("q14_join_anti").contains("LeftAnti"))
  }

  test("q40: global sort+limit plans as top-k, not a full sort") {
    val p = plan("q40_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
  }

  test("d06/s01: similarity kernels run the codegen dot-product expression") {
    assert(plan("d06_embedding_near_dup").contains("float_vec_dot"))
    assert(plan("s01_cosine_topk").contains("float_vec_dot"))
  }

  test("d03: LSH candidate generation is an equi-join (shuffle), not a cross join") {
    val p = plan("d03_lsh_near_dup")
    assert(!p.contains("CartesianProduct"), s"LSH must not cartesian-join:\n$p")
  }

  test("d03: InferJaccardSizeFilter's size-ratio bound fires in the optimized plan") {
    // the hand-written size prefilter was retired (round 10) — the
    // optimizer rule must now infer min-size ≥ 0.9·(1−1e-9)·max-size
    // from the jaccard ≥ 0.9 threshold, or every candidate pair pays
    // the O(n+m) merge scan
    val p = optimized("d03_lsh_near_dup")
    assert(p.contains("0.8999999"),
      s"no inferred size-ratio conjunct (0.9·(1−1e-9)) in:\n$p")
    spark.catalog.clearCache()
  }

  test("d12: weighted simhash chunk join stays equi-keyed, md5 staged pre-join") {
    val p = plan("d12_weighted_simhash")
    assert(!p.contains("CartesianProduct"), s"chunk join must not cartesian:\n$p")
    // the df join is the only place the token stream shuffles before
    // the per-doc vote aggregate; per-bit substrings must read the
    // join output, not re-derive md5 per bit (16 md5 calls per row
    // would show as md5(t#...) appearing in a post-join projection)
    assert(p.contains("partial_sum"), s"expected two-phase vote sums in:\n$p")
  }

  test("q18: as-of join is window-based — no pairwise join explosion") {
    val p = plan("q18_join_asof")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d06: near-dup candidates come from a band equi-join, not an O(n²) theta join") {
    val p = plan("d06_embedding_near_dup")
    // the only nested-loop allowed is the 1-row hyperplane broadcast;
    // the pair join itself must hash on (band, bucket)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"expected an equi pair-join in:\n$p")
    assert(!p.contains("CartesianProduct"), s"bucket join must not cartesian:\n$p")
  }

  test("s04: trained-IVF probe joins on the cell key and broadcasts the query side") {
    val p = plan("s04_ann_ivf_kmeans")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast cell-probe join in:\n$p")
    assert(p.contains("argmax_dot"),
      s"expected the k-independent argmax assignment kernel in:\n$p")
    spark.catalog.clearCache()
  }

  test("d11: semantic dedup compares only within a cell — equi-join, no cartesian") {
    val p = plan("d11_semantic_dedup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"expected an equi within-cell join in:\n$p")
    assert(!p.contains("CartesianProduct"), s"within-cell compare must not cartesian:\n$p")
    assert(p.contains("float_vec_dot"), s"expected the codegen verify kernel in:\n$p")
    spark.catalog.clearCache()
  }

  test("s10: IVF-PQ search equi-joins on cell with a broadcast LUT side — no cartesian") {
    val p = plan("s10_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast query+LUT join in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cell-scoped scan must not cartesian:\n$p")
    spark.catalog.clearCache()
  }

  test("p06: the exact-k sample plans as top-k, never a full sort") {
    val p = plan("p06_sample_exact_k")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
  }

  test("p07: the weighted sample plans as top-k, never a full sort") {
    val p = plan("p07_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
  }

  test("p11: the A-ES reservoir plans as top-k with zero joins") {
    val p = plan("p11_weighted_reservoir")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
    assert(!p.contains("Join"), s"p11 should be a pure per-row scan + top-k:\n$p")
  }

  test("q44: unpivot is a map-side Expand feeding a two-phase aggregate") {
    val p = plan("q44_unpivot")
    assert(p.contains("Expand"), s"expected the native unpivot Expand in:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected map-side partial aggregation in:\n$p")
  }

  test("c08: chunking is a map-side explode — no shuffle before the presentation sort") {
    val p = plan("c08_chunk_overlap")
    assert(p.contains("Generate"), s"expected the 1→N explode in:\n$p")
    // the orderBy's range exchange is the ONLY exchange in the plan
    assert("Exchange".r.findAllIn(p).size <= 1, s"unexpected shuffles in:\n$p")
  }

  test("c09: the ingest gate is all equi-joins — no cartesian anywhere") {
    val p = plan("c09_incremental_ingest")
    assert(!p.contains("CartesianProduct"), s"ingest gate must not cartesian:\n$p")
    spark.catalog.clearCache()
  }

  test("t12/m06: sketch + media dedup aggregate map-side first (two-phase)") {
    val p1 = plan("t12_heavy_hitters")
    assert(p1.contains("partial_count") || p1.contains("partial_sum"),
      s"expected map-side partial aggregation in t12:\n$p1")
    spark.catalog.clearCache()
    val p2 = plan("m06_media_dedup")
    assert(p2.contains("partial_min") || p2.contains("partial_count"),
      s"expected map-side partial aggregation in m06:\n$p2")
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("s11: NCM classification broadcasts the prototype table — no cartesian blow-up") {
    val p = plan("s11_ncm_classify")
    // the 10-query × 10-prototype compare may plan as a broadcast
    // nested loop (tiny sides) but must never shuffle-cartesian
    assert(!p.contains("CartesianProduct"), s"prototype compare must not cartesian:\n$p")
    assert(p.contains("Broadcast"), s"expected the prototype broadcast in:\n$p")
  }

  test("d02: minhash signatures evaluate the kernel, zero exchanges") {
    val df = SparkEntry.queries("d02_minhash_signature")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("minhash_sigs"), s"expected the MinHashSigs kernel in:\n$p")
    // per-row signatures need no shuffle at all (the final orderBy is
    // the only exchange)
    assert("Exchange".r.findAllIn(p).size <= 1, s"unexpected shuffles in:\n$p")
  }

  test("d04: simhash runs the per-row kernel — no token explode, no pre-collapse shuffle") {
    val p = plan("d04_simhash_near_dup")
    assert(p.contains("simhash_bits"), s"expected the SimHashBits kernel in:\n$p")
    assert(!p.contains("Generate explode"), s"token explode crept back in:\n$p")
    spark.catalog.clearCache()
  }

  test("q72: sessionization runs the native SessionWindow, partitioned by user") {
    val p = plan("q72_sessionize")
    assert(p.contains("session_window") || p.contains("SessionWindow"),
      s"expected the native session-window operator in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q35: RANGE frames are prefix frames in ONE window pass (no sliding re-aggregation)") {
    val df = SparkEntry.queries("q35_window_range")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // both prefix frames share (partition, order) ⇒ a single Window node
    assert("RunningWindowFunction|Window".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("5000 PRECEDING") && !p.contains("AND 500000 PRECEDING"),
      s"sliding frame crept back in:\n$p")
    assert(p.contains("unboundedpreceding"), s"expected prefix frames in:\n$p")
  }

  test("t06: repetition filter is per-row only — the sort is the single exchange") {
    val df = SparkEntry.queries("t06_repetition_filter")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size <= 1, s"unexpected shuffles in:\n$p")
  }

  test("s05: kNN classify scans the corpus once and broadcasts the tiny sides") {
    val p = plan("s05_knn_classify")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast query side in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p01: hash-sample is a per-row filter — the sort is the single exchange") {
    val df = SparkEntry.queries("p01_sample_uniform")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size <= 1, s"unexpected shuffles in:\n$p")
    assert(!p.contains("text#"), "sample decision must not read the text column")
  }

  test("t08: vocab top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("t08_vocab")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
  }

  test("s06: multi-probe join broadcasts the probe side, no cartesian pair join") {
    val p = plan("s06_ann_multiprobe")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe join in:\n$p")
    spark.catalog.clearCache()
  }

  test("c01: curation pipeline fuses to one content-hash shuffle plus the final sort") {
    val df = SparkEntry.queries("c01_curate")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected shuffles in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c02: near-dup curation keeps banded equi-joins — no cartesian anywhere") {
    val df = SparkEntry.queries("c02_curate_neardup")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"curation must not cartesian:\n$p")
    // the keeper test joins the (checkpointed, tiny) label table back
    // to the doc list — broadcastable by size, never a nested loop
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    spark.catalog.clearCache()
  }

  test("d07: every cluster round is an equi-join — no cartesian anywhere") {
    val p = plan("d07_dedup_clusters")
    assert(!p.contains("CartesianProduct"), s"cluster rounds must not cartesian:\n$p")
    spark.catalog.clearCache()
  }

  test("c03: per-shard packing is one keyed shuffle (window), no global sort before it") {
    val p = plan("c03_pack_sequences")
    // one Exchange for the (lang, shard) window partitioning, one for
    // the final presentation ORDER BY — nothing else
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected shuffles in:\n$p")
    assert(p.contains("Window"), s"expected window-based running sum in:\n$p")
  }

  test("t09: PII scrub is a pure per-row projection — no shuffle except the final sort") {
    val p = plan("t09_pii_scrub")
    assert("Exchange".r.findAllIn(p).size <= 1, s"PII scrub must not shuffle:\n$p")
    assert(!p.contains("Join"), s"PII scrub must not join:\n$p")
  }

  test("c04: decontam stage broadcasts bench grams; pipeline keeps banded equi-joins") {
    val df = SparkEntry.queries("c04_curate_decontam")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast bench-gram join in:\n$p")
    assert(!p.contains("CartesianProduct"), s"decontam must not cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    spark.catalog.clearCache()
  }

  test("t10: contamination check broadcasts the benchmark gram set, no cartesian") {
    val p = plan("t10_contamination")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast bench side in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"corpus gram stream must not shuffle for the join:\n$p")
  }

  test("t15: LM scoring joins stay equi-keyed; only the 1-row vocab scalar nest-loops") {
    val p = plan("t15_ngram_perplexity")
    // the model joins (bigram counts, context counts) must be
    // equi-joins on the gram/context key — the shape that holds when
    // the model outgrows broadcast at 100 TB
    assert(!p.contains("CartesianProduct"), s"LM scoring must not cartesian:\n$p")
    // the single-row vocab scalar rides a broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast vocab scalar in:\n$p")
    // doc-level aggregate is two-phase (map-side partial before shuffle)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side partial agg in:\n$p")
  }

  test("s12: BM25 probe broadcasts the query terms onto the term-partitioned index") {
    val p = plan("s12_bm25_retrieval")
    assert(p.contains("BroadcastHashJoin"),
      s"query-term probe must broadcast, not re-shuffle the index:\n$p")
    assert(!p.contains("CartesianProduct"), s"BM25 must not cartesian:\n$p")
    // per-(qid,doc) agg is two-phase
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side partial agg in:\n$p")
  }

  test("s14: each training round is one two-phase aggregate over broadcast weights") {
    val p = plan("s14_perceptron_train")
    assert(!p.contains("CartesianProduct"),
      s"weights must ride a broadcast, not a cartesian:\n$p")
  }

  test("c13: PageRank iterations stay equi-keyed over checkpointed edges") {
    // building the DataFrame runs the 6 iterations (eager
    // localCheckpoint per hop — the d07 lineage discipline); the
    // final plan must join ranks/degrees on the domain key with no
    // cartesian anywhere
    val p = plan("c13_domain_rank")
    assert(!p.contains("CartesianProduct"), s"domain rank must not cartesian:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"expected checkpointed iteration inputs in:\n$p")
  }

  test("p04: mixture quota table is broadcast onto the ranked stream, no cartesian") {
    val p = plan("p04_domain_mixture")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast quota join in:\n$p")
    assert(!p.contains("CartesianProduct"), s"mixture must not cartesian:\n$p")
    assert(!p.contains("text#"), "quota math must not read the text column")
  }

  test("m04: codec round-trip is map-side only — no shuffle except the final sort") {
    val df = SparkEntry.queries("m04_media_decode")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size <= 1, s"decode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"decode must not join:\n$p")
  }

  test("round-8 per-row stages (m11-m13, c11, t14) are map-side only — no shuffle except the final sort") {
    // the container parsers, the compressed-corpus ingest, and the
    // HTML extractor all run where the bytes are: any DATA-KEYED
    // Exchange beyond the presentation sort (or any Join) is a
    // regression against the 100 TB contract. Tables.spread's
    // conditional ROUND-ROBIN exchange (r15) is exempt: it fires only
    // on the single-row-group fixture scan (a no-op at any real
    // multi-split scale) to parallelize the per-row codec work, and
    // moves no data by key.
    Seq("m11_flac_meta", "m12_mkv_meta", "m13_tiff_meta", "m14_ogg_meta", "m15_pdf_meta", "m16_webp_meta",
        "m17_flac_pcm", "m18_ulaw_pcm", "m19_alaw_pcm", "m20_adpcm_pcm",
        "m21_exif_meta",
        "s13_random_projection",
        "c11_compressed_ingest", "t14_html_extract", "c12_warc_ingest",
        "c14_zip_ingest", "c15_tar_ingest").foreach { name =>
      val p = plan(name)
      val keyed = "Exchange (?!RoundRobinPartitioning)".r.findAllIn(p).size
      assert(keyed <= 1, s"$name must not shuffle by key beyond the sort:\n$p")
      // r15 advice: the round-robin exemption above must not silently
      // admit an unconditional/stacked repartition that would move the
      // full dataset at production scale — at most the ONE conditional
      // Tables.spread exchange per plan
      val rr = "Exchange RoundRobinPartitioning".r.findAllIn(p).size
      assert(rr <= 1, s"$name: more than one round-robin exchange (stacked spread?):\n$p")
      assert(!p.contains("Join"), s"$name must not join:\n$p")
    }
  }

  test("Tables.spread is a NO-OP on a scan that already has real splits (the 100 TB guard)") {
    // r15 verdict item 8: the fixture tables are ONE parquet row group,
    // so spread fires there; at any real multi-split scale the guard
    // must keep the plan untouched — pinned here on a multi-file table
    // written with more partitions than half the session's parallelism.
    val tmp = java.nio.file.Files.createTempDirectory("graft_spreadguard_").toString
    try {
      spark.range(0, 100000, 1, 8).selectExpr("id", "id * 2 AS v")
        .write.mode("overwrite").parquet(tmp)
      val df = spark.read.parquet(tmp)
      assert(df.rdd.getNumPartitions * 2 >= spark.sparkContext.defaultParallelism,
        "fixture for this spec must scan with >= parallelism/2 splits")
      val spreadDf = Tables.spread(df)
      assert(spreadDf eq df, "spread must return the SAME frame (no-op) on a multi-split scan")
      val p = spreadDf.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange RoundRobinPartitioning"),
        s"spread added an exchange to a multi-split scan:\n$p")
    } finally {
      val f = new java.io.File(tmp)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      f.delete(): Unit
    }
  }

  test("Tables.spread is a NO-OP (and probe-free) on a shuffle-bound frame") {
    // r15 advice: .rdd on a post-exchange frame would pre-execute the
    // upstream stages under AQE — spread must refuse such frames by
    // plan inspection, returning them unchanged, so a future call site
    // below an aggregate/join cannot silently double-run its subtree.
    val agg = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag").count()
    assert(Tables.spread(agg) eq agg,
      "spread must return a shuffle-bound frame unchanged")
    val joined = Tables.lineitem(spark, dir).join(
      Tables.orders(spark, dir),
      org.apache.spark.sql.functions.col("l_orderkey")
        === org.apache.spark.sql.functions.col("o_orderkey"))
    assert(Tables.spread(joined) eq joined,
      "spread must return a join frame unchanged")
  }

  test("d13: fuzzy-dedup candidates come from the banded equi-join — never a cartesian") {
    // pinned on the STAGED (pre-checkpoint) plan — the shipped query
    // materializes the pairs eagerly, so its own physical plan is
    // just the checkpoint scan + sort
    val (sig, pairs) = graft.operators.Dedup.editDistancePairsStaged(spark, dir)
    val p = pairs.queryExecution.executedPlan.toString
    sig.unpersist(blocking = false)
    assert(!p.contains("CartesianProduct"), s"fuzzy dedup must not cartesian:\n$p")
    // the Levenshtein DP runs post-join on candidates only; the
    // length prefilter must sit in the join, not after a cross
    assert(p.contains("levenshtein"), s"expected the levenshtein verify in:\n$p")
    spark.catalog.clearCache()
  }

  test("d13: LevenshteinLengthPruning's length-gap bound fires in the optimized plan") {
    // the hand-written gap prefilter was retired (round 10) — the rule
    // must infer abs(len_a − len_b)·20 ≤ len_a + len_b from the
    // relative lev·20 ≤ len_a + len_b threshold, short-circuiting
    // candidate pairs before the O(|a|·|b|) DP. Pinned on the STAGED
    // (pre-checkpoint) plan: the shipped query materializes the pairs
    // eagerly, so its own optimized plan is just the checkpoint scan.
    val (sig, pairs) = graft.operators.Dedup.editDistancePairsStaged(spark, dir)
    val p = pairs.queryExecution.optimizedPlan.toString
    sig.unpersist(blocking = false)
    assert(p.contains("abs((length("),
      s"no inferred length-gap conjunct in:\n$p")
    spark.catalog.clearCache()
  }

  test("d14: fuzzy-cluster propagation stays equi-keyed — no cartesian anywhere") {
    val p = plan("d14_fuzzy_clusters")
    assert(!p.contains("CartesianProduct"), s"cluster rounds must not cartesian:\n$p")
    spark.catalog.clearCache()
  }

  test("t20: novelty overlap joins grams equi-keyed — no cartesian") {
    val p = plan("t20_synth_novelty")
    assert(!p.contains("CartesianProduct"), s"overlap join must not cartesian:\n$p")
    spark.catalog.clearCache()
  }

  test("s16: MaxSim broadcasts the query tokens and aggregates two-phase") {
    val p = plan("s16_maxsim_topk")
    assert(p.contains("float_vec_dot"), s"expected the dot kernel in:\n$p")
    assert(p.contains("Broadcast"), s"query side must broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus×query scoring must broadcast, not shuffle-cartesian:\n$p")
    assert(p.contains("partial_max"),
      s"per-token maxima must aggregate map-side first:\n$p")
  }

  test("s17: binary-quantized search broadcasts queries; re-rank runs the dot kernel") {
    val p = plan("s17_binary_quantize")
    assert(p.contains("Broadcast"), s"query side must broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"code scan must not cartesian:\n$p")
    assert(p.contains("float_vec_dot"), s"expected the exact re-rank kernel in:\n$p")
  }

  test("q47: SCD2 merge is ONE full-outer join — history rows explode inline, no per-leg re-join") {
    val p = plan("q47_scd2_merge")
    assert("SortMergeJoin".r.findAllIn(p).size == 1,
      s"the closed/current legs must share one join:\n$p")
    assert(p.contains("Generate explode"),
      s"expected the inline row expansion in:\n$p")
    assert(!p.contains("CartesianProduct"), s"merge must stay equi-keyed:\n$p")
  }

  test("s18: MMR iterates over the checkpointed shortlist — corpus scanned once, never per step") {
    val p = plan("s18_mmr_rerank")
    // The five selection steps must read the queries×12 checkpointed
    // frame, not re-scan the embeddings parquet per step: building
    // the DataFrame materializes the shortlist, and the final plan
    // contains zero file scans.
    assert(!p.contains("FileScan"),
      s"selection steps must not re-scan the corpus:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"per-query pairwise sims are query_id-keyed, not cartesian:\n$p")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("p08: temperature mixture broadcasts the quota table, no cartesian blow-up") {
    val p = plan("p08_temperature_mixture")
    assert(!p.contains("CartesianProduct"), s"quota join must not cartesian:\n$p")
    assert(p.contains("Broadcast"), s"expected the broadcast quota table in:\n$p")
  }

  test("t19: Kneser-Ney tops out as TakeOrderedAndProject over the type table") {
    val p = plan("t19_kneser_ney")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row N11 scalar may nest-loop:\n$p")
    spark.catalog.clearCache()
  }

  test("q46: HLL sketches aggregate two-phase — bytes, not rows, cross the shuffle") {
    val p = plan("q46_hll_union")
    // sketch build + union run as ObjectHashAggregate pairs (partial
    // map-side, final after the exchange) — the shape where each
    // shuffle moves a few-KB sketch per group, never the user rows
    assert(p.contains("ObjectHashAggregate"), s"no object agg in:\n$p")
    assert(p.contains("partial_hll_sketch_agg") || p.contains("partial hll_sketch_agg")
      || "partial_?hll".r.findFirstIn(p).isDefined,
      s"expected partial sketch aggregation in:\n$p")
    assert(!p.contains("CartesianProduct"), s"only 1-row broadcast joins allowed:\n$p")
  }

  test("q45: the z-key is a pure projection — one two-phase aggregate, no joins") {
    val p = plan("q45_zorder_layout")
    assert(!p.contains("Join"), s"z-order layout must not join:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"bucket zone-map stats must aggregate map-side first:\n$p")
    // bucket agg + presentation sort are the only exchanges
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected shuffles in:\n$p")
  }

  test("c17: robots matching equi-joins on host with broadcast rules") {
    val p = plan("c17_robots_filter")
    assert(p.contains("Broadcast"), s"rule table must broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"rule match must not cartesian:\n$p")
  }

  test("c18: shard packing is one shard-keyed shuffle, no joins") {
    val p = plan("c18_shard_pack")
    assert(!p.contains("Join"), s"shard writer must not join:\n$p")
    // the shard groupBy + presentation sort are the only exchanges
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected shuffles in:\n$p")
  }

  test("p05: threshold mixture has NO window — broadcast thresholds + per-row filter only") {
    val p = plan("p05_mixture_threshold")
    assert(!p.contains("Window"), s"threshold fill must not rank:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast threshold join in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q41: salted join stays an equi-join — no cartesian from the salt explode") {
    val p = plan("q41_salted_join")
    assert(!p.contains("CartesianProduct"), s"salting must stay keyed:\n$p")
    assert(p.contains("Join"), p)
  }

  test("s08: dequant search broadcasts the query side like s01") {
    val p = plan("s08_dequant_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Broadcast"), s"expected broadcast query side in:\n$p")
  }

  test("c06: curated packing stays windowed per (lang, shard) — no global sort, no cartesian") {
    val df = SparkEntry.queries("c06_curate_pack")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window"), s"expected per-shard packing window in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
  }

  test("c05: mixture stage broadcasts quotas; pipeline keeps banded equi-joins") {
    val df = SparkEntry.queries("c05_curate_mixture")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast quota join in:\n$p")
    // the scalar tot/cap joins are broadcast-one-row nested loops by
    // construction (the repo-wide crossJoin pattern) — only an
    // unkeyed join of two DATA-sized sides would be a scale defect,
    // and that plans as CartesianProduct, pinned here
    assert(!p.contains("CartesianProduct"), s"mixture pipeline must not cartesian:\n$p")
    spark.catalog.clearCache()
  }

  test("d09: winnowing is a per-row kernel projection + ONE fingerprint shuffle") {
    val p = plan("d09_winnow_spans")
    assert(p.contains("winnow_mins"), s"expected the winnow kernel in:\n$p")
    // explode → partial agg → exchange on fp → final agg → sort:
    // two exchanges total (group shuffle + presentation sort), no join
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected shuffles in:\n$p")
    assert(!p.contains("Join"), s"span detection needs no join:\n$p")
  }

  test("s09: PQ search broadcasts the query LUTs and scans codes once") {
    val p = plan("s09_ann_pq")
    // the corpus-side scan must join the tiny LUT side by broadcast
    // (BroadcastNestedLoopJoin: the <> predicate is non-equi but the
    // broadcast side is 10 rows — same shape s01 pins); a shuffle or
    // cartesian of the corpus side would be the scale defect
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected broadcast LUT join in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q42: the binned range join is a keyed equi-join — never a cartesian theta join") {
    val p = plan("q42_binned_range_join")
    assert(!p.contains("CartesianProduct"),
      s"big-big range join must not plan as a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"big-big range join must not plan as a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), // tiny test corpus may broadcast
      s"expected a hash/merge equi-join on the bin key in:\n$p")
  }

  test("q43: the interval-overlap join equi-joins on (type, bin) — never a cartesian") {
    val p = plan("q43_interval_join")
    assert(!p.contains("CartesianProduct"),
      s"interval join must not plan as a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval join must not plan as a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), // tiny test corpus may broadcast
      s"expected a hash/merge equi-join on the (type, bin) key in:\n$p")
  }

  test("runtime bloom-filter join pruning engages on a selective fact-dim join") {
    // The 100 TB lever Catalyst ships for free: a selective filter on
    // the dimension side injects a bloom_filter_agg whose
    // might_contain() prunes the FACT side before the join shuffle.
    // The driver corpus is far below the default application-side
    // scan threshold (10 GB — production triggers it naturally), so
    // the test lowers the thresholds to demonstrate and pin the
    // mechanism; conf restored after.
    Confs.scoped(spark, Map(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val li = Tables.lineitem(spark, dir)
      val ord = Tables.orders(spark, dir)
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 500000)
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter_agg"),
        s"expected a runtime bloom filter built from the dim side in:\n$p")
      assert(p.contains("might_contain"),
        s"expected might_contain pruning on the fact side in:\n$p")
    }
  }

  test("t11: rarity scoring broadcasts vocab+total — the corpus token stream never joins by shuffle") {
    val p = plan("t11_unigram_rarity")
    assert(p.contains("TakeOrderedAndProject"), s"vocab top-k must not global-sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the token stream must not shuffle for the join:\n$p")
  }

  test("c07: funnel counts reuse cached stages — no stage recomputed per count") {
    val df = SparkEntry.queries("c07_curation_funnel")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the stages are localCheckpointed (EAGER — a lazy cache lets the
    // independent count branches race the materialization, round-5
    // fix), which plans as a Scan over the checkpointed RDD
    assert(p.contains("InMemoryTableScan") || p.contains("ExistingRDD"),
      s"funnel must count the materialized stage frames, not rebuild them:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
  }

  test("q48: KMV sketches partial-aggregate map-side; only sketch frames join") {
    val p = plan("q48_kmv_intersect")
    // the typed Aggregator must plan as a two-phase ObjectHashAggregate:
    // partial sketches (k longs) cross the shuffle, never raw events
    assert(p.contains("ObjectHashAggregate"),
      s"KMV agg must be an ObjectHashAggregate:\n$p")
    assert("partial_kmvsketch|partial_KmvSketch|Partial".r.findFirstIn(p).isDefined,
      s"no partial (map-side) sketch aggregation in:\n$p")
    // pair algebra + exact audit join small frames — no cartesian over
    // anything corpus-sized
    assert(!p.contains("CartesianProduct"), s"cartesian in the pair algebra:\n$p")
  }

  test("q49: CMS grid builds two-phase and broadcasts to the point-query side") {
    val p = plan("q49_countmin")
    // the d×w grid build must partial-aggregate map-side (only <=256
    // partial cells cross the shuffle, never raw events) ...
    assert("partial_count|Partial".r.findFirstIn(p).isDefined,
      s"no partial (map-side) cell aggregation in:\n$p")
    // ... and the finished grid joins the heavy-hitter side broadcast —
    // nothing corpus-sized shuffles for a point query
    assert(p.contains("BroadcastHashJoin"), s"grid probe must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row n_total frame must broadcast, not cartesian:\n$p")
  }

  test("q36: the funnel's three windows and the per-user agg share ONE user shuffle") {
    val p = plan("q36_funnel_pattern")
    // three stacked Window operators over the same partitioning …
    assert("(?s)Window.*Window.*Window".r.findFirstIn(p).isDefined,
      s"expected three stacked Window operators:\n$p")
    // … must plan exactly one hash Exchange: the windows share it and
    // the groupBy(user_id) reuses the partitioning (the remaining
    // exchange is the 3-row global-agg SinglePartition one)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"funnel must shuffle events exactly once, saw $hashExchanges:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q37: cohort base joins broadcast; distinct-user agg is two-phase") {
    val p = plan("q37_cohort_retention")
    // the <=weeks-row cohort-size table must broadcast back onto cells
    assert(p.contains("BroadcastHashJoin"), s"cohort base must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"cells must not shuffle for the base join:\n$p")
    // count(DISTINCT user) over the (cohort, offset) keys must partial-
    // aggregate map-side before any shuffle
    assert("partial_count|Partial".r.findFirstIn(p).isDefined,
      s"no partial aggregation in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q38: sessionize windows and the per-session agg share ONE user shuffle") {
    val p = plan("q38_gaps_islands")
    // lag + running sum + groupBy(user, session_idx): the windows
    // share their Exchange and HashPartitioning(user_id) satisfies
    // the aggregate's subset clustering — one hash shuffle total
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"sessionization must shuffle events exactly once, saw $hashExchanges:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p09: DSIR bucket model broadcasts; top-k is TakeOrdered, not a global sort") {
    val p = plan("p09_dsir_select")
    // the <=1024-row bucket model must broadcast to the pool scan
    assert(p.contains("BroadcastHashJoin"), s"bucket model must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the pool feature stream must not shuffle for the model join:\n$p")
    // k=24 selection must plan as TakeOrdered (heap per partition +
    // driver merge), never a full global sort of the pool
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c19: the benchmark side broadcasts — the corpus stream never shuffles for the join") {
    val p = plan("c19_fuzzy_decontam")
    assert(p.contains("BroadcastHashJoin"), s"bench band join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus band stream must not shuffle for the bench join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s20: int4 search is one corpus scan with broadcast queries — no self-shuffle") {
    val p = plan("s20_int4_pack")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s21: probe plan and probes broadcast — the corpus never shuffles for the search") {
    val p = plan("s21_filtered_ann")
    // the (cell,label) histogram, depth plan, and probe set are all
    // query-sized; every join in the plan must be broadcast-built
    assert(p.contains("BroadcastHashJoin"), s"probes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"filtered ANN must not shuffle the corpus for any join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c22: the benchmark position-gram side broadcasts to the corpus gram scan") {
    val p = plan("c22_span_scrub")
    // contamination discovery must never shuffle the corpus: the
    // bench-gram join is broadcast; the rebuild's semi/anti joins
    // shuffle only scrubbed docs and ARE allowed to sort-merge
    assert(p.contains("BroadcastHashJoin"), s"bench gram join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q57: top-k runs as a mergeable summary — partial ObjectHashAggregate, no Window, one hash shuffle") {
    val p = plan("q57_topk_mapside")
    assert(p.contains("ObjectHashAggregate"), s"typed top-k must aggregate:\n$p")
    assert(!p.contains("Window"),
      s"the mergeable-summary plan must not fall back to a window:\n$p")
    // map-side partials mean the group shuffle carries ≤k pairs per
    // group per partition; the only other exchange is the
    // presentation sort's range partitioning
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"top-k must shuffle the summaries exactly once, saw $hashExchanges:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t25: the chain gram set broadcasts — the corpus never shuffles for attribution") {
    val p = plan("t25_attribution")
    assert(p.contains("BroadcastHashJoin"), s"chain grams must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus gram stream must not shuffle for the chain join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p10: the group split adds only equi-joins over the propagation") {
    val p = plan("p10_leakage_safe_split")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"doc-label join must stay an equi-join:\n$p")
  }

  test("t27: the Gopher rule flags are a pure scan-side projection — zero shuffles") {
    val p = plan("t27_gopher_rules")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row rule flags must not shuffle:\n$p")
    assert(!p.contains("Join"), s"no join belongs in a per-row filter:\n$p")
  }

  test("p13: apportionment's rank window runs over the domain table, never the corpus") {
    val p = plan("p13_apportionment")
    // the corpus contributes exactly one two-phase count; the window
    // and the deficit comparison run over the |sources|-row frame
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"per-source count is not two-phase:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row total/deficit sides must broadcast:\n$p")
    assert("Window".r.findAllIn(p).length >= 1, s"rank window missing:\n$p")
  }

  test("q89: the gap-fill spine joins without a cartesian and fills in one user window") {
    val p = plan("q89_resample_ffill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"spine ⋈ close must stay an equi-join:\n$p")
    // close pick: a (user, bucket) window; fill: a user window —
    // both present, and nothing else window-shaped sneaks in
    assert("Window".r.findAllIn(p).length >= 2, s"expected close+fill windows:\n$p")
  }

  test("c23: the compaction digest is a two-phase aggregate over the compacted scan") {
    val p = plan("c23_compact")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"digest must aggregate:\n$p")
    assert(!p.contains("Join"), s"no join belongs in the digest:\n$p")
  }

  test("c24: the end-to-end pipeline never goes cartesian and broadcasts the quota table") {
    val p = plan("c24_pipeline_e2e")
    assert(!p.contains("CartesianProduct"),
      s"pipeline stages must compose through equi/broadcast joins:\n$p")
    // the Hamilton quota table (domain-sized) and the 1-row
    // total/deficit frames ride broadcast joins back onto the corpus
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"quota/total joins must broadcast:\n$p")
    // near-dup candidates come from the banded equi-self-join, and
    // the only SortMergeJoin-eligible joins are equi-joins — a
    // nested-loop fallback anywhere means a stage contract broke.
    // Exactly three 1-row broadcast cross joins are expected: ×tot,
    // ×deficit, and tot again through the deficit's own lineage.
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 3, s"unexpected nested-loop joins ($bnlj — 1-row cross joins only):\n$p")
  }

  test("p14: global training order ranks WITHOUT a corpus-sized window") {
    val p = plan("p14_training_order")
    // the scale-safe global rank is range-sort + zipWithIndex — a
    // row_number() over the global hash order would put the whole
    // corpus through one WindowExec partition
    assert(!p.contains("Window"), s"corpus-global rank must not use a window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m31: the Huffman decode is a zero-shuffle per-partition kernel") {
    val p = plan("m31_mp3_huffman")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row synth+decode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"no join belongs in a per-row codec:\n$p")
  }

  test("m35: the range decode is a zero-shuffle per-partition kernel") {
    val p = plan("m35_opus_range_symbols")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row synth+decode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"no join belongs in a per-row codec:\n$p")
  }

  test("m36: the PVQ decode is a zero-shuffle per-partition kernel") {
    val p = plan("m36_opus_pvq_pulses")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row synth+decode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"no join belongs in a per-row codec:\n$p")
  }

  test("c28: the MOR scan applies deletes as one broadcast anti-join, never a cartesian") {
    // the run writes the table + commits and returns the replayed
    // scan — the plan pin is on that final scan
    val p = plan("c28_txlog_delete_vectors")
    assert(p.contains("LeftAnti"), s"no anti-join in the MOR scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the (metadata-sized) delete side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c29: each version is served by ONE multi-path scan") {
    val p = plan("c29_txlog_schema_evolution")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 3,
      s"expected one scan per version (3), saw $scans — per-file unions crept back:\n$p")
  }

  test("c31: stats skipping scans only the two admitted segments; the reader replays checkpoint+tail") {
    val (out, tailReplayed, skipped) =
      graft.operators.Curation.c31Snapshot(spark, dir)
    // the reader must never replay from v0: 26 commits, checkpoint
    // every 10 → exactly 6 tail commits past v19
    assert(tailReplayed == 6, s"tail was $tailReplayed commits")
    assert(tailReplayed < graft.operators.Curation.CkptInterval)
    // 23 live files (24 segs − 2 removed + 1 rewrite); the doc_id
    // range predicate admits exactly seg 5 and seg 6
    assert(skipped == 21, s"stats skipped $skipped of 23 live files")
    val touched = out.inputFiles
      .flatMap(_.split("/").find(f => f.startsWith("seg"))).toSet
    assert(touched == Set("seg=5", "seg=6"),
      s"scan touched $touched — stats pruning regressed")
  }

  test("s24: the serving probe scans only the probed cells' partitions") {
    val (idxPath, centPath) = graft.operators.AnnKmeans.s24BuildIndex(spark, dir, 8)
    val allCells = new java.io.File(idxPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).map(_.getName).toSet
    assert(allCells.size > 3, s"index should be cell-partitioned, saw $allCells")
    // 3 queries route to at most 3 of the 8 cells — materialize=false
    // keeps inputFiles inspectable (the production path checkpoints)
    val probe = graft.operators.AnnKmeans
      .s24Probe(spark, dir, idxPath, centPath, queryMax = 3, materialize = false)
    val touched = probe.inputFiles
      .flatMap(_.split("/").find(_.startsWith("cell="))).toSet
    assert(touched.nonEmpty, "probe read no index partitions")
    assert(touched.subsetOf(allCells))
    assert(touched.size <= 3,
      s"3 queries touched ${touched.size} cells (${touched}) — no pruning happened")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
