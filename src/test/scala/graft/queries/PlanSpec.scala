package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import graft.SparkSpec

/** Physical-plan audits: correctness tests prove the small-SF answer; these
  * prove the plan shape that survives a 100×–1000× scale-up — filters
  * reaching the parquet scan, small dims broadcast, aggregates partial
  * map-side, codegen covering the hot path.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q01: shipdate filter is pushed to the parquet scan") {
    val p = plan(Relational.q01PricingSummary(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q01: aggregation is partial (map-side) then final — two HashAggregates") {
    val p = plan(Relational.q01PricingSummary(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q02: nation/region dims broadcast, no shuffle of small sides") {
    val p = plan(Relational.q02RevenueByNation(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q02: orderdate + region filters pushed to scans") {
    val p = plan(Relational.q02RevenueByNation(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)"), p)
  }

  test("q03: top-k compiles to TakeOrderedAndProject, not global sort") {
    val p = plan(Relational.q03TopOrders(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q04: EXISTS compiles to a semi join (no row multiplication)") {
    val p = plan(Relational.q04OrderPriority(spark, dir))
    assert(p.contains("LeftSemi"), p)
  }

  test("dedup_exact: scan reads only the projected columns") {
    val p = plan(Pipeline.dedupExact(spark, dir))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("sim_bruteforce: probe side broadcast — corpus scanned once, never shuffled") {
    val p = plan(Pipeline.simBruteForce(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_metrics: map-only — one projection over the scan, no hash shuffle") {
    val p = plan(Pipeline.textMetrics(spark, dir))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("native signature expressions stay inside whole-stage codegen and " +
      "their generated code compiles") {
    // A Janino failure in the emitted call-bridge would silently fall back
    // to interpreted mode; disable the fallback so it surfaces as an error.
    // (Execute BEFORE explaining: under AQE codegen ids only appear on the
    // final plan.)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val metrics = Pipeline.textMetrics(spark, dir)
    val minhash = Pipeline.dedupMinHash(spark, dir)
    try {
      metrics.collect()
      minhash.collect()
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
    // the native TextStats / MinHashSignature / WordShingleSet expressions
    // no longer break whole-stage codegen: the projections computing them
    // carry codegen ids in the final plan
    val pm = plan(metrics)
    assert("Project \\[codegen id :".r.findFirstIn(pm).nonEmpty, pm)
    val ph = plan(minhash)
    assert("codegen id :".r.findFirstIn(ph).nonEmpty, ph)
  }

  test("ivf: centroid quantizer broadcasts — corpus assignment is map-side") {
    val p = plan(Pipeline.simIvf(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("sim topk: per-query top-k is bounded partial aggregation, not a window sort") {
    // a row_number() window would funnel every scored row of a query through
    // one reducer; the TopKAggregator caps reducer input at partitions × k
    for (q <- Seq(Pipeline.simBruteForce _, Pipeline.simLsh _)) {
      val p = plan(q(spark, dir))
      assert("\\bWindow\\b".r.findAllIn(p).isEmpty, p)
      assert(p.contains("ObjectHashAggregate"), p)
    }
  }

  test("ivf: corpus assignment is max_by aggregation — only the probe-side window remains") {
    val p = plan(Pipeline.simIvf(spark, dir))
    // nearest-cell assignment of the (large) corpus must not be a window over
    // corpus × centroid rows; the one remaining window ranks the (small)
    // query side's probe cells
    assert("\\bWindow\\b".r.findAllIn(p).size <= 2, p) // tree + detail section
    assert(p.contains("max_by"), p)
  }

  test("sample_per_class: bounded top-k aggregation + broadcast semi-join, no window") {
    val p = plan(Pipeline.samplePerClass(spark, dir))
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, p) // no per-stratum sort
    assert(p.contains("ObjectHashAggregate"), p) // bounded top-k buffers
    assert(p.contains("BroadcastExchange"), p) // kept-id set broadcasts
    assert(p.contains("LeftSemi"), p)
  }

  test("asof join: union + one window pass — no join operator, no range explosion") {
    val p = plan(Relational.q19AsofPrevOrder(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert("\\bWindow\\b".r.findAllIn(p).nonEmpty, p)
  }

  test("decontaminate: needle postings broadcast — corpus side joins without a shuffle") {
    val p = plan(Pipeline.decontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("jaccard count-strategy: size dims broadcast, shuffles carry (sfp,id) only") {
    val p = plan(Pipeline.dedupNgramJaccard(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("minhash signatures: at most the widening shuffle, which moves (id,text) only") {
    val df = graft.operators.Dedup.lshBands(
      T(spark, dir, "documents"),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"), 3, 32, 8)
    val p = plan(df)
    // one RoundRobin widen (under-parallel local input) is allowed; no hash
    // shuffle may appear — signatures are computed in a projection
    assert("Exchange".r.findAllIn(p).size <= 2, p) // tree + detail section
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("repeated_substrings: window partitions by doc id, never corpus-wide") {
    val p = plan(Pipeline.repeatedSubstrings(spark, dir))
    // every Window node's partition spec keys on the per-document id — its
    // input is one doc's tiles, not the corpus
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // duplicated-fp discovery and marking join on the compact fp column
    assert(p.contains("LeftSemi"), p)
  }

  test("fuzzy_join: single posting equality join, no cartesian, dims broadcast") {
    val p = plan(Pipeline.fuzzyJoin(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
  }

  test("sim_quantized_topk: probes broadcast; bounded top-k agg, no window") {
    val p = plan(Pipeline.simQuantized(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("pq packed scan: LUTs broadcast, native ADC scoring, windows only " +
      "as constant-size codebook entry-rankers") {
    val emb = T(spark, dir, "embeddings")
    val p = plan(graft.operators.Similarity.pqTopKPacked(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 20),
      emb, k = 5, m = 8, entryEvery = 25))
    assert(p.contains("BroadcastNestedLoopJoin"), p) // corpus codes × broadcast LUTs
    assert(p.contains("pq_adc_packed"), p)           // native scoring expression
    // The ONLY Window nodes are pqCodebook's entry-rankers, one per
    // consumer of the codebook subtree (pqEncode + pqLut), each running
    // over the ≤maxEntries rows of the literal-bound selection — never
    // over corpus-sized input (the 128th-id cutoff is computed in a
    // separate scalar job, so no Limit node appears here at all).
    // Ranking/top-k of scored pairs stays the bounded
    // ObjectHashAggregate, not a window.
    val windows = """\(\d+\) Window\b""".r.findAllIn(p).size
    assert(windows <= 2, p)
    // the selection's id cutoff reaches the parquet scan as a pushed
    // range filter, so re-executions of the codebook subtree stay pruned
    assert(p.contains("LessThanOrEqual(vec_id"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("sim_ivfpq: native ADC scoring behind a cell-keyed join; the only " +
      "window ranks the probe side") {
    val p = plan(Pipeline.simIvfPq(spark, dir))
    assert(p.contains("pq_adc_packed"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the COARSE quantizer is the pinned literal centroid table since
    // r19 (LocalTableScan, constant-K broadcast) — only the PQ codebook
    // subtree may still carry the modulus fixture selection
    assert(p.contains("LocalTableScan"), p)
    // Window nodes: the nprobe ranking over the SMALL query×cell side,
    // plus pqCodebook's constant-size entry-rankers (one per consumer of
    // the codebook subtree, each over the ≤maxEntries sort+limit rows);
    // corpus-sized inputs only ever meet partial aggregations. (\b
    // excludes WindowGroupLimit — the rank-limit pushdown that keeps even
    // the probe sort bounded.)
    assert("""\(\d+\) Window\b""".r.findAllIn(p).size <= 3, p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("lang_classifier_fast: fixture-bound plan — the native xxhash64 " +
      "gram kernel runs map-side over literal rows, weights join " +
      "broadcast, and NO corpus table is scanned (SF-independent by " +
      "construction)") {
    val p = plan(Pipeline.langClassifierFastQ(spark, dir))
    // the production one-pass featurizer, not a per-gram explode+hash
    assert(p.contains("char_ngram_dim_counts"), p)
    // fixture literals, never a parquet scan — the entry must not vary
    // with the scale factor
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("LocalTableScan"), p)
    // the (dims × classes) weight table rides a broadcast join
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_ivf_topk: FIXED-K pinned centroid broadcast drives assignment " +
      "(the modulus quantizer left the registry — spec-only fixture now); " +
      "no corpus-sized window") {
    val p = plan(Pipeline.simIvf(spark, dir))
    // the quantizer is a literal centroid table (LocalTableScan) feeding
    // broadcast joins — constant size in n, the shape that scales
    assert(p.contains("LocalTableScan"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    // no modulus-sampled selection anywhere in the plan
    assert(!p.toLowerCase.contains("pmod"), p)
    // corpus→cell assignment is the max_by partial aggregation, never a
    // corpus-sized window
    assert(p.contains("max_by"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_semantic: quantizer broadcasts, assignment is max_by " +
      "aggregation, no corpus window") {
    val p = plan(Pipeline.dedupSemantic(spark, dir))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("max_by"), p)
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dup_ngram_profile: shuffles carry gram fingerprints, no text columns") {
    val p = plan(Pipeline.dupNgramProfileQ(spark, dir))
    // every KEYED exchange's payload is ids + the 8-byte gram fingerprint
    // — gram strings/text die in a projection first. (The widen()
    // round-robin exchange is allowed to move (id, text) once, same as
    // the minhash plan contract.)
    val lines = p.linesIterator.toVector
    val keyedInputs = lines.zipWithIndex.collect {
      case (l, i) if l.matches("\\(\\d+\\) (Broadcast)?Exchange.*") &&
        !lines(i + 2).contains("RoundRobinPartitioning") => lines(i + 1)
    }
    assert(keyedInputs.nonEmpty, p)
    keyedInputs.foreach(inp =>
      assert(!inp.contains("gram#") && !inp.contains("text#"), inp))
  }

  test("sim_hard_negatives: probes broadcast, bounded top-k agg, no window") {
    val p = plan(Pipeline.simHardNegatives(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert("\\bWindow\\b".r.findAllIn(p).isEmpty, p)
  }

  test("corpus_report: one partial-then-final aggregation pass, no explode") {
    val p = plan(Pipeline.corpusReportQ(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial map-side
    assert(!p.contains("Generate"), p) // token count is a size, not explode
  }

  test("top_relevant_terms: the term dictionary is never FORCE-broadcast — " +
      "when stats say it is big (threshold off) the term join degrades to " +
      "a shuffle join; only the hinted one-row corpus-size dim broadcasts") {
    // at sf0.001 the planner broadcasts dfDim BY STATISTICS (fine — AQE/
    // stats scale that decision); an unconditional broadcast() hint would
    // instead persist below, trying to ship a Heaps'-law dictionary of
    // hundreds of millions of terms at 100 TB
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p = plan(Pipeline.topRelevantTerms(spark, dir))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
      // N folds into the plan as the hinted one-row dim — no separate
      // driver-side count job remains
      assert(p.contains("BroadcastNestedLoopJoin"), p)
    } finally spark.conf.set(key, old)
  }

  test("sketch aggregators: KLL and Misra-Gries aggregate partially before " +
      "the shuffle — the whole point of a mergeable summary") {
    // ObjectHashAggregate(partial) below the Exchange means each map task
    // ships one k-bounded buffer per group, not its raw rows — the
    // property that makes the sketches the 100-TB path
    for (q <- Seq(Pipeline.quantileSketchQ(spark, dir),
        Pipeline.heavyHittersSketchQ(spark, dir),
        Pipeline.overlapSketchQ(spark, dir))) {
      val p = plan(q)
      assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
      val partialIdx = p.indexOf("ObjectHashAggregate")
      val exchangeIdx = p.indexOf("Exchange", partialIdx)
      assert(exchangeIdx > partialIdx, p) // a partial instance feeds an exchange
    }
  }

  test("lang_id: map-only — the whole operator is one projection, " +
      "no exchange anywhere") {
    val p = plan(T(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.TextFunctions.langId(
          org.apache.spark.sql.functions.col("text")).as("pred")))
    assert(!p.contains("Exchange"), p)
  }

  test("zorder key: map-only projection over the pruned scan") {
    val df = T(spark, dir, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderkey") <= 5000)
      .select(graft.operators.Layout.zOrderKey(
        org.apache.spark.sql.functions.col("o_custkey"),
        org.apache.spark.sql.functions.col("o_orderkey")).as("z"))
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), LessThanOrEqual(o_orderkey"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("bm25_topk: no Window over candidates (bounded top-k aggregator), " +
      "no collect_list in the score path, query terms broadcast") {
    val p = plan(Pipeline.bm25Topk(spark, dir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("collect_list"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("topkaggregator"), p)
  }

  test("bm25 served from a maintained posting table: the serve plan is " +
      "TOKENIZE-FREE (no split over any text) and keeps the bm25 shape — " +
      "the production contract of bm25_from_index once the index persists") {
    import spark.implicits._
    val postings = Seq((1L, "alpha", 2L), (1L, "beta", 1L), (2L, "alpha", 1L))
      .toDF("doc_id", "term", "tf")
    val n = Seq(Tuple1(2L)).toDF("__n")
    val qt = Seq((10L, "alpha"), (10L, "beta")).toDF("qid", "term")
    val p = plan(graft.operators.TextIndex.bm25TopKFromPostings(
      postings, n, qt, k = 5))
    assert(!p.contains("split("), p) // tokensWs' marker — no query-time tokenize
    assert(!p.contains("Window"), p)
    assert(!p.contains("collect_list"), p)
    assert(p.contains("topkaggregator"), p)
  }

  test("sim_hashed_lsh: the probe-corpus match is a bucket-key EQUALITY " +
      "join (vector-build one-row stat dims aside, no nested loop over " +
      "the corpus), no corpus Window, bounded per-query top-k") {
    val p = plan(Pipeline.simHashedLsh(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins are the vector build's ONE-ROW dims
    // (corpus count / token total riding along); the search join itself
    // must key on the SRP bucket
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4, p)
    assert(p.contains("bucket"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("topkaggregator"), p)
  }

  test("semantic_decontaminate: needles broadcast into a map-side loop, " +
      "per-id max partial-aggregated — one hash exchange plus the output " +
      "sort, corpus vectors never shuffle") {
    val p = plan(Pipeline.semanticDecontaminateQ(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    // the groupBy(id) exchange + the orderBy range exchange + widen's
    // round-robin input widening on the corpus scan (a test-SF artifact:
    // one small parquet file arrives as one partition); the needle side
    // is a BroadcastExchange (not matched by this pattern). The
    // aggregation is partial BEFORE its exchange, so only one narrow row
    // per corpus id crosses it — vectors stay put.
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 3, p)
  }

  test("dsir_sample: the weight table is a plan literal — no join for it; " +
      "bounded global top-k, no Window") {
    val p = plan(Pipeline.dsirSample(spark, dir))
    assert(!p.contains("Window"), p)
    assert(p.contains("topkaggregator"), p)
    // only the retain-blank-docs left join exists; a regression to
    // weights-as-joined-VALUES would surface as a LocalTableScan and a
    // second join (formatted mode prints each node twice: tree + details)
    assert(!p.contains("LocalTableScan"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size <= 2, p)
  }

  test("label_centroids: one 2-phase aggregate over the explode — exactly " +
      "one exchange, vectors never shuffle") {
    val p = plan(Pipeline.labelCentroidsQ(spark, dir))
    // one hash exchange for (label, dim) + the final orderBy range
    // exchange — nothing else (numbered details list each node once)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 2, p)
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("curriculum_shards: sketch cuts broadcast, assignment is map-only " +
      "(no hash exchange after the O(k) aggregation)") {
    val p = plan(graft.operators.Layout.curriculumShards(
      T(spark, dir, "documents").select(
        org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.TextFunctions.tokenCountWs(
          org.apache.spark.sql.functions.col("text")).cast("long").as("n_tok")),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("n_tok"), numShards = 4))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("funnel_report: no per-step self-joins — the only join anchors the " +
      "literal step frame; no Window") {
    val p = plan(Relational.funnelReport(spark, dir))
    assert(!p.contains("Window"), p)
    // exactly one join — the literal step-frame anchor (each node prints
    // twice in formatted mode)
    assert("BroadcastHashJoin".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("event_transitions: ONE user-partitioned window pass, no per-user " +
      "arrays (no collect_list), partial-aggregated counts") {
    val p = plan(Relational.eventTransitionsQ(spark, dir))
    assert("(\\d+) Window".r.findAllIn(p).size <= 2, p) // one node, 2 prints
    assert(!p.contains("collect_list"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("source_drift: no corpus-sized join or window — per-source agg " +
      "plus a one-row broadcast totals dim") {
    val p = plan(Pipeline.sourceDriftQ(spark, dir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p) // the one-row totals cross
  }

  test("purge_deletes: the deletion set broadcasts (semi-join + fp probe " +
      "stay broadcast-side); no cartesian product") {
    val p = plan(Pipeline.purgeDeletesQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p)
    assert("BroadcastHashJoin|BroadcastExchange".r.findAllIn(p).nonEmpty, p)
  }

  test("hybrid_retrieval: fusion is a join over list-sized frames with a " +
      "bounded top-k agg — no window over candidates beyond the k+1 " +
      "self-drop re-rank, no cartesian") {
    val p = plan(Pipeline.hybridRetrievalQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    // windows: ONLY the lexical k+1 self-drop re-rank (row_number over
    // <=21-row lists); the fused top-k is the bounded aggregator
    assert("(\\d+) Window".r.findAllIn(p).size <= 2, p)
    assert(p.contains("FullOuter"), p)
  }

  test("phrase_mining: TakeOrdered for the top-k (no global sort) and " +
      "no position self-join (single pair-zip projection)") {
    val p = plan(Pipeline.phraseMiningQ(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("novelty_score: membership via an 8-byte-key join — no cartesian, " +
      "no window; distinct + counts partial-aggregate") {
    val p = plan(Pipeline.noveltyScoreQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("rfm_segments: events collapse to per-user rows BEFORE the NTILE " +
      "windows (aggregate below every window)") {
    val p = plan(Relational.rfmSegmentsQ(spark, dir))
    // three logical windows may fuse; all of them sit above the per-user
    // HashAggregate, so the aggregate must appear in the plan
    assert(p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"), p) // one-row as-of cross only
  }

  test("funnel_latency: the chain fold replaces per-step self-joins — at " +
      "most the percentile agg shuffles; no step-count SortMergeJoin") {
    val p = plan(Relational.funnelLatencyQ(spark, dir))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("preference_report: the 3-row shift dim broadcasts; ballots collapse " +
      "in a partial-aggregated groupBy — no window, no cartesian blowup") {
    val p = plan(Pipeline.preferenceReportQ(spark, dir))
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the 3-row shift cross
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("annotator_agreement: one corpus scan pattern — marginal aggs plus " +
      "a classes-row join; nothing corpus-sized shuffles twice") {
    val p = plan(Pipeline.annotatorAgreementQ(spark, dir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("text_strip_markup: map-only — a single projection over the scan, " +
      "no exchange except the output sort") {
    val p = plan(Pipeline.textStripMarkupQ(spark, dir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
  }

  test("calibration_report: map-only bucket projection into one " +
      "bins-sized partial-aggregated groupBy — no join, no window") {
    val p = plan(Pipeline.calibrationReportQ(spark, dir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("label_noise_screen: probes broadcast against the corpus scan " +
      "(the knnLabel shape); the own-label join is key-equi, no cartesian") {
    val p = plan(Pipeline.labelNoiseScreenQ(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p) // bounded probe cross
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("score_quantile_normalize: exactly the one per-group window — " +
      "no join, no aggregate, nothing else shuffles") {
    val p = plan(Pipeline.scoreQuantileNormalizeQ(spark, dir))
    assert("(\\d+) Window".r.findAllIn(p).size <= 2, p) // one node, 2 prints
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("preference_bt_strength: iteration joins are equi-joins over the " +
      "items-sized strength table — no window, no cartesian beyond the " +
      "3-row shift dim") {
    val p = plan(Pipeline.preferenceBtStrengthQ(spark, dir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("conversion_attribution: the session cumsum and the touch frames " +
      "are at most two window nodes over ONE user sort lineage; no " +
      "cartesian") {
    val p = plan(Pipeline.conversionAttributionQ(spark, dir))
    assert("(\\d+) Window".r.findAllIn(p).size <= 4, p) // 2 nodes, 2 prints
    assert(!p.contains("CartesianProduct"), p)
  }

  test("robust_stats: the percentile dim (distinct-count pick, no " +
      "percentile_disc buffer) broadcasts back onto the rows — no " +
      "shuffle of the corpus for the clamp") {
    val p = plan(Pipeline.robustStatsQ(spark, dir))
    assert(!p.contains("percentile_disc"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the pick's windows run over DISTINCT (grp, v) counts, not the corpus
    assert("(\\d+) Window".r.findAllIn(p).size <= 4, p) // 2 nodes, 2 prints
  }

  test("event_anomaly: events collapse to (type, day) rows BEFORE the " +
      "trailing window — the window input is days, not events") {
    val p = plan(Pipeline.eventAnomalyQ(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // 2-phase daily agg
    assert("(\\d+) Window".r.findAllIn(p).size <= 2, p) // one frame node
    assert(!p.contains("Join"), p)
  }

  test("link_rank: the iteration joins stay equi-joins (no cartesian); " +
      "contribution sums partial-aggregate") {
    val p = plan(Pipeline.linkRankQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // exactly the ONE transitions window pass feeds the edge table
    assert("(\\d+) Window".r.findAllIn(p).size <= 2, p)
  }

  test("keyword_extract: text never shuffles (postings collapse first), " +
      "the df join is key-equi, N rides a one-row broadcast, and the " +
      "rank window partitions by doc") {
    val p = plan(Pipeline.keywordExtractQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the one-row N cross
    assert("(\\d+) Window".r.findAllIn(p).size <= 2, p) // one rank node
  }

  test("vocab_richness: one (source, term) partial agg then a sources-row " +
      "rollup — no join, no window, text never shuffles") {
    val p = plan(Pipeline.vocabRichnessQ(spark, dir))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // both aggs 2-phase
  }

  test("session_paths: ONE user-partitioned window pass (both lags share " +
      "the sort), no per-user arrays, partial-aggregated counts") {
    val p = plan(Pipeline.sessionPathsQ(spark, dir))
    assert("(\\d+) Window".r.findAllIn(p).size <= 2, p) // one node, 2 prints
    assert(!p.contains("collect_list"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("event_pairs: events collapse to the distinct (user, type) frame " +
      "before the pair self-join; the marginals and N broadcast; no " +
      "cartesian") {
    val p = plan(Pipeline.eventPairsQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p) // the |types|-row marginals
  }

  test("time_decayed_popularity: map-side period projection, one-row " +
      "as-of broadcast, ONE 2-phase type agg — no window, no sort-agg " +
      "over the corpus") {
    val p = plan(Pipeline.timeDecayedPopularityQ(spark, dir))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the one-row as-of
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("event_cadence: ONE (user, type)-partitioned lag window, then the " +
      "per-(type, gap) BUCKETED distinct-count pick — count/sum/" +
      "percentiles all derive from value counts; no percentile_disc " +
      "buffer, the only joins are the pick's broadcast bound/base attaches") {
    val p = plan(Pipeline.eventCadenceQ(spark, dir))
    assert(!p.contains("percentile_disc"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("collect_list"), p)
    // bucketed two-level pick: range-bucket bounds and cumulative bases
    // ride back as broadcasts — never a corpus-side shuffle join, never
    // a cartesian, and no single (type, column)-wide sort task
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("table_profile: count/min/max/mean in ONE aggregation, medians via " +
      "the distributed per-value-count pick — no percentile_disc buffer; " +
      "the two one-row branches attach by a 1x1 cross join and share one " +
      "widened scan subtree (ReusedExchange at runtime, plans/r20)") {
    val p = plan(Pipeline.tableProfileQ(spark, dir))
    // the unbounded single-task distinct-value buffer is gone
    assert(!p.contains("percentile_disc"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Union"), p) // NOT the per-column UNION the oracle uses
    // the picks row attaches to the stats row by a 1x1 cross; the pick's
    // internal bound/base attaches are broadcasts over (column)-sized
    // frames — never a corpus-side shuffle join, never a cartesian
    assert(p.contains("BroadcastNestedLoopJoin Cross"), p)
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin") && !p.contains("CartesianProduct"), p)
    // the static plan repeats the widened-scan subtree per pick consumer
    // (bounds + bucket-counts + bases); at runtime the identical widen
    // exchange dedups to one scan (next test, on the final plan)
    assert("Scan parquet".r.findAllIn(p).size <= 12, p)
  }

  test("table_profile: at runtime the repeated widen exchange runs ONCE " +
      "and every other consumer reads it as a ReusedExchange (final " +
      "adaptive plan, as graft.Plans writes it)") {
    val fp = graft.Plans.finalPlan(Pipeline.tableProfileQ(spark, dir))
    def isWiden(e: SparkPlan) = e match {
      case s: ShuffleExchangeExec => s.shuffleOrigin == REPARTITION_BY_NUM
      case _ => false
    }
    val aqe = new AdaptiveSparkPlanHelper {}
    assert(fp.toString.startsWith("AdaptiveSparkPlan isFinalPlan=true"), fp)
    assert(aqe.collect(fp) { case e if isWiden(e) => e }.size == 1, fp)
    assert(aqe.collect(fp) {
      case r: ReusedExchangeExec if isWiden(r.child) => r }.nonEmpty, fp)
    assert(aqe.collect(fp) { case s: FileSourceScanExec => s }.size == 1, fp)
  }

  test("char_trigram_profile: explode -> one (source, gram) 2-phase " +
      "count -> per-source rank window; the native emits grams (no " +
      "O(len^2) substring-per-position)") {
    val p = plan(Pipeline.charTrigramProfileQ(spark, dir))
    assert(p.contains("char_ngrams"), p) // the native, not substring loops
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("(\\d+) Window".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("Join"), p)
  }

  test("doc_compressibility: MAP-ONLY — no exchange, no join, no " +
      "aggregation touches the corpus; one native gram pass per row") {
    val p = plan(Pipeline.docCompressibilityQ(spark, dir))
    assert(p.contains("char_ngrams"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    // the only exchange is the output rangepartitioning for ORDER BY
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("mixture_waterfill: the returned plan is DIMENSION-sized — the " +
      "one corpus token agg happened at construction (collected seed); " +
      "the waterfill windows see |sources| local rows, never documents") {
    val p = plan(Pipeline.mixtureWaterfillQ(spark, dir))
    assert(p.contains("LocalTableScan"), p) // the collected dim table
    assert(!p.contains("Scan parquet"), p)  // no corpus re-scan at run time
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("collect_list"), p)
  }

  test("time_embargo_split: the cut from distinct-microsecond counts " +
      "(no percentile_disc corpus buffer), a one-row cut broadcast, and " +
      "a map-only labeling pass — no corpus shuffle beyond the output " +
      "sort") {
    val p = plan(Pipeline.timeEmbargoSplitQ(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the one-row cut
    assert(!p.contains("percentile_disc"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    // the pick's windows run over DISTINCT microsecond counts
    assert("(\\d+) Window".r.findAllIn(p).size <= 4, p) // 2 nodes, 2 prints
  }

  test("edit_distance_linkage: the blocking join runs on shingle " +
      "fingerprints (no text), the refine joins text prefixes back on " +
      "the pair-bounded candidate set — no cartesian") {
    val p = plan(Pipeline.editDistanceLinkageQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("levenshtein"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // the inter count
  }

  test("ranking_auc_report: one rank window + one tie-count window on " +
      "the same group key prefix, then a 2-phase |groups|-row agg — no " +
      "join, no per-pair work") {
    val p = plan(Pipeline.rankingAucReportQ(spark, dir))
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("(\\d+) Window".r.findAllIn(p).size <= 4, p) // 2 nodes, 2 prints
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("shuffle_quality_report: rows shuffle to the shard key for the " +
      "lag window, collision counts partial-aggregate on the same " +
      "prefix, the final join is |shards|-row — no cartesian") {
    val p = plan(Pipeline.shuffleQualityReportQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("(\\d+) Window".r.findAllIn(p).size <= 4, p) // shuffle + lag
  }

  test("keyword_tag: MAP-ONLY — the pattern set rides the expression, " +
      "no join, no aggregation; the only exchange is the output sort") {
    val p = plan(Pipeline.keywordTagQ(spark, dir))
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(p.contains("multi_pattern_hits"), p)
    // widen() repartition + the orderBy range exchange, nothing else
    assert("(\\d+) Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("vocab_growth: the first-seen reduction is a vocabulary-sized " +
      "min-agg; the only windows are the id NTILE and the buckets-row " +
      "cumsum — no cartesian") {
    val p = plan(Pipeline.vocabGrowthQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert("(\\d+) Window".r.findAllIn(p).size <= 4, p) // 2 nodes × 2 prints
  }

  test("dpo_pairs: ballot counts partial-aggregate, arg-extremes are " +
      "per-prompt aggs (no window), text joins broadcast — no cartesian") {
    val p = plan(Pipeline.dpoPairsQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dialog_assembly: the gap lag and session cumsum are two Window " +
      "nodes over ONE shared per-user sort (no second exchange); the " +
      "transcript agg is session-bounded — no join at all") {
    val p = plan(Pipeline.dialogAssemblyQ(spark, dir))
    assert(!p.contains("Join"), p)
    assert("\\d+\\) Window".r.findAllIn(p).size <= 2, p)
    // one hashpartitioning exchange feeds both windows; the only other
    // exchange is the final global orderBy's range partitioning
    assert("hashpartitioning".r.findAllIn(p).size <= 2, p) // tree+details
  }

  test("self_bleu: the tf table exchanges once (InMemoryRelation serves " +
      "its two consumers), gram stats joins are fp-keyed — no window, " +
      "no cartesian") {
    val p = plan(Pipeline.selfBleuQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"), p)
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"), p)
  }

  test("bitext_mine: probes broadcast into one corpus scan, both k-NN " +
      "averages are bounded ObjectHashAggregates, scored frame pinned — " +
      "no window over the scored frame") {
    val p = plan(Pipeline.bitextMineQ(spark, dir))
    assert(!p.contains(") Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("vocab_growth_kll: NO global sort anywhere (not even over ids) — " +
      "cuts come from one O(k) sketch exchange and broadcast into a " +
      "map-only bucket assign") {
    val p = plan(Pipeline.vocabGrowthKllQ(spark, dir))
    // exactly ONE Window survives — the buckets-row cum_vocab sum;
    // NTILE's corpus-ids Window (global sort) must be gone
    // (each node prints twice in formatted explain: tree + details)
    // "ntile(" not bare "ntile" — kllquaNTILEsaggregator would match
    assert(!p.contains("ntile("), p)
    assert("\\d+\\) Window".r.findAllIn(p).size <= 1, p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("cooccurrence_counts: ONE fp-pair projection (no per-offset corpus " +
      "re-reads), 2-phase count agg, shuffle-hash label joins (statically " +
      "— AQE broadcasts the candidate side when it is actually small; a " +
      "FORCED broadcast would OOM on a flat-tail tie class), bounded " +
      "top-k — no sort-merge join, no cartesian") {
    val p = plan(Pipeline.cooccurrenceQ(spark, dir))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // the corpus text scans exactly twice (pair stream + dictionary) —
    // the per-offset union form scanned it once PER OFFSET
    assert("shingle_fps60".r.findAllIn(p).size <= 8, p) // ≤2 nodes × 2 prints
  }

  test("cms_counts: ONE fixed-size sketch aggregation; probe buckets " +
      "resolve at plan time so estimation is pure projection — no join") {
    val p = plan(Pipeline.cmsCountsQ(spark, dir))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("embedding_covariance: ONE moment aggregation — partitions reduce " +
      "to single buffers before the exchange; no join, no window, the " +
      "d-squared expansion happens after on one row") {
    val p = plan(Pipeline.embeddingCovarianceQ(spark, dir))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // the typed aggregator compiles to ObjectHashAggregate partial+final
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("lm_perplexity_screen: count tables partial-aggregate on 8-byte " +
      "fps, the corpus total broadcasts as one row, no window, no " +
      "cartesian wider than the one-row total") {
    val p = plan(Pipeline.lmPerplexityQ(spark, dir))
    assert(!p.contains("Window"), p)
    // the only nested-loop join is the one-row n_total broadcast
    // (formatted explain prints each node twice: tree + details)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // c1, c2 partials
  }

  test("dedup_exact_substr: spans travel as 8-byte fps (native " +
      "shingle_fps60 — gram strings never materialize), first-occurrence " +
      "agg is fp-keyed, no window, no cartesian") {
    val p = plan(Pipeline.dedupExactSubstrQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"), p)
    assert(p.contains("shingle_fps60"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("unigram_tokenize: the Viterbi UDF runs over the DISTINCT-word " +
      "dictionary (one distinct agg feeds the join back), token totals " +
      "are sums — no window, no cartesian, no per-occurrence text pass") {
    val p = plan(Pipeline.unigramTokenize(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"), p)
    // (id, word) counts + distinct dictionary + per-doc sum
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    // the corpus text tokenizes ONCE (the word explode) — the dictionary
    // join reuses exploded words, never re-reads text
    assert("tokens_ws".r.findAllIn(p).size <= 4, p) // ≤2 nodes × 2 prints
  }

  test("wordpiece_tokenize: the greedy UDF runs over the DISTINCT-word " +
      "dictionary only, token totals are sums — no window, no cartesian, " +
      "no per-occurrence text pass") {
    val p = plan(Pipeline.wordpieceTokenize(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    assert("tokens_ws".r.findAllIn(p).size <= 4, p) // ≤2 nodes × 2 prints
  }

  test("bitext_mine_lsh: candidates come from the BUCKET equality join " +
      "(srp_bucket on both sides) — never a broadcast corpus scan; the " +
      "margin chain over the shortlist keeps its bounded aggs") {
    val p = plan(Pipeline.bitextMineLshQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"), p)
    assert(p.contains("srp_bucket"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("decon_exact_substr: both corpora hash to fps natively, the eval " +
      "side collapses to a distinct set feeding a LEFT-SEMI join — no " +
      "window, no cartesian, nothing corpus-sized broadcast by force") {
    val p = plan(Pipeline.deconExactSubstrQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"), p)
    assert(p.contains("shingle_fps60"), p)
    assert(p.contains("LeftSemi"), p)
    // eval distinct + per-doc contamination count, both partial-first
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("matryoshka_audit: ONE corpus scan — the prefix_cosines kernel " +
      "emits all prefix scores in one broadcast join; bounded TopK agg, " +
      "no window over scored rows") {
    val p = plan(Pipeline.matryoshkaAuditQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"), p)
    assert(p.contains("prefix_cosines"), p)
    // the old plan ran FOUR separate cosine_sim corpus scans (full + 3
    // prefixes); the one-pass kernel replaces every one of them — node
    // counts are unreliable here because the pinned top-k frame's
    // lineage reprints per consumer, so assert on the kernel swap itself
    assert(!p.contains("cosine_sim"), p)
    // per-(prefix, query) candidates stay in the bounded TopK aggregator
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 1, p)
  }

  test("pii_pan_report / url_canonical_dedup: map-only scrubbing — no " +
      "join, no window, no cartesian; url dedup adds exactly one " +
      "partial-first count agg") {
    val p1 = plan(Pipeline.piiPanReport(spark, dir))
    assert(!p1.contains("Join"), p1)
    assert(!p1.contains(") Window"), p1)
    val p2 = plan(Pipeline.urlCanonicalDedup(spark, dir))
    assert(!p2.contains("Join"), p2)
    assert(!p2.contains(") Window"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
    // 2-phase HashAggregate on the canonical string (partial + final)
    assert("HashAggregate".r.findAllIn(p2).size >= 2, p2)
  }

  test("dedup_containment: the shared count-strategy machinery — size " +
      "dims broadcast, fp-keyed posting self-join, no window, no " +
      "cartesian") {
    val p = plan(Pipeline.dedupContainmentQ(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"), p)
  }

  test("cluster_silhouette: ONE map-only corpus pass — the centroid table " +
      "rides as a single broadcast row, per-vector argmins run within the " +
      "row, no N-row exchange, no window, no sort-merge join") {
    val p = plan(Pipeline.clusterSilhouetteQ(spark, dir))
    assert(!p.contains(") Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // centroid agg + collect + final per-label agg — all partial-first
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("bootstrap_ci: the B-way expansion is a map-side Generate into a " +
      "(group, replicate) partial agg; the point estimate joins broadcast; " +
      "no window, no cartesian") {
    val p = plan(Pipeline.bootstrapCiQ(spark, dir))
    assert(!p.contains(") Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("corpus_divergence: one union'd fp-keyed count agg, totals ride " +
      "back as a one-row broadcast, single-row finale — no window, no " +
      "sort-merge join") {
    val p = plan(Pipeline.corpusDivergenceQ(spark, dir))
    assert(!p.contains(") Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("Union"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("retrieval_mrr: the ranked top-k broadcasts into the labels pass, " +
      "label sizes ride back broadcast — no sort-merge join, no window " +
      "beyond the searcher's bounded aggregator, no cartesian beyond the " +
      "probe broadcast") {
    val p = plan(Pipeline.retrievalMrrQ(spark, dir))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains(") Window"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("ObjectHashAggregate"), p) // the searcher's top-k
  }

  test("conformal_calibration: centroids and the per-label quantile table " +
      "broadcast; the only per-group sort is calibration-sized " +
      "(sort_array inside the agg, not a Window); no cartesian") {
    val p = plan(Pipeline.conformalCalibrationQ(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(") Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("lang_classifier: gram counts partial-aggregate to <= dims rows " +
      "per doc before the broadcast weight join; per-class sums and the " +
      "argmax are partial-first aggs — no window, no sort-merge join") {
    val p = plan(Pipeline.langClassifierQ(spark, dir))
    assert(!p.contains(") Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("conformal_lang_sets: the per-class quantile table broadcasts " +
      "into the membership pass; the ONLY sort-merge join is the " +
      "|classes|-bounded full-outer finale (full outer cannot " +
      "broadcast-hash) — no window, no cartesian") {
    val p = plan(Pipeline.conformalLangSetsQ(spark, dir))
    assert(!p.contains(") Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // one FullOuter SMJ over two |classes|-row frames; nothing
    // corpus-sized may sort-merge (tree + details: each node prints twice)
    assert("\\d+\\) SortMergeJoin".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("SortMergeJoin Inner"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
  }

  test("sample_weighted: per-row keys feed the bounded top-n aggregator " +
      "(partial map-side), kept rows join back broadcast; the only " +
      "Generate is the n-row top-array unpack on the broadcast side; " +
      "no window") {
    val p = plan(Pipeline.sampleWeightedQ(spark, dir))
    assert(!p.contains(") Window"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the unpack Generate sits above the aggregate (n rows), never on
    // the corpus stream below it (each node prints twice: tree+details)
    assert("\\d+\\) Generate".r.findAllIn(p).size <= 1, p)
  }
}
