package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

import graft.tsne.SparkTestBase

/** Physical-plan regression tests: the properties that matter at 100 TB —
  * broadcast joins for small dims, column pruning at the scan, filter
  * pushdown, no unbounded windows in the centering path — pinned so a
  * refactor can't silently regress them. Runs on sf0.001 (plan shapes are
  * scale-independent).
  */
class PlanShapeSpec extends AnyFlatSpec with Matchers with org.scalatest.Inspectors with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def formattedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** A collected query's ranking filter runs on Spark's WindowGroupLimit:
    * the plan holds the group limit, and every ranking window sits directly
    * on one, so no window ranks a whole key. */
  private def rankedThroughGroupLimit(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.executedPlan.toString should include("WindowGroupLimit")
    RankLimits.unboundedRankingWindows(df.queryExecution.executedPlan) shouldBe empty
  }

  "q_join_agg" should "broadcast the dimension tables" in {
    val plan = formattedPlan("q_join_agg")
    plan should include("BroadcastHashJoin")
    // the big fact table is never broadcast
    plan should not include "CartesianProduct"
  }

  "q_center_embedding" should "contain no unbounded window (VERDICT r1 #3)" in {
    val plan = formattedPlan("q_center_embedding")
    plan should not include "Window"
    // the mean arrives via a 1-row broadcast nested loop join
    plan should include("BroadcastNestedLoopJoin")
  }

  "q_text_stats" should "prune the scan to the referenced columns" in {
    val plan = formattedPlan("q_text_stats")
    // documents has (doc_id, text, lang, source, n_chars); only two are read
    plan should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  "q_ann_cosine" should "push the query-set filter into the parquet scan" in {
    val plan = formattedPlan("q_ann_cosine")
    plan should include("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,20)]")
  }

  "q_agg_lineitem" should "partial-aggregate before the shuffle" in {
    val plan = formattedPlan("q_agg_lineitem")
    plan should include("HashAggregate")
    // partial + final pair: two HashAggregate nodes around one Exchange
    plan.sliding("HashAggregate".length).count(_ == "HashAggregate") should be >= 2
  }

  "q_rrf_fusion" should "keep the distance inside codegen and use the top-k operator" in {
    val df = SparkEntry.queries("q_rrf_fusion")(spark, dir)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    plan should include("*(")
    // the rank-filter window over the filtered pair table runs on a group
    // limit: each key keeps its first k rows before and after the hash
    // exchange, so the window ranks only the survivors
    rankedThroughGroupLimit(df)
    (plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(i#"))) shouldBe true
  }

  "q_knn_bruteforce" should "rank inside the kNN kernel, with no exchange but the output sort" in {
    val df = SparkEntry.queries("q_knn_bruteforce")(spark, dir)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // no pair table and no ranking window: the kernel's rows are scanned
    // and range-partitioned once for the ORDER BY
    plan should not include ("NestedLoopJoin")
    plan should not include ("CartesianProduct")
    plan should not include ("Window")
    forAll(plan.linesIterator.filter(_.contains("Exchange ")).toSeq) { l =>
      l should include("rangepartitioning")
    }
  }

  "q_source_cap" should "execute the per-source quota through the top-k operator" in {
    val df = SparkEntry.queries("q_source_cap")(spark, dir)
    df.collect() // finalize adaptive plan
    // the curation cap must never rank whole sources — group limits only
    rankedThroughGroupLimit(df)
  }

  "q_domain_cap" should "execute the per-domain quota through the top-k operator" in {
    val df = SparkEntry.queries("q_domain_cap")(spark, dir)
    df.collect() // finalize adaptive plan
    // the domain cap must never rank whole domains — group limits only
    rankedThroughGroupLimit(df)
  }

  "q_url_canonical" should "stay one whole-stage-codegen map over the scan (no shuffle before the output sort)" in {
    val df = SparkEntry.queries("q_url_canonical")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("*(")
    // canonicalization is a narrow map: exactly the one range exchange
    // the deterministic output ordering needs, nothing hash-partitioned
    plan should not include "Exchange hashpartitioning"
  }

  "q_robots_gate" should "broadcast the rules and decide in one hash aggregate (no sort)" in {
    val df = SparkEntry.queries("q_robots_gate")(spark, dir)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    // the RFC decision is a plain MAX — never a window or per-group sort
    plan should not include "Window"
  }

  "q_robots_ua" should "keep the gate shape under UA group selection (broadcast rules, no sort)" in {
    val df = SparkEntry.queries("q_robots_ua")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "Window"
  }

  "q_psl_domain" should "probe the rule table via broadcast join (list-size-independent per host)" in {
    val df = SparkEntry.queries("q_psl_domain")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the PSL probe is a JOIN against the broadcast rule table — never a
    // per-row scan of the list, never a cross product
    plan should include("BroadcastHashJoin")
    plan should not include "Cartesian"
    // prevailing rule = one map-side-combinable max per host
    plan should include("HashAggregate")
  }

  "q_crawl_budget" should "bound the quota with the constant-cap heap and refine residually" in {
    val df = SparkEntry.queries("q_crawl_budget")(spark, dir)
    df.collect()
    // the variable per-domain budget must NOT force an unbounded window:
    // rn <= 4 is the group limit, rn <= budget filters above it
    rankedThroughGroupLimit(df)
  }

  "q_gopher_rules" should "stay one codegen map over the scan (no shuffle before the output sort)" in {
    val df = SparkEntry.queries("q_gopher_rules")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("*(")
    // all seven verdicts are narrow Column work over the regrouped text:
    // exactly the one range exchange the output ordering needs
    plan should not include "Exchange hashpartitioning"
  }

  "q_unigram_segment" should "run the DP once per distinct word and join back (no cartesian)" in {
    val df = SparkEntry.queries("q_unigram_segment")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the Viterbi fold lives behind a distinct-words aggregate; the
    // corpus side re-joins by token equality — never a cross product
    plan should include("HashAggregate")
    plan should not include "Cartesian"
  }

  "q_kneser_ney" should "aggregate to types before joining (no cartesian, no per-occurrence join)" in {
    val df = SparkEntry.queries("q_kneser_ney")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("HashAggregate")
    // the only nested-loop join allowed is the 1-row broadcast ncc
    plan should not include "CartesianProduct"
  }

  "q_mixture_weights" should "broadcast every per-round statistic (no sort-merge, no cartesian)" in {
    val df = SparkEntry.queries("q_mixture_weights")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  "q_crawl_frontier" should "execute the politeness quota through the top-k operator" in {
    val df = SparkEntry.queries("q_crawl_frontier")(spark, dir)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // the per-domain quota must never sort whole candidate lists; the
    // gate⋈sitemap doc_id equi-join may sort-merge (both sides are
    // corpus-sized — broadcasting either would be wrong at scale) but
    // must never cross-product
    rankedThroughGroupLimit(df)
    plan should not include "Cartesian"
  }

  "q_events_enrich" should "broadcast the dimension, never shuffle the event side for the join" in {
    val plan = formattedPlan("q_events_enrich")
    plan should include("BroadcastHashJoin")
    // the join must never shuffle either input (the whole point of the
    // shape) — only the post-join aggregation and the final sort may
    plan should not include "SortMergeJoin"
    plan should not include "ShuffledHashJoin"
  }

  "q_decontaminate" should "broadcast the benchmark shingle set, never sort-merge" in {
    val df = SparkEntry.queries("q_decontaminate")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    // the corpus/benchmark split predicates reach the parquet scans
    plan should include("(doc_id#")
  }

  "q_contamination_overlap" should "broadcast the benchmark gram set; the Bloom twin must carry no join on the probe path" in {
    val df = SparkEntry.queries("q_contamination_overlap")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    val bloom = SparkEntry.queries("q_contamination_overlap_bloom")(spark, dir)
    bloom.collect()
    val bplan = bloom.queryExecution.executedPlan.toString
    // the Bloom probe is pure codegen'd bit ops (getbit over a literal
    // array) — it must appear as a Filter, never a join node; the exact
    // verify join and the doc-keyed recombines broadcast
    bplan should include("getbit")
    bplan should include("BroadcastHashJoin")
    bplan should not include "CartesianProduct"
  }

  "q_text_repetition" should "partial-aggregate the n-gram counts map-side" in {
    val plan = formattedPlan("q_text_repetition")
    plan should include("HashAggregate")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin" // doc-level joins broadcast
  }

  "q_rank_topk" should "execute rank() through the tie-aware top-k operator" in {
    val df = SparkEntry.queries("q_rank_topk")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the group limit runs in rank() mode, keeping tie groups whole
    plan should include regex "WindowGroupLimit .*rank\\(o_year"
    rankedThroughGroupLimit(df)
  }

  "q_range_join" should "plan bucketed hash joins, never a per-key cross product" in {
    val plan = formattedPlan("q_range_join")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // both the same-bin and next-bin candidate joins are equi-joins
    (plan.sliding("HashJoin".length).count(_ == "HashJoin") +
      plan.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin")) should be >= 2
  }

  "q_asof_join" should "run as one keyed sort, not a range join" in {
    val plan = formattedPlan("q_asof_join")
    // the union-and-carry-forward shape: no join node at all — one keyed
    // shuffle + one sort + a running-frame window
    plan should not include "Join"
    plan should include("Window")
    // the event-type filters push through the union into both parquet scans
    plan should include("EqualTo(event_type,click)")
    plan should include("EqualTo(event_type,view)")
  }

  "q_events_sessions" should "run session windows as keyed incremental merges, no global funnel" in {
    val df = SparkEntry.queries("q_events_sessions")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // Spark's native session-window shape: map-side partial aggregation,
    // ONE hash exchange keyed by user, MergingSessions per key — never a
    // global sort/window over all events
    plan should include("MergingSessions")
    plan should include("partial_count")
    plan should include("hashpartitioning(user_id")
    plan should not include "CartesianProduct"
  }

  "q_interval_join" should "plan as an equi-join on user with the time band residual" in {
    val df = SparkEntry.queries("q_interval_join")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the time bound must ride an equi-join on user_id as a residual
    // condition — a nested-loop/cartesian shape here would be quadratic in
    // events per user at scale
    plan should include("HashJoin")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    // both event-type filters reach the parquet scans
    plan should include("EqualTo(event_type,click)")
    plan should include("EqualTo(event_type,view)")
  }

  "q_prototypes" should "broadcast the centroid table and rank through the top-k operator" in {
    val df = SparkEntry.queries("q_prototypes")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    rankedThroughGroupLimit(df)
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin" // the corpus side never shuffles for the join
  }

  "q_dedup_keep_best" should "pick the representative through the top-k operator (argmax rewrite)" in {
    val df = SparkEntry.queries("q_dedup_keep_best")(spark, dir)
    df.collect()
    rankedThroughGroupLimit(df)
  }

  "q_doc_chunks" should "stay a generate-over-scan with no shuffle" in {
    val df = SparkEntry.queries("q_doc_chunks")(spark, dir)
    df.collect()
    // drop the final presentation orderBy (its range exchange is the
    // caller's choice, not the operator's): the chunking itself must be
    // scan → project → generate — zero exchanges, fan-out in place
    val op = graft.pipeline.TextOps.chunkDocuments(
      spark.read.parquet(s"$dir/documents.parquet"), 64, 48)
    op.collect()
    val plan = op.queryExecution.executedPlan.toString
    plan should include("Generate")
    plan should not include "Exchange"
    plan should not include "Window"
  }

  "q_shard_assignment, q_pack_sequences, q_sample_token_budget, q_sample_temperature, q_quality_topfrac, q_waterfill_budget, q_weighted_quantiles and q_exact_quantiles" should "contain no window and no single-partition exchange" in {
    for (name <- Seq("q_shard_assignment", "q_pack_sequences",
                     "q_sample_token_budget", "q_sample_temperature",
                     "q_quality_topfrac", "q_waterfill_budget",
                     "q_weighted_quantiles", "q_exact_quantiles")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // the global rank/prefix-sum arrives via the terasort two-phase scan
      // (range partitions + driver offsets), so the consumer-visible plan
      // must have neither a Window nor any one-task funnel
      plan should not include "Window"
      plan should not include "SinglePartition"
    }
  }

  "q_fuzzy_join" should "rank the gram prefix through the top-k operator with no long-path cross product" in {
    val df = SparkEntry.queries("q_fuzzy_join")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the q*d+1 prefix selection is a row_number <= k idiom — it must run
    // on a group limit, never rank a doc's full gram list
    rankedThroughGroupLimit(df)
    // the candidate generator is an equi-join on gram; all-pairs shapes are
    // allowed only on the short-key dense side, which is a broadcast NLJ of
    // an (empty here) tiny set — never a CartesianProduct
    plan should not include "CartesianProduct"
  }

  "q_first_touch" should "execute the k=1 selection through the top-k operator" in {
    val df = SparkEntry.queries("q_first_touch")(spark, dir)
    df.collect()
    // first-event-per-key must never sort whole (user, type) groups
    rankedThroughGroupLimit(df)
  }

  "q_inverted_index" should "prune the documents scan and partial-aggregate the postings" in {
    val plan = formattedPlan("q_inverted_index")
    plan should include("ReadSchema: struct<doc_id:bigint,text:string>")
    // (gram, doc) postings partial-aggregate map-side before their shuffle
    plan.sliding("HashAggregate".length).count(_ == "HashAggregate") should be >= 2
  }

  "q_datacard" should "be one hash aggregate over a pruned scan" in {
    val plan = formattedPlan("q_datacard")
    // n_chars rides the scan; doc text feeds tokens+quality; no join anywhere
    plan should include("ReadSchema: struct<text:string,lang:string,source:string,n_chars:bigint>")
    plan should not include "Join"
    plan should not include "Window"
  }

  "q_sample_fixed_k" should "rank strata through the top-k operator, never a per-stratum sort" in {
    val df = SparkEntry.queries("q_sample_fixed_k")(spark, dir)
    df.collect()
    rankedThroughGroupLimit(df)
  }

  "q_apply_changes" should "broadcast the changeset anti-join, never shuffle the snapshot" in {
    val df = SparkEntry.queries("q_apply_changes")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the survivors anti-join must be a broadcast hash join (the 100 TB
    // snapshot side stays in place; only the small changeset ships)
    plan should include("BroadcastHashJoin")
    plan should include("LeftAnti")
    plan should not include "SortMergeJoin LeftAnti"
  }

  "q_decontaminate_bloom" should "probe the Bloom bits map-side and verify via broadcast" in {
    val df = SparkEntry.queries("q_decontaminate_bloom")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the prefilter is pure bit arithmetic in a Filter over the corpus
    // grams — no join node, no shuffle; only survivors reach the exact
    // verify join, which broadcasts the benchmark set
    plan should include("getbit")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  "q_snapshot_diff and q_retention and q_session_paths" should "never plan a cartesian product or a one-task funnel" in {
    for (name <- Seq("q_snapshot_diff", "q_retention", "q_session_paths")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      plan should not include "CartesianProduct"
      withClue(name) {
        plan.linesIterator.count(_.contains(
          "Exchange SinglePartition")) shouldBe 0
      }
    }
  }

  "q_pmi_bigrams" should "keep the corpus pass cartesian-free (the only funnels are one-row totals)" in {
    val df = SparkEntry.queries("q_pmi_bigrams")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    // the global bigram total N is a partial-then-final aggregate: its
    // SinglePartition exchange moves one partial row per task, and the
    // one-row result rides a broadcast NLJ back onto the pair table —
    // both bounded by partition count, not data. Nothing else may funnel.
    plan.linesIterator.count(_.contains("Exchange SinglePartition")) should be <= 2
    plan should include("BroadcastNestedLoopJoin")
  }

  "q_split_assign" should "be a pure map-side projection — no exchange at all" in {
    val df = SparkEntry.queries("q_split_assign")(spark, dir)
    // drop the output orderBy (display-only) to inspect the assignment body
    val core = ops.Sampling.assignSplit(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    core.queryExecution.executedPlan.toString should not include "Exchange"
    df.collect() // and the full query still runs
  }

  "q_skipgram" should "generate pairs map-side — one aggregation exchange, no join" in {
    val df = SparkEntry.queries("q_skipgram")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan.toLowerCase should not include "join"
    // every hash exchange is the (w1, w2) pair-count aggregation's — the
    // pair GENERATION shuffles nothing (AQE's toString prints the initial
    // and final plan, so assert on the key, not the count)
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => l should include("w1"))
    plan should include("Exchange hashpartitioning")
  }

  "q_top_tokens_source" should "rank through the GroupedTopKLimit bounded heaps" in {
    // name kept from the deleted GroupedTopK operator, so the test id stays stable
    val df = SparkEntry.queries("q_top_tokens_source")(spark, dir)
    df.collect()
    rankedThroughGroupLimit(df)
  }

  "q_funnel and q_gap_fill" should "never plan a cartesian product or a one-task funnel" in {
    for (name <- Seq("q_funnel", "q_gap_fill")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      withClue(name) {
        plan should not include "CartesianProduct"
        plan.linesIterator.count(_.contains(
          "Exchange SinglePartition")) shouldBe 0
      }
    }
  }

  "q_quality_winsor and q_minmax_scale" should "broadcast the per-stratum stats back — no stratum-wide sort or shuffled join" in {
    for (name <- Seq("q_quality_winsor", "q_minmax_scale")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      withClue(name) {
        plan should include("BroadcastHashJoin")
        plan should not include "SortMergeJoin"
        plan should not include "Window"
      }
    }
  }

  "q_equidepth_hist" should "use the two-phase prefix scan — no one-task window" in {
    val df = SparkEntry.queries("q_equidepth_hist")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "Window"
    plan.linesIterator.count(_.contains("Exchange SinglePartition")) shouldBe 0
  }

  "q_tpch_q3" should "push both date filters to the scans and take a bounded top-10" in {
    val plan = formattedPlan("q_tpch_q3")
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
    // each fact scan carries its pushed date predicate
    plan should include("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate,")
    plan should include("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate,")
    plan should include("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
  }

  "q_tpch_q5" should "broadcast the dimension tables and never plan a cartesian product" in {
    val df = SparkEntry.queries("q_tpch_q5")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  "q_rrf_fusion" should "rank both input lists through the GroupedTopKLimit heaps" in {
    // name kept from the deleted GroupedTopK operator, so the test id stays stable
    val df = SparkEntry.queries("q_rrf_fusion")(spark, dir)
    df.collect()
    rankedThroughGroupLimit(df)
  }

  "Graph.pageRank" should "submit the same few jobs at 2 and 10 iterations" in {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    // the supersteps are shuffles inside the caller's one job: building
    // the adjacency is the only other job, whatever the iteration count
    def jobs(iters: Int) =
      SubmittedWork.of(spark)(ops.Graph.pageRank(edges, iters).collect()).jobs
    val two = jobs(2)
    two should be <= 3
    jobs(10) shouldBe two
  }

  "Graph.kCore" should "submit one job per peel round" in {
    import spark.implicits._
    // at k = 2 a path of n nodes loses its two end nodes per round, the
    // middle one last: 5 rounds for 9 nodes, 9 for 17. A round is one
    // job: its checkpoint's count is also the convergence test
    def jobs(nodes: Long) = {
      val path = (0L until nodes - 1).map(i => (i, i + 1)).toDF("src", "dst")
      SubmittedWork.of(spark)(ops.Graph.kCore(path, 2).collect()).jobs
    }
    jobs(17) - jobs(9) shouldBe 4
  }

  /** Two disjoint stars — one centred on its min id, one not — plus
    * singletons: the components converge in 2 and 3 rounds. */
  private def twoStars = {
    import spark.implicits._
    ((1L to 12L).toDF("doc_id"),
      ((2L to 5L).map(l => (1L, l)) ++ (6L to 8L).map(l => (9L, l)))
        .toDF("i", "j"))
  }

  "Dedup.duplicateClusters" should "submit at most six jobs for two disjoint stars" in {
    val (nodes, pairs) = twoStars
    SubmittedWork.of(spark)(
      pipeline.Dedup.duplicateClusters(nodes, pairs).collect()).jobs should be <= 6
  }

  "Graph.kCore and Dedup.duplicateClusters" should "leave at most one RDD persistent" in {
    import spark.implicits._
    val path = (0L until 16L).map(i => (i, i + 1)).toDF("src", "dst")
    SubmittedWork.storedBy(spark)(
      ops.Graph.kCore(path, 2).collect()) should be <= 1
    val (nodes, pairs) = twoStars
    SubmittedWork.storedBy(spark)(
      pipeline.Dedup.duplicateClusters(nodes, pairs).collect()) should be <= 1
  }

  "Graph.pageRank" should "leave at most one RDD stored" in {
    import spark.implicits._
    // the adjacency, which the lazy result's supersteps read
    val path = (0L until 16L).map(i => (i, i + 1)).toDF("src", "dst")
    SubmittedWork.storedBy(spark)(
      ops.Graph.pageRank(path, 5).collect()) should be <= 1
  }

  /** 60 random 20-token docs over six words plus 12 near-copies. */
  private def nearDupCorpus = {
    import spark.implicits._
    val rnd = new scala.util.Random(12L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def text(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 60L).map(i => (i, text(20)))
    val dups = (0L until 12L).map(i => (100L + i, base(i.toInt)._2 + " eta"))
    (base ++ dups).toDF("doc_id", "text")
  }

  "Dedup.minHashNearDups" should "submit at most three jobs on a small corpus" in {
    // the kernel's one job (the set and pair checkpoints, four shuffles of
    // packed blocks inside it) and the caller's collect; seven before the
    // kernel, one more allowed
    val docs = nearDupCorpus
    SubmittedWork.of(spark)(
      pipeline.Dedup.minHashNearDups(docs, 3, 0.5).collect()).jobs should be <= 3
  }

  "Dedup.shingles" should "plan no lambda function" in {
    // the grams come from one native expression, not a transform lambda
    // over element_at/concat_ws (interpreted: ArrayTransform is
    // CodegenFallback)
    val plan = pipeline.Dedup.shingles(nearDupCorpus, 3).queryExecution.optimizedPlan
    plan.find(_.expressions.exists(_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.LambdaFunction]))) shouldBe None
    plan.toString should not include "lambda"
    plan.toString should include("token_gram_hashes")
  }

  "Dedup.minHashNearDups and minHashIncremental" should "leave at most one RDD persistent" in {
    val docs = nearDupCorpus
    SubmittedWork.storedBy(spark)(
      pipeline.Dedup.minHashNearDups(docs, 3, 0.5).collect()) should be <= 1
    val (batch, corpus) = (docs.where("doc_id >= 100"), docs.where("doc_id < 100"))
    SubmittedWork.storedBy(spark)(
      pipeline.Dedup.minHashIncremental(batch, corpus, None, 3, 0.5).collect()) should be <= 1
  }

  "q_substring_remove" should "never plan a cartesian product and prune the scan" in {
    val plan = formattedPlan("q_substring_remove")
    plan should not include "CartesianProduct"
    // the covered-offset ownership is a hash aggregate (per-gram min),
    // not a self-join of the positional gram table
    plan should include("HashAggregate")
  }

  "Dsir.importanceWeights" should "broadcast the bucket table and partial-aggregate the gram stream" in {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = pipeline.Dsir.importanceWeights(docs, col("lang") === "en", 1024)
    w.collect()
    val plan = w.queryExecution.executedPlan.toString
    // the ≤ buckets-row log-ratio table joins broadcast — the token-scale
    // gram stream is never shuffled for the join
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "Window"
    // bucket distribution and per-doc sums both partial-combine map-side
    plan.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") should be >= 4
    // the unigram and bigram hashes come from the shared native shingler,
    // not transform lambdas (interpreted: ArrayTransform is CodegenFallback)
    val optimized = w.queryExecution.optimizedPlan
    optimized.find(_.expressions.exists(_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.LambdaFunction]))) shouldBe None
    optimized.toString should include("token_gram_hashes")
  }

  "Bpe.segment" should "run the merge chain on the vocab side only — no cartesian, no window" in {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val seg = pipeline.Bpe.segment(docs, Seq(("a", "b"), ("ab", "</w>")))
    seg.collect()
    val plan = seg.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "Window"
    // the O(len²) replace chain sits above the DISTINCT (vocab)
    // aggregate, never on the raw token explode: the optimized plan keeps
    // every `replace` inside the project over the Aggregate(tok) subtree
    val opt = seg.queryExecution.optimizedPlan.toString
    val replaceLines = opt.linesIterator.filter(_.contains("replace(")).toSeq
    replaceLines should not be empty
    // the chain is fused into the vocab-distinct Aggregate node itself
    replaceLines.foreach(_ should include("Aggregate [tok"))
  }

  "q_source_kl" should "re-aggregate marginals from the pair table and broadcast them back" in {
    val plan = formattedPlan("q_source_kl")
    // global token table + grand total join broadcast; the (source, token)
    // stream is shuffled exactly once, for its own aggregation
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "Window"
  }

  "q_zipf" should "rank without any window node" in {
    val df = SparkEntry.queries("q_zipf")(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString should not include "Window"
  }

  "q_events_sliding" should "fan out map-side and partial-aggregate before the shuffle" in {
    val plan = formattedPlan("q_events_sliding")
    // the 4-window assignment is an Expand directly over the scan — pure
    // map-side, no join against a window table
    plan should include("Expand")
    plan should not include "Join"
    plan.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") should be >= 2
    plan should not include "Window (" // windowed agg, not a Window node
  }

  "q_quality_model_topk" should "rank per source through the bounded-heap operator" in {
    // name kept from the deleted GroupedTopK operator, so the test id stays stable
    val df = SparkEntry.queries("q_quality_model_topk")(spark, dir)
    df.collect() // finalize adaptive plan
    rankedThroughGroupLimit(df)
  }

  "q_quantile_normalize" should "contain no window and no single-partition exchange" in {
    val df = SparkEntry.queries("q_quantile_normalize")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // both the per-source and the GLOBAL rank ride the two-phase
    // range-partitioned prefix scan — a global quantile table built with
    // a one-task sort would be the 100 TB bottleneck
    plan should not include "Window"
    plan should not include "SinglePartition"
  }

  "q_ks_drift and q_pct_rank" should "contain no window and no single-partition exchange" in {
    // both CDFs / ranks ride the shared two-phase prefix scan; a refactor
    // to the textbook cumulative-window spelling would serialize on one
    // task exactly at corpus scale
    for (name <- Seq("q_ks_drift", "q_pct_rank")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      plan should not include "Window"
      plan should not include "SinglePartition"
    }
  }

  "q_calibration and q_conformal" should "rank through the prefix scan with no window and no one-task exchange" in {
    // decile bins / the conformal quantile come from the shared two-phase
    // exact rank — the cumulative-window spelling would serialize 100 TB
    for (name <- Seq("q_calibration", "q_conformal")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      plan should not include "Window"
      plan should not include "SinglePartition"
    }
  }

  "q_ab_test and q_cusum_drift" should "stay aggregate-shaped: no window, no join beyond the 1-row broadcast, no cartesian blowup" in {
    val ab = SparkEntry.queries("q_ab_test")(spark, dir)
    ab.collect()
    val abPlan = ab.queryExecution.executedPlan.toString
    abPlan should not include "Window"
    abPlan should not include "SortMergeJoin"
    abPlan should not include "CartesianProduct"
    val cu = SparkEntry.queries("q_cusum_drift")(spark, dir)
    cu.collect()
    val cuPlan = cu.queryExecution.executedPlan.toString
    // the per-type allowance arrives as a broadcast, never a shuffled join
    cuPlan should include("BroadcastHashJoin")
    cuPlan should not include "SortMergeJoin"
    cuPlan should not include "CartesianProduct"
  }

  "q_triangles" should "join wedges by key with no cartesian product" in {
    val df = SparkEntry.queries("q_triangles")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // degree orientation keeps the wedge join an equi-join on the pivot;
    // an all-pairs shape here would be the naive adjacency blowup
    plan should not include "CartesianProduct"
  }

  "q_source_signature" should "rank lift per source through the bounded-heap operator" in {
    // name kept from the deleted GroupedTopK operator, so the test id stays stable
    val df = SparkEntry.queries("q_source_signature")(spark, dir)
    df.collect() // finalize adaptive plan
    rankedThroughGroupLimit(df)
  }

  "q_cdc_chunks" should "stay map-side: no join, no window, no aggregate before the sink" in {
    val df = SparkEntry.queries("q_cdc_chunks")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the whole cut rule is generator expressions over one scan — the
    // 100 TB claim IS this shape (the final orderBy is the driver
    // contract's presentation sort, a range exchange, not a join)
    plan should not include "Join"
    plan should not include "Window"
    plan should not include "HashAggregate"
  }

  "q_boilerplate_remove" should "broadcast the frequent-gram set and keep the surgery join-free" in {
    val df = SparkEntry.queries("q_boilerplate_remove")(spark, dir)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // the frequent-gram set (tiny by construction: df >= minDf survivors)
    // reaches the positional-gram stream as a broadcast, and the final
    // doc -> flagged-starts attach is a broadcast left join — the only
    // all-to-all shuffles are the gram-frequency hash agg and the
    // per-doc starts agg, both with map-side partial combine
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    plan should not include "Window"
    // token surgery is a higher-order filter probe, not a token-level join
    plan should include("exists(")
  }

  "q_kmeans" should "broadcast the centroid table into every assignment round" in {
    val df = SparkEntry.queries("q_kmeans")(spark, dir)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // the k-row centroid side rides a broadcast nested loop (an explicit
    // broadcast cross join, fan-out k per point, all map-side); a
    // CartesianProduct here would mean the broadcast hint regressed and
    // the N×k expansion became a shuffle
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "CartesianProduct"
  }

  "q_bm25_topk" should "broadcast the query side and rank through the bounded heap" in {
    // name kept from the deleted GroupedTopK operator, so the test id stays stable
    val df = SparkEntry.queries("q_bm25_topk")(spark, dir)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // query terms, per-term dfs, and the 1-row corpus stats all broadcast
    // — the corpus-sized postings table must never shuffle for a join
    plan should include("BroadcastHashJoin")
    plan should include("BroadcastNestedLoopJoin") // 1-row stats
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    // ranking rides a group limit, never ranks a whole query's docs
    rankedThroughGroupLimit(df)
  }

  "TextOps.luhnValidPii" should "be a pure map-side plan with no exchange" in {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val df = graft.pipeline.TextOps.luhnValidPii(docs)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // checksum validation is embarrassingly parallel: regex extract +
    // nested HOFs per row; any Exchange here means a regression
    plan should not include "Exchange"
    plan should not include "Sort"
  }

  "q_canonical_dedup" should "be one hash aggregation on the target key, no cartesian" in {
    val plan = formattedPlan("q_canonical_dedup")
    plan should not include "CartesianProduct"
    plan should not include "Window"
    // partial + final agg pair around the key exchange
    plan.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") should be >= 2
  }

  "q_robots_asof" should "broadcast the versioned rules, no cartesian" in {
    val plan = formattedPlan("q_robots_asof")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  "q_blocklist_filter and q_pretokenize" should "stay map-side until the ordering" in {
    for (name <- Seq("q_blocklist_filter", "q_pretokenize")) {
      val plan = formattedPlan(name)
      plan should not include "Window"
      plan should not include "SortMergeJoin"
      plan should not include "CartesianProduct"
      withClue(name) {
        // no aggregation anywhere: the gate/counters are per-row folds
        plan should not include "HashAggregate"
      }
    }
  }

  "q_url_resolve and q_html_meta" should "contain no join and no aggregate — pure narrow maps" in {
    for (name <- Seq("q_url_resolve", "q_html_meta")) {
      val plan = formattedPlan(name)
      withClue(name) {
        plan should not include "Join"
        plan should not include "HashAggregate"
        plan should not include "CartesianProduct"
      }
    }
  }

  "the round-13 narrow-map rows" should "shuffle only for the final sort" in {
    // sentence split, tables, markdown, readability, code, dates,
    // frontmatter, citations, cache policy, og, srcset, licenses,
    // meta-refresh, hreflang: all pure per-document column work — a
    // hash-partitioned Exchange anywhere means a regression to a
    // join/agg spelling
    for (name <- Seq("q_sentence_split", "q_html_tables",
      "q_markdown_export", "q_readability", "q_code_detect",
      "q_doc_dates", "q_frontmatter", "q_citation_extract",
      "q_http_cache", "q_opengraph", "q_srcset", "q_license_detect",
      "q_meta_refresh", "q_hreflang", "q_csv_dialect")) {
      val plan = formattedPlan(name)
      withClue(name) {
        plan should not include "Exchange hashpartitioning"
        plan should not include "Join"
        plan should not include "HashAggregate"
      }
    }
  }

  "q_json_schema" should "partial-aggregate the census before its one shuffle" in {
    val plan = formattedPlan("q_json_schema")
    plan.sliding("HashAggregate".length)
      .count(_ == "HashAggregate") should be >= 2
    // exactly one hash-partitioned Exchange (the census agg); the only
    // other Exchange is the presentation sort's range partitioning
    plan.linesIterator
      .count(_.contains("Arguments: hashpartitioning")) shouldBe 1
    plan.linesIterator
      .count(_.contains("Arguments: rangepartitioning")) shouldBe 1
  }

  "the flagship entry" should "smoke-run on sf0.001 with rows > 0" in {
    SparkEntry.entry(spark).count() should be > 0L
  }

  "every ranking-filter query" should "plan Spark's WindowGroupLimit under its rank filter" in {
    // the queries whose plans filter a row_number()/rank()/dense_rank()
    // window on a bound (the census in LEDGER.md "GroupedTopK vs
    // WindowGroupLimit (deleted)"). Spark infers the group limit only up
    // to spark.sql.optimizer.windowGroupLimitThreshold (1000): past it, or
    // on a bound it cannot read, the window silently ranks every row of
    // every key
    val rankFilterQueries = Seq(
      "q_ann_cosine", "q_ann_ivf", "q_ann_ivfpq", "q_ann_ivfpq_refine",
      "q_ann_lsh", "q_ann_pca", "q_ann_pq", "q_ann_rp", "q_ann_sq",
      "q_bm25_topk", "q_crawl_budget", "q_crawl_frontier",
      "q_dedup_keep_best", "q_dense_rank_topk", "q_domain_cap",
      "q_first_touch", "q_fuzzy_join", "q_hard_negatives", "q_knn_project",
      "q_label_backfill", "q_prototypes", "q_quality_model_topk",
      "q_rank_topk", "q_rrf_fusion", "q_sample_fixed_k", "q_source_cap",
      "q_source_signature", "q_top_tokens_source", "q_topk_orders")
    forAll(rankFilterQueries) { q =>
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      withClue(s"$q: ") {
        RankLimits.hasGroupLimit(plan) shouldBe true
        RankLimits.unlimitedRankFilters(plan) shouldBe empty
      }
    }
  }
}
