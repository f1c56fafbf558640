package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col

/** Physical-plan assertions: the properties that matter at 100 TB —
  * predicate pushdown into the parquet scan, column pruning, broadcast
  * joins for dims, whole-stage codegen coverage — must hold, not just
  * "the query returns correct rows". These tests freeze them.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("PlanDump dumps the AQE-final plan of the query it executed") {
    val p = graft.tools.PlanDump.finalPlan(
      SparkEntry.queries("q50_approx_agg")(spark, sf))
    assert(p.contains("AdaptiveSparkPlan"), p.take(800))
    assert(p.contains("isFinalPlan=true"), p.take(800))
    assert(!p.contains("isFinalPlan=false"), p.take(800))
  }

  test("q02 filter+project: predicates pushed to parquet, columns pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters"), p.take(800))
    assert(p.contains("IsNotNull(o_orderstatus)") ||
      p.contains("EqualTo(o_orderstatus,F)"), "status filter not pushed")
    assert(p.contains("GreaterThan(o_totalprice,100000.0)"),
      "price filter not pushed")
    // projection pruning: o_orderpriority is never read
    assert(!p.contains("o_orderpriority"), "unused column not pruned from scan")
  }

  test("q03 multi-way join: dimension side broadcasts") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "nation dim should broadcast")
  }

  test("q01 aggregation: partial (map-side) aggregation before the shuffle") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
    // partial agg happens below the exchange: scan→filter→project→agg→exchange
    assert(p.indexOf("partial_sum") > p.indexOf("Exchange"),
      "partial agg should sit under the shuffle in the tree")
  }

  test("q05 lookup-miss split keeps the big side shuffle-free") {
    val p = plan("q05_lookup_miss_split")
    assert(p.contains("BroadcastHashJoin"), "small filtered dim should broadcast")
    // lineitem side must not be exchanged before the join
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val preJoin = p.substring(0, joinIdx)
    assert(!preJoin.contains("Exchange hashpartitioning(l_partkey"),
      "fact side should not shuffle for a broadcast join")
  }

  test("q25 minhash: sketch subtree evaluated once (no self-join recompute)") {
    val df = SparkEntry.queries("q25_minhash_lsh")(spark, sf)
    // one scan of documents, not two: posting-list pair expansion
    val scans = df.queryExecution.optimizedPlan.collectLeaves().length
    assert(scans === 1, s"expected a single documents scan, got $scans")
  }

  test("q28 ANN brute-force: corpus scan is never shuffled") {
    val p = plan("q28_ann_bruteforce")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "query set should broadcast against the corpus")
  }

  test("q29 IVF: narrow centroid assignment — no Window, no corpus-expanding shuffle") {
    val p = plan("q29_ann_ivf")
    assert(!p.contains("Window"), s"assignment/rerank must not window:\n${p.take(1500)}")
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      "corpus must not be shuffled for centroid assignment")
    assert(p.contains("TopKPerKey"), "rerank should plan through TopKPerKey")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "assignment must not cross-join the centroid table")
  }

  test("q28/q54/q76 rerank: TopKPerKey bounded heaps, not a row_number window") {
    for (q <- Seq("q28_ann_bruteforce", "q54_ann_lsh", "q76_ann_ivf_kmeans")) {
      val p = plan(q)
      assert(p.contains("TopKPerKey"), s"$q: rerank should plan through TopKPerKey")
      assert(!p.contains("Window"), s"$q: no window rerank expected:\n${p.take(1500)}")
    }
  }

  test("q11 running window: heap-select first, window over <=5 rows/key") {
    val p = plan("q11_window_running")
    // the fact table must reach a bounded heap, not a full sort: the
    // only Window in the plan runs over TopKPerKey's 5-row survivors
    assert(p.contains("TopKPerKey"),
      "q11 must select the per-key head rows with bounded heaps")
    val winIdx = p.indexOf("Window")
    val topIdx = p.indexOf("TopKPerKey")
    assert(winIdx >= 0 && topIdx >= 0 && winIdx < topIdx,
      s"the window must sit ABOVE the heap select (plan order):\n${p.take(1500)}")
  }

  test("q26 simhash: one narrow kernel pass — no shuffle before the final sort") {
    val df = SparkEntry.queries("q26_simhash")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("simhash16"), "expected the native simhash16 kernel")
    assert("Exchange".r.findAllIn(p).length === 1,
      s"only the final orderBy range exchange expected:\n${p.take(1500)}")
    assert(!p.contains("HashAggregate"), "no groupBy expected in the sketch")
  }

  test("q135 repetition filter: two narrow kernel passes — no shuffle before the final sort") {
    val df = SparkEntry.queries("q135_repetition_filter")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("repetition_mass"),
      "expected the native repetition_mass kernel")
    assert("Exchange".r.findAllIn(p).length === 1,
      s"only the final orderBy range exchange expected:\n${p.take(1500)}")
    assert(!p.contains("HashAggregate"), "no groupBy expected in the filter")
  }

  test("q136 pagerank: iterations hash-join rank onto cached co-partitioned edges") {
    // the public build collects the bounded top-20 inside the managed
    // cache scope (so Verify/Bench leak nothing) — pin the ITERATION
    // plan by entering the scope directly
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    graft.analytics.ExtendedQueries.withPagerankRanks(spark, sf) { ranks =>
      // AdaptiveSparkPlanExec hides its children from collect — unwrap
      val plan = graft.analytics.ExtendedQueries.pagerankTop20(ranks)
        .queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case other => other
        }
      val p = plan.toString
      // iterations 2..3 hash-join under the hint (measured:
      // broadcasting a 100x-scale |V|-row rank table per iteration was
      // ~25% slower cold AND warm); iteration 1 is JOINLESS since r20
      // (constant-rank substitution — RankHistory.firstStepRank), so
      // exactly 2 joins remain
      val joins = plan.collect { case j: ShuffledHashJoinExec => j }
      assert(joins.length == 2,
        s"expected the 2 post-first iteration joins as ShuffledHashJoin:\n${p.take(1500)}")
      // the edge side (streamed/left) is the src-BUCKETED EdgeIndex
      // artifact CACHED: HashPartitioning(src) survives persist(), so
      // the |E|-row edge table is NEVER exchanged — every shuffle in
      // the build is |V|-scale (rank-side alignment + contribution
      // sums). InMemoryTableScanExec is a physical leaf, so collecting
      // over the edge branch sees exactly the iteration-time operators.
      joins.foreach { j =>
        val edge = j.left
        assert(edge.collect { case s: InMemoryTableScanExec => s }.nonEmpty,
          s"iterations must read the CACHED edge artifact:\n$edge")
        assert(edge.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"the bucketed edge side must join with NO Exchange:\n$edge")
      }
      assert(p.contains("Bucketed: true"),
        "iterations must read the bucketed EdgeIndex artifact")
      assert(p.contains("TakeOrderedAndProject"),
        "top-20 must plan as TakeOrdered, not a full sort")
    }
  }

  test("q146 collocations: one bigram explode, window marginals, no cache") {
    val df = SparkEntry.queries("q146_collocations")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // exactly ONE token-scale explode: the marginals ride the bigram
    // rollup as keyed windows, and N comes from the narrow Σ(|toks|−1)
    // identity — a second Generate would mean the bigram subtree is
    // being re-paid (the pre-round-10 persist removed, nothing may
    // have re-introduced the double pass)
    assert("Generate explode".r.findAllIn(p).length == 1,
      s"expected exactly one bigram explode:\n${p.take(1500)}")
    assert(p.contains("Window"), "marginals must ride windows")
    assert(!p.contains("InMemoryTableScan"),
      "q146 must not retain a bigram cache")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "N must arrive as the bounded 1-row broadcast cross")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must plan as TakeOrdered, not a full sort")
  }

  test("q137 rank-artifact read: a parquet scan and a heap — no graph rebuild") {
    val root = java.nio.file.Files.createTempDirectory("graft-plan-rank")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val df = SparkEntry.queries("q137_pagerank_from_index")(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      // (the FileScan's Location string is truncated in plan output, so
      // pin the scanned schema rather than the artifact path)
      assert(p.contains("FileScan parquet") && p.contains("rank_scaled"),
        s"the read path must scan the materialized rank table:\n${p.take(1200)}")
      assert(!p.contains("Join"), "no join belongs in the artifact read path")
      assert(p.contains("TakeOrderedAndProject"),
        "top-20 must plan as TakeOrdered, not a full sort")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None => sys.props -= "graft.artifacts.dir"
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("q208/q209 maintained graph serve: ZERO |E|-scale Exchange, " +
      "setup included — the composed bucketed state scan (r19)") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val tmpd = java.nio.file.Files.createTempDirectory("graft-plan-edgefold")
    try {
      val store = tmpd.resolve("state").toString
      // two folds so the served state COMPOSES two manifest layers —
      // the bucketing must survive multi-version composition, not just
      // a single self-contained publish
      val all = graft.analytics.ExtendedQueries
        .fulfillmentEdges(spark, sf)
      graft.analytics.EdgeFold.fold(
        all.filter(col("src") % 2 === 0), 1L, store, buckets = 16)
      graft.analytics.EdgeFold.fold(
        all.filter(col("src") % 2 === 1), 2L, store, buckets = 16)

      // ── SETUP: the serve-side edge frame itself (r18's weak mark
      // was a per-serve |E| repartition + degree self-join here) ──
      val ed = graft.analytics.EdgeFold.degreedEdgesBucketed(spark, store)
      val edPlan = ed.queryExecution.executedPlan.toString
      // standalone, nothing above the scan benefits from clustering, so
      // DisableUnnecessaryBucketedScan may print `Bucketed: false
      // (disabled by query planner)` — the bucket-CAPABLE scan is what
      // we pin here; `Bucketed: true` is pinned below, in the plans
      // that consume the partitioning (cached plans skip the disable
      // rule, SPARK-35332)
      assert(edPlan.contains("Bucketed:"),
        s"the state must be read through a bucket-aware scan:\n${edPlan.take(1200)}")
      assert(!edPlan.contains("Exchange"),
        s"the serve-side edge frame must carry NO exchange:\n${edPlan.take(1200)}")
      assert(!edPlan.contains("Join"),
        s"no degree self-join — d is maintained in-state:\n${edPlan.take(1200)}")
      // src-keyed aggregation (the nodes-distinct the serves run)
      // rides the bucketing: zero exchange, bucketed scan ENABLED
      val nodes = ed.select(col("src")).distinct()
      val nodesPlan = nodes.queryExecution.executedPlan.toString
      assert(!nodesPlan.contains("Exchange"),
        s"nodes-distinct must ride HashPartitioning(src) with no exchange:\n$nodesPlan")
      assert(nodesPlan.contains("Bucketed: true"),
        s"nodes-distinct must consume the bucketed scan:\n$nodesPlan")

      // ── ITERATIONS: both serves join rank onto the cached bucketed
      // scan with no edge-side exchange ──
      def pinIterations(ranks: DataFrame, joinsExpected: Int): Unit = {
        val plan = graft.analytics.ExtendedQueries.pagerankTop20(ranks)
          .queryExecution.executedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case other => other
          }
        val p = plan.toString
        val joins = plan.collect { case j: ShuffledHashJoinExec => j }
        assert(joins.length == joinsExpected,
          s"expected the $joinsExpected iteration joins as ShuffledHashJoin:\n${p.take(1500)}")
        joins.foreach { j =>
          val edge = j.left
          assert(edge.collect { case s: InMemoryTableScanExec => s }.nonEmpty,
            s"iterations must read the CACHED maintained edges:\n$edge")
          assert(edge.collect { case e: ShuffleExchangeExec => e }.isEmpty,
            s"the bucketed edge side must join with NO Exchange:\n$edge")
        }
        assert(p.contains("Bucketed: true"),
          s"the cached edge plan must retain the bucketed scan:\n${p.take(1500)}")
        assert(p.contains("TakeOrderedAndProject"),
          "top-20 must plan as TakeOrdered, not a full sort")
      }
      // the global serve's iteration 1 is JOINLESS since r20
      // (constant-rank substitution — RankHistory.firstStepRank), and
      // the personalized serve's since r21 (its r0 is the constant
      // rInit over exactly the seed set, so the join is a seed-filter
      // substitution — pprFirstContribs): 2 joins each
      graft.analytics.ExtendedQueries.withMaintainedPagerankRanks(
        spark, store)(pinIterations(_, 2))
      graft.analytics.ExtendedQueries.withMaintainedPprRanks(
        spark, store)(pinIterations(_, 2))
    } finally graft.etl.Commit.deleteRecursively(tmpd)
  }

  test("q210 delta-serve: the cached |E| relation is never re-exchanged " +
      "— every Exchange carries derived (neighborhood/rank-scale) rows (r19)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val tmpd = java.nio.file.Files.createTempDirectory("graft-plan-delta")
    try {
      val store = tmpd.resolve("state").toString
      val hist = tmpd.resolve("history").toString
      // split by ORDER key (not by src — the symmetric reverse edges
      // must travel with their twins, and every node must stay in the
      // base graph's node set)
      val li = graft.analytics.Tables.lineitem(spark, sf)
      val ord = graft.analytics.Tables.orders(spark, sf)
      def edgesOf(slice: org.apache.spark.sql.DataFrame) =
        graft.analytics.ExtendedQueries.fulfillmentEdgesFrom(slice, ord)
      val isSliver = col("l_orderkey") % 97 === 0
      graft.analytics.EdgeFold.fold(edgesOf(li.filter(!isSliver)),
        1L, store, 16)
      graft.analytics.RankHistory.publish(spark, store, hist)
      val sliver = edgesOf(li.filter(isSliver))
      graft.analytics.EdgeFold.fold(sliver, 2L, store, 16)
      graft.analytics.RankHistory.withDeltaServedRanks(spark, store,
        hist, sliver.select(col("src")).distinct()) { ranks =>
        val plan = graft.analytics.ExtendedQueries.pagerankTop20(ranks)
          .queryExecution.executedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case other => other
          }
        // the rule: an Exchange may carry rows DERIVED from the edge
        // cache (join outputs = the sliver's neighborhood, aggregates =
        // rank-scale) but never the raw |E| relation itself — a pure
        // project/filter path from an Exchange down to the cached scan
        // would be the per-serve |E| repartition this path exists to kill
        // the |E| relation is the ONLY cache whose rows are edges
        // (src/dst/w/d) — the other pinned frames are node- or
        // rank-shaped ([node] / [node, r])
        def isEdgeCache(s: InMemoryTableScanExec): Boolean =
          s.relation.output.map(_.name).contains("dst")
        def rawScanBelow(p: SparkPlan): Boolean = p match {
          case s: InMemoryTableScanExec => isEdgeCache(s)
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => false
          case other => other.children.exists(rawScanBelow)
        }
        val offenders = plan.collect {
          case e: ShuffleExchangeExec if rawScanBelow(e.child) => e
        }
        assert(offenders.isEmpty,
          s"the raw cached edge relation feeds an Exchange:\n${offenders.headOption}")
        assert(plan.collect { case s: InMemoryTableScanExec => s }.nonEmpty,
          "the delta serve must read the cached maintained edges")
      }
    } finally graft.etl.Commit.deleteRecursively(tmpd)
  }

  test("q210 hop reads are partition-PRUNED bucket slices: IO ∝ frontier " +
      "buckets, bucketing preserved, no exchange (r20)") {
    import spark.implicits._
    import graft.analytics.EdgeFold
    import graft.streaming.BucketedStateStore
    val tmpd = java.nio.file.Files.createTempDirectory("graft-plan-slice")
    try {
      val store = tmpd.resolve("state").toString
      val n = 512
      val ring = (0 until n).flatMap { i =>
        val j = (i + 1) % n
        Seq((i.toLong, j.toLong), (j.toLong, i.toLong))
      }
      EdgeFold.fold(ring.toDF("src", "dst"), 1L, store, 64)
      val frontier = Seq(7L).toDF("src")
      val bs = BucketedStateStore.touchedBuckets(frontier, Seq("src"), 64)
      val sl = EdgeFold.degreedEdgesBucketedSlice(spark, store, bs)
      val p = sl.queryExecution.executedPlan.toString
      // static partition pruning: the scan must read ONLY the named
      // _sb dirs — visible as a partition filter and a pruned count.
      // (The standalone scan reports "Bucketed: false (disabled by
      // query planner)" — auto-bucketed-scan only engages the bucketed
      // layout when a join/agg needs it, which the join below pins.)
      assert(!p.contains("Exchange"),
        s"a pruned slice must carry no exchange:\n${p.take(1200)}")
      assert(p.contains("PartitionFilters: [isnotnull(_sb") ||
        p.contains("PartitionFilters: [(_sb"),
        s"the partition filter must reach the scan:\n${p.take(1200)}")
      val sliceRows = sl.count()
      val allRows = EdgeFold.edges(spark,
        store).count()
      assert(sliceRows > 0 && sliceRows < allRows / 8,
        s"one frontier bucket of 64 must read a small fraction: " +
          s"$sliceRows of $allRows")
      // the slice joins like the full bucketed read: frontier-keyed
      // join exchanges ONLY the frontier side
      val j = sl.join(frontier.hint("shuffle_hash").withColumnRenamed(
        "src", "node"), sl("src") === org.apache.spark.sql.functions
          .col("node"))
      val jp = j.queryExecution.executedPlan.toString
      assert(jp.contains("Bucketed: true"),
        s"the pruned slice must join as a bucketed scan:\n${jp.take(1500)}")
    } finally graft.etl.Commit.deleteRecursively(tmpd)
  }

  test("q138 cohort retention: one scan, dedup and first-day window ride one exchange") {
    val df = SparkEntry.queries("q138_cohort_retention")(spark, sf)
    // ONE events scan: the cohort-size denominator must come from a
    // window over the aggregated frame, not a self-join that would
    // duplicate the event-scale subtree
    val scans = df.queryExecution.optimizedPlan.collectLeaves().length
    assert(scans == 1, s"expected a single events scan, got $scans")
    val p = plan("q138_cohort_retention")
    // repartition(user) + the (cohort, offset) agg + the tiny
    // cohort-window exchange — the distinct and the per-user first-day
    // window must RIDE the user exchange (subset clustering)
    val hashEx = "hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 3,
      s"expected 3 hash exchanges (user, cohort agg, cohort window), got $hashEx:\n${p.take(2000)}")
  }

  test("q69 vocab top-k: global orderBy+limit plans as TakeOrdered, no full sort") {
    val df = SparkEntry.queries("q69_vocab_df")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as TakeOrderedAndProject:\n${p.take(1200)}")
  }

  test("q30 as-of join: single-shuffle union trick, no nested-loop join") {
    val p = plan("q30_asof_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "as-of must not theta-join")
    assert(p.contains("Window"), "expected the running-last-value window")
  }

  test("q34 range join: bucketed equi-join, never a nested loop") {
    val p = plan("q34_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"range join must be an equi-join on (key, bucket):\n${p.take(1500)}")
  }

  test("q25 minhash: NO join anywhere — sketch + bucket groupBy only") {
    val p = plan("q25_minhash_lsh")
    assert(!p.contains("Join"), s"LSH path must be join-free:\n${p.take(1500)}")
  }

  test("q77 decontamination: benchmark shingle set broadcasts, corpus never shuffled by value") {
    val p = plan("q77_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark shingles (eval-suite-sized) must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no sort-merge join: the corpus side must not shuffle on shingle")
  }

  test("q84 predictability: capped bigram table broadcasts into the scoring join") {
    val p = plan("q84_bigram_predictability")
    assert(p.contains("BroadcastHashJoin"),
      "the top-K bigram table (bounded by bigramCap) must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the exploded corpus must never shuffle for the scoring join")
  }

  test("q79 packing: exactly one exchange feeds both the window and the groupBy") {
    val p = plan("q79_pack_chunks")
    // window partitions by source; the groupBy(source, bin) reuses that
    // partitioning (hashpartitioning(source) clusters (source, bin)),
    // so the whole query needs ONE hash exchange — the only other
    // exchange is the rangepartitioning of the final presentation sort
    val hashEx = "hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.linesIterator.filter(_.contains("partitioning")).mkString("\n"))
  }

  test("q88 tf-idf rerank runs on TopKPerKey heaps, not a window") {
    val df = SparkEntry.queries("q88_tfidf_terms")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), "rerank must use the custom operator")
    assert(!p.contains("Window"), "no row_number window in the rerank")
  }

  test("q90 SemDeDup: narrow assignment, no window, no cartesian") {
    val df = SparkEntry.queries("q90_semdedup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // cluster assignment + verdict joins never window, never cross-join
    assert(!p.contains("Window"), "assignment/dedup must not window")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "no all-pairs join anywhere — candidates come from LSH buckets")
  }

  test("perKey feeds a same-key groupBy without a second exchange") {
    // TopKPerKeyExec advertises its child's partitioning, so the
    // cap-then-collect pipelines (q85, q87) aggregate directly on the
    // final heaps — exactly ONE hash exchange on the bucket key.
    // Asserted on the declarative candidate-pair pipeline: in the
    // full q85 it runs exactly once upstream of a localCheckpoint
    // (so the final plan never shows it at all — see the next pin)
    val pairs = graft.multimodal.MediaQueries.candidatePairs(
      graft.multimodal.MediaQueries.q85Embeddings(spark, sf), Seq("blen"))
    val p = pairs.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(kind".r.findAllIn(p).length == 1,
      "the bucket-key exchange must appear exactly once:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q85 rerank touches only checkpointed pair-scale frames, sort-free") {
    // the corpus-scale banding pipeline is pinned by localCheckpoint
    // (executes once, ever); the rerank plan over it must be pure
    // broadcast probes — no sort-merge join, no banding exchange
    val df = SparkEntry.queries("q85_media_neardup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      "rerank joins must broadcast, not sort-merge")
    assert(!p.contains("Exchange hashpartitioning(kind"),
      "the banding pipeline must not replan above the checkpoint")
    assert(p.contains("BroadcastHashJoin"), "rerank must broadcast-probe")
  }

  test("q91 dup spans: one position-scale exchange, no position-scale join") {
    // the repartition(sh) is the ONLY time raw shingle positions move;
    // every aggregation above it plans exchange-free (subset-key rule)
    // and the complement identity removed the perDoc⋈nd join entirely
    val df = SparkEntry.queries("q91_dup_spans")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(sh#".r.findAllIn(p).length == 1,
      "positions must shuffle exactly once:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("SortMergeJoin"),
      "no sort-merge join anywhere — the only join left is the 20-row per-source rollup")
  }

  test("q97 stratified sample: TopKPerKey heaps, never a row_number window") {
    val df = SparkEntry.queries("q97_stratified_sample")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), "per-source heads must run on bounded heaps")
    assert(!p.contains("Window"), "no Window operator anywhere:\n" + p)
  }

  test("q98 source overlap: pair rollup reads the cached mask table") {
    val df = SparkEntry.queries("q98_source_overlap")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the position-scale exchange lives inside the persisted mask
    // table (materialized ONCE by the per-source bounded collect);
    // the pair query itself only ever scans the cache
    assert(p.contains("InMemoryTableScan"),
      "pair rollup must read the persisted mask table")
    assert(p.contains("bit_or"),
      "per-shingle source sets must be long bitmasks (codegen agg)")
    assert(!p.contains("collect_set"),
      "no object-hash collection aggregate on the position path")
  }

  test("q92 training order: heads on TopKPerKey heaps, not a global sort") {
    val df = SparkEntry.queries("q92_train_order")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), "shard heads must use the bounded heaps")
    assert(!p.contains("Window"), "no row_number window over the corpus")
  }

  test("q103 segment dedup: one corpus scan, bounded exchange count") {
    val df = SparkEntry.queries("q103_segment_dedup")(spark, sf)
    val scans = df.queryExecution.optimizedPlan.collectLeaves().length
    assert(scans === 1, s"expected a single documents scan, got $scans")
    val p = plan("q103_segment_dedup")
    // dedup window + per-doc groupBy + per-source groupBy + final sort:
    // four exchanges, each inherent; anything more is a regression
    val exchanges = "[+:]- Exchange ".r.findAllIn(p).length
    assert(exchanges <= 4, s"expected <=4 exchanges, got $exchanges\n$p")
    // the source rollup must partial-aggregate below its shuffle
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "no map-side partial aggregation")
  }

  test("q104 HLL: register buffers keyed by lang only, partial below shuffle") {
    val p = plan("q104_hll_distinct")
    assert(p.contains("partial_hll_registers"),
      "sketch must partial-aggregate map-side")
    // the 512-byte register state may never key on anything finer
    // than the group: every aggregate evaluating hll_registers must
    // have exactly [lang] as its keys
    val hllAggs = p.split("\\(\\d+\\) ObjectHashAggregate").drop(1)
      .filter(_.contains("hll_registers"))
    assert(hllAggs.nonEmpty)
    hllAggs.foreach { sect =>
      val keys = sect.linesIterator.find(_.startsWith("Keys")).getOrElse("")
      assert(keys.contains("lang") && !keys.contains("h#"),
        s"register buffers keyed finer than lang: $keys")
    }
  }

  test("q141 sketch overlap: ONE register pass reused by both join sides") {
    val df = SparkEntry.queries("q141_sketch_overlap")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the persisted |sources|-row register frame feeds the a-side and
    // b-side of the pair join — the corpus-scale sketch aggregation
    // must appear as cache reads, never re-run per side
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"both pair-join sides must read the cached register frame:\n${p.take(1200)}")
    // the src_a < src_b pairing is the deliberate bounded cross
    assert(p.contains("BroadcastNestedLoopJoin"),
      "pair expansion must be the bounded broadcast cross")
    assert(!p.contains("Window"), "no window anywhere in the sketch path")
  }

  test("q143 hist drift: one histogram pass, ref row as bounded broadcast") {
    val df = SparkEntry.queries("q143_hist_drift")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"main and reference branches must share the cached sketch frame:\n${p.take(1200)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row reference must join as a bounded broadcast cross")
    assert(!p.contains("Window"),
      "TV distance is array algebra — no per-bucket window")
  }

  test("q107 hard negatives: bounded heaps in one aggregate, no Window") {
    val df = SparkEntry.queries("q107_hard_negatives")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("top_k_rows"), "negatives must use the bounded heap agg")
    assert(!p.contains("Window"), "no row_number window over scored pairs")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), "query set must broadcast")
  }

  test("q110 CMS: counter buffers keyed by source only, partial below shuffle") {
    val p = plan("q110_cms_heavy_hitters")
    assert(p.contains("partial_cms_counters"),
      "sketch must partial-aggregate map-side")
    // the 8 KiB counter state may never key on anything finer than
    // the group: every aggregate evaluating cms_counters must have
    // exactly [source] as its keys
    val cmsAggs = p.split("\\(\\d+\\) ObjectHashAggregate").drop(1)
      .filter(_.contains("cms_counters"))
    assert(cmsAggs.nonEmpty)
    cmsAggs.foreach { sect =>
      val keys = sect.linesIterator.find(_.startsWith("Keys")).getOrElse("")
      assert(keys.contains("source") && !keys.contains("h#") &&
        !keys.contains("token"),
        s"counter buffers keyed finer than source: $keys")
    }
    // the probe set broadcasts; the probe join never shuffles the
    // sketch table by value
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), "probe set must broadcast")
  }

  test("q112 Bloom: bit buffers keyed by source only, probes broadcast") {
    val p = plan("q112_bloom_prefilter")
    assert(p.contains("partial_bloom_bits"),
      "sketch must partial-aggregate map-side")
    val blAggs = p.split("\\(\\d+\\) ObjectHashAggregate").drop(1)
      .filter(_.contains("bloom_bits"))
    assert(blAggs.nonEmpty)
    blAggs.foreach { sect =>
      val keys = sect.linesIterator.find(_.startsWith("Keys")).getOrElse("")
      assert(keys.contains("source") && !keys.contains("h#"),
        s"bit buffers keyed finer than source: $keys")
    }
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), "probe set must broadcast")
  }

  test("q111 BM25: term table pruned by broadcast before tf exchange, heap rerank") {
    val df = SparkEntry.queries("q111_bm25_topk")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // query-token pruning must be a broadcast join (corpus is never
    // shuffled by token for the probe), and the rerank rides the
    // bounded heap operator, not a window
    assert(p.contains("BroadcastHashJoin"), "query tokens must broadcast")
    assert(p.contains("top_k_rows") || p.contains("TopKPerKey"),
      "rerank must use bounded heaps")
    assert(!p.contains("Window"), "no row_number window over scored docs")
  }

  test("q116 BM25 index read: posting scan prunes _tb partitions, no corpus join") {
    val df = SparkEntry.queries("q116_bm25_from_index")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the probed token buckets must reach the posting scan as
    // PARTITION filters (the posting-list seek), not a post-scan
    // filter over all buckets
    val scan = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(scan.contains("_tb"),
      s"posting scan must prune on _tb:\n$scan")
    // postings are self-contained (tf, df, dl denormalized): scoring
    // must not join any corpus-scale frame — broadcasts only
    assert(!p.contains("SortMergeJoin"), "no corpus-scale join at read")
    assert(p.contains("BroadcastHashJoin"), "query tokens must broadcast")
    assert(!p.contains("Window"), "no row_number window over scored docs")
  }

  test("q121 ANN index read: list scan prunes _c partitions, probes broadcast") {
    val df = SparkEntry.queries("q121_ann_from_index")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the probed centroid ids must reach the list scan as PARTITION
    // filters (the inverted-list seek), not a post-scan filter
    val scan = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(scan.contains("_c"), s"list scan must prune on _c:\n$scan")
    // lists are self-contained (vectors colocated with assignments):
    // search must not join any corpus-scale frame — broadcasts only
    assert(!p.contains("SortMergeJoin"), "no corpus-scale join at read")
    assert(p.contains("BroadcastHashJoin"), "probes must broadcast")
    assert(!p.contains("Window"), "rerank must be bounded heaps")
  }

  test("q129 hybrid-from-index: BOTH artifact scans partition-prune") {
    // The fusion runs on the driver (r21: one tagged-union collect over
    // two ≤ queries×5 ranked lists), so the FUSED frame plans as a
    // LocalRelation — the scan-side properties live on the two
    // pre-fusion inputs, factored out as hybridIndexInputs for exactly
    // this pin. The text side seeks its posting buckets, the vector
    // side its probed inverted lists — neither artifact scans in full.
    val (text, cand) =
      graft.similarity.SimilarityQueries.hybridIndexInputs(spark, sf)
    def scans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scans(text).contains("_tb"),
      s"posting scan must prune on _tb:\n${scans(text)}")
    assert(scans(cand).contains("_c"),
      s"list scan must prune on _c:\n${scans(cand)}")
    // and the served frame itself is bounded driver rows — no
    // distributed work after the inputs (the r21 fusion shape)
    val served = SparkEntry.queries("q129_hybrid_from_index")(spark, sf)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      s"fused serve must be a driver-local relation:\n$p")
  }

  test("q124 IVF-PQ: coded-list scan prunes _c partitions, probes broadcast") {
    val df = SparkEntry.queries("q124_ivfpq_search")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scan = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(scan.contains("_c"), s"coded-list scan must prune on _c:\n$scan")
    assert(!p.contains("SortMergeJoin"), "no corpus-scale join at read")
    assert(p.contains("BroadcastHashJoin"), "probes must broadcast")
    assert(!p.contains("Window"), "rerank must be bounded heaps")
  }

  test("q168 pruned probe: band-store scan prunes _bb partitions, probes broadcast") {
    val df = SparkEntry.queries("q168_incremental_pruned")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scan = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(scan.contains("_bb"),
      s"band-store scan must prune on the bucket partition:\n$scan")
    assert(p.contains("BroadcastHashJoin"), "batch bands must broadcast")
    assert(!p.contains("SortMergeJoin"), "no corpus-scale shuffle join")
  }

  test("q119 probe runs the SAME partitioned store shape as q168 (r13 convergence)") {
    val df = SparkEntry.queries("q119_incremental_neardup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val scan = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(scan.contains("_bb"),
      s"q119 must read the _bb-partitioned band store:\n$scan")
    assert(p.contains("BroadcastHashJoin"), "batch bands must broadcast")
    assert(!p.contains("SortMergeJoin"), "no corpus-scale shuffle join")
  }

  test("q175 cascaded rollup: no Expand, levels fold via ReusedExchange (r13)") {
    val df = SparkEntry.queries("q175_cascaded_rollup")(spark, sf)
    df.collect() // finalize AQE so exchange reuse is visible
    val p = df.queryExecution.executedPlan.toString
    // the built-in rollup() lowering this replaces puts an Expand
    // (L+1 copies of every fact row) in front of the big exchange
    assert(!p.contains("Expand"), s"cascade must not Expand:\n${p.take(1200)}")
    // each coarser level folds the PREVIOUS level's exchange — at
    // runtime the fact table is scanned and shuffled exactly once
    assert("ReusedExchange".r.findAllIn(p).length >= 3,
      s"levels must reuse the finer level's exchange:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // contrast pin: the built-in lowering DOES Expand (if this ever
    // stops holding, the cascade's reason-to-exist needs re-checking)
    val builtIn = graft.analytics.Tables.lineitem(spark, sf)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(org.apache.spark.sql.functions.sum(col("l_quantity")))
    assert(builtIn.queryExecution.executedPlan.toString.contains("Expand"),
      "built-in rollup no longer Expands — revisit CascadedRollup")
  }

  test("q177 packing: one shard-partitioned window, shard-local sort (r13)") {
    val df = SparkEntry.queries("q177_sequence_packing")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // exactly ONE window — the per-shard cumulative token offset; the
    // shard exchange bounds every sort to one shard (the TrainOrder
    // spill discipline: shard count scales with the corpus)
    assert("(?<!Reused)Window".r.findAllIn(p).length >= 1 &&
      p.contains("hashpartitioning(shard"),
      s"expected the shard-partitioned cumsum window:\n${p.take(1500)}")
    // the window's sort is the shard-prefixed local one — a global
    // (range-partitioned) sort may only appear for the 8-row output
    // ordering, never keyed on the md5 loader key
    assert(!p.contains("rangepartitioning(k"),
      s"loader-key sort must stay shard-local:\n${p.take(1500)}")
    assert(!p.contains("Expand"), "no Expand in the packing rollup")
  }

  test("q181 scd2: all windows ride ONE key-hash exchange, no join (r14)") {
    val df = SparkEntry.queries("q181_scd2_history")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // compression lag/row_number + interval lead share the (custkey,
    // seq) partitioning: exactly one hash exchange on the key feeds
    // every window (the final orderBy's range exchange is output shape)
    assert("hashpartitioning\\(custkey".r.findAllIn(p).length >= 1,
      s"expected the key-hash window exchange:\n${p.take(1500)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      "the two window stages must not re-exchange:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join"), "scd2 is window arithmetic, never a join")
  }

  test("q182 cascaded cube: no Expand, lattice folds via ReusedExchange (r14)") {
    val df = SparkEntry.queries("q182_cascaded_cube")(spark, sf)
    df.collect() // finalize AQE so exchange reuse is visible
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Expand"), s"cube cascade must not Expand:\n${p.take(1200)}")
    // 2^3 groupings fold from one finest pass: the fact table is
    // scanned/shuffled once and parents' exchanges are reused across
    // their children
    assert("ReusedExchange".r.findAllIn(p).length >= 3,
      s"lattice must reuse parent exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // contrast pin: built-in cube() Expands 2^L copies pre-exchange
    val builtIn = graft.analytics.Tables.lineitem(spark, sf)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(org.apache.spark.sql.functions.sum(col("l_quantity")))
    assert(builtIn.queryExecution.executedPlan.toString.contains("Expand"),
      "built-in cube no longer Expands — revisit CascadedRollup.cube")
  }

  test("q186 scd2 as-of probe: broadcast hash join, never a range cross-product (r15)") {
    val df = SparkEntry.queries("q186_scd2_asof_probe")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the change-compressed dimension broadcasts; the interval bounds
    // ride as the hash join's residual condition — the fact side is
    // never shuffled for the probe and never nested-loop-expanded
    assert(p.contains("BroadcastHashJoin"),
      s"probe must hash-join on the key:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "interval probe degraded to an unbounded range cross-product")
  }

  test("q195 bucketed as-of probe: shuffled equi-join past the broadcast ceiling (r16)") {
    // the past-the-ceiling claim: with broadcast unavailable (the 100 TB
    // dimension), the probe must plan as a SHUFFLED equi-join on
    // (key, bucket) — never a nested loop over the theta condition. The
    // only BroadcastNestedLoopJoin allowed is the documented 1-row
    // open-interval cap frame (an explicit broadcast() hint, immune to
    // the threshold).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q195_scd2_asof_bucketed")(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        "probe degraded to a cartesian range join")
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
        s"only the 1-row cap frame may nested-loop:\n${p.take(1500)}")
      val equiJoin = "(?m)^.*(SortMergeJoin|ShuffledHashJoin).*_bucket.*$".r
      assert(equiJoin.findFirstIn(p).isDefined,
        s"probe must be a shuffled equi-join on (key, bucket):\n" +
          p.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q198 decay attribution: bucketed pair join, never a nested loop (r16)") {
    val df = SparkEntry.queries("q198_attribution_decay")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // per-pair ages make pair enumeration inherent to the model; the
    // plan must produce pairs through the bucketed (user, bucket)
    // equi-join, never the naive theta join's nested-loop expansion
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"decay pair join degraded to a range cross-product:\n${p.take(1500)}")
  }

  test("q206 decay fold: the fold's pair join bucketed, never a " +
      "nested loop (r17)") {
    val df = SparkEntry.queries("q206_decay_fold")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the fold twin must keep q198's pair discipline: pairs through
    // the bucketed (user, bucket) equi-join over (stored horizon ∪
    // batch), never a theta-join nested loop. The fixture's earlier
    // folds are lineage-cut (Checkpoints.cut), so this plan shows the
    // FINAL fold — all folds run the same decayFoldImpl builder over a
    // non-empty horizon, so its shape is the operative one.
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"decay fold pair join degraded to a cross-product:\n${p.take(1500)}")
  }

  test("q199 markov attribution: one event-scale window, bounded tail (r16)") {
    val df = SparkEntry.queries("q199_attribution_markov")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window"), "chain build must ride the lag window")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the closed-form tail must stay a bounded 1-row pipeline")
  }

  test("q200 funnel: three stacked windows on ONE user exchange (r16)") {
    val df = SparkEntry.queries("q200_funnel")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the three stage floors chain through min-over-partition windows
    // that REUSE one hash exchange + sort; the only other exchange is
    // the bounded 1-row summary's SinglePartition
    assert("Window \\[min".r.findAllIn(p).size == 3,
      s"stage floors must ride min windows:\n${p.take(1200)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "stacked windows + per-user rollup must share one user exchange")
    assert(!p.contains("Join"), "funnel must not join stage tables")
  }

  test("q201 top paths: session-local sort, TakeOrdered top-10 (r16)") {
    val df = SparkEntry.queries("q201_top_paths")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must be a bounded TakeOrdered, not a global sort+limit")
    // user exchange (sessionize) + path exchange (count) — the session
    // event-struct sort is array_sort inside the row, never a shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"expected exactly user + path exchanges:\n${p.take(1200)}")
  }

  test("q187 scd2 fold: untouched rows broadcast-anti through, one window exchange (r15)") {
    val df = SparkEntry.queries("q187_scd2_fold")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // touched keys broadcast (anti = pass-through, semi = replay set,
    // guard vs current rows): the dimension side never hash-shuffles
    // for membership; the only hash exchanges feed the two builds'
    // windows (bootstrap build + touched-slice rebuild)
    assert(p.contains("BroadcastHashJoin"),
      s"key membership must be broadcast joins:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "fold membership joins degraded to shuffle joins:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // shuffles OUTSIDE broadcast subtrees (those inside are the
    // batch-scale touched-key distincts): exactly the two builds'
    // window exchanges + the output orderBy — the dimension never
    // hash-shuffles for membership
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeExec, ShuffleExchangeExec}
    def shuffles(n: SparkPlan): Int = n match {
      case _: BroadcastExchangeExec => 0
      case s: ShuffleExchangeExec => 1 + s.children.map(shuffles).sum
      case o => o.children.map(shuffles).sum
    }
    assert(shuffles(df.queryExecution.executedPlan) <= 3,
      "fold must window only the bootstrap + touched slice:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q188 attribution: prefix-difference probes, never a range join (r15)") {
    val df = SparkEntry.queries("q188_attribution")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the window reads are two as-of UNIONS + one (user, idx) equi-join;
    // the naive lowering this replaces is a per-user range join that
    // plans as a nested-loop/cartesian expansion
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"attribution degraded to a range join:\n${p.take(1500)}")
    assert(p.contains("Window"), "prefix counts must ride window frames")
  }

  test("q191 bm25 store read: posting scans partition-prune to the query buckets (r15)") {
    val df = SparkEntry.queries("q191_bm25_incremental")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the collected query-term set builds the _tb pruning literal at
    // plan time — the posting read must never list every bucket (the
    // q116/Bm25Index seek discipline, held by the mutable store too)
    assert("PartitionFilters: \\[_tb".r.findFirstIn(p).isDefined,
      s"posting scan lost its _tb partition pruning:\n" +
        p.linesIterator.filter(_.contains("PartitionFilters"))
          .mkString("\n").take(1200))
  }

  test("q171 z-key path: bare Morton arithmetic, no per-row guard (r15)") {
    val df = SparkEntry.queries("q171_zorder_locality")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the 2^47 range contract is enforced ONCE driver-side on the
    // collected bounds; the fact-row projection must stay the bare
    // zValue arithmetic — no conditional, no raise_error, and no
    // bounds-broadcast join (the guard-in-plan variant cost 2.7x)
    assert(!p.contains("raise_error"),
      "range guard leaked onto the per-row path")
    assert(!p.contains("CASE WHEN"),
      "z projection must be unconditional arithmetic")
    assert(!p.contains("Join"),
      "bounds are inlined literals — no broadcast crossJoin")
  }

  test("text kernels stay inside whole-stage codegen") {
    val df = SparkEntry.queries("q21_lang_quality")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the tokenizer feeds codegen'd projections — no fallback markers
    assert(!p.contains("!Project"), "projection fell back to interpreted mode")
    assert("ws_tokenize".r.findAllIn(p).length === 1,
      "text must be tokenized exactly once per row")
  }
}
