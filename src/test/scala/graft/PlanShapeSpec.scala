package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale properties SCALE.md claims
  * (pushdown, broadcast choice, shuffle counts, no windows over corpora)
  * asserted on the actual physical plans, so a refactor that silently
  * de-optimizes a query fails the suite rather than only the bench.
  *
  * Assertions run on the static physical plan (AQE disabled for the
  * planning call): it is deterministic at any data scale, whereas AQE's
  * final plan depends on runtime sizes. Shuffle-count upper bounds are
  * therefore conservative — AQE can only remove/convert exchanges at
  * runtime, not add them. `sparkPlan` would miss the exchanges entirely
  * (EnsureRequirements inserts them in the executedPlan preparation). */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, dir)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def shuffles(p: SparkPlan): Int =
    p.collect { case e: ShuffleExchangeExec => e }.size

  test("q6: all three predicates reach the parquet scan; 3-column read") {
    val f = formatted("q6_filter_agg")
    assert(f.contains("PushedFilters:"))
    assert(f.contains("LessThan(l_quantity,24.0)"))
    assert(f.contains("GreaterThanOrEqual(l_discount,0.05)"))
    assert(f.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>"))
    // partial agg + one single-partition gather — nothing else
    assert(shuffles(plan("q6_filter_agg")) == 1)
  }

  test("q5: dimension joins broadcast at this SF WITHOUT forced hints " +
    "(size stats decide); no cartesian product") {
    val p = plan("q5_revenue_by_nation")
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 4, s"expected >=4 broadcast joins, got ${bhj.size}")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("q10: stat-chosen broadcast enrichment + TakeOrderedAndProject " +
    "top-20") {
    val p = plan("q10_returned_customers")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.size >= 2)
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "top-N must be TakeOrderedAndProject, not a global sort")
  }

  test("tpch: no explicit broadcast hint on any SF-proportional side — " +
    "customer/supplier/part/lineitem-derived plans carry no forced hint " +
    "(a hint bypasses AQE's size check and OOMs at 100 TB instead of " +
    "degrading to a shuffle join)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    for (name <- graft.queries.RelationalQueries.queries.keys) {
      val analyzed = SparkEntry.queries(name)(spark, dir)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.analyzed
      // hinted sides may only expose schema-bounded columns: nation (n_),
      // region (r_) or renamed scalar/segment aggregates — never raw
      // customer/supplier/part/lineitem attributes
      val offenders = analyzed.collect { case h: ResolvedHint =>
        h.child.output.map(_.name).filter(n =>
          n.startsWith("c_") || n.startsWith("s_") ||
          n.startsWith("p_") || n.startsWith("l_") || n.startsWith("o_"))
      }.flatten
      assert(offenders.isEmpty,
        s"$name force-broadcasts an SF-proportional side: $offenders")
    }
  }

  test("q3: with no forced hints, InjectRuntimeFilter prunes the fact " +
    "side through the selective dim filter at scale settings") {
    // At 100 TB the dim side exceeds the broadcast limit and these joins
    // shuffle; Spark's runtime bloom filter then prunes fact rows at the
    // scan. A forced broadcast() hint suppresses the rewrite entirely —
    // this pins that the un-hinted plan stays runtime-filterable. The
    // application-side threshold (10 GB default) is lowered to simulate
    // at-scale sizes on test data.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = keys.map { case (k, _) =>
      k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val opt = SparkEntry.queries("q3_top_orders")(spark, dir)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan
      assert(opt.toString.contains("might_contain"),
        "expected a bloom-filter runtime filter (might_contain) in the " +
          "optimized plan once no broadcast hint blocks injection")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q19: the implied part-side disjunction is pre-filtered and " +
    "pushed to the part scan; part broadcasts") {
    val f = formatted("q19_bracket_revenue")
    // the brand/size disjunction reaches the part parquet scan as a
    // pushed filter (Or(...Brand#...)); without the explicit prefilter
    // the OR mixing lineitem columns blocks any part-side pruning
    assert(f.contains("PushedFilters: [Or("), "part-side OR not pushed")
    assert(f.contains("Brand#1"), "brand literal missing from scan")
    val p = plan("q19_bracket_revenue")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("partitioned parquet read: year/month/day predicates become " +
    "partition filters (pruned at planning, not scanned)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    // per-run token so an overlapping bench/test pass can't race on the
    // same directory; removed after the assertion
    val path = s"/tmp/graft_sink_plan_prune_${java.util.UUID.randomUUID}"
    try {
      graft.io.Sinks.writePartitioned(graft.io.Sinks.clusterByDay(
        graft.queries.PipelineQueries.bronze(spark, dir).drop("props")), path)
      val df = spark.read.parquet(path)
        .filter(col("year") === 2024 && col("month") === 1 &&
          col("day") === 15)
        .select(col("event_id"))
      val scans = df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      // all three predicates live in partitionFilters — the scan never
      // opens files outside (2024, 1, 15)
      val pf = scans.head.partitionFilters.map(_.toString).mkString(" ")
      assert(pf.contains("year") && pf.contains("month") &&
        pf.contains("day"), s"partition filters missing: $pf")
      // nothing left over as a per-row data filter
      assert(scans.head.dataFilters.isEmpty,
        s"expected pure partition pruning, got ${scans.head.dataFilters}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("a1 gold roll-up: one group-by shuffle + presentation sort only") {
    // shuffle 1 = the hash aggregate; shuffle 2 = the deterministic
    // output ordering the harness adds (range partitioning, export-only)
    assert(shuffles(plan("a1_gold_hourly")) == 2)
  }

  test("x10 centroid assignment: no window over the corpus (max_by agg)") {
    val p = plan("x10_centroid_assign")
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "argmax must be a partial-aggregating max_by, not row_number")
    assert(formatted("x10_centroid_assign").contains("max_by"))
  }

  test("x23 one-pass funnel: ONE events scan, exactly two exchanges " +
    "(user-keyed aggregate + global roll-up)") {
    val p = plan("x23_funnel")
    assert(shuffles(p) === 2,
      "the unbounded funnel must not chain per-stage scans/joins")
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size
    assert(scans === 1,
      s"one-pass means events is read exactly once, found $scans scans")
  }

  test("w5 latest top-n: TakeOrderedAndProject, zero shuffles") {
    val p = plan("w5_latest_topn")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty)
    assert(shuffles(p) == 0)
  }

  test("o1 export sort: the single global sort uses range partitioning") {
    val p = plan("o1_export_sorted")
    val ex = p.collect { case e: ShuffleExchangeExec => e }
    assert(ex.size == 1)
    assert(ex.head.outputPartitioning.toString.contains("range"),
      s"expected RangePartitioning, got ${ex.head.outputPartitioning}")
  }

  test("sim1 brute-force knn: corpus side never shuffles before scoring") {
    val p = plan("sim1_knn_bruteforce")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      "query set must broadcast — a cartesian product shuffles the corpus")
    // two-phase top-k: first window partitions by (query_id, salt)
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.exists(_.partitionSpec.size == 2),
      "phase-1 ranking must partition by (query_id, salt) for parallelism")
  }

  test("t7 corpus clean: gates push past the dedup semi-join; no " +
      "cartesian; shuffles stay bounded") {
    val p = plan("t7_corpus_clean")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    // fingerprint keep-set aggregate (once per union branch of the
    // planted-duplicates corpus) + the final presentation sort; the
    // lang/quality/sample gates must all be scan-level filters, adding
    // zero shuffles
    assert(shuffles(p) <= 3, s"expected <=3 shuffles, got ${shuffles(p)}")
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "dedup keep-set must be an aggregate, not a row_number window")
  }

  test("b1 bucketed join: zero Exchange on either side of the SMJ") {
    val p = plan("b1_bucketed_join")
    val smj = p.collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, "co-located join must plan as sort-merge")
    assert(smj.head.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "bucketed layout must satisfy the join's distribution — an " +
        "Exchange below the SMJ means the bucketing was not picked up")
    // whole query: segment aggregate + presentation sort only
    assert(shuffles(p) <= 2, s"expected <=2 shuffles, got ${shuffles(p)}")
  }

  test("x15 cdc upsert: latest-state collapse is max_by, not a window") {
    val p = plan("x15_cdc_upsert")
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "snapshot/changelog collapse must partial-aggregate (max_by), " +
        "not row_number over the changelog")
    assert(formatted("x15_cdc_upsert").contains("max_by"))
  }

  test("d7 decontamination: no cartesian; corpus text never enters a " +
      "join — only (gram, id) posting rows shuffle") {
    val p = plan("d7_decontaminate")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    // gram semi-join + contaminated-id distinct + anti-join back: the
    // shuffled rows are posting pairs and id lists, never documents
    assert(shuffles(p) <= 5, s"expected <=5 shuffles, got ${shuffles(p)}")
    assert(p.collect { case w: WindowExec => w }.isEmpty)
  }

  test("x18 global ids: corpus window is partition-parallel; offsets " +
      "broadcast back") {
    val p = plan("x18_global_ids")
    val wins = p.collect { case w: WindowExec => w }
    // the data-sized rank window partitions by spark_partition_id; the
    // only unpartitioned window runs over the partition-count-sized
    // offsets table (metadata, not data)
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "per-partition rank window missing")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "offsets must broadcast-join back to the ranked corpus")
  }

  test("ml19/ml25: entity-grain ranks are two-phase — every " +
      "unpartitioned window sits above an aggregate (the partition-" +
      "count offsets table), never the unit frame") {
    Seq("ml19_permutation_importance", "ml25_conformal_intervals",
      "ml25c_qhat").foreach { q =>
      val p = plan(q)
      val wins = p.collect { case w: WindowExec => w }
      assert(wins.exists(_.partitionSpec.nonEmpty),
        s"$q: per-partition rank window missing")
      wins.filter(_.partitionSpec.isEmpty).foreach { w =>
        assert(w.child.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        }.nonEmpty,
          s"$q: unpartitioned window must run over the per-partition " +
            "counts aggregate, not the entity-grain input")
      }
    }
  }

  test("t10 token budget: every window is partitioned — no " +
      "single-task cumsum over a stratum") {
    val p = plan("t10_token_budget")
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "keyedCumsum must rank within (stratum, partition) slices and " +
        "roll offsets per stratum — an unpartitioned window funnels a " +
        "stratum through one task")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
  }

  test("ml feature matrix: windows share one shuffle; encoder skips gold") {
    val p = plan("ml_feature_matrix")
    // main side: gold agg + the single shared window spec + output sort;
    // encoding side: distinct-country agg (the rank window over ≤10 rows
    // is a single-partition exchange). More shuffles means either a
    // window spec stopped aligning or the encoder branch is re-running
    // the gold roll-up / window pipeline again.
    assert(shuffles(p) <= 5, s"expected <=5 shuffles, got ${shuffles(p)}")
    // exactly one fact-sized Window operator spec group: the encoder must
    // not drag lag/rolling windows into its branch
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.size <= 2, s"expected <=2 Window ops, got ${wins.size}")
  }

  test("er1 entity resolution: blocking equi-join (no cartesian), " +
    "windowless min_by best match") {
    val p = plan("er1_fuzzy_match")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      "candidate generation must go through the blocking key")
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "best-match must be min_by, not row_number")
    assert(formatted("er1_fuzzy_match").contains("jarowinkler"),
      "the codegen'd expression must appear in the plan")
  }

  test("t17 BM25: top-k is TakeOrderedAndProject; corpus tokens never " +
    "explode or shuffle (r14 single-pass form)") {
    val p = plan("t17_bm25_topk")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "top-k must not be a global sort")
    // r14: dlen and per-term tf are per-row array math; the only
    // Generate is the |queryTerms|-element literal unpivot, so exactly
    // one explode and only TWO exchanges total (the single-row stats
    // aggregate and the matched-rows score aggregate) — the old shape
    // exploded the full token stream four times and shuffled it twice
    assert(p.collect { case g: GenerateExec => g }.size <= 1,
      "corpus token stream must not explode")
    assert(shuffles(p) <= 2,
      s"expected <=2 shuffles (stats agg + score agg), got ${shuffles(p)}")
  }

  test("d16 substring excision: the cut is row-local — no cartesian " +
    "product, every window doc-partitioned, no token-grain range join") {
    val p = plan("d16_substring_excise")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    val unpart = p.collect { case w: WindowExec => w }
      .filter(_.partitionSpec.isEmpty)
    assert(unpart.isEmpty,
      "gaps-and-islands must partition by doc_id, never globally")
    // the spans fold to a doc-grain array and join back on doc_id
    // alone; a plan that joined token positions against span ranges
    // would carry a BETWEEN-style residual (two inequalities on the
    // same column pair). The only residual here is the canonical-
    // occurrence EXCLUSION pushed into the h-join — a NOT(...) guard,
    // never a range
    val ranged = p.collect { case j: SortMergeJoinExec => j }
      .flatMap(_.condition)
      .filter(c => c.sql.contains(">=") && c.sql.contains("<="))
    assert(ranged.isEmpty,
      s"no token-vs-span range join: ${ranged.map(_.sql)}")
  }

  test("t40 DSIR: selection is TakeOrderedAndProject over a " +
    "broadcast-scored pool — no global sort, no pool-grain window") {
    val p = plan("t40_dsir_select")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "top-k must not be a global sort")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "the bounded lambda table must broadcast onto the features")
    assert(p.collect { case w: WindowExec => w }.isEmpty)
  }

  test("x30 mode: partial-aggregating argmax, no window") {
    val p = plan("x30_mode_per_group")
    assert(p.collect { case w: WindowExec => w }.isEmpty)
    assert(formatted("x30_mode_per_group").contains("min_by"))
  }

  test("ml2 normal equations: one fact window (the lags), one " +
    "aggregate, no joins") {
    val p = plan("ml2_normal_equations")
    assert(p.collect { case w: WindowExec => w }.size === 1,
      "design matrix must reuse a single window spec")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      "sufficient statistics need no joins")
  }

  test("bf1: the bloom probe rides the scan side, before the only " +
    "(broadcast) join") {
    val f = formatted("bf1_bloom_prune")
    assert(f.contains("bloommightcontain") ||
      f.toLowerCase.contains("bloommightcontain"),
      "the codegen'd probe expression must appear in the plan")
    val p = plan("bf1_bloom_prune")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.size === 1,
      "exact-flag join must broadcast the urgent-orders side")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  /** The round-10 verdict's pin, generalized: a WindowExec is
    * scale-safe iff it runs over a REDUCED grain (an aggregate sits
    * below it in the same subtree) or it is a two-phase SLICE window
    * (partitionSpec includes the synthetic `__pid`, so parallelism is
    * the shuffle-partition count regardless of key cardinality). A
    * window over fact-grain input partitioned by a low-cardinality
    * key — or by nothing — fails both arms. keyedCumsum/withOrderedIds
    * localCheckpoint their ranged frame (boundary-consistency), which
    * truncates the visible plan at an RDD scan; the slice-window arm
    * is what certifies those. */
  private def windowsScaleSafe(p: SparkPlan): Unit = {
    import org.apache.spark.sql.execution.aggregate.{
      HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    ws.foreach { w =>
      val hasAgg = w.child.exists {
        case _: HashAggregateExec | _: ObjectHashAggregateExec |
            _: SortAggregateExec => true
        case _ => false
      }
      val isSlice = w.partitionSpec.exists(_.references.exists(
        _.name == "__pid"))
      assert(hasAgg || isSlice,
        s"window over unreduced input without a __pid slice: $w")
    }
  }

  test("x58 weighted median: no fact-grain window — the cumulative " +
    "runs on the (flag, price) histogram via __pid slice windows, " +
    "and the totals join broadcasts") {
    val p = plan("x58_weighted_median")
    windowsScaleSafe(p)
    // the per-flag totals (|flags| rows) must broadcast onto the
    // histogram, never sort-merge
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty)
  }

  test("w8/w9/x42/ds3/x81/x78: every fact- or entity-grain rank is " +
    "two-phase — no window whose parallelism is the key cardinality") {
    Seq("w8_percentile", "w9_rank_functions", "x42_mad_outliers",
      "ds3_top_decile", "x81_abc_class", "x78_gini")
      .foreach(n => windowsScaleSafe(plan(n)))
  }

  test("x53 equi-depth histogram: no global ntile window — the rank " +
    "is two-phase (__pid slices) and NTILE is boundary arithmetic") {
    val p = plan("x53_equi_depth_histogram")
    windowsScaleSafe(p)
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      "the 1-row count must broadcast, not cartesian")
  }

  test("w12 EWMA: all 11 lags come from ONE window pass") {
    val p = plan("w12_ewma")
    assert(p.collect { case w: WindowExec => w }.size === 1,
      "the lag taps must share a single window spec")
  }

  test("x44 skyline: the global window sees only the per-price " +
    "reduction, never the base table") {
    val p = plan("x44_skyline")
    val wins = p.collect { case w: WindowExec => w }
    assert(wins.size === 1)
    // the window's child must contain the per-price aggregate —
    // i.e. an aggregate strictly below the window in the same subtree
    val agg = wins.head.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a != wins.head => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate
          .ObjectHashAggregateExec => a
    }
    assert(agg.nonEmpty, "window input must be the reduced grain")
  }

  test("ml10 feature hashing: NO joins anywhere — the no-vocabulary-" +
    "dictionary claim, in the plan") {
    val p = plan("ml10_feature_hashing")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: BroadcastHashJoinExec => j }.isEmpty &&
      p.collect { case c: CartesianProductExec => c }.isEmpty,
      "hashing-trick featurization must not build or join an index")
  }

  test("er3 phonetic ER: blocking equi-join (no cartesian), " +
    "windowless min_by best match, codegen'd scorer") {
    val p = plan("er3_phonetic_match")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      "candidates must go through the skeleton blocking key")
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "best-match must be min_by, not row_number")
    assert(formatted("er3_phonetic_match").contains("jarowinkler"))
  }

  test("qs1 quantile sketch: value fetch is a broadcast join of the " +
    "sample (never a corpus sort-merge); rank windows share one " +
    "partitioning") {
    val p = plan("qs1_quantile_sketch")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "the sample side must broadcast")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(p.collect { case w: WindowExec => w }.size <= 2,
      "rn + ns must not multiply window passes")
  }

  test("x60 pair lift: marginals and the user total ride broadcasts; " +
    "no cartesian pair generation") {
    val p = plan("x60_pair_lift")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(p.collect { case j: BroadcastHashJoinExec => j }.size >= 2,
      "the two marginal joins must broadcast")
  }

  test("d10 incremental dedup: no shuffle ever carries document text — " +
    "only fingerprints and ids move") {
    val p = plan("d10_incremental_dedup")
    val textShuffles = p.collect {
      case e: ShuffleExchangeExec if e.output.exists(_.name == "text") => e
    }
    assert(textShuffles.isEmpty,
      "corpus/batch text must reduce to fingerprints before any exchange")
  }

  test("t39 capstone: after the dedup stage, no exchange carries " +
      "document text — mixture, packing and sharding move only " +
      "(id, source, fingerprint, n_tokens) metadata") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val p = plan("t39_capstone_pipeline")
    val textShuffles = p.collect {
      case e: ShuffleExchangeExec if e.output.exists(_.name == "text") => e
    }
    // the only text-bearing exchanges allowed are the near-dup
    // probe's verify legs — batch/candidate-bounded (doc_id, text)
    // hashed by doc_id for the shingle-verify joins (statically
    // sort-merge; AQE broadcasts the candidate-id sides at runtime).
    // The mixture filter is row-local and the packing shuffle is a
    // RANGE repartition on (source, fingerprint, id) — if text ever
    // leaked past the dedup stage it would ride a non-doc_id or
    // range partitioning and fail here.
    assert(textShuffles.size <= 4,
      s"text rode ${textShuffles.size} exchanges — the dedup probe " +
        "plans 4 verify legs; more means a post-dedup stage regressed")
    textShuffles.foreach { e =>
      val byDocId = e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.forall(_.references.forall(_.name == "doc_id"))
        case _ => false
      }
      assert(byDocId,
        s"text-bearing exchange partitions by ${e.outputPartitioning}" +
          " — only the dedup probe (hash by doc_id) may move text")
    }
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("t26 target mixture: counts + binding stratum ride broadcasts; " +
    "the corpus side never sort-merges or cartesians") {
    val p = plan("t26_target_mixture")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "the |D|-row count table must broadcast onto the scan")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      "the 1-row binding stratum must broadcast, not cartesian")
  }

  test("ml12 psi: every window runs over an aggregated histogram or a " +
    "__pid slice of it, never event-sized single-task input") {
    windowsScaleSafe(plan("ml12_psi"))
  }

  test("w14 rolling slope: all five sufficient statistics share ONE " +
    "window pass") {
    val p = plan("w14_rolling_slope")
    assert(p.collect { case w: WindowExec => w }.size == 1,
      "n/sx/sy/sxy/sxx must evaluate in a single WindowExec")
  }

  test("dq4 freshness: one partial-aggregatable pass — shuffles are the " +
    "aggregate exchange plus the ordered output only") {
    assert(shuffles(plan("dq4_freshness")) <= 2)
  }

  test("x68/x69: the corpus contributes exactly one user-grain " +
    "aggregate — shuffles are that exchange plus the 1-row gather") {
    assert(shuffles(plan("x68_ab_test")) <= 2)
    assert(shuffles(plan("x69_cuped")) <= 2)
  }

  test("x70 decomposition: every window sits above the hourly " +
    "aggregate, never raw events, and the seasonal join broadcasts") {
    import org.apache.spark.sql.execution.aggregate.{
      HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val p = plan("x70_stl_decompose")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    ws.foreach { w =>
      assert(w.child.exists {
        case _: HashAggregateExec | _: ObjectHashAggregateExec |
            _: SortAggregateExec => true
        case _ => false
      }, "windows must run on the span-bounded hour series")
    }
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "the 24-row seasonal table must broadcast back")
  }

  test("ml15: the nine sufficient statistics reduce in one aggregate " +
    "and broadcast onto the explain rows — no sort-merge join") {
    val p = plan("ml15_linear_shap")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "the 1-row stats frame must broadcast, never shuffle-join")
  }

  test("er5 blocking report: candidate counting joins only key-grain " +
    "aggregates — no pair-level sort-merge join anywhere") {
    import org.apache.spark.sql.execution.aggregate.{
      HashAggregateExec, ObjectHashAggregateExec}
    val p = plan("er5_blocking_quality")
    p.collect { case j: SortMergeJoinExec => j }.foreach { j =>
      val hasAgg = j.exists {
        case _: HashAggregateExec | _: ObjectHashAggregateExec => true
        case _ => false
      }
      assert(hasAgg,
        "any shuffle join must sit above (key -> count) aggregates, " +
          "never raw record pairs")
    }
  }

  test("x89 DiD: the dimension side broadcasts, the corpus reduces to " +
    "the 4-cell grain in bounded shuffles, no cartesian product") {
    val p = plan("x89_did_uplift")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "part must broadcast onto lineitem")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(shuffles(p) <= 3, s"cells + gather only: ${shuffles(p)}")
  }

  test("x90 waterfall: nation broadcasts; the one window runs on the " +
    "25-row nation grain above an aggregate, never raw orders") {
    import org.apache.spark.sql.execution.aggregate.{
      HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val p = plan("x90_contribution_bridge")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty)
    p.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.child.exists {
        case _: HashAggregateExec | _: ObjectHashAggregateExec |
            _: SortAggregateExec => true
        case _ => false
      }, "the share window must sit above the nation-grain aggregate")
    }
  }

  test("ml22 boosting: the per-round argmax is TakeOrdered top-1, " +
    "never a global sort; the fitted stump broadcasts back") {
    // round 1's plan is truncated behind its localCheckpoint, so the
    // visible plan carries round 2's argmax — same shape both rounds
    val p = plan("ml22_gbt_stumps")
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      "each round's best split must be a top-1, not a full sort")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty
      || p.collect {
        case b: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => b }.nonEmpty,
      "the 1-row stump must broadcast onto the corpus")
  }

  test("g20 feature propagation: both hops are shuffle joins on node " +
    "ids above bounded frames — no cartesian product, and every " +
    "aggregate is partial (no corpus-wide window)") {
    val p = plan("g20_feature_prop")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "feature propagation must be join+aggregate, never windows")
  }

  // ------------------------------------------ round-8 session shapes

  test("ml26 grouped OLS: the fact scan reads 3 columns, reduces to " +
    "FK-grain stats BEFORE the dimension join, and the 2-column dim " +
    "broadcasts — fact rows never transit the join") {
    val f = formatted("ml26_grouped_ols")
    assert(f.contains("ReadSchema: struct<l_partkey:bigint," +
      "l_quantity:double,l_extendedprice:double>"),
      "fact scan must prune to the three used columns")
    assert(f.contains("ReadSchema: struct<p_partkey:bigint," +
      "p_brand:string>"), "dim scan must prune to key+segment")
    val p = plan("ml26_grouped_ols")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "the part dimension must broadcast")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "no shuffle join anywhere — the join input is key-grain stats")
    assert(shuffles(p) <= 3,
      "FK-grain agg + segment agg + output sort only")
  }

  test("g24 neighbor sampling: the per-node bottom-k is the typed " +
    "TopK aggregation — zero windows over any degree distribution") {
    val p = plan("g24_neighbor_sampling")
    assert(p.collect { case w: WindowExec => w }.isEmpty,
      "hub-degree window sorts are exactly what g24 exists to avoid")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
  }

  test("dq12 key skew: everything derives from ONE fact pass — a " +
    "single lineitem scan in the whole plan, windows only over the " +
    "multiplicity-bounded histogram") {
    val p = plan("dq12_key_skew")
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size
    assert(scans == 1,
      s"the hot-key leg must reuse the histogram, not rescan: $scans")
  }

  test("sim13 centroid drift: pure aggregate pipeline — no joins of " +
    "any kind, no windows; batches reduce map-side") {
    val p = plan("sim13_centroid_drift")
    assert(p.collect { case w: WindowExec => w }.isEmpty)
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty &&
      p.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      "centroid drift is sums and one scalar tree, never a join")
  }

  test("sim4p/sim2p portable LSH/IVF: no CartesianProduct — the only " +
    "cross join is the broadcast metadata weight table; the plane " +
    "weights broadcast onto the exploded corpus") {
    Seq("sim4p_lsh_portable", "sim2p_ivf_portable").foreach { n =>
      val p = plan(n)
      assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
        s"$n has a CartesianProduct")
      assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$n: weight/probe joins must broadcast")
    }
    // sim2p's per-query rank window is partitioned (bounded queries)
    plan("sim2p_ivf_portable").collect { case w: WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty,
        "sim2p rank window must be partitioned by query"))
  }

  test("sim8p portable PQ: no CartesianProduct; codebooks and ADC " +
    "tables broadcast onto the code/sub rows; every rank window is " +
    "partitioned") {
    val p = plan("sim8p_pq_portable")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "centroid/ADC-table joins must broadcast")
    p.collect { case w: WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty,
        "PQ rank windows must be partitioned (per id/query)"))
  }

  test("g17h HyperBall closeness: the per-node delta window is " +
    "partitioned by node — hop-grain, never a global sort of state") {
    val p = plan("g17h_closeness_hll")
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    p.collect { case w: WindowExec => w }
      .foreach(w => assert(w.partitionSpec.nonEmpty,
        "per-node estimate window must be partitioned"))
  }

  test("p5 medallion parse: the R1 projection uses the compact " +
    "aqi_breakpoint kernel, sits inside a WholeStageCodegen span, and " +
    "that span's generated code compiles within the 64 KB method limit") {
    val p = plan("p5_silver_clean")
    // the projection carries the native expression, not a when-chain
    val proj = p.collect {
      case pr: org.apache.spark.sql.execution.ProjectExec
          if pr.projectList.exists(_.exists(
            _.isInstanceOf[graft.expr.AqiBreakpoint])) => pr
    }
    assert(proj.nonEmpty, "aqi_breakpoint must appear in a Project")
    // and that Project is inside a codegen stage
    val inCodegen = p.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.exists {
            case pr: org.apache.spark.sql.execution.ProjectExec =>
              pr.projectList.exists(_.exists(
                _.isInstanceOf[graft.expr.AqiBreakpoint]))
            case _ => false
          } => w
    }
    assert(inCodegen.nonEmpty,
      "the AQI parse projection must be inside WholeStageCodegen")
    // the round-12 defect: generated code silently fell back to
    // interpreted eval when janino hit 64 KB. Compile the stage NOW
    // and assert it fits (compile returns the max method size).
    inCodegen.foreach { w =>
      val (_, source) = w.doCodeGen()
      val (_, stats) = org.apache.spark.sql.catalyst.expressions
        .codegen.CodeGenerator.compile(source)
      assert(stats.maxMethodCodeSize < 65536,
        s"generated method size ${stats.maxMethodCodeSize} exceeds " +
          "the JIT-able cap")
    }
  }

  test("PageRank rate-side guard: hinted + under-threshold broadcasts; " +
    "an over-threshold row bound falls back to the shuffle join (the " +
    "g14 100x-scale OOM guard)") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = (1 to 200).map(i => (i.toLong, (i % 50).toLong))
        .toDF("src", "dst")
      val rates = (1 to 50).map(i => (i.toLong, 1000L))
        .toDF("src", "contrib")
      def joinPlan(hint: Boolean, rowBound: Long): SparkPlan =
        edges.join(
            graft.graph.PageRank.rateSide(rates, hint, rowBound), "src")
          .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.executedPlan
      // under threshold: the hint takes — broadcast join
      val small = joinPlan(hint = true, rowBound = 50L)
      assert(small.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        "an under-threshold hinted rate frame must broadcast")
      // over threshold: the SAME hint is refused. A raw broadcast()
      // hint would force BroadcastHashJoin even at a 1-byte budget —
      // the guard is what turns it into the shuffle join (the tiny
      // budget also stops the planner auto-broadcasting the fixture's
      // genuinely-small frame, isolating the guard's decision)
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        val big = joinPlan(hint = true, rowBound = 50L)
        assert(big.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
          "an over-threshold rate frame must not broadcast despite the hint")
        assert(big.collect { case j: SortMergeJoinExec => j }.nonEmpty,
          "the guard must fall back to the shuffle join")
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
