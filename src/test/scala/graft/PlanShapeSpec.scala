package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.LlmQueries
import graft.operators.RelationalQueries

/** Pins the plan shapes the query docstrings claim. Round 11 proved a
  * docstring can assert an optimization that structurally cannot fire
  * (q66's rank limit was a cross-joined column, not a literal, so
  * InferWindowGroupLimit never matched and every stratum sorted in one
  * task). These assertions make the claims self-verifying: a regression
  * in any pinned shape fails the suite, not just a 100 TB run. */
class PlanShapeSpec extends AnyFunSuite with SparkFixture {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def assertContains(name: String, df: DataFrame, token: String): Unit = {
    val p = plan(df)
    assert(p.contains(token), s"$name: expected '$token' in physical plan:\n$p")
  }

  test("literal-capped rankings plan as WindowGroupLimit (q13/q58/q60/q63/q64/q66/q66b/q79)") {
    Seq(
      "q58" -> LlmQueries.q58_stratified_sample(spark, sf0001),
      "q60" -> LlmQueries.q60_vocab_topk(spark, sf0001),
      "q63" -> LlmQueries.q63_tfidf_topk(spark, sf0001),
      "q64" -> LlmQueries.q64_embedding_outliers(spark, sf0001),
      "q66" -> LlmQueries.q66_mix_sample(spark, sf0001),
      "q66b" -> LlmQueries.q66b_mix_weighted(spark, sf0001),
      // q79's √-smoothed targets cut through the same foldable-literal
      // rank filter as q66b — a column-valued limit would full-sort the
      // dominant stratum in one task.
      "q79" -> LlmQueries.q79_mix_temperature(spark, sf0001),
      "q13" -> RelationalQueries.q13_window_rank(spark, sf0001),
      // q74's per-query top-k: rank <= literal k must group-limit, or a
      // 100 TB kNN graph sorts whole neighbor lists per vector. q74b
      // re-ranks IVF candidates through the same literal-capped window.
      "q74" -> LlmQueries.q74_knn_graph(spark, sf0001),
      "q74b" -> LlmQueries.q74b_knn_graph_ivf(spark, sf0001),
      // q78's ADC shortlist and exact re-rank are both literal-capped —
      // without the group limit the full scored corpus sorts per query.
      "q78" -> LlmQueries.q78_ann_pq_topk(spark, sf0001)
    ).foreach { case (n, df) => assertContains(n, df, "WindowGroupLimit") }
  }

  test("q76's vocab is a distributed top-k that broadcasts back — never a global rank") {
    // The docstring's two scale claims, pinned: TakeOrderedAndProject
    // for the vocab (a Window here would drag the distinct-token set
    // through one task) and a broadcast of the fixed-k vocab into the
    // coverage join.
    val df = LlmQueries.q76_oov_rate(spark, sf0001)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"q76: vocab top-k must plan as TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"q76: the fixed-k vocab must broadcast into the coverage join:\n$p")
    assert(!p.contains("CartesianProduct"), s"q76: cartesian product:\n$p")
  }

  test("q16's top-k plans as TakeOrderedAndProject, not a global sort") {
    assertContains("q16",
      RelationalQueries.q16_topk(spark, sf0001), "TakeOrderedAndProject")
  }

  test("grouping-set aggregates plan ONE Expand — a single input pass (q10/q11/q12)") {
    Seq(
      "q10" -> RelationalQueries.q10_rollup(spark, sf0001),
      "q11" -> RelationalQueries.q11_cube(spark, sf0001),
      "q12" -> RelationalQueries.q12_grouping_sets(spark, sf0001)
    ).foreach { case (n, df) =>
      val p = plan(df)
      val hits = "Expand".r.findAllIn(p).size
      assert(hits === 1, s"$n: expected exactly one Expand node, found $hits in:\n$p")
    }
  }

  test("q57's probe side broadcasts — the corpus never shuffles for the join") {
    assertContains("q57",
      LlmQueries.q57_decontaminate(spark, sf0001), "BroadcastExchange")
  }

  test("q31's query side broadcasts — one corpus scan, no corpus shuffle") {
    assertContains("q31",
      LlmQueries.q31_ann_cosine_topk(spark, sf0001), "BroadcastExchange")
  }

  test("q38b's candidate stage joins on (table, code) — never a cross product") {
    // The all-pairs q38 legitimately plans a non-equi join; the LSH
    // scale path exists to avoid exactly that, so its plan must contain
    // no cross/nested-loop join anywhere (candidates AND verify legs).
    val p = plan(LlmQueries.q38b_dedup_embedding_lsh(spark, sf0001))
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach { bad =>
      assert(!p.contains(bad), s"q38b: found $bad in physical plan:\n$p")
    }
  }

  test("q01's predicates push down to the parquet scan") {
    val p = plan(RelationalQueries.q01_scan_filter(spark, sf0001))
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThan(l_discount"),
      s"q01: expected the l_discount predicate pushed into the scan:\n$p")
  }

  test("dedup candidate stages are equality joins — no cross product anywhere (q28/q29/q59/q67/q69/q73/q75)") {
    // Each of these exists to AVOID all-pairs; a planner regression to a
    // nested-loop/cartesian join would still return correct rows at
    // fixture scale while being O(n²) at 100 TB — exactly the class of
    // defect hash gates can't see.
    Seq(
      "q28" -> LlmQueries.q28_dedup_jaccard(spark, sf0001),
      "q29" -> LlmQueries.q29_dedup_minhash_lsh(spark, sf0001),
      "q59" -> LlmQueries.q59_cross_snapshot(spark, sf0001),
      "q67" -> LlmQueries.q67_pack_shards(spark, sf0001),
      "q69" -> LlmQueries.q69_dedup_containment(spark, sf0001),
      // q75's whole reason to exist: the pairwise stage keys on the
      // cluster id (Σcᵢ², not n²) — a cartesian regression would be
      // SemDeDup in name only. q73's anti-join keys on the segment.
      "q73" -> LlmQueries.q73_strip_boilerplate(spark, sf0001),
      "q75" -> LlmQueries.q75_semdedup(spark, sf0001),
      // q74b's candidates come from an equality join on the coarse
      // quantizer's bucket id — the n² self-join it exists to avoid.
      "q74b" -> LlmQueries.q74b_knn_graph_ivf(spark, sf0001),
      // q84's dup-mark is a semi-join on the gram key; the interval
      // merge and rebuild are row-local folds — a Window (islands) or
      // per-position join regression would shuffle k× the corpus.
      "q84" -> LlmQueries.q84_dedup_substrings(spark, sf0001)
    ).foreach { case (n, df) =>
      val p = plan(df)
      Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach { bad =>
        assert(!p.contains(bad), s"$n: found $bad in physical plan:\n$p")
      }
    }
  }

  test("q84's span merge is row-local — no Window in the plan") {
    // The islands formulation (row_number over covered positions) lives
    // only in the oracle; the operator folds each doc's own start list.
    val p = plan(LlmQueries.q84_dedup_substrings(spark, sf0001))
    assert(!p.contains("Window"), s"q84: islands-window regression:\n$p")
  }

  test("q83's richest-variant dedup is one aggregate — the window lives only in the oracle") {
    // The operator's whole scale claim: max_by combines map-side; a
    // Window regression would full-sort every content group.
    val p = plan(LlmQueries.q83_dedup_keep_richest(spark, sf0001))
    assert(!p.contains("Window"),
      s"q83: expected no window operator (that's the oracle's form):\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate") ||
      p.contains("ObjectHashAggregate"),
      s"q83: expected the max_by aggregate:\n$p")
  }

  test("q80/q82's reputation and scoring joins are equality joins — never a cross product") {
    // q80 joins docs back to the per-source reputation on the source
    // key; q82 additionally joins the token stream to the vocab-sized
    // weight table on the token key. Both are the operators' scale
    // claims (AQE-skew equality joins), so a nested-loop/cartesian
    // regression is the O(n·m) failure class the hash gate can't see.
    Seq(
      "q80" -> LlmQueries.q80_source_reputation(spark, sf0001),
      "q82" -> LlmQueries.q82_nb_quality(spark, sf0001)
    ).foreach { case (n, df) =>
      val p = plan(df)
      Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach { bad =>
        assert(!p.contains(bad), s"$n: found $bad in physical plan:\n$p")
      }
    }
  }

  test("q90's weight table broadcasts into the scoring join; selection is a distributed top-k") {
    // The SCALE.md claims, pinned: the learned bucket->weight table
    // (buckets rows) must BUILD a broadcast hash join — a shuffle on
    // the Zipf-skewed bucket key would be the q71 head-vocab problem
    // re-created — and the top-500 must TakeOrderedAndProject, never a
    // global sort. The only nested-loop is the 1-row totals cross
    // (q71's precedent).
    val p = plan(LlmQueries.q90_dsir_select(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"q90: the weight join must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q90: top-k must not global-sort:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q90: nothing may shuffle on a join key:\n$p")
    assert(!p.contains("CartesianProduct"), s"q90: cartesian product:\n$p")
  }

  test("q93's corpus histogram broadcasts into the per-source scoring — no key shuffle joins") {
    val p = plan(LlmQueries.q93_source_divergence(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"q93: the histogram/total joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q93: nothing may shuffle on a join key:\n$p")
  }

  test("q92's contamination mark is a broadcast SEMI-join; no corpus-side gram counting") {
    // The scalpel's scale posture: the probe gram set (benchmark-sized)
    // builds a broadcast LeftSemi against the candidate grams — the
    // candidate side never shuffles on the gram key (no SortMergeJoin
    // anywhere), and unlike q84 there is no COUNTING aggregate on a
    // gram key (the only gram-keyed aggregate is the probe-side
    // distinct, functions=[]).
    val p = plan(LlmQueries.q92_strip_contaminated(spark, sf0001))
    assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"),
      s"q92: the mark must be a broadcast semi-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q92: the candidate grams must never shuffle on the gram key:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("keys=[gram") && l.contains("count")),
      s"q92: no gram-keyed counting aggregate may exist:\n$p")
  }

  test("q57b's probe is a codegen'd bloom predicate — the plan has no join at all") {
    // The whole point of the bloom path: q57's broadcast join collapses
    // to a scalar might_contain filter. Any Join node (hash, sort-merge,
    // nested-loop) means the sketch quietly regressed to a join.
    val p = plan(LlmQueries.q57b_decontaminate_bloom(spark, sf0001))
    assert(p.contains("might_contain"),
      s"q57b: expected the bloom might_contain predicate in the plan:\n$p")
    assert(!p.contains("Join"), s"q57b: found a join in the bloom path:\n$p")
  }

  test("q62b's threshold pass is one aggregation, never a per-source window sort") {
    // The whole point of the approx path: thresholds come from a single
    // partial-aggregable pass (approx_percentile), broadcast back — a
    // Window here would mean the exact q62 shape snuck back in.
    val p = plan(LlmQueries.q62b_length_filter_approx(spark, sf0001))
    assert(!p.contains("Window"),
      s"q62b: expected no window operator in the approx path:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate") ||
      p.contains("ObjectHashAggregate"),
      s"q62b: expected an aggregation computing the thresholds:\n$p")
  }

  test("q70 chunking is shuffle-free — a pure row-local projection") {
    // The operator's whole scale claim: no Exchange anywhere before the
    // gated query's final presentation sort.
    val p = plan(graft.llm.TextAnalysis.chunkDocuments(
      graft.Tables(spark, sf0001, "documents"), "doc_id", "text"))
    assert(!p.contains("Exchange"),
      s"q70: expected a shuffle-free plan:\n$p")
  }

  test("q86's sketch statistics are ONE aggregate — no join, no window, one exchange") {
    // The operator's scale claim: all three sketches (prev/new/direct)
    // build in a single map-side-combined aggregation over the token
    // explode; a join or a second exchange would mean the conditional
    // sketch inputs regressed to a self-join of the token stream.
    val p = plan(LlmQueries.q86_hll_snapshot_stats(spark, sf0001))
    assert(!p.contains("Join"), s"q86: expected a join-free plan:\n$p")
    assert(p.contains("hllsketchagg") || p.contains("hll_sketch_agg") ||
      p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"q86: expected the sketch aggregate in the plan:\n$p")
  }

  test("q87's heavy-hitter probe is join-free — the sketch rides the expression") {
    // The driver-resolved sketch probes as a row-local projection
    // (graft_cms_count); any Join means the sketch row regressed to a
    // cross-join against the candidate set.
    val df = graft.llm.TextAnalysis.cmsHeavyHitters(
      graft.Tables(spark, sf0001, "documents"), "doc_id", "text", k = 20)
    val p = plan(df)
    // the physical HashAggregate folds the probe into its result
    // projection (rendered only as the alias), so the expression's
    // presence is pinned on the optimized logical plan
    val lp = df.queryExecution.optimizedPlan.toString
    assert(lp.contains("graft_cms_count"),
      s"q87: expected the codegen'd CMS probe in the optimized plan:\n$lp")
    assert(!p.contains("Join"), s"q87: expected a join-free probe plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q87: expected a top-k TakeOrderedAndProject over the candidates:\n$p")
  }

  test("q85 BPE encoding is shuffle-free — the merge chain is one row-local projection") {
    // The operator's scale claim: encoding with a trained merge table
    // never shuffles or joins — the corpus streams through a single map.
    val p = plan(graft.llm.TextAnalysis.bpeEncode(
      graft.Tables(spark, sf0001, "documents"), "doc_id", "text",
      LlmQueries.Q85Merges))
    assert(!p.contains("Exchange"), s"q85: expected a shuffle-free plan:\n$p")
    assert(!p.contains("Join"), s"q85: expected a join-free plan:\n$p")
  }

  test("q71's scoring join is an equality join; only the 1-row total broadcasts nested-loop") {
    // The tokens⋈vocab join must hash/merge on the token key — a
    // nested-loop regression would be O(tokens·vocab) at scale. The ONE
    // legitimate BroadcastNestedLoopJoin is the 1-row corpus total
    // (q63's crossJoin(broadcast(n)) pattern).
    val p = plan(graft.llm.TextAnalysis.unigramLogProb(
      graft.Tables(spark, sf0001, "documents"), "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), s"q71: cartesian product:\n$p")
    assert(p.sliding("BroadcastNestedLoopJoin".length).count(
        _ == "BroadcastNestedLoopJoin") <= 1,
      s"q71: more than the one 1-row-total nested-loop join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"),
      s"q71: expected an equality join on the token key:\n$p")
  }

  test("q71/q72/q82's head vocab joins BROADCAST — Zipf-head tokens never shuffle on the key") {
    // The de-skew claim: the scoring join splits head/tail, and the
    // head path (top-10⁴ tokens — the Zipf mass) must be a
    // BroadcastHashJoin (inner, on the key) plus a broadcast LeftAnti
    // carving out the tail — NO shuffle of head-token probe rows. A
    // regression to a single shuffle join would re-concentrate "the"'s
    // ~5% of the corpus into one partition at scale.
    Seq(
      "q71" -> graft.llm.TextAnalysis.unigramLogProb(
        graft.Tables(spark, sf0001, "documents"), "doc_id", "text"),
      "q72" -> graft.llm.TextAnalysis.bigramLogProb(
        graft.Tables(spark, sf0001, "documents"), "doc_id", "text"),
      "q82" -> LlmQueries.q82_nb_quality(spark, sf0001)
    ).foreach { case (n, df) =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"),
        s"$n: expected the head vocab to join broadcast:\n$p")
      assert(p.contains("LeftAnti"),
        s"$n: expected the broadcast anti-join carving out the tail:\n$p")
    }
  }

  test("q97 SPJ: co-partitioned join + aggregate run with ZERO hash exchanges; plain tables shuffle") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    // the gated query creates the opted-in tables as a side effect
    graft.operators.EngineQueries.q97_spj_join(spark, sf0001)
    def joinAgg(a: String, b: String) = spark.table(a).as("a")
      .join(spark.table(b).as("b"),
        $"a.o_orderpriority" === $"b.o_orderpriority" &&
          $"a.o_orderkey" === $"b.o_orderkey")
      .groupBy($"a.o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"a.o_totalprice").as("s"))
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val spj = joinAgg(s"$cat.tmp.q97_spj_a", s"$cat.tmp.q97_spj_b")
        .queryExecution.executedPlan.toString
      assert(!spj.contains("Exchange hashpartitioning"),
        s"SPJ plan must not shuffle the join or the aggregate:\n$spj")
      assert(spj.contains("SortMergeJoin"), s"expected a sort-merge join:\n$spj")
      // contrast: identical tables WITHOUT the property shuffle both
      // sides — proving the fast path is the opt-in, not the data shape
      val pa = s"$cat.tmp.spj_plain_a"
      val pb = s"$cat.tmp.spj_plain_b"
      spark.sql(s"DROP TABLE IF EXISTS $pa")
      spark.sql(s"DROP TABLE IF EXISTS $pb")
      spark.table(s"$cat.tmp.q97_spj_a")
        .writeTo(pa).partitionedBy($"o_orderpriority").create()
      spark.table(s"$cat.tmp.q97_spj_b")
        .writeTo(pb).partitionedBy($"o_orderpriority").create()
      val plain = joinAgg(pa, pb).queryExecution.executedPlan.toString
      assert(plain.contains("Exchange hashpartitioning"),
        s"plain tables must still shuffle (the contrast):\n$plain")
      // same answer either way (the b side omits 5-LOW entirely, so the
      // partition-value push handled a missing-partition alignment)
      val viaSpj = joinAgg(s"$cat.tmp.q97_spj_a", s"$cat.tmp.q97_spj_b")
        .orderBy($"a.o_orderpriority").collect().map(_.toString).toSeq
      val viaPlain = joinAgg(pa, pb)
        .orderBy($"a.o_orderpriority").collect().map(_.toString).toSeq
      assert(viaSpj === viaPlain)
      assert(viaSpj.size === 4, "5-LOW must be absent from the inner join")
      // opting an EXISTING table in via ALTER flips the plan with no
      // data rewrite — the migration path a running deployment takes
      spark.sql(s"ALTER TABLE $pa SET TBLPROPERTIES('graft.spj'='true')")
      spark.sql(s"ALTER TABLE $pb SET TBLPROPERTIES('graft.spj'='true')")
      val altered = joinAgg(pa, pb).queryExecution.executedPlan.toString
      assert(!altered.contains("Exchange hashpartitioning"),
        s"ALTER-opted tables must plan the storage-partitioned join:\n$altered")
      // a SINGLE table's partition-keyed aggregate also rides the
      // reported partitioning — no join needed for the fast path
      val aggOnly = spark.table(s"$cat.tmp.q97_spj_a")
        .groupBy($"o_orderpriority").agg(sum($"o_totalprice").as("s"))
        .queryExecution.executedPlan.toString
      assert(!aggOnly.contains("Exchange hashpartitioning"),
        s"partition-keyed aggregate over one SPJ table must not shuffle:\n$aggOnly")
      // and the shuffle-free shape survives AQE's runtime re-planning:
      // the FINAL adaptive plan (after execution) still has no hash
      // exchange — AQE must not have re-introduced one at a stage break
      val spjDf = joinAgg(s"$cat.tmp.q97_spj_a", s"$cat.tmp.q97_spj_b")
      spjDf.collect()
      val finalPlan = spjDf.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"),
        s"expected the executed adaptive plan:\n$finalPlan")
      assert(!finalPlan.contains("Exchange hashpartitioning"),
        s"AQE final plan must stay shuffle-free:\n$finalPlan")
      spark.sql(s"DROP TABLE IF EXISTS $pa")
      spark.sql(s"DROP TABLE IF EXISTS $pb")
    }
    // conf-gated: under DEFAULT confs an opted-in table plans like a
    // plain one (hash exchanges return, results unchanged) — the
    // one-task-per-partition-value trade is paid only when the session
    // actually runs storage-partitioned joins
    val defaultPlan = joinAgg(s"$cat.tmp.q97_spj_a", s"$cat.tmp.q97_spj_b")
      .queryExecution.executedPlan.toString
    assert(defaultPlan.contains("Exchange hashpartitioning") ||
      defaultPlan.contains("BroadcastHashJoin"),
      s"without the SPJ confs the table must plan conventionally:\n$defaultPlan")
  }

  test("q100 bucketed SPJ: high-cardinality-key join runs with ZERO hash exchanges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    // the gated query creates the opted-in bucketed tables as a side effect
    val gated = graft.operators.EngineQueries.q100_bucketed_spj_join(spark, sf0001)
    def joinAgg(a: String, b: String) = spark.table(a)
      .join(spark.table(b), $"o_orderkey" === $"b_orderkey")
      .groupBy($"o_orderpriority")
      // rounded: double-sum accumulation order differs across plans
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 0).as("s"))
    // "join-aligned": NO exchange on either join key anywhere in the
    // plan. (The post-join aggregate on o_orderpriority still shuffles
    // its few grouped rows — that key is not the bucket key, and at
    // 100 TB it is the join's fact-sized shuffle this path removes.)
    def assertJoinShuffleFree(p: String): Unit = {
      assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
        !p.contains("Exchange hashpartitioning(b_orderkey"),
        s"bucket-aligned join must not shuffle either side:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
    }
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val a = s"$cat.tmp.q100_bspj_a"
      val b = s"$cat.tmp.q100_bspj_b"
      assertJoinShuffleFree(joinAgg(a, b).queryExecution.executedPlan.toString)
      // same answer as a conventional shuffle join over plain tables
      val pa = s"$cat.tmp.bspj_plain_a"
      val pb = s"$cat.tmp.bspj_plain_b"
      spark.sql(s"DROP TABLE IF EXISTS $pa")
      spark.sql(s"DROP TABLE IF EXISTS $pb")
      spark.table(a).writeTo(pa).create()
      spark.table(b).writeTo(pb).create()
      val plain = joinAgg(pa, pb).queryExecution.executedPlan.toString
      assert(plain.contains("Exchange hashpartitioning(o_orderkey") ||
        plain.contains("Exchange hashpartitioning(b_orderkey"),
        s"plain tables must still shuffle the join (the contrast):\n$plain")
      val viaSpj = joinAgg(a, b).orderBy($"o_orderpriority")
        .collect().map(_.toString).toSeq
      val viaPlain = joinAgg(pa, pb).orderBy($"o_orderpriority")
        .collect().map(_.toString).toSeq
      assert(viaSpj === viaPlain)
      // the shuffle-free shape survives AQE's runtime re-planning
      val spjDf = joinAgg(a, b)
      spjDf.collect()
      val finalPlan = spjDf.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      assertJoinShuffleFree(finalPlan)
      // MISMATCHED bucket counts must fall back to a shuffle, never
      // mis-align: 4 ≠ 8 buckets
      val m = s"$cat.tmp.bspj_mismatch"
      spark.sql(s"DROP TABLE IF EXISTS $m")
      spark.table(b).writeTo(m).partitionedBy(bucket(4, $"b_orderkey"))
        .tableProperty("graft.spj", "true").create()
      val mismatch = joinAgg(a, m)
      val mp = mismatch.queryExecution.executedPlan.toString
      assert(mp.contains("Exchange hashpartitioning(o_orderkey") ||
        mp.contains("Exchange hashpartitioning(b_orderkey"),
        s"mismatched bucket counts must shuffle the join:\n$mp")
      assert(mismatch.orderBy($"o_orderpriority").collect().map(_.toString).toSeq
        === viaPlain)
      spark.sql(s"DROP TABLE IF EXISTS $pa")
      spark.sql(s"DROP TABLE IF EXISTS $pb")
      spark.sql(s"DROP TABLE IF EXISTS $m")
    }
    // a BUCKET-KEYED aggregate over one table also rides the reported
    // partitioning: grouping by the bucket column needs no exchange
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val aggOnly = spark.table(s"$cat.tmp.q100_bspj_a")
        .groupBy($"o_orderkey").agg(sum($"o_totalprice").as("s"))
        .queryExecution.executedPlan.toString
      assert(!aggOnly.contains("Exchange hashpartitioning"),
        s"bucket-keyed aggregate must not shuffle:\n$aggOnly")
    }
    // under DEFAULT confs the bucketed table plans conventionally
    val defaultPlan = joinAgg(s"$cat.tmp.q100_bspj_a", s"$cat.tmp.q100_bspj_b")
      .queryExecution.executedPlan.toString
    assert(defaultPlan.contains("Exchange hashpartitioning(o_orderkey") ||
      defaultPlan.contains("Exchange hashpartitioning(b_orderkey") ||
      defaultPlan.contains("BroadcastHashJoin"),
      s"without the SPJ confs the table must plan conventionally:\n$defaultPlan")
    assert(gated.count() > 0)
  }

  test("q103 composite layout: zero-exchange join on (partition, bucket) keys AND both prunings still fire") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    // the gated query creates the composite tables as a side effect
    val gated = graft.operators.EngineQueries.q103_composite_spj_join(spark, sf0001)
    assert(gated.count() > 0)
    val a = s"$cat.tmp.q103_comp_a"
    val b = s"$cat.tmp.q103_comp_b"
    def joinAgg(x: String, y: String) = spark.table(x)
      .join(spark.table(y),
        $"l_returnflag" === $"b_returnflag" && $"l_orderkey" === $"b_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum($"l_extendedprice"), 0).as("s"))
    graft.operators.EngineQueries.withSpjConfs(spark) {
      // the JOIN is exchange-free: neither fact-sized side shuffles.
      // The ONE permitted exchange is the post-join aggregate regrouping
      // its 3 result rows on the flag — not the bucket key, and not
      // fact-sized.
      val p = joinAgg(a, b).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(b_orderkey"),
        s"composite-aligned join must not shuffle the bucket key:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
        s"only the tiny post-join aggregate may shuffle:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      // same answer as a conventional shuffle join over plain copies
      val pa = s"$cat.tmp.q103_plain_a"
      val pb = s"$cat.tmp.q103_plain_b"
      Seq(pa, pb).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.table(a).writeTo(pa).create()
      spark.table(b).writeTo(pb).create()
      val viaSpj = joinAgg(a, b).orderBy($"l_returnflag")
        .collect().map(_.toString).toSeq
      val viaPlain = joinAgg(pa, pb).orderBy($"l_returnflag")
        .collect().map(_.toString).toSeq
      assert(viaSpj === viaPlain)
      Seq(pa, pb).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    def scanParts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.inputPartitions.size
      }.getOrElse(fail("no BatchScanExec in plan"))
    // 3 partition values × 8 buckets, one file each
    val all = scanParts(spark.table(a))
    assert(all === 24, s"expected 24 (3 partitions × 8 buckets) splits, got $all")
    // PARTITION pruning: a flag filter reads one directory's 8 files
    assert(scanParts(spark.table(a).filter($"l_returnflag" === "A")) === 8)
    // BOTH prunings: flag + key point predicate reads ONE file
    val key = spark.table(a).filter($"l_returnflag" === "A")
      .select($"l_orderkey").limit(1).collect().head.getLong(0)
    val point = spark.table(a)
      .filter($"l_returnflag" === "A" && $"l_orderkey" === key)
    assert(scanParts(point) === 1,
      s"flag+key point lookup must read 1 of $all files")
    assert(point.count() >= 1)
  }

  test("q106 sort-free merge join: cluster.by == bucket key removes BOTH the exchanges and the sorts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    // the gated query creates the clustered bucketed tables as a side effect
    val gated = graft.operators.EngineQueries.q106_sorted_bucket_join(spark, sf0001)
    assert(gated.count() > 0)
    val a = s"$cat.tmp.q106_sfmj_a"
    val b = s"$cat.tmp.q106_sfmj_b"
    // bare join (no orderBy/groupBy): any Sort in this plan is the
    // planner sorting SMJ inputs. "Sort [" matches SortExec only —
    // SortMergeJoin prints as "SortMergeJoin [".
    def joinPlan(x: String, y: String) = spark.table(x)
      .join(spark.table(y), $"o_orderkey" === $"b_orderkey")
      .select($"o_orderstatus", $"b_orderkey")
      .queryExecution.executedPlan.toString
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val p = joinPlan(a, b)
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"co-bucketed join must not shuffle:\n$p")
      assert(!p.contains("Sort ["),
        s"trusted cluster.by == bucket key must remove the SMJ sorts:\n$p")

      // SAFETY 1 — fragmented buckets: a second append leaves two files
      // per bucket; BatchScanExec's partitioningPreservesOrdering check
      // must discard the reported ordering (planned sort returns, rows
      // stay correct — never a wrong merge over concatenated files).
      val frag = s"$cat.tmp.q106_frag"
      spark.sql(s"DROP TABLE IF EXISTS $frag")
      val orders = Tables(spark, sf0001, "orders")
        .select($"o_orderkey".as("b_orderkey"))
      orders.filter($"b_orderkey" % 2 === 1)
        .writeTo(frag)
        .tableProperty(graft.catalog.GraftCatalog.ClusterByProp, "b_orderkey")
        .partitionedBy(bucket(8, $"b_orderkey")).create()
      orders.filter($"b_orderkey" % 2 === 0).writeTo(frag).append()
      val fp = joinPlan(a, frag)
      assert(!fp.contains("Exchange hashpartitioning"),
        s"fragmented buckets still align (SPJ):\n$fp")
      assert(fp.contains("Sort ["),
        s"two files per bucket must bring the planned sort back:\n$fp")
      val viaFrag = spark.table(a)
        .join(spark.table(frag), $"o_orderkey" === $"b_orderkey")
        .agg(count(lit(1)), sum($"b_orderkey")).collect().head
      val viaPlain = spark.table(a)
        .join(orders.hint("shuffle_hash"), $"o_orderkey" === $"b_orderkey")
        .agg(count(lit(1)), sum($"b_orderkey")).collect().head
      assert(viaFrag === viaPlain)
      spark.sql(s"DROP TABLE IF EXISTS $frag")

      // SAFETY 2 — ALTER-set cluster.by is NOT trusted: the existing
      // files were written without the sort, so the scan must keep the
      // planned sort until a full rewrite re-establishes the invariant.
      val c = s"$cat.tmp.q106_alter"
      spark.sql(s"DROP TABLE IF EXISTS $c")
      orders.filter($"b_orderkey" % 2 === 1)
        .writeTo(c).partitionedBy(bucket(8, $"b_orderkey")).create()
      spark.sql(s"ALTER TABLE $c SET TBLPROPERTIES (" +
        s"'${graft.catalog.GraftCatalog.ClusterByProp}' = 'b_orderkey')")
      val cp = joinPlan(a, c)
      assert(cp.contains("Sort ["),
        s"ALTER-set cluster.by must stay untrusted (files predate the sort):\n$cp")
      // ... and a TRUNCATE overwrite (all files freshly sort-written)
      // restores the trust marker: the sort disappears.
      orders.filter($"b_orderkey" % 2 === 1).writeTo(c).overwrite(lit(true))
      val cp2 = joinPlan(a, c)
      assert(!cp2.contains("Sort ["),
        s"a truncate overwrite re-establishes sortedness table-wide:\n$cp2")
      // ... and CHANGING the cluster columns drops the trust again
      spark.sql(s"ALTER TABLE $c SET TBLPROPERTIES (" +
        s"'${graft.catalog.GraftCatalog.ClusterByProp}' = '')")
      spark.sql(s"ALTER TABLE $c SET TBLPROPERTIES (" +
        s"'${graft.catalog.GraftCatalog.ClusterByProp}' = 'b_orderkey')")
      val cp3 = joinPlan(a, c)
      assert(cp3.contains("Sort ["),
        s"changing cluster columns must drop the sort trust:\n$cp3")
      spark.sql(s"DROP TABLE IF EXISTS $c")
    }
    // the marker is catalog-managed: user SET/UNSET is refused
    val err = intercept[Exception] {
      spark.sql(s"ALTER TABLE $a SET TBLPROPERTIES (" +
        s"'${graft.catalog.GraftCatalog.ClusterSortedProp}' = 'true')")
    }
    assert(err.getMessage.contains("reserved"))
  }

  test("compaction restores sort trust on a composite table: ALTER-set cluster.by, compact, sorts gone") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.q106_comp_trust"
    val u = s"$cat.tmp.q106_comp_peer"
    Seq(t, u).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    val li = Tables(spark, sf0001, "lineitem")
    // t: composite table whose cluster.by arrives AFTER the data —
    // untrusted until compacted. u: trusted from create.
    li.select($"l_orderkey", $"l_returnflag", $"l_quantity")
      .writeTo(t).partitionedBy($"l_returnflag", bucket(4, $"l_orderkey")).create()
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
      s"'${graft.catalog.GraftCatalog.ClusterByProp}' = 'l_orderkey')")
    li.select($"l_returnflag".as("b_returnflag"), $"l_orderkey".as("b_orderkey"))
      .filter($"b_orderkey" % 3 === 0)
      .writeTo(u)
      .tableProperty(graft.catalog.GraftCatalog.ClusterByProp, "b_orderkey")
      .partitionedBy($"b_returnflag", bucket(4, $"b_orderkey")).create()
    def joinPlan() = spark.table(t)
      .join(spark.table(u),
        $"l_returnflag" === $"b_returnflag" && $"l_orderkey" === $"b_orderkey")
      .select($"l_quantity", $"b_orderkey")
      .queryExecution.executedPlan.toString
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val before = joinPlan()
      assert(!before.contains("Exchange hashpartitioning"),
        s"composite join aligns without exchanges:\n$before")
      assert(before.contains("Sort ["),
        s"pre-compaction files predate the ALTER'd sort — sorts required:\n$before")
      graft.operators.Compaction.compact(spark, t)
      val after = joinPlan()
      assert(!after.contains("Exchange hashpartitioning") &&
        !after.contains("Sort ["),
        s"after compaction the (flag, key) merge join needs no exchange and no sort:\n$after")
      // equality against a plain shuffle join over the same data
      val viaSpj = spark.table(t)
        .join(spark.table(u),
          $"l_returnflag" === $"b_returnflag" && $"l_orderkey" === $"b_orderkey")
        .agg(count(lit(1)), sum($"l_quantity"), sum($"b_orderkey")).collect().head
      val plainU = li
        .select($"l_returnflag".as("b_returnflag"), $"l_orderkey".as("b_orderkey"))
        .filter($"b_orderkey" % 3 === 0)
      val viaPlain = li.select($"l_orderkey", $"l_returnflag", $"l_quantity")
        .join(plainU.hint("shuffle_hash"),
          $"l_returnflag" === $"b_returnflag" && $"l_orderkey" === $"b_orderkey")
        .agg(count(lit(1)), sum($"l_quantity"), sum($"b_orderkey")).collect().head
      assert(viaSpj === viaPlain)
    }
    Seq(t, u).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("q107 runtime bucket pruning: a dim-driven DPP filter empties all but the matching bucket") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val f = s"$cat.planshape.q107_fact"
    val d = s"$cat.planshape.q107_dim"
    Seq(f, d).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    val orders = Tables(spark, sf0001, "orders")
    orders.select($"o_orderkey", $"o_totalprice")
      .writeTo(f).partitionedBy(bucket(8, $"o_orderkey")).create()
    // a ONE-key dim (point-lookup join): exactly one bucket can match
    val k = orders.agg(min($"o_orderkey")).as[Long].head()
    Seq((k, "keep"), (k + 1, "drop")).toDF("d_key", "tag").writeTo(d).create()
    // a fresh Dataset per probe: the runtime-filtered scan lives in the
    // executed plan of the INSTANCE that ran, so plan inspection must
    // reuse that instance, and the non-SPJ rerun must build a new one
    def mkJoin() = spark.table(f)
      .join(spark.table(d).filter($"tag" === "keep"), $"o_orderkey" === $"d_key")
      .select($"o_orderkey", $"o_totalprice")
    val joined = mkJoin()
    val rows = joined.collect()
    assert(rows.length === 1 && rows(0).getLong(0) === k)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"DPP subquery missing on the bucket join key:\n$p")
    def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case other => other.children.flatMap(allScans)
    }
    // v2 bucketing defaults ON → the keyed snapshot latched at planning;
    // the runtime filter must EMPTY the non-matching buckets' groups
    // (group count contractual), leaving exactly one group with files
    val factScan = allScans(joined.queryExecution.executedPlan)
      .find(_.toString.contains("q107_fact[")).getOrElse(fail("fact scan not found"))
    // the runtime filter lands in BatchScanExec.filteredPartitions,
    // which only the (public, lazily cached) inputRDD exposes — the
    // pre-filter `inputPartitions` snapshot stays unnarrowed by design
    // (the key contract reads it)
    def executedParts(scan: org.apache.spark.sql.execution.datasources.v2.BatchScanExec) =
      scan.inputRDD.partitions.toSeq.flatMap {
        case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          dp.inputPartitions
      }.collect {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
      }
    val parts = executedParts(factScan)
    assert(parts.size === 8, s"expected all 8 keyed groups present, got ${parts.size}")
    val withFiles = parts.filter(_.files.nonEmpty)
    assert(withFiles.size === 1,
      s"expected 1 bucket with files after runtime pruning, got ${withFiles.size}")
    val expectBucket = graft.catalog.GraftBucketFunction.bucketId(
      k, org.apache.spark.sql.types.LongType, 8)
    assert(withFiles.head.files.forall(_.filePath.toString
        .contains(f"part-$expectBucket%05d-")),
      s"surviving files must belong to bucket $expectBucket")

    // the stock (non-SPJ) path prunes too: with v2 bucketing off there
    // is no key contract, so the excluded buckets' files are DROPPED
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    try {
      val joined2 = mkJoin()
      val rows2 = joined2.collect()
      assert(rows2.length === 1 && rows2(0).getLong(0) === k)
      val scan2 = allScans(joined2.queryExecution.executedPlan)
        .find(_.toString.contains("q107_fact[")).getOrElse(fail("fact scan not found"))
      val files2 = executedParts(scan2).flatMap(_.files)
      assert(files2.nonEmpty &&
        files2.forall(_.filePath.toString.contains(f"part-$expectBucket%05d-")),
        s"non-SPJ path must plan only bucket $expectBucket's files, got " +
          files2.map(_.filePath.toString).mkString(", "))
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prev)
    Seq(f, d).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("runtime filtering reaches the generic format scan: avro DPP and avro runtime bucket pruning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case other => other.children.flatMap(allScans)
    }
    def executedFiles(scan: org.apache.spark.sql.execution.datasources.v2.BatchScanExec) =
      scan.inputRDD.partitions.toSeq.flatMap {
        case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          dp.inputPartitions
      }.collect {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
      }.flatMap(_.files)

    // 1. partitioned avro fact ⋈ filtered dim on the partition column:
    //    the DPP filter must reach GraftFormatScan and the executed
    //    file set must shrink to the one surviving directory
    val f1 = s"$cat.planshape.avro_dpp_fact"
    val d1 = s"$cat.planshape.avro_dpp_dim"
    Seq(f1, d1).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .writeTo(f1).using("avro").partitionedBy($"o_orderpriority").create()
    Seq(("1-URGENT", "keep"), ("2-HIGH", "drop"), ("3-MEDIUM", "drop"),
      ("4-NOT SPECIFIED", "drop"), ("5-LOW", "drop")).toDF("prio", "tag")
      .writeTo(d1).create()
    val j1 = spark.table(f1)
      .join(spark.table(d1).filter($"tag" === "keep"), $"o_orderpriority" === $"prio")
      .select($"o_orderkey", $"o_orderpriority")
    val expect1 = Tables(spark, sf0001, "orders")
      .filter($"o_orderpriority" === "1-URGENT").count()
    // collect() on THIS instance: its executed plan is the one whose
    // scan ran the runtime filter (a .count() would execute a sibling)
    assert(j1.collect().length.toLong === expect1)
    val p1 = j1.queryExecution.executedPlan.toString
    assert(p1.contains("dynamicpruning"),
      s"DPP subquery missing on the avro partitioned scan:\n$p1")
    val s1 = allScans(j1.queryExecution.executedPlan)
      .find(_.toString.contains("GraftFormatScan")).getOrElse(fail("avro scan not found"))
    val files1 = executedFiles(s1)
    assert(files1.nonEmpty &&
      files1.forall(_.filePath.toString.contains("o_orderpriority=1-URGENT")),
      s"runtime filter must exclude the other directories, read: " +
        files1.map(_.filePath.toString).mkString(", "))

    // 2. bucketed avro fact ⋈ one-key dim: runtime bucket pruning
    //    through the same surface (q107's mechanism on the generic scan)
    val f2 = s"$cat.planshape.avro_rbp_fact"
    val d2 = s"$cat.planshape.avro_rbp_dim"
    Seq(f2, d2).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    val orders = Tables(spark, sf0001, "orders")
    orders.select($"o_orderkey", $"o_totalprice")
      .writeTo(f2).using("avro").partitionedBy(bucket(8, $"o_orderkey")).create()
    val k = orders.agg(min($"o_orderkey")).as[Long].head()
    Seq((k, "keep"), (k + 1, "drop")).toDF("d_key", "tag").writeTo(d2).create()
    val j2 = spark.table(f2)
      .join(spark.table(d2).filter($"tag" === "keep"), $"o_orderkey" === $"d_key")
      .select($"o_orderkey")
    val rows2 = j2.collect()
    assert(rows2.length === 1 && rows2(0).getLong(0) === k)
    val p2 = j2.queryExecution.executedPlan.toString
    assert(p2.contains("dynamicpruning"),
      s"DPP subquery missing on the avro bucket key:\n$p2")
    val s2 = allScans(j2.queryExecution.executedPlan)
      .find(_.toString.contains("GraftFormatScan")).getOrElse(fail("avro scan not found"))
    val expectBucket = graft.catalog.GraftBucketFunction.bucketId(
      k, org.apache.spark.sql.types.LongType, 8)
    val files2 = executedFiles(s2)
    assert(files2.nonEmpty &&
      files2.forall(_.filePath.toString.contains(f"part-$expectBucket%05d-")),
      s"only bucket $expectBucket's avro files may survive, read: " +
        files2.map(_.filePath.toString).mkString(", "))
    Seq(f1, d1, f2, d2).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("q109 on a row format: ANALYZE builds avro skip-stats and a key-range query schedules a file subset") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val t = s"$cat.planshape.avro_skip"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val li = Tables(spark, sf0001, "lineitem").select($"l_orderkey", $"l_quantity")
    li.repartitionByRange(8, $"l_orderkey")
      .writeTo(t).using("avro")
      .tableProperty(graft.catalog.SkipStats.Prop, "l_orderkey")
      .create()
    val lo = li.agg(min($"l_orderkey")).as[Long].head()
    def probe() = spark.table(t)
      .filter($"l_orderkey" >= lo && $"l_orderkey" <= lo + 50)
    val expected = li.filter($"l_orderkey" >= lo && $"l_orderkey" <= lo + 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    def filesOf(q: org.apache.spark.sql.DataFrame): Seq[String] = {
      def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case qe: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(qe.plan)
        case other => other.children.flatMap(allScans)
      }
      val scans = allScans(q.queryExecution.executedPlan)
      scans.find(_.toString.contains("GraftFormatScan"))
        .orElse(scans.headOption).getOrElse(fail("no scan"))
        .inputRDD.partitions.toSeq.flatMap {
          case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
            dp.inputPartitions
        }.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
        }.flatMap(_.files).map(_.filePath.toString).distinct
    }
    // avro files have no footer stats — before ANALYZE the commit path
    // cannot manifest them, so the range query reads every file
    val before = probe()
    assert(before.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      === expected)
    assert(filesOf(before).size === 8,
      "without a manifest every avro file must be scheduled")
    // ANALYZE is the row-format manifest builder: one distributed
    // input_file_name() pass writes the same shards the footer path does
    spark.sql(s"CALL $cat.sys.analyze('$t', '')").collect()
    spark.sql(s"REFRESH TABLE $t")
    val after = probe()
    assert(after.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      === expected, "skipping must never change rows")
    val readAfter = filesOf(after)
    assert(readAfter.size <= 2,
      s"the range-sliced avro table must schedule a file subset, " +
        s"got ${readAfter.size}: $readAfter")
    // RUNTIME skipping too (q117 parity on the row-format scan): a
    // one-key dim join's runtime IN-set evaluates against the same
    // shards and schedules only the covering file
    val d = s"$cat.planshape.avro_skip_dim"
    spark.sql(s"DROP TABLE IF EXISTS $d")
    val kMax = li.agg(max($"l_orderkey")).as[Long].head()
    Seq((lo, "keep"), (kMax, "drop")).toDF("d_key", "tag").writeTo(d).create()
    val joined = spark.table(t)
      .join(spark.table(d).filter($"tag" === "keep"), $"l_orderkey" === $"d_key")
      .select($"l_orderkey", $"l_quantity")
    val expectedJoin = li.filter($"l_orderkey" === lo)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(joined.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      === expectedJoin)
    val jp = joined.queryExecution.executedPlan.toString
    assert(jp.contains("dynamicpruning"),
      s"DPP subquery missing on the avro skipping column:\n$jp")
    val readJoin = filesOf(joined)
    assert(readJoin.size === 1,
      s"the runtime IN-set must schedule only the covering avro file, " +
        s"got ${readJoin.size}: $readJoin")
    Seq(t, d).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("q109 file-level data skipping: a key-range query schedules only the overlapping files") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val t = s"$cat.planshape.q109_skip"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val li = Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    li.repartitionByRange(8, $"l_orderkey")
      .writeTo(t)
      .tableProperty(graft.catalog.SkipStats.Prop, "l_orderkey")
      .create()
    // the manifest landed beside the data at commit
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").select($"data_type").as[String].head()
    val manifest = new org.apache.hadoop.fs.Path(loc,
      graft.catalog.SkipStats.ManifestName)
    val fs = manifest.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(manifest), s"skip-stats manifest missing at $manifest")
    val totalFiles = fs.listStatus(new org.apache.hadoop.fs.Path(loc))
      .count(s => !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    assert(totalFiles >= 6, s"range write should spread files, got $totalFiles")

    def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case other => other.children.flatMap(allScans)
    }
    def executedFiles(q: org.apache.spark.sql.DataFrame) =
      allScans(q.queryExecution.executedPlan).head.inputRDD.partitions.toSeq
        .flatMap {
          case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
            dp.inputPartitions
        }.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
        }.flatMap(_.files).map(_.filePath.toString).distinct

    def rangeQuery() = spark.table(t)
      .filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 2000L)
    val expected = li.filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 2000L)
      .agg(count(lit(1)), sum($"l_quantity")).collect().head
    val q1 = rangeQuery()
    assert(q1.agg(count(lit(1)), sum($"l_quantity")).collect().head === expected)
    val q2 = rangeQuery()
    q2.collect()
    val read = executedFiles(q2)
    assert(read.nonEmpty && read.size < totalFiles,
      s"range query must schedule a file subset: ${read.size} of $totalFiles")
    assert(read.size <= 3,
      s"disjoint ranges should leave <=3 overlapping files, got ${read.size}")

    // deleting the manifest disables skipping but never correctness
    fs.delete(manifest, false)
    spark.sql(s"REFRESH TABLE $t")
    val q3 = rangeQuery()
    assert(q3.agg(count(lit(1)), sum($"l_quantity")).collect().head === expected)
    val q3files = { val q = rangeQuery(); q.collect(); executedFiles(q) }
    assert(q3files.size === totalFiles,
      s"without the manifest every file must be read, got ${q3files.size}")

    // an APPEND rebuilds the manifest: new files read their footers,
    // kept files carry their entries, and skipping resumes — including
    // over the appended range
    li.filter($"l_orderkey" < 500L).repartitionByRange(2, $"l_orderkey")
      .writeTo(t).append()
    assert(fs.exists(manifest), "append must rebuild the manifest")
    val expected2 = li.filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 2000L)
      .agg(count(lit(1)), sum($"l_quantity")).collect().head
    val q4 = rangeQuery()
    assert(q4.agg(count(lit(1)), sum($"l_quantity")).collect().head === expected2)
    val q4files = { val q = rangeQuery(); q.collect(); executedFiles(q) }
    assert(q4files.size <= 3,
      s"skipping must resume after the append, got ${q4files.size} files")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("q110 z-order: after the rewrite BOTH dimensions prune files; single-sort only prunes one") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val t = s"$cat.planshape.q110_z"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val li = Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity")
    // baseline layout: range-distributed by ORDER key only — orderkey
    // queries prune, partkey queries read everything
    li.repartitionByRange(16, $"l_orderkey")
      .writeTo(t)
      .tableProperty(graft.catalog.SkipStats.Prop, "l_orderkey,l_partkey")
      .create()
    def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case other => other.children.flatMap(allScans)
    }
    def filesRead(mk: => org.apache.spark.sql.DataFrame): Int = {
      val q = mk
      q.collect()
      allScans(q.queryExecution.executedPlan).head.inputRDD.partitions.toSeq
        .flatMap {
          case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
            dp.inputPartitions
        }.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
        }.flatMap(_.files).map(_.filePath.toString).distinct.size
    }
    def byOrder = spark.table(t)
      .filter($"l_orderkey" >= 500L && $"l_orderkey" <= 700L)
      .select($"l_quantity")
    def byPart = spark.table(t)
      .filter($"l_partkey" >= 100L && $"l_partkey" <= 112L)
      .select($"l_quantity")
    val expOrder = li.filter($"l_orderkey" >= 500L && $"l_orderkey" <= 700L)
      .agg(sum($"l_quantity"), count(lit(1))).collect().head
    val expPart = li.filter($"l_partkey" >= 100L && $"l_partkey" <= 112L)
      .agg(sum($"l_quantity"), count(lit(1))).collect().head
    val preOrderFiles = filesRead(byOrder)
    val prePartFiles = filesRead(byPart)
    assert(preOrderFiles <= 4, s"single-sort layout prunes its own key: $preOrderFiles")
    assert(prePartFiles >= 14,
      s"single-sort layout cannot prune the other key, expected ~16 files: $prePartFiles")

    val res = spark.sql(s"CALL $cat.sys.zorder('$t', 'l_orderkey,l_partkey', 16L)")
      .collect()
    assert(res.head.getLong(1) === 16L)
    // equality on both dimensions through the rewritten layout
    assert(byOrder.agg(sum($"l_quantity"), count(lit(1))).collect().head === expOrder)
    assert(byPart.agg(sum($"l_quantity"), count(lit(1))).collect().head === expPart)
    val postOrderFiles = filesRead(byOrder)
    val postPartFiles = filesRead(byPart)
    // the Z layout bounds every file's box in BOTH dims: each probe
    // reads a strict subset; the partkey probe drops from ~all to a few
    assert(postPartFiles <= 8 && postPartFiles < prePartFiles,
      s"z-order must prune the second dimension: $postPartFiles of $prePartFiles")
    assert(postOrderFiles < 16,
      s"z-order keeps pruning the first dimension: $postOrderFiles of 16")
    // the rewrite was an atomic generation flip: the old location
    // remains for in-flight readers; the live table has exactly the
    // target file count
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").select($"data_type").as[String].head()
    assert(loc.contains("__migrate_"), s"zorder must flip to a staged generation: $loc")
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(loc))
      .count(s => !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    assert(dataFiles === 16, s"expected 16 z-files, got $dataFiles")
    // refusals: bucketed and partitioned shapes name their own operator
    val b = s"$cat.planshape.q110_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $b")
    li.writeTo(b).partitionedBy(bucket(4, $"l_orderkey")).create()
    val e1 = intercept[Exception] {
      graft.operators.Zorder.zorder(spark, b, Seq("l_orderkey", "l_partkey"))
    }
    assert(e1.getMessage.contains("bucketed"))
    spark.sql(s"DROP TABLE IF EXISTS $b")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("q111 dynamic file pruning: a dim-driven runtime filter schedules only range-matching files") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val f = s"$cat.planshape.q111_fact"
    val d = s"$cat.planshape.q111_dim"
    Seq(f, d).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    val li = Tables(spark, sf0001, "lineitem").select($"l_orderkey", $"l_quantity")
    // range-clustered fact: 8 files with disjoint l_orderkey ranges, no
    // partitions, no buckets — the key is just a well-clustered column
    li.repartitionByRange(8, $"l_orderkey")
      .writeTo(f)
      .tableProperty(graft.catalog.SkipStats.Prop, "l_orderkey")
      .create()
    // a ONE-key dim (point-lookup join): the runtime IN-set is {k}, so
    // exactly the file whose recorded range covers k can match
    val k = li.agg(min($"l_orderkey")).as[Long].head()
    val kMax = li.agg(max($"l_orderkey")).as[Long].head()
    Seq((k, "keep"), (kMax, "drop")).toDF("d_key", "tag").writeTo(d).create()
    def mkJoin() = spark.table(f)
      .join(spark.table(d).filter($"tag" === "keep"), $"l_orderkey" === $"d_key")
      .select($"l_orderkey", $"l_quantity")
    // expected rows from the raw parquet; the runtime-filtered scan
    // lives in the executed plan of the INSTANCE that ran, so the file
    // inspection below must reuse the collected instance
    val expected = li.filter($"l_orderkey" === k)
      .select($"l_orderkey", $"l_quantity").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    def resultOf(q: org.apache.spark.sql.DataFrame) =
      q.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val joined = mkJoin()
    assert(resultOf(joined) === expected)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"DPP subquery missing on the skipping column:\n$p")
    def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case other => other.children.flatMap(allScans)
    }
    def factFiles(q: org.apache.spark.sql.DataFrame) =
      allScans(q.queryExecution.executedPlan)
        .find(_.toString.contains("q111_fact[")).getOrElse(fail("fact scan not found"))
        .inputRDD.partitions.toSeq.flatMap {
          case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
            dp.inputPartitions
        }.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
        }.flatMap(_.files).map(_.filePath.toString).distinct
    val read = factFiles(joined)
    assert(read.size === 1,
      s"runtime IN-set {$k} must schedule exactly the covering file, got ${read.size}")

    // deleting the shard disables pruning but never correctness: the
    // same join reads all 8 files and returns the same rows
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $f")
      .filter($"col_name" === "Location").select($"data_type").as[String].head()
    val manifest = new org.apache.hadoop.fs.Path(loc,
      graft.catalog.SkipStats.ManifestName)
    val fs = manifest.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(manifest), s"skip-stats shard missing at $manifest")
    fs.delete(manifest, false)
    spark.sql(s"REFRESH TABLE $f")
    val joined2 = mkJoin()
    assert(resultOf(joined2) === expected)
    val read2 = factFiles(joined2)
    assert(read2.size === 8,
      s"without the shard every file must be read, got ${read2.size}")
    Seq(f, d).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("q117 runtime file skipping on the composite scan: a NON-key dim join empties excluded files") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val f = s"$cat.planshape.q117_fact"
    val d = s"$cat.planshape.q117_dim"
    Seq(f, d).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    // composite fact: 2 partitions × 4 buckets = 8 files; the THIRD
    // column z is neither the partition nor the bucket key, but its
    // per-file ranges are disjoint by construction (z tracks the bucket
    // id), so the skip-stats shards are the index the layout lacks
    val rows = (0L until 4000L).map { k =>
      val b = graft.catalog.GraftBucketFunction.bucketId(
        k, org.apache.spark.sql.types.LongType, 4)
      (k, if (k % 2 == 0) "a" else "b", b * 1000L + (k % 500L))
    }
    rows.toDF("k", "p", "z")
      .writeTo(f)
      .tableProperty(graft.catalog.SkipStats.Prop, "z")
      .partitionedBy($"p", bucket(4, $"k"))
      .create()
    // a selective dim on z: the runtime IN-set is one real bucket-1
    // value — only the two bucket-1 files (one per partition dir) have
    // a covering range
    val probe = rows.map(_._3).filter(z => z >= 1000L && z < 2000L).max
    val decoy = rows.map(_._3).filter(z => z >= 2000L && z < 3000L).min
    Seq((probe, "keep"), (decoy, "drop")).toDF("d_z", "tag").writeTo(d).create()
    def mkJoin() = spark.table(f)
      .join(spark.table(d).filter($"tag" === "keep"), $"z" === $"d_z")
      .select($"k", $"p", $"z")
    val expected = rows.filter(_._3 == probe).sorted
    val joined = mkJoin()
    val got = joined.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(got === expected, "join equality against the in-memory source")
    assert(got.nonEmpty, "the probe value must match rows")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"DPP subquery missing on the non-key skipping column:\n$plan")
    // the executed fact scan scheduled a FILE SUBSET: the keyed group
    // count stays contractual (8 groups latched), but only the files
    // whose recorded z-range covers the probe carry splits — here
    // exactly ONE (k % 500 pins the parity, so each z value lives in
    // one partition's bucket-1 file; the shards prove the other
    // partition's bucket-1 range excludes it too)
    def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case other => other.children.flatMap(allScans)
    }
    val factFiles = allScans(joined.queryExecution.executedPlan)
      .find(_.toString.contains("q117_fact[")).getOrElse(fail("fact scan not found"))
      .inputRDD.partitions.toSeq.flatMap {
        case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          dp.inputPartitions
      }.collect {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
      }.flatMap(_.files).map(_.filePath.toString).distinct
    assert(factFiles.size === 1,
      s"the runtime IN-set must schedule only the covering bucket-1 file " +
        s"(of 8 total), got ${factFiles.size}: $factFiles")
    Seq(f, d).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("q112 bloom skipping: point lookups prune hash-distributed files min/max cannot") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val t = s"$cat.planshape.q112_bloom"
    val r = s"$cat.planshape.q112_ranges_only"
    val d = s"$cat.planshape.q112_dim"
    Seq(t, r, d).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    val docs = Tables(spark, sf0001, "documents")
      .select($"doc_id", $"n_chars")
    // HASH layout: every file spans ~the whole key range
    docs.repartition(8, $"doc_id")
      .writeTo(t)
      .tableProperty(graft.catalog.SkipStats.BloomProp, "doc_id")
      .create()
    // contrast table: same layout, min/max ranges ONLY
    docs.repartition(8, $"doc_id")
      .writeTo(r)
      .tableProperty(graft.catalog.SkipStats.Prop, "doc_id")
      .create()
    // a MID-RANGE key: every hash file's random ~75-key [min,max] covers
    // the middle of the domain (an edge key would let min/max prune even
    // here, muddying the contrast); doc_ids are dense so it exists
    val (dmn, dmx) = docs.agg(min($"doc_id"), max($"doc_id"))
      .as[(Long, Long)].head()
    val k = (dmn + dmx) / 2
    def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case other => other.children.flatMap(allScans)
    }
    def executedFiles(q: org.apache.spark.sql.DataFrame, name: String) =
      allScans(q.queryExecution.executedPlan)
        .find(_.toString.contains(s"$name[")).getOrElse(fail(s"$name scan not found"))
        .inputRDD.partitions.toSeq.flatMap {
          case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
            dp.inputPartitions
        }.collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
        }.flatMap(_.files).map(_.filePath.toString).distinct
    val expected = docs.filter($"doc_id" === k)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    def run(table: String): (Seq[(Long, Long)], Int) = {
      val q = spark.table(table).filter($"doc_id" === k)
      val rows = q.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
      (rows, executedFiles(q, table.split("\\.").last).size)
    }
    val (bloomRows, bloomFiles) = run(t)
    assert(bloomRows === expected)
    // 25k-NDV bloom over ~75 keys per file: false positives are
    // negligible — exactly the one containing file is scheduled
    assert(bloomFiles === 1,
      s"bloom must prune the hash layout to the containing file, got $bloomFiles")
    val (rangeRows, rangeFiles) = run(r)
    assert(rangeRows === expected)
    assert(rangeFiles === 8,
      s"min/max on a hash layout must not prune (every file spans the range), got $rangeFiles")

    // the runtime path: a ONE-key dim join's IN-set tests the blooms
    // through the dynamic-file-pruning surface — same single file
    Seq((k, "keep"), (k + 1, "drop")).toDF("d_key", "tag").writeTo(d).create()
    val joined = spark.table(t)
      .join(spark.table(d).filter($"tag" === "keep"), $"doc_id" === $"d_key")
      .select($"doc_id", $"n_chars")
    val jRows = joined.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    assert(jRows === expected)
    assert(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "DPP subquery missing on the bloom column")
    val jFiles = executedFiles(joined, "q112_bloom")
    assert(jFiles.size === 1,
      s"runtime IN-set must bloom-prune to the containing file, got ${jFiles.size}")

    // deleting the shards disables pruning but never correctness; the
    // blooms live in their OWN shard (read only by equality probes)
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").select($"data_type").as[String].head()
    val manifest = new org.apache.hadoop.fs.Path(loc,
      graft.catalog.SkipStats.ManifestName)
    val bloomManifest = new org.apache.hadoop.fs.Path(loc,
      graft.catalog.SkipStats.BloomManifestName)
    val fs = manifest.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(manifest), s"skip-stats shard missing at $manifest")
    assert(fs.exists(bloomManifest),
      s"blooms must live in their own shard at $bloomManifest")
    fs.delete(manifest, false)
    fs.delete(bloomManifest, false)
    spark.sql(s"REFRESH TABLE $t")
    val (fallbackRows, fallbackFiles) = run(t)
    assert(fallbackRows === expected)
    assert(fallbackFiles === 8,
      s"without the shard every file must be read, got $fallbackFiles")
    Seq(t, r, d).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("file skipping feeds join planning: a range-sliced fact's scan stats shrink to the surviving files") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val t = s"$cat.planshape.skip_stats_size"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .repartitionByRange(8, $"l_orderkey")
      .writeTo(t)
      .tableProperty(graft.catalog.SkipStats.Prop, "l_orderkey")
      .create()
    // the DSv2 relation's planning stats come from FileScan
    // .estimateStatistics over the LISTED files — and the catalog index
    // lists through the skip-stats shards, so a pushed range predicate
    // shrinks sizeInBytes to the overlapping files before JoinSelection
    // ever runs: the sliced fact broadcast-eligible, the full fact not
    def sizeOf(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val full = sizeOf(spark.table(t))
    val sliced = sizeOf(spark.table(t)
      .filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 1200L))
    assert(sliced * 3 <= full,
      s"skipping must shrink planning stats: sliced=$sliced full=$full")
    // and the shrunk size flips JoinSelection: with the threshold
    // between the two, the sliced fact broadcasts, the full fact shuffles
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, ((sliced + full) / 2).toString)
    try {
      // full-width probe side (projection width-scaling would shrink a
      // 2-column slice below the threshold and broadcast the wrong side)
      val other = Tables(spark, sf0001, "lineitem")
        .withColumnRenamed("l_orderkey", "k")
      // sparkPlan is pre-EnsureRequirements (no exchange nodes yet):
      // identify the broadcast side from the BHJ's buildSide
      def factBroadcast(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
            (b.buildSide match {
              case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
              case _ => b.left
            }).toString
        }.exists(_.contains("skip_stats_size"))
      val slicedJoin = other.join(spark.table(t)
          .filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 1200L),
        $"k" === $"l_orderkey")
      assert(factBroadcast(slicedJoin), "the skip-shrunk side must broadcast")
      val fullJoin = other.join(spark.table(t), $"k" === $"l_orderkey")
      assert(!factBroadcast(fullJoin),
        "the unfiltered side must stay above the threshold")
    } finally spark.conf.set(thresholdKey, prev)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("avro scans report size statistics: a small avro dim auto-broadcasts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val d = s"$cat.planshape.avro_stats_dim"
    spark.sql(s"DROP TABLE IF EXISTS $d")
    Tables(spark, sf0001, "nation")
      .select($"n_nationkey", $"n_name")
      .writeTo(d).using("avro").create()
    val j = Tables(spark, sf0001, "customer")
      .join(spark.table(d), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
    assert(j.count() > 0)
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"a KB-sized avro dim must auto-broadcast (scan statistics reported):\n$p")
    spark.sql(s"DROP TABLE IF EXISTS $d")
  }

  test("per-partition row counts: a pruned scan reports the surviving partitions' exact numRows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val t = s"$cat.planshape.part_rows"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val li = Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
    li.writeTo(t).partitionedBy($"l_returnflag").create()
    spark.sql(s"CALL $cat.sys.analyze('$t', '*')").collect()
    val perFlag = li.groupBy($"l_returnflag").count()
      .as[(String, Long)].collect().toMap
    def scanRowCount(df: org.apache.spark.sql.DataFrame): Option[BigInt] =
      df.queryExecution.optimizedPlan.collectLeaves().head.stats.rowCount
    // pruned to one partition: numRows is that partition's EXACT count
    val pruned = scanRowCount(spark.table(t).filter($"l_returnflag" === "A"))
    assert(pruned === Some(BigInt(perFlag("A"))),
      s"pruned scan must report partition A's count, got $pruned")
    // unpruned: the analyze whole-table count still reports
    val full = scanRowCount(spark.table(t))
    assert(full === Some(BigInt(perFlag.values.sum)),
      s"unpruned scan must report the table count, got $full")
    // a write to ONE partition invalidates ITS count (fresh registration)
    // without touching the siblings' — the next pruned scan falls back
    Seq((999999L, 1.0, "A")).toDF("l_orderkey", "l_quantity", "l_returnflag")
      .writeTo(t).append()
    val afterWrite = scanRowCount(spark.table(t).filter($"l_returnflag" === "A"))
    assert(afterWrite !== Some(BigInt(perFlag("A"))),
      "a written partition's stale count must not survive the commit")
    val sibling = scanRowCount(spark.table(t).filter($"l_returnflag" === "R"))
    assert(sibling === Some(BigInt(perFlag("R"))),
      s"untouched partitions keep their counts, got $sibling")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("per-partition row counts on a TIMESTAMP partition column: the pruned scan reports its exact numRows") {
    // analyze keys its per-partition counts by the stored spec string;
    // a timestamp rendered as java.sql.Timestamp.toString ('….0') never
    // equals the spec, which left every count unset
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val t = s"$cat.planshape.part_rows_ts"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, p TIMESTAMP) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, TIMESTAMP'2024-01-01 00:00:00'), (2, TIMESTAMP'2024-01-01 00:00:00'), " +
      "(3, TIMESTAMP'2024-01-02 00:00:00')")
    spark.sql(s"CALL $cat.sys.analyze('$t', '*')").collect()
    val catalog = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.catalog.GraftCatalog]
    val counts = catalog.metaStore.loadTable("planshape", "part_rows_ts")
      .partitions.map(_.rowCount).toSet
    assert(counts === Set(Some(2L), Some(1L)), s"per-partition counts: $counts")
    val pruned = spark.table(t).filter("p = TIMESTAMP'2024-01-01 00:00:00'")
      .queryExecution.optimizedPlan.collectLeaves().head.stats.rowCount
    assert(pruned === Some(BigInt(2)),
      s"the pruned scan must report the surviving partition's count, got $pruned")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("CALL sys.analyze builds the skip-stats manifest for an ALTER-declared table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val t = s"$cat.planshape.skip_analyze"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val li = Tables(spark, sf0001, "lineitem").select($"l_orderkey", $"l_quantity")
    // data lands FIRST, with no skipping declaration → no manifest
    li.repartitionByRange(8, $"l_orderkey").writeTo(t).create()
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").select($"data_type").as[String].head()
    val manifest = new org.apache.hadoop.fs.Path(loc,
      graft.catalog.SkipStats.ManifestName)
    val fs = manifest.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(manifest), "no declaration → no manifest at create")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
      s"'${graft.catalog.SkipStats.Prop}' = 'l_orderkey')")
    assert(!fs.exists(manifest), "ALTER alone reads no footers")
    spark.sql(s"CALL $cat.sys.analyze('$t')").collect()
    assert(fs.exists(manifest),
      "analyze must manifest the committed files for the new declaration")
    // and skipping is now live: the range query reads a file subset
    val q = spark.table(t).filter($"l_orderkey" >= 1000L && $"l_orderkey" <= 1100L)
    q.collect()
    val read = allScansOf(q.queryExecution.executedPlan)
      .head.inputRDD.partitions.toSeq.flatMap {
        case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          dp.inputPartitions
      }.collect {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
      }.flatMap(_.files).map(_.filePath.toString).distinct
    assert(read.nonEmpty && read.size < 8,
      s"post-analyze skipping must schedule a subset, got ${read.size} of 8")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("CALL sys.analyze builds DICTIONARY-derived blooms for an ALTER-declared table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val t = s"$cat.planshape.bloom_analyze"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val li = Tables(spark, sf0001, "lineitem").select($"l_orderkey", $"l_quantity")
    // dup-heavy key, hash layout, NO declaration: the files are
    // dictionary-encoded and carry no writer blooms
    li.repartition(8, $"l_orderkey").writeTo(t).create()
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
      s"'${graft.catalog.SkipStats.BloomProp}' = 'l_orderkey')")
    spark.sql(s"CALL $cat.sys.analyze('$t')").collect()
    // commit-side maintenance hashed each file's DICTIONARY PAGE into a
    // per-file bloom (the fully-dict-encoded case needs no writer bloom)
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter($"col_name" === "Location").select($"data_type").as[String].head()
    val bloomManifest = new org.apache.hadoop.fs.Path(loc,
      graft.catalog.SkipStats.BloomManifestName)
    val fs = bloomManifest.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(bloomManifest),
      "analyze must build the bloom shard for the new declaration")
    val (kmn, kmx) = li.agg(min($"l_orderkey"), max($"l_orderkey"))
      .as[(Long, Long)].head()
    val k = li.filter($"l_orderkey" >= (kmn + kmx) / 2)
      .agg(min($"l_orderkey")).as[Long].head() // a mid-range EXISTING key
    val expected = li.filter($"l_orderkey" === k)
      .agg(count(lit(1)), sum($"l_quantity")).collect().head
    val q = spark.table(t).filter($"l_orderkey" === k)
    assert(q.agg(count(lit(1)), sum($"l_quantity")).collect().head === expected)
    val q2 = spark.table(t).filter($"l_orderkey" === k)
    q2.collect()
    val read = allScansOf(q2.queryExecution.executedPlan)
      .head.inputRDD.partitions.toSeq.flatMap {
        case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          dp.inputPartitions
      }.collect {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp
      }.flatMap(_.files).map(_.filePath.toString).distinct
    assert(read.size === 1,
      s"dictionary-derived blooms must prune the hash layout to the containing file, got ${read.size}")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  private def allScansOf(sp: org.apache.spark.sql.execution.SparkPlan)
    : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
    case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allScansOf(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      allScansOf(q.plan)
    case other => other.children.flatMap(allScansOf)
  }

  test("q108 aggregate pushdown: COUNT/MIN/MAX answered from parquet footers, stock and wrapped paths") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val plain = s"$cat.planshape.q108_plain"
    val parted = s"$cat.planshape.q108_parted"
    Seq(plain, parted).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    val li = Tables(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
    li.writeTo(plain).create()
    li.writeTo(parted).partitionedBy($"l_returnflag").create()
    def aggOf(t: String) = spark.table(t)
      .agg(count(lit(1)).as("n"), min($"l_quantity").as("mn"),
        max($"l_orderkey").as("mx"))
    val expected = aggOf(plain).collect().head // pushdown conf off: row path
    val prev = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      for (t <- Seq(plain, parted)) {
        val q = aggOf(t)
        assert(q.collect().head === expected, s"pushed agg must equal row agg for $t")
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("PushedAggregation: [COUNT(*)"),
          s"aggregate not pushed to the $t scan:\n$p")
      }
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", prev)
    Seq(plain, parted).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("shuffle-one-side: a bucketed table joins an UNBUCKETED source with one exchange, not two") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    // the q100 tables exist (created by the earlier test or on demand)
    val a = s"$cat.tmp.q100_bspj_a"
    if (!spark.catalog.tableExists(a))
      graft.operators.EngineQueries.q100_bucketed_spj_join(spark, sf0001)
    // an unbucketed, non-catalog source — the ingest-batch shape
    val plain = Tables(spark, sf0001, "orders")
      .filter($"o_orderkey" % 5 === 0)
      .select($"o_orderkey".as("k"), $"o_custkey")
    def join(df: org.apache.spark.sql.DataFrame) = spark.table(a)
      .join(df, $"o_orderkey" === $"k")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val expected = join(plain).count()
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.shuffle.enabled")
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      try {
        val df = join(plain)
        val p = df.queryExecution.executedPlan.toString
        val exchanges = p.linesIterator.count(_.contains("Exchange "))
        assert(exchanges === 1,
          s"expected ONE exchange (the unbucketed side shuffled by the " +
            s"bucket function), found $exchanges:\n$p")
        // the bucketed scan feeds the join with no exchange above it:
        // the single exchange must sit on the plain-parquet side
        assert(!p.linesIterator.exists(l =>
          l.contains("Exchange ") && l.contains("q100_bspj_a")), p)
        assert(df.count() === expected,
          "shuffling one side by the storage transform must not change the answer")
      } finally saved match {
        case Some(v) => spark.conf.set(
          "spark.sql.sources.v2.bucketing.shuffle.enabled", v)
        case None => spark.conf.unset(
          "spark.sql.sources.v2.bucketing.shuffle.enabled")
      }
    }
  }

  test("identity SPJ under skew: partially-clustered planning splits the hot value, stays shuffle-free") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val a = s"$cat.planshape.spj_skew_a"
    val b = s"$cat.planshape.spj_skew_b"
    spark.sql(s"DROP TABLE IF EXISTS $a")
    spark.sql(s"DROP TABLE IF EXISTS $b")
    // one HEAVY partition value: 90% of the fact side is '1-URGENT';
    // multiple appends give the hot value several files, which is what
    // partially-clustered planning distributes across tasks
    val orders = Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice",
        when($"o_orderkey" % 10 =!= 0, "1-URGENT")
          .otherwise($"o_orderpriority").as("o_orderpriority"))
    orders.filter($"o_orderkey" % 2 === 0)
      .writeTo(a).partitionedBy($"o_orderpriority")
      .tableProperty("graft.spj", "true").create()
    orders.filter($"o_orderkey" % 2 === 1).writeTo(a).append()
    orders.select($"o_orderkey".as("b_orderkey"),
        $"o_orderpriority".as("b_pri"))
      .filter($"b_orderkey" % 3 === 0)
      .writeTo(b).partitionedBy($"b_pri")
      .tableProperty("graft.spj", "true").create()
    def join() = spark.table(a)
      .join(spark.table(b),
        $"o_orderpriority" === $"b_pri" && $"o_orderkey" === $"b_orderkey")
      .groupBy($"o_orderpriority")
      // rounded: double-sum accumulation order differs across plans
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 0).as("s"))
    val plainRows = join().orderBy($"o_orderpriority")
      .collect().map(_.toString).toSeq
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val saved = spark.conf.getOption(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      try {
        val df = join()
        val rows = df.orderBy($"o_orderpriority").collect().map(_.toString).toSeq
        assert(rows === plainRows,
          "partially-clustered SPJ must not change the answer")
        // The JOIN stays storage-aligned (no exchange carrying the join
        // keys). The post-join AGGREGATE on the partition column alone
        // legitimately shuffles its few grouped rows here: partially-
        // clustered output is no longer key-grouped (the hot value spans
        // several tasks) — that is the trade the conf buys.
        val p = df.queryExecution.executedPlan.toString
        val joinKeyExchanges = p.linesIterator.filter(l =>
          l.contains("Exchange hashpartitioning(") &&
            (l.contains("o_orderkey") || l.contains("b_orderkey"))).toSeq
        assert(joinKeyExchanges.isEmpty,
          s"partially-clustered SPJ must not shuffle the join sides:\n$p")
        assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
        // the hot value's files really are distributed: the scan plans
        // more input partitions than distinct partition values
        df.collect()
        def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = p match {
          case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            allScans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            allScans(q.plan)
          case other => other.children.flatMap(allScans)
        }
        val scans = allScans(df.queryExecution.executedPlan)
        assert(scans.nonEmpty)
        val taskCounts = scans.map(_.executeColumnar().getNumPartitions)
        val values = spark.table(a).select($"o_orderpriority").distinct().count()
        assert(taskCounts.exists(_ > values),
          s"expected the hot value split across tasks: " +
            s"scan partition counts $taskCounts for $values values")
      } finally saved match {
        case Some(v) => spark.conf.set(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", v)
        case None => spark.conf.unset(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      }
    }
    spark.sql(s"DROP TABLE IF EXISTS $a")
    spark.sql(s"DROP TABLE IF EXISTS $b")
  }

  test("ANALYZE column stats flip a broadcast decision: CBO sees the NDV through DSv2 columnStats") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.stats_dim"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .writeTo(t).create()
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // below the table's ~17 KB footprint, above 5 aggregated rows
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4000")
      def plan(): String = {
        val dim = spark.table(t).groupBy($"o_orderpriority")
          .agg(sum($"o_totalprice").as("s"))
        spark.table(s"$cat.tpch.orders").join(dim, "o_orderpriority")
          .agg(count(lit(1))).queryExecution.executedPlan.toString
      }
      // WITHOUT column stats CBO cannot bound the aggregate's output:
      // the dim side keeps its table-sized estimate and the join sorts
      assert(!plan().contains("BroadcastHashJoin"),
        "pre-ANALYZE the aggregate side must NOT broadcast (the contrast)")
      // ONE distributed pass collects numRows + per-column stats
      val an = spark.sql(s"CALL $cat.sys.analyze('$t', '*')").collect()
      assert(an.head.getLong(2) === 3L, s"expected 3 columns analyzed: ${an.toSeq}")
      val graftCat = spark.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[graft.catalog.GraftCatalog]
      val stats = graftCat.metaStore.loadTable("tmp", "stats_dim").stats.get
      assert(stats.numRows.contains(Tables(spark, sf0001, "orders").count()))
      val prio = stats.colStats("o_orderpriority")
      assert(prio.ndv === 5, s"o_orderpriority NDV: $prio") // exact: HLL on 5 values
      assert(prio.min.contains("1-URGENT") && prio.max.contains("5-LOW"))
      assert(prio.nullCount === 0 && prio.avgLen.isDefined &&
        prio.maxLen.exists(_ >= 5L))
      graftCat.invalidateTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("tmp"), "stats_dim"))
      // WITH the NDV, AggregateEstimation bounds the output at 5 rows —
      // far under the threshold, and the join flips to broadcast
      assert(plan().contains("BroadcastHashJoin"),
        "post-ANALYZE the 5-row aggregate side must broadcast")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("per-partition histograms: a pruned skewed partition's range selectivity flips the broadcast") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.pph_dim"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // partition 'a' is HEAVILY skewed on v: 9990 rows in [0,100], 10
    // outliers up to 1e6 — the min/max uniform assumption estimates
    // v > 5e5 at ~50% (≈5000 rows); the partition's own equi-height
    // bins put nearly all mass below 100 and estimate a few hundred.
    // partition 'b' exists so pruning is real.
    val rows =
      (0 until 9990).map(i => (i.toLong % 97, (i % 100).toDouble, "a")) ++
      (0 until 10).map(i => (i.toLong, 100000.0 * (i + 1), "a")) ++
      (0 until 2000).map(i => (i.toLong % 97, i.toDouble, "b"))
    rows.toDF("g", "v", "p").writeTo(t).partitionedBy($"p").create()
    // per-partition stats WITH histograms (round 19): the grouped pass
    // sketches per-partition equi-height boundaries in the same scan
    spark.sql(s"CALL $cat.sys.analyze('$t', '*', 64)").collect()
    val graftCat = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.catalog.GraftCatalog]
    def invalidate() = graftCat.invalidateTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("tmp"), "pph_dim"))
    val aStats = graftCat.metaStore.loadTable("tmp", "pph_dim")
      .partitions.find(_.spec("p") == "a").get.colStats
    assert(aStats("v").histogram.exists(_._2.size == 64),
      s"partition a must carry 64 equi-height bins for v: ${aStats("v").histogram}")
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // between the histogram estimate (a few hundred rows) and the
      // uniform estimate (~5000 rows) in output bytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "20000")
      invalidate()
      def plan(): String = {
        val dim = spark.table(t).filter($"p" === "a" && $"v" > 500000.0)
        spark.table(t).join(dim, "g")
          .agg(count(lit(1))).queryExecution.executedPlan.toString
      }
      assert(plan().contains("BroadcastHashJoin"),
        "with the pruned partition's bins the v > 5e5 side must broadcast")
      // strip ONLY the per-partition histograms (NDV/min/max stay): the
      // estimate falls back to the uniform assumption over [0, 1e6] and
      // the broadcast is lost — the flip was the histogram, nothing else
      graftCat.metaStore.updateTable("tmp", "pph_dim")(m =>
        m.copy(partitions = m.partitions.map(pm => pm.copy(
          colStats = pm.colStats.map { case (c, cs) =>
            c -> cs.copy(histogram = None) }))))
      invalidate()
      assert(!plan().contains("BroadcastHashJoin"),
        "without the bins the uniform range estimate must keep the SMJ")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("per-partition column stats: a pruned scan's NDV flips the broadcast whole-table stats would not") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.pps_dim"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // partition 'lo': 4 distinct g values; partition 'hi': 5000 distinct
    // — the table-level NDV (~5004) cannot bound a lo-pruned aggregate
    val rows =
      (0 until 5000).map(i => (s"g${i % 4}", i.toLong, "lo")) ++
      (0 until 5000).map(i => (f"h$i%05d", i.toLong, "hi"))
    rows.toDF("g", "v", "p").writeTo(t).partitionedBy($"p").create()
    spark.sql(s"CALL $cat.sys.analyze('$t', '*')").collect()
    val graftCat = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.catalog.GraftCatalog]
    def meta() = graftCat.metaStore.loadTable("tmp", "pps_dim")
    def invalidate() = graftCat.invalidateTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("tmp"), "pps_dim"))
    // per-partition stats recorded: lo's g NDV tiny, hi's huge
    val byP = meta().partitions.map(pm => pm.spec("p") -> pm.colStats).toMap
    assert(byP("lo")("g").ndv <= 6 && byP("lo")("g").ndv >= 3,
      s"lo partition g NDV: ${byP("lo")("g")}")
    assert(byP("hi")("g").ndv > 1000, s"hi partition g NDV: ${byP("hi")("g")}")
    assert(byP("lo")("g").min.contains("g0") && byP("lo")("g").max.contains("g3"))
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // between the lo-pruned aggregate's ~4 rows and the hi-pruned ~5000
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4000")
      invalidate()
      def plan(pv: String): String = {
        val dim = spark.table(t).filter($"p" === pv)
          .groupBy($"g").agg(sum($"v").as("s"))
        spark.table(t).join(dim, "g")
          .agg(count(lit(1))).queryExecution.executedPlan.toString
      }
      // pruned NDV 4 bounds the aggregate at 4 rows → broadcast
      assert(plan("lo").contains("BroadcastHashJoin"),
        "the lo-pruned 4-row aggregate must broadcast")
      // the SAME query shape over the high-NDV partition must not —
      // proof the estimate tracks the PRUNED stats, not a fixed table one
      assert(!plan("hi").contains("BroadcastHashJoin"),
        "the hi-pruned 5000-row aggregate must NOT broadcast")
      // strip the per-partition stats: the scan falls back to the
      // whole-table NDV (~5004) and the lo plan loses its broadcast —
      // the flip was the per-partition statistics, nothing else
      graftCat.metaStore.updateTable("tmp", "pps_dim")(m =>
        m.copy(partitions = m.partitions.map(_.copy(colStats = Map.empty))))
      invalidate()
      assert(!plan("lo").contains("BroadcastHashJoin"),
        "without per-partition stats the whole-table NDV must keep the SMJ")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("ANALYZE histograms fix range selectivity on skew: the uniform estimate keeps SMJ, the binned one broadcasts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tmp")
    val t = s"$cat.tmp.hist_skew"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // SKEWED: 99% of values in [0, 10), 1% spread up to 9e5 — the shape
    // where the uniform min/max assumption is off by two orders
    spark.range(0, 20000).select(
      $"id",
      when($"id" % 100 === 0, ($"id" % 1000) * 1000.0)
        .otherwise(($"id" % 10).cast("double")).as("v"))
      .writeTo(t).create()
    val graftCat = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.catalog.GraftCatalog]
    def inval(): Unit = graftCat.invalidateTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("tmp"), "hist_skew"))
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // between the histogram estimate (~29 KB) and the uniform one (~460 KB)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100000")
      def plan(): String = {
        val dim = spark.table(t).filter($"v" > 15000.0)
        val fact = spark.range(0, 500000).select($"id".as("fk"), ($"id" % 7).as("w"))
        fact.join(dim, $"fk" === $"id").queryExecution.executedPlan.toString
      }
      // min/max only: `v > 15000` over [0, 9e5] estimates ~98% of rows
      // surviving — the dim stays table-sized and the join sorts
      spark.sql(s"CALL $cat.sys.analyze('$t', '*')").collect()
      inval()
      assert(!plan().contains("BroadcastHashJoin"),
        "without a histogram the skewed range filter must keep SMJ (the contrast)")
      // 16 equi-height bins put 99% of the mass below 10: the same
      // filter estimates ~6% and the dim side broadcasts
      spark.sql(s"CALL $cat.sys.analyze('$t', 'v', 16)").collect()
      val hist = graftCat.metaStore.loadTable("tmp", "hist_skew")
        .stats.get.colStats("v").histogram
      assert(hist.isDefined, "histogram missing from the descriptor")
      val (height, bins) = hist.get
      assert(bins.size === 16 && height === 20000.0 / 16)
      assert(bins.last.hi > 100000.0 && bins.head.hi <= 10.0,
        s"equi-height bins must concentrate on the mass: $bins")
      inval()
      assert(plan().contains("BroadcastHashJoin"),
        "with the histogram the ~1% range filter result must broadcast")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("DPP: a join on the partition column runtime-prunes the catalog file index") {
    import org.apache.spark.sql.functions._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    val t = s"$cat.planshape.dpp_orders"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .writeTo(t).partitionedBy(col("o_orderpriority")).create()
    // dim with a non-foldable filter on the join key: the classic DPP
    // shape — fact.partition_col = dim.key AND dim.tag pruned at runtime.
    // The dim must be FILE-backed: an in-memory Seq dim gets its filter
    // constant-folded into the LocalRelation, and PartitionPruning
    // requires a live selective predicate on the filtering side.
    import spark.implicits._
    val dimT = s"$cat.planshape.dpp_dim"
    spark.sql(s"DROP TABLE IF EXISTS $dimT")
    Seq(("1-URGENT", "keep"), ("2-HIGH", "drop"), ("3-MEDIUM", "drop"),
      ("4-NOT SPECIFIED", "drop"), ("5-LOW", "drop")).toDF("prio", "tag")
      .writeTo(dimT).create()
    val joined = spark.table(t)
      .join(spark.table(dimT).filter(col("tag") === "keep"),
        col("o_orderpriority") === col("prio"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
    graft.catalog.GraftFileIndex.startRecordingListFilters()
    val rows =
      try joined.collect()
      finally graft.catalog.GraftFileIndex.stopRecordingListFilters()
    assert(rows.length === 1 && rows(0).getString(0) === "1-URGENT")
    // intent: the scan carries a dynamicpruning runtime filter
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"DPP subquery missing from the graft scan plan:\n$p")
    // arrival: GraftFileIndex.listFiles actually received a partition
    // filter naming the partition column — delegation kept
    // SupportsRuntimeFiltering intact end-to-end
    val got = graft.catalog.GraftFileIndex.recordedListFilterColumns
    assert(got.exists(_.exists(_.equalsIgnoreCase("o_orderpriority"))),
      s"listFiles never saw a partition filter; recorded: $got")
    // and the pruned listing is the ONLY listing: the planner's columnar
    // probe must not trigger an unfiltered listFiles(Nil) of every
    // partition before the runtime filter exists (GraftFileScan answers
    // columnarSupportMode without enumerating partitions)
    assert(got.forall(_.nonEmpty),
      s"an unpruned listing ran alongside DPP; recorded: $got")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS $dimT")
  }

  test("composite SPJ joins on the bucket key ALONE (join keys subset of partition keys)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    val a = s"$cat.planshape.sub_a"
    val b = s"$cat.planshape.sub_b"
    Seq(a, b).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val li = Tables(spark, sf0001, "lineitem")
    li.select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .writeTo(a).partitionedBy($"l_returnflag", bucket(4, $"l_orderkey")).create()
    li.filter($"l_orderkey" % 3 === 0)
      .select($"l_orderkey".as("b_orderkey"), $"l_returnflag".as("b_rf"))
      .writeTo(b).partitionedBy($"b_rf", bucket(4, $"b_orderkey")).create()
    // regression (found by this probe): joining on a NON-partition key
    // with the partition column projected away used to CRASH planning —
    // PartitionPruning resolves the scan's advertised filter attributes
    // against its output with a throwing resolver, and the scan offered
    // the pruned-away partition column. Must plan under DEFAULT confs.
    val defaultJoin = spark.table(a)
      .join(spark.table(b), $"l_orderkey" === $"b_orderkey")
    assert(defaultJoin.count() ===
      li.as("x").join(li.filter($"l_orderkey" % 3 === 0).as("y"),
        $"x.l_orderkey" === $"y.l_orderkey").count())
    // under the SPJ confs + allowJoinKeysSubsetOfPartitionKeys, the
    // bucket-key-only join (the date-partitioned fact⋈fact-on-id case)
    // is ZERO-exchange: groups align on the bucket component, partition
    // values push/merge across sides
    graft.operators.EngineQueries.withSpjConfs(spark) {
      val k = "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled"
      val saved = spark.conf.getOption(k)
      spark.conf.set(k, "true")
      try {
        val j = spark.table(a).join(spark.table(b), $"l_orderkey" === $"b_orderkey")
        val p = j.queryExecution.executedPlan.toString
        val keyEx = p.linesIterator.filter(l =>
          l.contains("Exchange hashpartitioning(") &&
            (l.contains("l_orderkey") || l.contains("b_orderkey"))).toSeq
        assert(keyEx.isEmpty,
          s"bucket-key-only join over composite tables must not shuffle:\n$p")
        assert(j.count() === defaultJoin.count())
      } finally saved match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
    Seq(a, b).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("DPP on the composite layout: late runtime filters empty the pruned groups' file lists") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    val t = s"$cat.planshape.dpp_comp"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables(spark, sf0001, "orders")
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .writeTo(t)
      .partitionedBy($"o_orderpriority", bucket(4, $"o_orderkey")).create()
    val dimT = s"$cat.planshape.dpp_comp_dim"
    spark.sql(s"DROP TABLE IF EXISTS $dimT")
    Seq(("1-URGENT", "keep"), ("2-HIGH", "drop"), ("3-MEDIUM", "drop"),
      ("4-NOT SPECIFIED", "drop"), ("5-LOW", "drop")).toDF("prio", "tag")
      .writeTo(dimT).create()
    // the fact reports KeyGroupedPartitioning (v2 bucketing defaults ON
    // in Spark 4), so the keyed snapshot latches at join planning and
    // the DPP filter arrives LATE — the group count is contractual, and
    // the pruned directories must be skipped via emptied file lists
    val joined = spark.table(t)
      .join(spark.table(dimT).filter($"tag" === "keep"),
        $"o_orderpriority" === $"prio")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("cnt"))
    val rows = joined.collect()
    assert(rows.length === 1 && rows(0).getString(0) === "1-URGENT")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"DPP subquery missing from the composite scan plan:\n$p")
    def allScans(sp: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = sp match {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case other => other.children.flatMap(allScans)
    }
    val factScan = allScans(joined.queryExecution.executedPlan)
      .find(_.toString.contains("dpp_comp[")).getOrElse(fail("fact scan not found"))
    val parts = factScan.inputPartitions.collect {
      case f: org.apache.spark.sql.execution.datasources.FilePartition => f
    }
    // every (partition, bucket) group keeps its key…
    assert(parts.size === 5 * 4,
      s"expected all 20 keyed groups present, got ${parts.size}")
    // …but only the surviving partition's buckets carry files
    val withFiles = parts.count(_.files.nonEmpty)
    assert(withFiles === 4,
      s"expected 4 groups with files (1 of 5 dirs × 4 buckets), got $withFiles " +
        s"of ${parts.size}")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS $dimT")
  }

  test("DPP composes with STATIC partition pruning: one listing sees both filters") {
    // Static and runtime pruning share GraftFileIndex.listFiles — a
    // regression that satisfied one path by falling back to a full
    // listing would silently un-prune the other. Two partition columns:
    // o_orderstatus filtered STATICALLY, o_orderpriority pruned at
    // RUNTIME through the dim join; the recorded listing must carry
    // BOTH columns in the same filter set.
    import org.apache.spark.sql.functions._
    GraftBootstrap.ensure(spark, sf0001)
    val cat = GraftBootstrap.CatalogName
    val t = s"$cat.planshape.dpp2_orders"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.planshape")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"), col("o_orderpriority"))
      .writeTo(t).partitionedBy(col("o_orderstatus"), col("o_orderpriority"))
      .create()
    import spark.implicits._
    val dimT = s"$cat.planshape.dpp2_dim"
    spark.sql(s"DROP TABLE IF EXISTS $dimT")
    Seq(("1-URGENT", "keep"), ("2-HIGH", "drop"), ("3-MEDIUM", "drop"),
      ("4-NOT SPECIFIED", "drop"), ("5-LOW", "drop")).toDF("prio", "tag")
      .writeTo(dimT).create()
    val joined = spark.table(t)
      .filter(col("o_orderstatus") === "F") // static partition predicate
      .join(spark.table(dimT).filter(col("tag") === "keep"),
        col("o_orderpriority") === col("prio"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    graft.catalog.GraftFileIndex.startRecordingListFilters()
    val rows =
      try joined.collect()
      finally graft.catalog.GraftFileIndex.stopRecordingListFilters()
    assert(rows.length === 1 &&
      rows(0).getString(0) === "F" && rows(0).getString(1) === "1-URGENT")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"DPP subquery missing when a static partition filter is present:\n$p")
    val got = graft.catalog.GraftFileIndex.recordedListFilterColumns
    assert(got.exists(fs => fs.exists(_.equalsIgnoreCase("o_orderstatus")) &&
      fs.exists(_.equalsIgnoreCase("o_orderpriority"))),
      s"no single listing carried BOTH the static and runtime filters: $got")
    assert(got.forall(_.nonEmpty),
      s"an unpruned listing ran alongside the composed pruning; recorded: $got")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS $dimT")
  }

  test("DV anti-join broadcast is size-guarded: small batch hints, oversized batch leaves the planner free") {
    GraftBootstrap.ensure(spark, sf0001)
    // a second catalog over its own warehouse with a 2-key ceiling, so
    // the guard flips with tiny fixtures
    val wh = java.nio.file.Files.createTempDirectory("graft_dvcap_wh").toString
    spark.conf.set("spark.sql.catalog.graftdv",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdv.warehouse", wh)
    spark.conf.set("spark.sql.catalog.graftdv.dvBroadcastKeys", "2")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftdv.t")
    val t = "graftdv.t.dvcap"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT NOT NULL, v DOUBLE)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read',
         |  'graft.dml.key'='id')""".stripMargin)
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    // auto-broadcast off: only the HINT can produce a broadcast join, so
    // the two shapes below pin the guard itself, not the size estimator
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 2 deleted keys ≤ ceiling 2 → hinted broadcast despite threshold -1
      spark.sql(s"DELETE FROM $t WHERE id IN (1, 2)")
      val small = spark.table(t)
      val p1 = small.queryExecution.executedPlan.toString
      assert(p1.contains("BroadcastHashJoin") && p1.contains("LeftAnti"),
        s"small DV batch must broadcast the key side:\n$p1")
      assert(small.count() === 98)
      // stack 3 more keys: the group now sums 5 > 2 → no hint → the
      // planner (threshold -1) picks a shuffled anti-join — same rows
      spark.sql(s"DELETE FROM $t WHERE id IN (3, 4, 5)")
      val big = spark.table(t)
      val p2 = big.queryExecution.executedPlan.toString
      assert(!p2.contains("BroadcastHashJoin"),
        s"oversized DV group must not force a broadcast:\n$p2")
      assert(p2.contains("SortMergeJoin") || p2.contains("ShuffledHashJoin"),
        s"oversized DV group should anti-join via shuffle:\n$p2")
      assert(big.count() === 95)
      assert(big.selectExpr("min(id)").collect().head.getLong(0) === 0L)
      assert(!big.collect().map(_.getLong(0)).toSet.exists(Set(1L, 2L, 3L, 4L, 5L)),
        "both shapes must hide exactly the deleted keys")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
