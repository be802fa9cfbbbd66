package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Physical-plan assertions for the 100 TB design point (SURVEY.md §4):
  * filters/columns reach the parquet scan, small dims broadcast,
  * aggregation is map-side partial, hot paths stay in whole-stage
  * codegen. These guard against plan regressions that small-SF row
  * counts would never catch. */
class PlanSpec extends SparkTestBase {
  import SparkTestBase.allNodes

  private def plan(name: String): String =
    q(name).queryExecution.executedPlan.toString

  /** q_dedup_text_lsh runs its body inside Deferred: the plan cases
    * assert on the body's own frame. */
  private def textLshPlan: String =
    graft.operators.Retrieval.textLsh(spark, sf).queryExecution.optimizedPlan.toString

  /** `f` of the executed plan of q_dedup_semantic's own frame. The
    * query lands that frame as a leaf, so the clustering plan is
    * visible only here; the intermediates land in this helper's leaf
    * scope, which drops them when `f` has run. */
  private def semanticPlan[T](f: SparkPlan => T): T = graft.engine.Leaves.scope {
    val v = graft.operators.Retrieval.semanticVerdicts(spark, sf)
    v.collect()
    f(v.queryExecution.executedPlan)
  }

  /** Plan after execution — AQE finalizes stages (codegen visible). */
  private def finalPlan(name: String): String = {
    val df = q(name)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_pred pushes predicates into the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipda") ||
      p.contains("GreaterThanOrEqual(`l_shipda"), p)
  }

  test("q_scan_project prunes to the 5 selected columns") {
    val p = plan("q_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_returnflag"),
      readSchema)
  }

  test("q_join_broadcast uses a broadcast hash join (no fact shuffle)") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_bucketed: agg + join ride the bucketed layout with zero shuffle") {
    // the write-once layout claim (A28): per-customer aggregation and
    // the customer⋈orders join both reuse the bucketed scan's
    // partitioning — no hash Exchange, no broadcast; only the final
    // ORDER BY is allowed its range Exchange
    val p = finalPlan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("BroadcastExchange"), p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("q_join_multiway broadcasts all dimension sides") {
    val p = plan("q_join_multiway")
    assert(p.contains("BroadcastHashJoin"))
    // the one big-big join (customer ⋈ orders ⋈ lineitem) may shuffle;
    // dims must not introduce extra sort-merge joins
    assert(!p.contains("SortMergeJoin") || p.split("SortMergeJoin").length <= 3, p)
  }

  test("q_agg_group aggregates map-side before the shuffle") {
    val p = finalPlan("q_agg_group")
    assert(p.contains("partial_sum"), p)
    // whole-stage codegen renders as "*(n)" stage markers
    assert(p.contains("*(1) HashAggregate"), p)
  }

  test("q_dedup_embedding keeps dot_d inside codegen") {
    val p = finalPlan("q_dedup_embedding")
    assert(p.contains("*(2) Project") || p.contains("*(1) Project"), p)
    assert(p.contains("dotproductd"), p)
  }

  test("q_dedup_embedding's nested loop is capped at the scan (audit slice)") {
    val p = plan("q_dedup_embedding")
    assert(p.contains("LessThan(vec_id,1000)") || p.contains("vec_id#") && p.contains("< 1000"), p)
  }

  test("q_dedup_embedding_lsh joins candidates on (tbl,bkt) — no data-side nested loop") {
    val p = plan("q_dedup_embedding_lsh")
    // the adaptive-width scalar (one-row annBitsSel frame) fans out as
    // a broadcast nested loop BY DESIGN — the wSel convention from
    // q_dedup_text_lsh. What must never appear: a data×data cartesian,
    // and the candidate pairs must meet in a HASH join keyed on the
    // (tbl, bkt) bucket pair.
    assert(!p.contains("CartesianProduct"), p)
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[tbl".r
      .findFirstIn(p).isDefined, p)
  }

  test("q_dedup_embedding_lsh: forced shard path keys the bucket join by shard pair") {
    // the embedding twin of the text-LSH shard assertion: replication
    // via Generate/explode, (sa=ta, tb=sb) in the join key, no
    // data-side cartesian. Sub-cap default carries no vec_id hashing.
    val deflt = q("q_dedup_embedding_lsh").queryExecution.optimizedPlan.toString
    System.setProperty(graft.operators.Retrieval.forceShardsProp, "3")
    val forced =
      try q("q_dedup_embedding_lsh").queryExecution.optimizedPlan.toString
      finally System.clearProperty(graft.operators.Retrieval.forceShardsProp)
    assert(!deflt.contains("xxhash64"), deflt)
    assert(forced.contains("Generate explode"), forced)
    assert("sa#\\d+ = ta#\\d+".r.findFirstIn(forced).isDefined, forced)
    assert("tb#\\d+ = sb#\\d+".r.findFirstIn(forced).isDefined, forced)
    assert(!forced.contains("CartesianProduct"), forced)
  }

  test("q_dedup_simhash_lsh bands join by equality — no nested loop") {
    val p = plan("q_dedup_simhash_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_similarity_batch: broadcast query side + WindowGroupLimit top-k") {
    val p = plan("q_similarity_batch")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q_curation_funnel: dedup rewrites to aggregate, one partial-agg funnel") {
    val p = plan("q_curation_funnel")
    assert(!p.contains("Window"), p) // RankFilterToAggregate fired
    assert(p.contains("partial_min_by") || p.contains("partial_minby") ||
      p.contains("min_by"), p)
  }

  test("q_join_range is an equi-join on (user, bucket), not a nested loop") {
    val p = plan("q_join_range")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("native as-of join plans AsOfJoinExec and matches the window rewrite") {
    val p = plan("q_join_asof_native")
    assert(p.contains("AsOfJoin"), p)
    val native = q("q_join_asof_native")
    val rewrite = q("q_join_asof")
    assert(native.count() == rewrite.count())
    assert(native.exceptAll(rewrite).isEmpty && rewrite.exceptAll(native).isEmpty)
  }

  test("forward as-of: native (negated-time exec) matches the window rewrite") {
    val p = plan("q_join_asof_fwd_native")
    assert(p.contains("AsOfJoin"), p)
    val native = q("q_join_asof_fwd_native")
    val rewrite = q("q_join_asof_fwd")
    assert(native.count() == rewrite.count())
    assert(native.exceptAll(rewrite).isEmpty && rewrite.exceptAll(native).isEmpty)
  }

  test("LATERAL top-n decorrelates to WindowGroupLimit (no per-row subquery)") {
    val p = plan("q_lateral_topn")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("correlated scalar subquery decorrelates to a join") {
    val p = plan("q_scalar_subquery")
    assert(p.contains("Join") || p.contains("HashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("no query's analyzed plan carries a trivially-true join condition") {
    // a condition built from two references to the SAME attribute
    // (unaliased self-join) resolves via dataset-id disambiguation
    // today but silently becomes cross-product × always-true under a
    // refactor — the failure mode behind Spark's "trivially true
    // equals" WARN. Guard every query's analyzed Join conditions.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
      val hits = q(n).queryExecution.analyzed.collect { case j: Join =>
        j.condition.toSeq.flatMap(_.collect {
          case e @ EqualTo(a: AttributeReference, b: AttributeReference)
            if a.exprId == b.exprId => e
          case e @ EqualNullSafe(a: AttributeReference, b: AttributeReference)
            if a.exprId == b.exprId => e
        })
      }.flatten
      if (hits.nonEmpty) Some(s"$n: ${hits.mkString(", ")}") else None
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("q_snapshot_diff scans only the two queried snapshot_date partitions") {
    // the diff body is deferred to first execution (LazyBuildSpec), so
    // the pruned scan only renders in the plan string post-execution
    val p = finalPlan("q_snapshot_diff")
    // both snapshot scans carry partition filters — the read touches 2
    // date partitions regardless of how many days the tree holds
    assert(p.contains("PartitionFilters: [isnotnull(snapshot_date"), p)
    assert(p.contains("= 2025-03-01)") && p.contains("= 2025-03-02)"), p)
    // the partition columns are pruned out of the data read (the scan
    // renders on one line — slice out the ReadSchema suffix)
    val rs = p.linesIterator.filter(_.contains("ReadSchema"))
      .map(l => l.substring(l.indexOf("ReadSchema"))).toSeq
    assert(rs.nonEmpty && rs.forall(l =>
      !l.contains("snapshot_date") && l.contains("p_partkey")), rs)
  }

  test("q_holdings_drift_dates prunes the 4-date history tree to the 2 compared dates") {
    // round 14 (VERDICT r13 #6): the drift compares two NON-ADJACENT
    // dates out of a four-date snapshot tree; both scans must carry a
    // snapshot_date partition filter — at 100 TB of history the
    // unqueried dates are never read
    val p = finalPlan("q_holdings_drift_dates")
    assert(p.contains("PartitionFilters: [isnotnull(snapshot_date"), p)
    assert(p.contains("= 2025-03-02)") && p.contains("= 2025-03-04)"), p)
    assert(!p.contains("= 2025-03-01)") && !p.contains("= 2025-03-03)"), p)
    // partition columns pruned out of the data read
    val rs = p.linesIterator.filter(_.contains("ReadSchema"))
      .map(l => l.substring(l.indexOf("ReadSchema"))).toSeq
    assert(rs.nonEmpty && rs.forall(l =>
      !l.contains("snapshot_date") && l.contains("constituent")), rs)
  }

  test("runtime bloom-filter pruning injects on selective non-broadcast joins") {
    import graft.engine.Tables
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.t(spark, sf, "lineitem")
      val p = Tables.t(spark, sf, "part").filter(col("p_size") <= 3)
      val plan = li.join(p, col("l_partkey") === col("p_partkey"))
        .queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloom_filter_agg"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_dedup_keep_best: rank-filter rewrites to min_by aggregate (no window)") {
    val p = plan("q_dedup_keep_best")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min_by") || p.contains("min_by"), p)
  }

  test("RankFilterToAggregate handles conjunctive filters (rn=1 AND residual)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((1L, 10, "a"), (2L, 10, "a"), (3L, 2, "b"), (4L, 7, "c"))
      .toDF("id", "score", "grp")
    // residual predicate applies to each key's WINNER, not pre-dedup
    val got = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(desc("score"), col("id"))))
      .filter(col("rn") === 1 && col("score") >= 5)
      .orderBy(col("grp"))
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      got.queryExecution.executedPlan.toString)
    assert(got.select(col("id"), col("grp")).collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (4L, "c")))
    // residual referencing rn: ConstantPropagation folds rn→1 in the
    // sibling conjunct before this rule runs, making the rewrite legal
    // — only the semantics are pinned here (the rule's own rn-reference
    // guard covers orderings where propagation hasn't happened)
    val rnRef = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(desc("score"), col("id"))))
      .filter(col("rn") === 1 && col("rn") + col("score") > 0)
    assert(rnRef.count() == 3)
  }

  test("RankFilterToAggregate: a filter after the dedup stays above the aggregate") {
    // q_curation_funnel's shape: keep-best per key, THEN a filter on a
    // non-key column. Group a's winner (score 10) fails the filter, so
    // a contributes nothing; filtering first would keep its runner-up
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val got = Seq((1L, 10, "a"), (2L, 3, "a"), (3L, 2, "b"))
      .toDF("id", "score", "grp")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(desc("score"), col("id"))))
      .filter(col("rn") === 1)
      .select(col("id"), col("score"))
      .filter(col("score") < 5)
      .orderBy(col("id"))
    val p = got.queryExecution.optimizedPlan.toString
    assert(!p.contains("Window"), p)
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(3L), p)
  }

  test("RankFilterToAggregate preserves window-dedup semantics (rule off vs on)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // desc integral + asc key, with nulls in the desc key
    val df = Seq((1L, Some(10), "a"), (2L, Some(10), "a"), (3L, None, "a"),
      (4L, Some(3), "b"), (5L, None, "c"), (6L, None, "c"))
      .toDF("id", "score", "grp")
    def dedup(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(desc("score"), col("id"))))
      .filter(col("rn") === 1)
      .orderBy(col("grp"))
    val got = dedup(df)
    assert(!got.queryExecution.executedPlan.toString.contains("Window"))
    // ground truth computed with the rule inert (rank > 1 not matched)
    val expect = Seq((1L, "a"), (4L, "b"), (5L, "c"))
    assert(got.select(col("id"), col("grp")).collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == expect)
    // non-rewritable shape (desc on a string key) stays window-planned
    val stay = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(desc_nulls_last("grp"), col("id"))))
      .filter(col("rn") === 1)
    assert(stay.queryExecution.executedPlan.toString.contains("Window"))
    assert(stay.count() == 3)
    // empty PARTITION BY must NOT rewrite: a global aggregate over empty
    // input yields one all-null row where the window form yields zero
    val empty = df.filter(col("id") < 0)
      .withColumn("rn", row_number().over(
        Window.orderBy(desc("score"), col("id"))))
      .filter(col("rn") === 1)
    assert(empty.count() == 0)
    val global = df
      .withColumn("rn", row_number().over(
        Window.orderBy(desc("score"), col("id"))))
      .filter(col("rn") === 1)
    assert(global.select(col("id")).collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("join strategy hints are honored (merge / shuffle_hash / broadcast)") {
    import graft.engine.Tables
    import org.apache.spark.sql.functions.col
    val o = Tables.t(spark, sf, "orders")
    val c = Tables.t(spark, sf, "customer")
    def planOf(strategy: String): String =
      o.join(c.hint(strategy), col("o_custkey") === col("c_custkey"))
        .queryExecution.executedPlan.toString
    assert(planOf("merge").contains("SortMergeJoin"))
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planOf("broadcast").contains("BroadcastHashJoin"))
  }

  // --- round-4 packs: the windows that must stay keyed (a missing
  // partition spec silently serializes the whole table through one
  // partition — invisible at small SF, fatal at 100 TB) ---

  test("q_global_shuffle positions are computed per shard, not globally") {
    assert(plan("q_global_shuffle").contains("windowspecdefinition(shard"))
  }

  test("q_pack_sequences cumsum window partitions by source") {
    assert(plan("q_pack_sequences").contains("windowspecdefinition(source"))
  }

  test("q_scd2_intervals windows partition by user") {
    assert(plan("q_scd2_intervals").contains("windowspecdefinition(user_id"))
  }

  test("q_event_drift windows partition by event_type") {
    assert(plan("q_event_drift").contains("windowspecdefinition(event_type"))
  }

  test("q_inverted_index posting aggregation is partial (map-side) and bounded") {
    val p = finalPlan("q_inverted_index")
    // top_k_by is an ObjectHashAggregate whose PARTIAL phase must
    // appear (a Complete-only plan would ship every (tok, doc) row to
    // one reducer before bounding)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_top_k_by"), p)
  }

  test("q_sessionize windows partition by user — no global sort") {
    val p = plan("q_sessionize")
    assert(p.contains("windowspecdefinition(user_id"), p)
  }

  test("q_merge_upsert is one keyed full-outer join, no nested loop") {
    val p = plan("q_merge_upsert")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_perplexity_filter: LM and scoring aggregate map-side; mean is broadcast") {
    val p = finalPlan("q_perplexity_filter")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("q_skew_salted splits the wide shuffle across (key, salt)") {
    val p = plan("q_skew_salted")
    assert(p.contains("_salt"), p)
    assert(p.split("Exchange").length >= 3, "expected two shuffle stages\n" + p)
  }

  test("q_audit_cms_hh: partial CMS aggregation, one-row sketch broadcast") {
    val p = finalPlan("q_audit_cms_hh")
    assert(p.contains("partial_count_min_sketch"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("q_dedup_prefix_join: prefix candidates meet in an equi-join, rank window per doc") {
    val p = plan("q_dedup_prefix_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("windowspecdefinition(doc_id"), p)
  }

  test("q_bm25 broadcasts the term postings side against the doc-length table") {
    // the dfc side is hint-broadcast, so a bare BroadcastHashJoin check
    // would pass vacuously — assert the doc_id join specifically
    assert("BroadcastHashJoin \\[doc_id".r
      .findFirstIn(plan("q_bm25")).isDefined, plan("q_bm25"))
  }

  // --- round-6 incremental-curation pack ---

  test("q_dedup_substring: island merge windows per doc, dup-gram join is equi") {
    val p = plan("q_dedup_substring")
    assert(p.contains("windowspecdefinition(doc_id"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_dedup_incremental: the batch gram set broadcasts (corpus side never shuffles)") {
    val p = plan("q_dedup_incremental")
    assert("BroadcastHashJoin \\[g#".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_contain_attrib: bench grams broadcast, top-3 window partitions by bench doc") {
    val p = plan("q_contain_attrib")
    assert("BroadcastHashJoin \\[g#".r.findFirstIn(p).isDefined, p)
    assert(p.contains("windowspecdefinition(bench_id"), p)
  }

  test("q_mix_sample: the rate table broadcasts onto a map-only corpus pass") {
    val p = plan("q_mix_sample")
    assert("BroadcastHashJoin \\[source#".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_dedup_text_lsh verification: broadcast under the size switch, none when bucketed") {
    // the two pair-verification joins carry broadcast hints only below
    // the corpus-size threshold; forced above it, the SAME query builds
    // with those two hints gone (co-partitioned shuffle joins) and no
    // nested-loop fallback anywhere
    def hints(p: String): Int = "strategy=broadcast".r.findAllIn(p).length
    val deflt = textLshPlan
    System.setProperty(graft.operators.Retrieval.forceBucketedProp, "true")
    val forced =
      try textLshPlan
      finally System.clearProperty(graft.operators.Retrieval.forceBucketedProp)
    // four verification attaches since the round-11 survivor barrier:
    // two float-prefilter sides + two integer re-attach sides
    assert(hints(deflt) - hints(forced) == 4,
      s"default=${hints(deflt)} forced=${hints(forced)}\n$forced")
    assert(!forced.contains("CartesianProduct"), forced)
    // the interpreted exact-gate folds must NEVER sit inside a join
    // condition (subexpression elimination there defeats conjunction
    // short-circuit — every enumerated pair would pay the folds;
    // measured 606 s vs 204 s at ×100). The barrier keeps them in a
    // post-join projection on float survivors, on BOTH shapes.
    Seq(deflt, forced).foreach(p =>
      p.linesIterator.filter(_.trim.startsWith("Join")).foreach(l =>
        assert(!l.contains("zip_with"), s"gate merged into join: $l")))
  }

  test("q_dedup_text_lsh: forced shard path keys the band join by shard pair") {
    // the w-cap overflow shape (VERDICT r10 #1): both sides replicate
    // over the other side's shard (Generate/explode), the join key
    // gains (sa=ta, tb=sb), the hamming prefilter stays INSIDE the
    // join, and no nested-loop fallback appears. The default sub-cap
    // plan must carry none of the shard machinery.
    val deflt = textLshPlan
    System.setProperty(graft.operators.Retrieval.forceShardsProp, "3")
    val forced =
      try textLshPlan
      finally System.clearProperty(graft.operators.Retrieval.forceShardsProp)
    assert(!deflt.contains("xxhash64"), deflt) // sub-cap: no shard cols
    assert(forced.contains("Generate explode"), forced)
    assert("sa#\\d+ = ta#\\d+".r.findFirstIn(forced).isDefined, forced)
    assert("tb#\\d+ = sb#\\d+".r.findFirstIn(forced).isDefined, forced)
    assert(forced.contains("bit_count"), forced)
    assert(!forced.contains("CartesianProduct"), forced)
  }

  test("q_dedup_text_lsh adds no entry to the shared CacheManager") {
    // the text-vector basis and the proj/keyed stages are checkpointed
    // leaves: a cache() anywhere in the pipeline registers here. A fresh
    // session builds the session-memoized basis anew.
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    SparkEntry.queries("q_dedup_text_lsh")(spark.newSession(), sf).collect()
    assert(cm.isEmpty, "q_dedup_text_lsh cached a frame")
  }

  test("q_dedup_text_lsh and q_dedup_semantic read no cache nested in a cache") {
    // a cache over a cache re-renders, re-plans and pins the whole
    // inner tree in every consumer; the basis is a leaf instead
    def nestedIn(p: SparkPlan): Seq[SparkPlan] = allNodes(p).collect {
      case i: InMemoryTableScanExec
          if allNodes(i.relation.cachedPlan).exists(_.isInstanceOf[InMemoryTableScanExec]) =>
        i.relation.cachedPlan
    }
    val lsh = q("q_dedup_text_lsh")
    lsh.collect()
    for ((n, nested) <- Seq(
        "q_dedup_text_lsh" -> nestedIn(lsh.queryExecution.executedPlan),
        "q_dedup_semantic" -> semanticPlan(nestedIn)))
      assert(nested.isEmpty, s"$n: ${nested.size} cached plan(s) read a cache, " +
        s"first:\n${nested.headOption.map(_.treeString.take(4000)).getOrElse("")}")
  }

  test("q_dedup_semantic adds no entry to the shared CacheManager and lands two leaves") {
    // its body drops the fit's intermediate leaves once the verdicts
    // have landed: a fresh session keeps only the basis leaf and the
    // verdict leaf
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    SparkEntry.queries("q_dedup_semantic")(spark.newSession(), sf).collect()
    assert(cm.isEmpty, "q_dedup_semantic cached a frame")
    val added = sc.getPersistentRDDs -- before
    assert(added.size == 2,
      s"q_dedup_semantic kept ${added.size} persisted RDDs: ${added.values.mkString(", ")}")
  }

  test("q_dedup_semantic's memo holds a landed leaf, not the clustering plan") {
    // the memoized Deferred frame keeps its executed inner plan for the
    // session's life: it must be a scan of landed rows, with no exchange
    // and no cache to pin
    val s = spark.newSession()
    val df = SparkEntry.queries("q_dedup_semantic")(s, sf)
    df.collect()
    assert(SparkEntry.queries("q_dedup_semantic")(s, sf) eq df, "not memoized")
    val inner = df.queryExecution.logical.collectFirst {
      case r: graft.plans.DeferredRelation => r.body.maybeInner
    }.flatten.getOrElse(fail("q_dedup_semantic: no built Deferred body"))
    val pinned = allNodes(inner).filter(n =>
      n.isInstanceOf[Exchange] || n.isInstanceOf[InMemoryTableScanExec])
    assert(pinned.isEmpty, s"memoized inner plan pins ${pinned.size} " +
      s"exchange/cache node(s):\n${inner.treeString.take(4000)}")
  }

  test("textBasis persists exactly one RDD") {
    // the basis lands only `vecs`; `dense` is a view over it
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    graft.operators.Retrieval.textBasis(spark.newSession(), sf)
    val added = sc.getPersistentRDDs -- before
    assert(added.size == 1,
      s"textBasis persisted ${added.size} RDDs: ${added.values.mkString(", ")}")
  }

  test("q_dedup_text_lsh persists one leaf beyond its basis") {
    // the body lands its result; its scope drops `proj` and `keyed`
    val sc = spark.sparkContext
    val s = spark.newSession()
    graft.operators.Retrieval.textBasis(s, sf)
    val before = sc.getPersistentRDDs.keySet
    val lsh = SparkEntry.queries("q_dedup_text_lsh")(s, sf)
    lsh.collect()
    val added = sc.getPersistentRDDs -- before
    assert(added.size == 1, s"q_dedup_text_lsh kept ${added.size} persisted " +
      s"RDDs beyond its basis: ${added.values.mkString(", ")}")
    assert(lsh.columns.nonEmpty) // keeps the result leaf reachable
  }

  test("q_audit_semantic adds no entry to the shared CacheManager") {
    // its in-cell sides are a leaf dropped before the body returns
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val counts = SparkEntry.queries("q_audit_semantic")(spark.newSession(), sf)
      .collect()
    assert(cm.isEmpty, "q_audit_semantic cached a frame")
    assert(counts.map(_.toString).toSeq == Seq("[0,0]"), counts.mkString)
  }

  test("a fresh-fit q_dedup_text_lsh run persists its result and no basis") {
    // ScaleStress and LshOverCap rebuild the basis on every run under
    // freshFitProp: the fresh basis lands in the query's Deferred scope,
    // which drops it with `proj` and `keyed` and keeps only the landed
    // result; the result matches the memoized basis's
    import graft.operators.Retrieval
    val sc = spark.sparkContext
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted
    val memoized = pairs(q("q_dedup_text_lsh")) // builds the session-memoized basis first
    System.setProperty(Retrieval.freshFitProp, "true")
    try {
      val before = sc.getPersistentRDDs.keySet
      val lsh = q("q_dedup_text_lsh")
      assert(pairs(lsh).sameElements(memoized), "fresh basis diverged")
      val added = sc.getPersistentRDDs -- before
      assert(added.size == 1, s"a fresh-fit run kept ${added.size} persisted " +
        s"RDDs: ${added.values.mkString(", ")}")
      assert(lsh.columns.nonEmpty) // keeps the result leaf reachable
    } finally System.clearProperty(Retrieval.freshFitProp)
    // the memoized basis is no fresh leaf: its blocks are still there
    assert(pairs(q("q_dedup_text_lsh")).sameElements(memoized), "memoized basis lost")
  }

  test("q_recursive_reach: executes via the recursive-CTE loop over real edges") {
    // data-driven recursion (VERDICT r10 #2): the plan must carry the
    // Spark 4 UnionLoop machinery (not an unrolled union or a driver
    // loop), and the edge side must be the checkpointed minhash pair
    // set, joined — never nested-looped — against the loop table.
    val p = finalPlan("q_recursive_reach")
    assert(p.contains("UnionLoop"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_semantic: pairwise pass meets in a cell-id equi-join, centroids broadcast") {
    // the body is deferred (k is corpus-derived) and the query lands
    // its result as a leaf, so assert on the body's own frame, executed
    val p = semanticPlan(_.toString)
    // the only nested-loop fan-out is the broadcast of the k-row
    // centroid table; the shadow pass must be cell-keyed, never
    // all-pairs
    assert(!p.contains("CartesianProduct"), p)
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cid".r
      .findFirstIn(p).isDefined, p)
    assert(p.contains("BroadcastExchange"), p) // centroid fan-out is broadcast
  }

  test("q_dedup_minhash: candidates meet on (band,bucket) equality, est " +
      "verification on doc_id — no nested loop anywhere (round-9 md5 hashes)") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // band self-join keyed by the (band, bucket) pair
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[band".r
      .findFirstIn(p).isDefined, p)
  }

  test("q_graph_pagerank: integer fixed point — no decimal or double " +
      "arithmetic in the rank columns") {
    // the loop runs inside Deferred; the FINAL frame's schema is the
    // contract — fp math must have produced an exact bigint before the
    // single terminal double division
    val df = q("q_graph_pagerank")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    import org.apache.spark.sql.types._
    assert(df.schema("pagerank").dataType == DoubleType)
    assert(df.schema("doc_id").dataType == LongType)
  }

  test("q_dedup_url: keep-best is one partial-aggregated hash agg, no window sort") {
    val p = finalPlan("q_dedup_url")
    // the (1e6-n_chars)*1e10+doc_id ordinal turns lexicographic keep-best
    // into min() — map-side combine applies, no per-group row sort
    assert(p.contains("partial_min"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_dedup_span: hash-keyed winner election, no nested loop, no window") {
    val p = finalPlan("q_dedup_span")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // winner table is a partial-aggregated min over the 60-bit span hash
    assert(p.contains("partial_min"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_dedup_index_probe: standing index rides its bucket layout — no Exchange above either bucketed scan") {
    // the write-once dedup index (VERDICT r12 #6): both persisted
    // tables (grams bucketed on g, counts bucketed on corpus_id) must
    // be scanned AS bucketed; the planner silently disabling bucketing
    // would print "Bucketed: false (disabled by query planner)"
    val p = finalPlan("q_dedup_index_probe").split("== Initial Plan ==")(0)
    assert(p.contains("Bucketed: true"), p)
    assert(!p.contains("Bucketed: false"), p)
    // the index must meet the probe in merge joins — never be the
    // build side of a broadcast (it is corpus-sized at the design point)
    assert(p.contains("SortMergeJoin"), p)
    // exactly one broadcast: the batch gram-count table nb
    assert(p.split("BroadcastExchange").length - 1 <= 1, p)
    // the probe pays at most 3 planner-inserted hash Exchanges (batch
    // onto the g-bucket layout, the candidate-pair aggregation, pairs
    // onto the count layout); with both scans bucketed-true, every
    // Exchange input is probe-derived — the standing index itself is
    // never shuffled. Counted on ENSURE_REQUIREMENTS lines only: the
    // explicit Tables.spread repartition (REPARTITION_BY_NUM) and its
    // ReusedExchange reference are probe-side by construction.
    val ensures = p.linesIterator.count(l =>
      l.contains("+- Exchange hashpartitioning") &&
        l.contains("ENSURE_REQUIREMENTS"))
    assert(ensures <= 3, s"$ensures planner Exchanges:\n$p")
  }

  /** Shared index-probe invariant (text-LSH round 14, embedding-LSH
    * same round): every bucketed index table must be scanned AS
    * bucketed and meet the batch in merge joins with the shuffle
    * always on the BATCH side. A tree walk beats line counting here:
    * the probe side legitimately carries many Exchanges (tokenize, tf,
    * emb, proj, distinct), so the invariant is positional — no
    * Exchange/Broadcast between any index-table scan and the join that
    * consumes it. */
  private def assertIndexNeverShuffled(name: String,
      tablePrefixes: Seq[String]): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    val df = q(name)
    df.collect()
    val inner = df.queryExecution.executedPlan.collect {
      case d: graft.plans.DeferredExec => d.body.inner
    }.head
    val bad = scala.collection.mutable.Buffer[String]()
    def kids(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case other => other.children
    }
    def isIndexScan(n: SparkPlan): Boolean = n match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        // tombstone sidecars (`_tomb`, round 15) are request-sized and
        // broadcast BY DESIGN — they are not index data
        f.tableIdentifier.map(_.table)
          .exists(t => tablePrefixes.exists(t.startsWith) &&
            !t.endsWith("_tomb"))
      case _ => false
    }
    def walk(n: SparkPlan, shuffled: Boolean): Unit = {
      if (isIndexScan(n) && shuffled) bad += n.verboseString(10)
      val s2 =
        if (n.nodeName.contains("Exchange")) true
        else if (n.nodeName.contains("Join")) false
        else shuffled
      kids(n).foreach(walk(_, s2))
    }
    walk(inner, shuffled = false)
    assert(bad.isEmpty, s"index scans behind an Exchange:\n${bad.mkString("\n")}")
    // and the index scans really ride their bucket layout (a planner
    // that silently disabled bucketing would shuffle-free by accident
    // at 1 file, then regress at scale)
    val p = inner.toString
    assert(p.contains("Bucketed: true"), p)
    assert(!p.contains("Bucketed: false"), p)
    assert(p.contains("SortMergeJoin"), p)
  }

  test("q_dedup_text_index_probe: the standing LSH index is never exchanged or broadcast") {
    // round 14 (VERDICT r13 #2): sig on bb, vec on corpus_id, df on tok
    assertIndexNeverShuffled("q_dedup_text_index_probe",
      Seq("graft_lshsig_idx", "graft_lshvec_idx", "graft_lshdf_idx"))
  }

  test("q_dedup_index_purge: the tombstone anti-join does not cost the index its layout") {
    // round 15 (VERDICT r14 #1): readPurged filters the index through a
    // broadcast anti-join whose output partitioning is the streamed
    // side's — the index scans must STAY bucketed and un-exchanged with
    // the purge applied, or deletes would silently re-introduce the
    // shuffle the layout exists to elide
    assertIndexNeverShuffled("q_dedup_index_purge",
      Seq("graft_gram_idxp", "graft_gramcnt_idxp"))
  }

  test("q_dedup_emb_index_probe: the standing embedding index is never exchanged or broadcast") {
    // round 14: the third near-dup family on the write-once layout —
    // signatures bucketed on the packed tb key, vectors on corpus_id
    assertIndexNeverShuffled("q_dedup_emb_index_probe",
      Seq("graft_embsig_idx", "graft_embvec_idx"))
  }

  test("standing index probe stays index-side-Exchange-free at a second bucket count") {
    // VERDICT r13 #4: the bucket count is now derived from data
    // (Layout.bucketsFor — fixture floor 8); the zero-index-Exchange
    // plan shape must hold at OTHER counts too, or the derivation
    // would silently regress the probe the first time a corpus crosses
    // a budget boundary. Forced to 16 via the knob; the memo keys and
    // table names carry the count, so this build never collides with
    // the default-count one.
    System.setProperty(graft.engine.Layout.forceBucketsProp, "16")
    try {
      val df = q("q_dedup_index_probe")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("Bucketed: true"), p)
      assert(!p.contains("Bucketed: false"), p)
      assert(p.contains("SortMergeJoin"), p)
      val ensures = p.linesIterator.count(l =>
        l.contains("+- Exchange hashpartitioning") &&
          l.contains("ENSURE_REQUIREMENTS"))
      assert(ensures <= 3, s"$ensures planner Exchanges at 16 buckets:\n$p")
    } finally System.clearProperty(graft.engine.Layout.forceBucketsProp)
  }

  test("q_bigram_kn: vocabulary-sized partial aggs, one-row nb broadcast") {
    // AQE explain prints the pre-runtime Initial Plan too; judge the
    // Final Plan section only (ADVICE r11: the old disjunction passed
    // whenever ANY BroadcastHashJoin existed, so an SMJ could slip in)
    val p = finalPlan("q_bigram_kn").split("== Initial Plan ==")(0)
    // the three count tables aggregate map-side before shuffling
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    // nb (one row) enters as a broadcast, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // no join in the plan is a shuffled sort-merge — the count tables
    // are vocabulary-sized and must all attach as broadcasts
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_rrf_fusion: dense top-k group-limits, query side broadcasts") {
    val p = finalPlan("q_rrf_fusion")
    // rank<=20 plans as WindowGroupLimit: per-partition partial top-k
    // before the window sort — the corpus never fully sorts
    assert(p.contains("WindowGroupLimit"), p)
    // both retriever joins carry the small query side as a broadcast
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_quality_classifier: the model lives in the plan — no weight join") {
    val p = finalPlan("q_quality_classifier")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    // scoring stays inside whole-stage codegen (hash exprs are codegen'd)
    assert(p.contains("*(1)"), p)
  }

  test("q_repetition_filter: two keyed agg chains, no window, no broadcast NL") {
    val p = finalPlan("q_repetition_filter")
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("q_importance_dsir: LM tables broadcast, corpus side never shuffles to score") {
    // AQE's explain prints the pre-runtime Initial Plan too (where the
    // doc-keyed attach is still a sort-merge guess); judge the Final
    // Plan section only
    val p = finalPlan("q_importance_dsir").split("== Initial Plan ==")(0)
    // the 4096-row log-ratio table reaches the feature stream as a
    // broadcast hash join, never a shuffled sort-merge
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_pack_nextfit: typed group-map with in-shuffle secondary sort, no window") {
    val p = finalPlan("q_pack_nextfit")
    // the sequential packing state lives in MapGroups (typed path),
    // sorted by doc_id inside the source shuffle — no window sort,
    // no driver loop
    assert(p.contains("MapGroups"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_boilerplate_lines: keyed frequency agg + equi-join, no window, no loop") {
    val p = finalPlan("q_boilerplate_lines")
    // frequency + reassembly are hash aggs; the verdict join is equi
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_dedup_winnow: bounded-ROWS selection window, equi pair join, df cap") {
    val p = finalPlan("q_dedup_winnow")
    // the only window is the bounded per-doc selection (ROWS 0..3) —
    // never a corpus-wide sort; the pair join is a keyed equi-join
    assert(p.contains("specifiedwindowframe(RowFrame, currentrow$(), 3)"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // fingerprint frequency cap aggregates map-side before the join
    assert(p.contains("partial_count"), p)
  }

  test("q_mine_contrastive: anchors broadcast, both rank filters group-limit") {
    val p = finalPlan("q_mine_contrastive")
    // the 16-anchor side broadcasts into the corpus scan
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // rn=1 and rn<=3 both plan as WindowGroupLimit partial top-k
    assert(p.contains("WindowGroupLimit"), p)
    // the margin attach is a broadcast of the one-row-per-anchor positives
    assert(p.contains("BroadcastHashJoin"), p)
  }
}
