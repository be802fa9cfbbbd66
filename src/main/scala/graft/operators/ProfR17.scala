package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.Tables
import graft.functions.GraftFunctions

/** Round-17 optimization-round profiling harness (guide §1): time
  * named SUB-FRAGMENTS of the expensive queries through the noop sink
  * so a query's seconds can be attributed to its stages. Each
  * experiment warms once (JIT/caches, like the bench's build-carrier
  * warm) and reports the min of `reps` timed runs. Job-labelled so a
  * UI or event-log read maps jobs to fragments.
  *
  * Usage: runMain graft.operators.ProfR17 [sfDir] [exp1 exp2 ...]
  * (no exp names = run all). This main is a measurement tool only —
  * nothing in the declared query surface depends on it. */
object ProfR17 {
  private def t[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // r18 A/B toggle: let AQE re-size the FINAL stage of cached plans
    // (InMemoryRelation partition count follows bytes instead of
    // pinning spark.sql.shuffle.partitions = cpus). Hypothesis for the
    // 8-vs-32-core inversion on the cache-heavy LSH family: every
    // .cache()d fragment materializes at 32 kilobyte-sized partitions
    // and each consumer stage pays 32 task launches for it.
    val cachedAqe = sys.env.getOrElse("PROF_CACHED_AQE", "0") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        cachedAqe.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", java.nio.file.Files
        .createTempDirectory("graft-prof-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)

    // task-launch accounting (r18): tasks-per-execution is the honest
    // witness for partitioning changes (the cached-plan AQE conf moves
    // RUNTIME partition counts, which no static explain shows)
    val taskCount = new java.util.concurrent.atomic.AtomicLong()
    val taskMillis = new java.util.concurrent.atomic.AtomicLong()
    val jobCount = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          taskCount.incrementAndGet()
          if (e.taskInfo != null) taskMillis.addAndGet(e.taskInfo.duration)
        }
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
      })
    // PROF_STAGES=1: per-stage run/cpu/gc attribution of the last rep
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Int, Long, Long, Long)]()
    if (sys.env.get("PROF_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            val m = si.taskMetrics
            stageRows.add((si.stageId,
              si.name.takeWhile(_ != '\n').take(90), si.numTasks,
              m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime))
          }
        })

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // ---- experiment registry ----
    val exps = scala.collection.mutable.LinkedHashMap[String, () => DataFrame]()

    // q_audit_text_recall attribution: exhaustive BNLJ side vs the
    // banded-LSH side vs the full audit.
    exps("audit_exh") = () => {
      val cvf = Retrieval.packedVecsF(spark, sfDir).filter(col("doc_id") < 2000)
      val a = cvf.select(col("doc_id").as("da"), col("cv").as("cva"),
        col("vf").as("vfa"), col("n2f").as("n2a"))
      val b = cvf.select(col("doc_id").as("db"), col("cv").as("cvb"),
        col("vf").as("vfb"), col("n2f").as("n2b"))
      val fdot = GraftFunctions.dot_d(col("vfa"), col("vfb"))
      a.join(broadcast(b), col("da") < col("db") && fdot > 0 &&
          fdot * fdot >= lit(0.7744) * col("n2a") * col("n2b"))
        .select(col("da"), col("db"), expr(
          "aggregate(zip_with(cva, cvb, (x, y) -> x * y), " +
            "cast(0 as bigint), (acc, x) -> acc + x)").as("dot"),
          expr("aggregate(cva, cast(0 as bigint), (acc, x) -> acc + x * x)").as("na"),
          expr("aggregate(cvb, cast(0 as bigint), (acc, x) -> acc + x * x)").as("nb"))
        .filter(col("dot") > 0 &&
          col("dot").cast("decimal(38,0)") * col("dot") * 100 >=
            col("na").cast("decimal(38,0)") * col("nb") * 81)
    }

    // single-dot reformulation of the float prefilter (same superset
    // by the packedVecsF margin argument; integer gate unchanged)
    exps("audit_exh_1dot") = () => {
      val cvf = Retrieval.packedVecsF(spark, sfDir).filter(col("doc_id") < 2000)
      val a = cvf.select(col("doc_id").as("da"), col("cv").as("cva"),
        col("vf").as("vfa"), col("n2f").as("n2a"))
      val b = cvf.select(col("doc_id").as("db"), col("cv").as("cvb"),
        col("vf").as("vfb"), col("n2f").as("n2b"))
      val fdot = GraftFunctions.dot_d(col("vfa"), col("vfb"))
      a.join(broadcast(b), col("da") < col("db") &&
          fdot >= lit(0.88) * sqrt(col("n2a") * col("n2b")))
        .select(col("da"), col("db"), expr(
          "aggregate(zip_with(cva, cvb, (x, y) -> x * y), " +
            "cast(0 as bigint), (acc, x) -> acc + x)").as("dot"),
          expr("aggregate(cva, cast(0 as bigint), (acc, x) -> acc + x * x)").as("na"),
          expr("aggregate(cvb, cast(0 as bigint), (acc, x) -> acc + x * x)").as("nb"))
        .filter(col("dot") > 0 &&
          col("dot").cast("decimal(38,0)") * col("dot") * 100 >=
            col("na").cast("decimal(38,0)") * col("nb") * 81)
    }

    // join + float gate only (no integer fold, no cv arrays in flight)
    exps("audit_exh_gateonly") = () => {
      val cvf = Retrieval.packedVecsF(spark, sfDir).filter(col("doc_id") < 2000)
      val a = cvf.select(col("doc_id").as("da"),
        col("vf").as("vfa"), col("n2f").as("n2a"))
      val b = cvf.select(col("doc_id").as("db"),
        col("vf").as("vfb"), col("n2f").as("n2b"))
      val fdot = GraftFunctions.dot_d(col("vfa"), col("vfb"))
      a.join(broadcast(b), col("da") < col("db") && fdot > 0 &&
          fdot * fdot >= lit(0.7744) * col("n2a") * col("n2b"))
        .select(col("da"), col("db"))
    }
    exps("audit_exh_gateonly_1dot") = () => {
      val cvf = Retrieval.packedVecsF(spark, sfDir).filter(col("doc_id") < 2000)
      val a = cvf.select(col("doc_id").as("da"),
        col("vf").as("vfa"), col("n2f").as("n2a"))
      val b = cvf.select(col("doc_id").as("db"),
        col("vf").as("vfb"), col("n2f").as("n2b"))
      val fdot = GraftFunctions.dot_d(col("vfa"), col("vfb"))
      a.join(broadcast(b), col("da") < col("db") &&
          fdot >= lit(0.88) * sqrt(col("n2a") * col("n2b")))
        .select(col("da"), col("db"))
    }
    // id-gate first, then float gate on the ~halved pair stream:
    // d a< db is a cheap long compare — how much of the cost is the
    // dot on pairs the id order already kills?
    exps("audit_exh_idfirst") = () => {
      val cvf = Retrieval.packedVecsF(spark, sfDir).filter(col("doc_id") < 2000)
      val a = cvf.select(col("doc_id").as("da"),
        col("vf").as("vfa"), col("n2f").as("n2a"))
      val b = cvf.select(col("doc_id").as("db"),
        col("vf").as("vfb"), col("n2f").as("n2b"))
      val fdot = GraftFunctions.dot_d(col("vfa"), col("vfb"))
      a.join(broadcast(b), col("da") < col("db"))
        .filter(fdot >= lit(0.88) * sqrt(col("n2a") * col("n2b")))
        .select(col("da"), col("db"))
    }
    // in-session A/B for the connectedComponents loop change: the OLD
    // per-round checkpoint+sum loop, replicated verbatim
    def ccOld(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
      val edges = pairs.select(col("da").as("a"), col("db").as("b"))
        .unionByName(pairs.select(col("db").as("a"), col("da").as("b")))
        .localCheckpoint()
      var labels = edges.select(col("a").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint()
      def labelSum(df: DataFrame): Long = {
        val r = df.agg(sum(col("label"))).collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      var prevSum = labelSum(labels)
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val viaNeighbors = edges
          .join(labels, col("b") === col("node"))
          .groupBy(col("a").as("node2"))
          .agg(min(col("label")).as("nlabel"))
        var next = labels.join(viaNeighbors, col("node") === col("node2"), "left")
          .select(col("node"), least(col("label"),
            coalesce(col("nlabel"), col("label"))).as("label"))
        if (i >= 3) {
          val stepped = next.localCheckpoint()
          next = stepped.join(
            stepped.select(col("node").as("ln"), col("label").as("llabel")),
            col("label") === col("ln"), "left")
            .select(col("node"), least(col("label"),
              coalesce(col("llabel"), col("label"))).as("label"))
        }
        labels = next.localCheckpoint()
        val s = labelSum(labels)
        converged = s == prevSum
        prevSum = s
        i += 1
      }
      labels.withColumnRenamed("label", "cluster_id")
    }
    lazy val mhPairs = Pipeline.queries("q_dedup_minhash")(spark, sfDir)
      .select(col("da"), col("db")).localCheckpoint()
    exps("cc_old") = () => {
      val cc = ccOld(mhPairs)
      Tables.t(spark, sfDir, "documents").select(col("doc_id"))
        .join(cc, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }
    exps("cc_new") = () => {
      val cc = Pipeline.connectedComponents(mhPairs)
      Tables.t(spark, sfDir, "documents").select(col("doc_id"))
        .join(cc, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }

    // r18 A/B: the PRE-r18 q_dedup_cluster_star body (pairs NOT
    // checkpointed before the loop — the minhash pipeline plans 3×)
    exps("cluster_star_dup") = () => {
      val pairs = Pipeline.queries("q_dedup_minhash")(spark, sfDir)
        .select(col("da"), col("db"))
      val cc = Pipeline.starComponents(pairs)
      val idc = cc.select(col("node").as("doc_id"), col("cluster_id"))
      idc.orderBy(col("doc_id"))
    }
    exps("cluster_star_now") = () =>
      SparkEntry.queries("q_dedup_cluster_star")(spark, sfDir)
    // PRE-r18 q_dedup_cluster body (pairs planned twice via the CC
    // edge union) and the pagerank edge union twin
    exps("cluster_dup") = () => {
      val pairs = Pipeline.queries("q_dedup_minhash")(spark, sfDir)
        .select(col("da"), col("db"))
      Pipeline.connectedComponents(pairs)
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    }
    exps("pagerank_dup") = () => {
      val pairs = Pipeline.queries("q_dedup_minhash")(spark, sfDir)
        .select(col("da"), col("db"))
      val edges = pairs
        .unionByName(pairs.select(col("db").as("da"), col("da").as("db")))
        .select(col("da").as("src"), col("db").as("dst"))
        .localCheckpoint()
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .orderBy(col("src"))
    }
    exps("pagerank_edges_now") = () => {
      val pairs = Pipeline.queries("q_dedup_minhash")(spark, sfDir)
        .select(col("da"), col("db")).localCheckpoint()
      val edges = pairs
        .unionByName(pairs.select(col("db").as("da"), col("da").as("db")))
        .select(col("da").as("src"), col("db").as("dst"))
        .localCheckpoint()
      edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .orderBy(col("src"))
    }
    exps("pagerank_now") = () =>
      SparkEntry.queries("q_graph_pagerank")(spark, sfDir)
    exps("cluster_now") = () =>
      SparkEntry.queries("q_dedup_cluster")(spark, sfDir)
    // cascade barrier A/B (prop read at EXECUTION inside the deferred
    // body, so the interleave flips it per arm correctly)
    exps("cascade_barrier") = () => {
      System.setProperty("graft.cascade.barriers", "on")
      SparkEntry.queries("q_dedup_cascade")(spark, sfDir)
    }
    exps("cascade_nobarrier") = () => {
      System.setProperty("graft.cascade.barriers", "off")
      SparkEntry.queries("q_dedup_cascade")(spark, sfDir)
    }

    // r18: loop-only twins over the memoized pair set — the delta vs
    // the full cluster queries is the pair-derivation share
    exps("star_new") = () => {
      val cc = Pipeline.starComponents(mhPairs)
      Tables.t(spark, sfDir, "documents").select(col("doc_id"))
        .join(cc, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }
    exps("minhash_pairs") = () => Pipeline.queries("q_dedup_minhash")(spark, sfDir)

    exps("text_lsh") = () => Retrieval.queries("q_dedup_text_lsh")(spark, sfDir)

    // q_dedup_text_lsh stage attribution (sub-cap branch shapes)
    def lshKeyed(): DataFrame = {
      val dense = Retrieval.centeredDense(spark, sfDir)
      val nD = dense.agg(countDistinct(col("doc_id")).as("nd"))
      val wSel = spark.range(8, 17).select(col("id").cast("int").as("w"))
        .crossJoin(nD)
        .agg(coalesce(min(when(
          expr("shiftleft(cast(1 as bigint), w)") * 24 >= col("nd"), col("w"))),
          lit(16)).as("w"))
      val rmat = spark.range(0, 128).select(col("id").cast("int").as("k"))
        .crossJoin(spark.range(0, 64).select(col("id").cast("int").as("j")))
        .withColumn("r", expr(
          "case when cast(conv(substring(md5(concat(cast(k as string), " +
            "'_', cast(j as string))), 1, 15), 16, 10) as bigint) % 2 = 0 " +
            "then cast(1 as bigint) else cast(-1 as bigint) end"))
      val proj = dense.join(broadcast(rmat), Seq("j"))
        .crossJoin(broadcast(wSel))
        .filter(col("k") < col("w") * 8)
        .groupBy(col("doc_id"), col("k"), col("w"))
        .agg(sum(col("r") * col("c")).as("p"))
        .cache()
      val buckets = proj.groupBy(col("doc_id"), expr("k div w").as("band"))
        .agg(sum(when(col("p") >= 0,
          expr("shiftleft(cast(1 as bigint), k % w)")).otherwise(0L)).as("bkt"))
      val sigs = proj.filter(col("k") < 63).groupBy(col("doc_id"))
        .agg(sum(when(col("p") >= 0,
          expr("shiftleft(cast(1 as bigint), k)")).otherwise(0L)).as("sig"))
      buckets.join(sigs, Seq("doc_id")).cache()
    }
    exps("lsh_keyed") = () => lshKeyed()
    exps("lsh_cand") = () => {
      val keyed = lshKeyed()
      val aa = keyed.select(col("doc_id").as("da"), col("band").as("band_a"),
        col("bkt").as("bkt_a"), col("sig").as("sig_a"))
      val bb = keyed.select(col("doc_id").as("db"), col("band").as("band_b"),
        col("bkt").as("bkt_b"), col("sig").as("sig_b"))
      val residual = col("da") < col("db") &&
        expr("bit_count(sig_a ^ sig_b)") <= 16
      aa.join(bb, col("band_a") === col("band_b") &&
          col("bkt_a") === col("bkt_b") && residual)
        .select(col("da"), col("db")).distinct()
    }
    exps("lsh_pre") = () => {
      val keyed = lshKeyed()
      val aa = keyed.select(col("doc_id").as("da"), col("band").as("band_a"),
        col("bkt").as("bkt_a"), col("sig").as("sig_a"))
      val bb = keyed.select(col("doc_id").as("db"), col("band").as("band_b"),
        col("bkt").as("bkt_b"), col("sig").as("sig_b"))
      val residual = col("da") < col("db") &&
        expr("bit_count(sig_a ^ sig_b)") <= 16
      val cand = aa.join(bb, col("band_a") === col("band_b") &&
          col("bkt_a") === col("bkt_b") && residual)
        .select(col("da"), col("db")).distinct()
      val cvf = Retrieval.packedVecsF(spark, sfDir)
      val fdot = GraftFunctions.dot_d(col("vfa"), col("vfb"))
      val floatGate = fdot > 0 &&
        fdot * fdot >= lit(0.7744) * col("n2a") * col("n2b")
      cand.join(broadcast(cvf.select(col("doc_id").as("da"),
          col("vf").as("vfa"), col("n2f").as("n2a"))), Seq("da"))
        .join(broadcast(cvf.select(col("doc_id").as("db"),
          col("vf").as("vfb"), col("n2f").as("n2b"))), Seq("db"))
        .filter(floatGate)
        .select(col("da"), col("db"))
    }
    exps("audit_full") = () => SparkEntry.queries("q_audit_text_recall")(spark, sfDir)

    exps("cascade") = () => SparkEntry.queries("q_dedup_cascade")(spark, sfDir)
    exps("pagerank") = () => SparkEntry.queries("q_graph_pagerank")(spark, sfDir)
    exps("cluster_star") = () => SparkEntry.queries("q_dedup_cluster_star")(spark, sfDir)
    // r18 additions: the never-profiled >=2.5 s bench residents
    // (VERDICT r17 #4) and the embedding-side LSH twins
    exps("batch_ann") = () => SparkEntry.queries("q_similarity_batch_ann")(spark, sfDir)
    exps("embedding_lsh") = () => SparkEntry.queries("q_dedup_embedding_lsh")(spark, sfDir)
    exps("emb_idx_probe") = () => SparkEntry.queries("q_dedup_emb_index_probe")(spark, sfDir)
    exps("emb_idx_absorb") = () => SparkEntry.queries("q_dedup_emb_index_absorb")(spark, sfDir)
    exps("similarity_ann") = () => SparkEntry.queries("q_similarity_ann")(spark, sfDir)
    exps("gram_idx_absorb") = () => SparkEntry.queries("q_dedup_index_absorb")(spark, sfDir)
    exps("gram_idx_purge") = () => SparkEntry.queries("q_dedup_index_purge")(spark, sfDir)
    exps("span_apply") = () => SparkEntry.queries("q_dedup_span_apply")(spark, sfDir)
    exps("cluster") = () => SparkEntry.queries("q_dedup_cluster")(spark, sfDir)
    exps("gopher") = () => SparkEntry.queries("q_quality_gopher")(spark, sfDir)
    exps("holdings_overlap") = () => SparkEntry.queries("q_holdings_overlap")(spark, sfDir)
    exps("holdings_drift") = () => SparkEntry.queries("q_holdings_drift")(spark, sfDir)
    // r18 A/B: the PRE-r18 ingest (inferSchema per resolved relation —
    // the r17 memo amortized it in-session; this replica re-infers per
    // run, the honest first-run/process-start cost)
    exps("holdings_overlap_infer") = () => {
      val landed = HoldingsContent.holdingsBase(spark, sfDir) + "/full"
      val w = graft.sources.Holdings.readHoldings(spark, landed)
        .select(col("isin"),
          col("constituent").cast("long").as("constituent"),
          col("weight").cast("decimal(12,10)").as("w"))
      val a = w.select(col("isin").as("fund_a"), col("constituent"),
        col("w").as("wa"))
      val b = w.select(col("isin").as("fund_b"), col("constituent"),
        col("w").as("wb"))
      a.join(broadcast(b), Seq("constituent"))
        .filter(col("fund_a") < col("fund_b"))
        .groupBy(col("fund_a"), col("fund_b"))
        .agg(count(lit(1)).as("n_common"),
          sum(least(expr("cast(wa * 10000000000 as bigint)"),
            expr("cast(wb * 10000000000 as bigint)"))).as("u"))
        .select(col("fund_a"), col("fund_b"), col("n_common"),
          (col("u").cast("double") / 1e10).as("overlap_wt"))
        .orderBy(col("fund_a"), col("fund_b"))
    }
    exps("text_idx_absorb") = () => SparkEntry.queries("q_dedup_text_index_absorb")(spark, sfDir)
    exps("text_idx_probe") = () => SparkEntry.queries("q_dedup_text_index_probe")(spark, sfDir)
    exps("audit_semantic") = () => SparkEntry.queries("q_audit_semantic")(spark, sfDir)
    exps("median_mad") = () => SparkEntry.queries("q_median_mad")(spark, sfDir)
    exps("contain_attrib") = () => SparkEntry.queries("q_contain_attrib")(spark, sfDir)
    exps("gram_idx_probe") = () => SparkEntry.queries("q_dedup_index_probe")(spark, sfDir)
    exps("bpe_apply") = () => SparkEntry.queries("q_bpe_apply")(spark, sfDir)
    exps("recursive_reach") = () => SparkEntry.queries("q_recursive_reach")(spark, sfDir)

    // q_agg_group decimal-cost attribution
    import graft.engine.Tables.{dec2, dec4, dsum2, dsum4}
    def ts(x: String) = to_timestamp(lit(x))
    exps("agg_group") = () => SparkEntry.queries("q_agg_group")(spark, sfDir)
    exps("agg_group_dec8") = () => {
      def d2(c: org.apache.spark.sql.Column) = c.cast("decimal(8,2)")
      def d4(c: org.apache.spark.sql.Column) = c.cast("decimal(8,4)")
      val l = Tables.t(spark, sfDir, "lineitem")
      l.filter(col("l_shipdate") <= ts("2001-09-01 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(d2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(d2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(d2(col("l_extendedprice")) * (lit(1) - d4(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(d2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(d4(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }
    exps("agg_group_dbl") = () => {
      val l = Tables.t(spark, sfDir, "lineitem")
      l.filter(col("l_shipdate") <= ts("2001-09-01 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (sum(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }
    exps("agg_group_scan") = () => {
      val l = Tables.t(spark, sfDir, "lineitem")
      l.filter(col("l_shipdate") <= ts("2001-09-01 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }

    // spread-the-fanout experiments: explode/shingle work on the
    // 1-row-group scan task vs after a doc_id repartition
    exps("decon_now") = () => SparkEntry.queries("q_decontaminate")(spark, sfDir)
    exps("decon_spread") = () => {
      val w = Tables.spread(Tables.t(spark, sfDir, "documents"), "doc_id")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val g = w.filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3)))"))
          .as("g"))
      val bench = g.filter(col("doc_id") % 97 === 0).select(col("g")).distinct()
      g.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_hit_grams"))
        .orderBy(col("doc_id"))
    }
    exps("minhash_now") = () => SparkEntry.queries("q_dedup_minhash")(spark, sfDir)
    exps("gopher_now") = () => SparkEntry.queries("q_quality_gopher")(spark, sfDir)
    // UNSPREAD replicas (the pre-r17 shapes) for in-session A/B
    def wordsOld() = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    def gramsOld(n: Int) = wordsOld()
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w)-${n - 1}), i -> concat_ws(' ', slice(w, i, $n)))"))
        .as("g"))
    exps("gopher_old") = () => {
      val base = wordsOld().select(col("doc_id"), col("w"),
        size(col("w")).as("n_words"),
        size(array_distinct(col("w"))).as("n_distinct"))
      val uni = base
        .select(col("doc_id"), explode(col("w")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_word_n"))
      val bi = gramsOld(2)
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_n"),
          sum(col("c")).cast("long").as("n_bigrams"))
      base.select(col("doc_id"), col("n_words"), col("n_distinct"))
        .join(uni, Seq("doc_id")).join(bi, Seq("doc_id"))
        .select(col("doc_id"), col("n_words"),
          round(col("n_distinct") / col("n_words"), 6).as("distinct_ratio"),
          round(col("top_word_n") / col("n_words"), 6).as("top_word_frac"),
          round(col("top_bigram_n") / col("n_bigrams"), 6).as("top_bigram_frac"),
          when(col("n_distinct") / col("n_words") >= 0.4 &&
            col("top_word_n") / col("n_words") <= 0.1 &&
            col("top_bigram_n") / col("n_bigrams") <= 0.08, 1).otherwise(0)
            .as("keep"))
        .orderBy(col("doc_id"))
    }
    exps("span_apply_old") = () => {
      val spans = Pipeline.queries("q_dedup_substring")(spark, sfDir)
        .groupBy(col("doc_id"))
        .agg(expr("sort_array(collect_list(struct(span_start, span_end)))")
          .as("spans"))
      val kept = expr(
        """transform(filter(transform(w, (x, i) ->
          |  struct(x as x, i + 1 as p)), t ->
          |  case when spans is null then true
          |       else not exists(spans, sp ->
          |         t.p >= sp.span_start and t.p <= sp.span_end) end),
          |  t -> t.x)""".stripMargin)
      Tables.spread(Tables.t(spark, sfDir, "documents"), "doc_id")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .join(spans, Seq("doc_id"), "left")
        .withColumn("kept", kept)
        .select(col("doc_id"),
          concat_ws(" ", col("kept")).as("clean_text"),
          size(col("kept")).cast("long").as("n_kept"),
          (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"))
        .orderBy(col("doc_id"))
    }
    exps("span_apply_new") = () => SparkEntry.queries("q_dedup_span_apply")(spark, sfDir)
    exps("source_kl_now") = () => SparkEntry.queries("q_source_kl")(spark, sfDir)
    exps("dsir_now") = () => SparkEntry.queries("q_importance_dsir")(spark, sfDir)
    exps("tfidf_now") = () => SparkEntry.queries("q_tfidf")(spark, sfDir)
    exps("embed_text_now") = () => SparkEntry.queries("q_embed_text")(spark, sfDir)

    val wanted =
      if (args.length > 1) args.drop(1).toSeq else exps.keys.toSeq
    val reps = sys.env.getOrElse("PROF_REPS", "2").toInt
    def loadavg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // co-tenant gate: wait (bounded) for a quiet 1-min loadavg before
    // each timed rep — this box swings under outside load and an
    // ungated rep is unusable for before/after comparison
    val gate = sys.env.getOrElse("PROF_LOAD_GATE", "2.5").toDouble
    def awaitQuiet(): Unit = {
      var waited = 0
      while (loadavg > gate && waited < 180) { Thread.sleep(10000); waited += 10 }
    }
    // PROF_INTERLEAVE=1 (r18): alternate the selected experiments'
    // reps (a1 b1 a2 b2 ...) instead of exhausting each in turn, so an
    // A/B pair shares its measurement window — the box drifts ±30%
    // across minutes even at equal 1-min loadavg and sequential-block
    // A/Bs confound shape with window.
    val interleave = sys.env.get("PROF_INTERLEAVE").contains("1")
    val out = scala.collection.mutable.ArrayBuffer[(String, Double, Double, String)]()
    if (interleave) {
      val mks = wanted.map(n => n -> exps(n))
      mks.foreach { case (name, mk) =>
        spark.sparkContext.setJobDescription(s"prof:$name:warm")
        t(noop(mk()))
      }
      val obsBy = scala.collection.mutable.Map[String,
        scala.collection.mutable.ArrayBuffer[(Double, Double, Long)]]()
      (1 to reps).foreach { i =>
        // alternate A/B order per round: the second arm of a pair runs
        // on a JVM the first arm just warmed (JIT, allocator), a
        // consistent ~10-30% bias on sub-second readings
        val ordered = if (i % 2 == 0) mks.reverse else mks
        ordered.foreach { case (name, mk) =>
          awaitQuiet()
          val l0 = loadavg
          spark.sparkContext.setJobDescription(s"prof:$name:$i")
          val t0tasks = taskCount.get()
          val secs = t(noop(mk()))
          Thread.sleep(150)
          obsBy.getOrElseUpdate(name,
            scala.collection.mutable.ArrayBuffer()) +=
            ((secs, l0, taskCount.get() - t0tasks))
          println(f"[prof] $name%-22s rep$i=$secs%7.3f  load=$l0%.1f")
        }
      }
      mks.foreach { case (name, _) =>
        val obs = obsBy(name)
        val best = obs.minBy(_._1)
        val loads = obs.map(o => f"${o._2}%.1f").mkString(",")
        out += ((name, best._1, best._1, s"$loads] tasks=${best._3}"))
      }
      println("[prof] === summary (name warm min loads) ===")
      out.foreach { case (n, w, m, l) =>
        println(f"[prof] $n%-22s $w%7.3f $m%7.3f [$l]") }
      spark.stop()
      return
    }
    wanted.foreach { name =>
      val mk = exps(name)
      spark.sparkContext.setJobDescription(s"prof:$name:warm")
      val warm = t(noop(mk()))
      if (sys.env.get("PROF_EXPLAIN").contains("1"))
        println(s"[prof-plan] $name\n" +
          mk().queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      val obs = (1 to reps).map { i =>
        awaitQuiet()
        val l0 = loadavg
        spark.sparkContext.setJobDescription(s"prof:$name:$i")
        val t0tasks = taskCount.get()
        val t0ms = taskMillis.get()
        val t0jobs = jobCount.get()
        val secs = t(noop(mk()))
        Thread.sleep(150) // listener bus settle, outside the timed region
        (secs, l0, taskCount.get() - t0tasks,
          taskMillis.get() - t0ms, jobCount.get() - t0jobs)
      }
      val best = obs.minBy(_._1)
      val loads = obs.map(o => f"${o._2}%.1f").mkString(",")
      out += ((name, warm, best._1,
        s"$loads] tasks=${best._3} taskSec=${best._4 / 1000.0} jobs=${best._5}"))
      println(f"[prof] $name%-22s warm=$warm%7.3f  min=${best._1}%7.3f  " +
        s"tasks=${best._3} taskSec=${best._4 / 1000.0} jobs=${best._5}  " +
        s"load=[$loads]")
      if (sys.env.get("PROF_STAGES").contains("1")) {
        import scala.jdk.CollectionConverters._
        stageRows.asScala.toSeq.sortBy(-_._4).take(8).foreach {
          case (id, nm, nt, run, cpu, gc) =>
            println(f"[prof-stage] $name stage=$id%-5d tasks=$nt%-4d " +
              f"runMs=$run%-7d cpuMs=$cpu%-7d gcMs=$gc%-6d $nm")
        }
        stageRows.clear()
      }
    }
    println("[prof] === summary (name warm min loads) ===")
    out.foreach { case (n, w, m, l) =>
      println(f"[prof] $n%-22s $w%7.3f $m%7.3f [$l]") }
    spark.stop()
  }
}
