package graft

import org.apache.spark.sql.functions._

import graft.engine.Maintenance

/** The drift gauges wired to the re-freeze DECISION (VERDICT r15 #5):
  * pure policy trip points, plus the end-to-end wiring — gauge read →
  * policy → rebuild — for both frozen-stats families, pinned against
  * from-scratch builds over the same membership. Thresholds in the
  * end-to-end tests are forced (a fixture-scale corpus cannot honestly
  * outgrow the 24·2^8 floor capacity); SoakBench demonstrates the trip
  * at the DEFAULT thresholds on a scaled fixture. */
class MaintenanceSpec extends SparkTestBase {

  test("policy trip points: emb growth/occ-skew, text oov/df-shift") {
    // emb: growth alone
    assert(Maintenance.embNeedsRefreeze(4.0, 1.0, 1L))
    assert(!Maintenance.embNeedsRefreeze(3.99, 1.0, 1L))
    // emb: a runaway bucket trips at low growth
    assert(Maintenance.embNeedsRefreeze(0.1, 2.0, 128L))
    assert(!Maintenance.embNeedsRefreeze(0.1, 2.0, 127L))
    // emb: empty index (occAvg 0) never trips on skew
    assert(!Maintenance.embNeedsRefreeze(0.0, 0.0, 0L))
    // text: either gauge independently
    assert(Maintenance.textNeedsRefreeze(0.2, 0.0))
    assert(Maintenance.textNeedsRefreeze(0.0, 0.5))
    assert(!Maintenance.textNeedsRefreeze(0.19, 0.49))
    // custom thresholds pass through
    assert(Maintenance.embNeedsRefreeze(0.5, 1.0, 1L, growthMax = 0.5))
    assert(Maintenance.textNeedsRefreeze(0.01, 0.0, oovMax = 0.01))
  }

  test("text wiring: a tripped gauge fires refreezeLsh; probe ≡ from-scratch build over the same membership; healthy gauge fires nothing") {
    val bk = graft.engine.Layout.bucketsFor(s"$sf/documents.parquet")
    val t = operators.Retrieval.buildLshIndex(spark, sf, "_mnt",
      _.filter(col("doc_id") % 10 =!= 0))
    operators.Retrieval.absorbLshBatch(spark, sf, t, bk,
      _.filter(col("doc_id") % 20 === 0))
    val batch = col("doc_id") % 20 === 10
    // healthy thresholds: no rebuild
    assert(operators.Retrieval.maybeRefreezeText(spark, sf, t, batch,
      "_mntN", oovMax = 1.1, shiftMax = 2.1).isEmpty,
      "policy fired on an un-trippable threshold")
    // forced trip: the rebuild fires and lands NEW tables
    val refr = operators.Retrieval.maybeRefreezeText(spark, sf, t, batch,
      "_mntR", oovMax = 0.0)
    assert(refr.nonEmpty, "tripped policy did not fire the re-freeze")
    assert(refr.get._1 != t._1 && spark.catalog.tableExists(refr.get._1),
      "re-freeze did not land a new index instance")
    // probe ≡ a from-scratch build over the membership predicates
    val fresh = operators.Retrieval.buildLshIndex(spark, sf, "_mntF",
      _.filter(col("doc_id") % 10 =!= 0 || col("doc_id") % 20 === 0))
    def probe(tt: (String, String, String, String)) =
      operators.Retrieval.lshIndexProbe(spark, sf, tt, batch)
        .collect().map(_.toString).toSeq
    assert(probe(refr.get) == probe(fresh),
      "policy-fired re-freeze diverged from the from-scratch build")
  }

  test("emb wiring: a tripped gauge fires refreezeEmb; probe ≡ from-scratch build over the same membership; healthy gauge fires nothing") {
    val bk = graft.engine.Layout.bucketsFor(s"$sf/embeddings.parquet")
    val t = operators.StandingIndexes.EmbLsh.build(spark, sf, "_mnt",
      _.filter(col("vec_id") % 10 =!= 0))
    operators.Pipeline.absorbEmbBatch(spark, sf, t, bk,
      col("vec_id") % 20 === 0)
    // healthy thresholds: no rebuild
    assert(operators.Pipeline.maybeRefreezeEmb(spark, sf, t, "_mntN",
      growthMax = 1e9, occSkewMax = 1e9).isEmpty,
      "policy fired on an un-trippable threshold")
    // forced trip: rebuild fires; membership comes from the vec table
    val refr = operators.Pipeline.maybeRefreezeEmb(spark, sf, t, "_mntR",
      growthMax = 0.0)
    assert(refr.nonEmpty, "tripped policy did not fire the re-freeze")
    val fresh = operators.StandingIndexes.EmbLsh.build(spark, sf, "_mntF",
      _.filter(col("vec_id") % 10 =!= 0 || col("vec_id") % 20 === 0))
    def probe(tt: (String, String, String)) =
      operators.Pipeline.embIndexProbeOn(spark, tt,
        graft.engine.Tables.t(spark, sf, "embeddings")
          .filter(col("vec_id") % 20 === 10),
        s"$sf/embeddings.parquet").collect().map(_.toString).toSeq
    assert(probe(refr.get) == probe(fresh),
      "policy-fired re-freeze diverged from the from-scratch build")
    // membership round trip: refrozen vec table = old vec table's ids
    val oldIds = spark.table(t._2).select(col("corpus_id"))
    val newIds = spark.table(refr.get._2).select(col("corpus_id"))
    assert(oldIds.exceptAll(newIds).isEmpty && newIds.exceptAll(oldIds).isEmpty)
  }

  test("policy trip points: ivf growth/occ-skew") {
    assert(Maintenance.ivfNeedsRecluster(4.0, 10.0, 10L))
    assert(!Maintenance.ivfNeedsRecluster(3.99, 10.0, 10L))
    // the 8x hot-cell bar (k=16 cells — a runaway cell is a large
    // fraction of the corpus, unlike the emb family's 2^ab buckets)
    assert(Maintenance.ivfNeedsRecluster(0.1, 10.0, 80L))
    assert(!Maintenance.ivfNeedsRecluster(0.1, 10.0, 79L))
    assert(!Maintenance.ivfNeedsRecluster(0.0, 0.0, 0L))
  }

  test("ivf lifecycle: absorb assigns with the frozen quantizer; purge hides cells; re-cluster ≡ fresh fit over survivors") {
    import graft.engine.{Layout, Tables}
    val bk = Layout.bucketsFor(s"$sf/embeddings.parquet")
    val t = operators.StandingIndexes.Ivf.build(spark, sf, "_mntI",
      _.filter(col("vec_id") % 10 =!= 0))
    val (statT, cellsT) = t
    val fitN = spark.table(statT).agg(max(col("fit_n"))).head().getLong(0)
    assert(fitN == spark.table(cellsT).count(),
      "fit_n must equal the built cells membership")
    // the frozen quantizer landed: the DERIVED k (fixture scale clamps
    // to the 16 floor — the historical constant) plus its non-empty
    // centroid rows
    assert(spark.table(statT).agg(max(col("k"))).head().getInt(0) ==
      operators.Pipeline.ivfKFor(fitN))
    assert(spark.table(statT).count() == 16)
    // absorb: cells grow by exactly the day's batch, standing rows
    // untouched, centroids unchanged (frozen)
    val centsBefore = spark.table(statT).collect().map(_.toString).sorted.toSeq
    operators.Pipeline.absorbIvfBatch(spark, sf, t, bk,
      col("vec_id") % 20 === 0)
    val day = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 20 === 0).count()
    assert(spark.table(cellsT).count() == fitN + day)
    assert(spark.table(statT).collect().map(_.toString).sorted.toSeq ==
      centsBefore, "absorb mutated the frozen centroids")
    // probe sees the absorbed day through the same plan
    def probe(tt: (String, String), pred: org.apache.spark.sql.Column) =
      operators.Pipeline.ivfIndexProbeOn(spark, tt,
        Tables.t(spark, sf, "embeddings").filter(pred),
        s"$sf/embeddings.parquet").collect().map(_.toString).toSeq
    val before = probe(t, col("vec_id") % 20 === 10)
    assert(before.nonEmpty, "vacuous: probe found nothing")
    // purge: tombstoned cells vanish from the purged read and the probe
    val purgeIds = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 30 === 7)
      .select(col("vec_id"))
    assert(purgeIds.count() > 0)
    operators.StandingIndexes.Ivf.purge(spark, t, purgeIds)
    assert(Layout.readPurged(spark, cellsT, "corpus_id")
      .filter(col("corpus_id") % 30 === 7 && col("corpus_id") % 10 =!= 0)
      .count() == 0)
    val purgedSet = purgeIds.collect().map(_.getLong(0)).toSet
    val after = probe(t, col("vec_id") % 20 === 10)
    // the purge removes pairs against purged ids — no surviving row may
    // mention one (ADVICE r16: the old `|| after.nonEmpty` disjunct made
    // this vacuously true; vacuity is now its own check)
    assert(after.nonEmpty, "vacuous: post-purge probe found nothing")
    assert(after.forall(r => !purgedSet.exists(id => r.contains(s"[$id,") ||
      r.contains(s",$id,"))),
      "post-purge probe still pairs against purged ids")
    // re-cluster from the purge-aware membership ≡ a fresh fit over
    // the surviving predicate (cells-as-manifest round trip)
    val recl = operators.Pipeline.reclusterIvf(spark, sf, "_mntIR", t)
    val fresh = operators.StandingIndexes.Ivf.build(spark, sf, "_mntIF",
      _.filter((col("vec_id") % 10 =!= 0 && col("vec_id") % 30 =!= 7) ||
        (col("vec_id") % 20 === 0 && col("vec_id") % 30 =!= 7)))
    assert(probe(recl, col("vec_id") % 20 === 10) ==
      probe(fresh, col("vec_id") % 20 === 10),
      "re-cluster diverged from a from-scratch survivor fit")
    assert(spark.table(recl._2)
      .filter(col("corpus_id") % 30 === 7).count() == 0,
      "re-cluster resurrected purged vectors")
  }

  test("ivf wiring: a tripped gauge fires reclusterIvf; healthy gauge fires nothing") {
    val t = operators.StandingIndexes.Ivf.build(spark, sf, "_mntIW",
      _.filter(col("vec_id") % 10 =!= 0))
    assert(operators.Pipeline.maybeReclusterIvf(spark, sf, t, "_mntIWN",
      growthMax = 1e9, occSkewMax = 1e9).isEmpty)
    val recl = operators.Pipeline.maybeReclusterIvf(spark, sf, t, "_mntIWR",
      growthMax = 0.0)
    assert(recl.nonEmpty, "tripped policy did not fire the re-cluster")
    def probe(tt: (String, String)) =
      operators.Pipeline.ivfIndexProbeOn(spark, tt,
        graft.engine.Tables.t(spark, sf, "embeddings")
          .filter(col("vec_id") % 10 === 0),
        s"$sf/embeddings.parquet").collect().map(_.toString).toSeq
    // same membership, same quantizer recipe -> identical probes
    assert(probe(recl.get) == probe(t))
  }

  test("ivf capacity re-derivation: recluster resizes k from the grown membership and restores design occupancy") {
    import graft.engine.{Layout, Tables}
    import operators.Pipeline.{ivfKFor, ivfNprobeFor}
    val bk = Layout.bucketsFor(s"$sf/embeddings.parquet")
    // cell_target 8: the fixture corpus (450 vecs) derives k=57 — off
    // the 16 floor, so the resize below is non-vacuous
    val target = 8L
    val t = operators.Pipeline.buildIvfIndexOn(spark, sf, "_mntRz",
      _.filter(col("vec_id") % 10 =!= 0), cellTarget = target)
    val k0 = spark.table(t._1).agg(max(col("k"))).head().getInt(0)
    val fitN0 = spark.table(t._1).agg(max(col("fit_n"))).head().getLong(0)
    assert(k0 == ivfKFor(fitN0, target) && k0 > 16,
      s"build did not derive a non-floor k (k=$k0, n=$fitN0)")
    // grow the membership past the build capacity, then let the POLICY
    // fire the recluster (growthMax forced low — the fixture can't
    // honestly 4x itself; SoakBench trips the default threshold on the
    // scaled fixture)
    operators.Pipeline.absorbIvfBatch(spark, sf, t, bk,
      col("vec_id") % 20 === 0)
    val recl = operators.Pipeline.maybeReclusterIvf(spark, sf, t,
      "_mntRzR", growthMax = 1.0)
    assert(recl.nonEmpty, "grown index did not trip the forced policy")
    val n1 = Layout.readPurged(spark, recl.get._2, "corpus_id").count()
    val k1 = spark.table(recl.get._1).agg(max(col("k"))).head().getInt(0)
    // capacity RE-derives: k follows the grown membership at the
    // cell_target frozen in the stat table (not the stale build k)
    assert(k1 == ivfKFor(n1, target) && k1 > k0,
      s"recluster did not resize k ($k0 -> $k1 over n=$n1)")
    // the gauge reads occupancy back in the design band (≤ 2x target:
    // empty cells shrink n_cells, so occ_avg can sit slightly above
    // target, never multiples of it)
    val g = operators.Pipeline.ivfDriftGauge(spark, recl.get).head()
    assert(g.getAs[Double]("growth") == 1.0,
      "recluster must reset growth to 1 (fit_n = membership)")
    assert(g.getAs[Double]("occ_avg") <= 2.0 * target,
      s"occ_avg ${g.getAs[Double]("occ_avg")} not back in the design band")
    // nprobe follows the resized k, and the probe ≡ a from-scratch fit
    // over the same membership at the same target
    assert(ivfNprobeFor(k1) == math.ceil(math.sqrt(k1.toDouble)).toInt)
    val fresh = operators.Pipeline.buildIvfIndexOn(spark, sf, "_mntRzF",
      _.filter(col("vec_id") % 10 =!= 0 || col("vec_id") % 20 === 0),
      cellTarget = target)
    def probe(tt: (String, String)) =
      operators.Pipeline.ivfIndexProbeOn(spark, tt,
        Tables.t(spark, sf, "embeddings").filter(col("vec_id") % 20 === 10),
        s"$sf/embeddings.parquet").collect().map(_.toString).toSeq
    val pR = probe(recl.get)
    assert(pR.nonEmpty, "vacuous: reclustered probe found nothing")
    assert(pR == probe(fresh),
      "resized recluster diverged from a from-scratch fit at the same target")
  }

  test("ivf streaming loop: the policy trips MID-STREAM, the recluster fires between batches, stream ≡ the sequential batch chain") {
    // VERDICT r16 #3 — the maintenance policy IN the streaming loop.
    // The standing index is built over a 1/16 corpus slice, so the
    // FIRST absorbed day already grows membership past the DEFAULT 4×
    // growth bar: the loop must fire reclusterIvf between batch 0 and
    // batch 1, and days 2-3 probe/absorb through the repaired index.
    // Equivalence: the identical sequence run with the batch
    // primitives (probe → absorb → maybeReclusterIvf) — per-batch
    // verdicts AND the final quantizer/cells must match.
    import graft.engine.{Layout, Tables}
    import graft.streaming.StreamRunner
    val work = java.nio.file.Files
      .createTempDirectory("graft-ivfloop").toString
    val em = Tables.t(spark, sf, "embeddings")
    val bk = Layout.bucketsFor(s"$sf/embeddings.parquet")
    val dayPreds = Seq(
      col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 0,
      col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 2,
      col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 3)
    val crawl = new java.io.File(work, "shards")
    crawl.mkdirs()
    val t0m = System.currentTimeMillis()
    dayPreds.zipWithIndex.foreach { case (p, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("ivfd").toString
      em.filter(p).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(crawl, s"day$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0m - 120000L * (dayPreds.size - i))
    }
    val tS = operators.Pipeline.buildIvfIndexOn(spark, sf, "_ivfloopS",
      _.filter(col("vec_id") % 16 === 1))
    val (tEnd, nB, nRecl) = StreamRunner.runIvfProbeAbsorbLoop(spark, sf,
      crawl.getAbsolutePath, tS, bk, s"$work/out", s"$work/ckpt",
      "_ivfloopS")
    assert(nB >= dayPreds.size, s"expected ${dayPreds.size} triggers, got $nB")
    assert(nRecl >= 1, "the policy never tripped mid-stream")
    assert(tEnd != tS, "the loop did not swap to the repaired index")
    // a second run on the drained checkpoint processes no batch and
    // leaves the verdict sink and the index tables unchanged
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def state() = (rows(spark.read.parquet(s"$work/out")),
      rows(spark.table(tEnd._1)), rows(Layout.readTable(spark, tEnd._2)))
    val before = state()
    val (tAgain, nAgain, reclAgain) = StreamRunner.runIvfProbeAbsorbLoop(
      spark, sf, crawl.getAbsolutePath, tEnd, bk, s"$work/out",
      s"$work/ckpt", "_ivfloopS")
    assert((tAgain, nAgain, reclAgain) == ((tEnd, 0, 0)),
      s"drained checkpoint re-ran: $nAgain batches, $reclAgain reclusters")
    assert(state() == before, "re-run on a drained checkpoint changed the sink or index")
    // the sequential chain: same primitives, same policy, same order
    var tC = operators.Pipeline.buildIvfIndexOn(spark, sf, "_ivfloopC",
      _.filter(col("vec_id") % 16 === 1))
    val chainV = dayPreds.zipWithIndex.map { case (p, i) =>
      val day = em.filter(p)
      val v = operators.Pipeline.ivfIndexProbeOn(spark, tC, day,
        s"$sf/embeddings.parquet",
        excludeIds = Some(day.select(col("vec_id"))))
        .collect().map(_.toString).toSeq
      operators.Pipeline.absorbIvfFrame(spark, tC, bk,
        day.join(Layout.readTable(spark, tC._2)
          .select(col("corpus_id").as("vec_id")), Seq("vec_id"), "left_anti"))
      operators.Pipeline.maybeReclusterIvf(spark, sf, tC, s"_ivfloopC_m$i")
        .foreach(nt => tC = nt)
      v
    }
    chainV.zipWithIndex.foreach { case (v, i) =>
      val got = spark.read.parquet(s"$work/out/micro_batch_id=$i")
        .collect().map(_.toString).toSeq
      assert(got.sorted == v.sorted, s"day $i verdicts diverged " +
        s"(${got.size} vs ${v.size} rows)")
      assert(v.nonEmpty, s"day $i probe vacuous")
    }
    def cells(t: (String, String)) =
      Layout.readPurged(spark, t._2, "corpus_id")
    assert(cells(tEnd).exceptAll(cells(tC)).isEmpty &&
      cells(tC).exceptAll(cells(tEnd)).isEmpty, "final cells diverged")
    assert(spark.table(tEnd._1).exceptAll(spark.table(tC._1)).isEmpty &&
      spark.table(tC._1).exceptAll(spark.table(tEnd._1)).isEmpty,
      "final quantizers diverged")
    // the repair restored health: the final gauge sits under the bar
    val g = operators.Pipeline.ivfDriftGauge(spark, tEnd).head()
    assert(g.getAs[Double]("growth") < 4.0,
      s"post-repair growth ${g.getAs[Double]("growth")} still past the bar")
  }

  test("emb re-freeze after a purge covers survivors only (no resurrection)") {
    val bk = graft.engine.Layout.bucketsFor(s"$sf/embeddings.parquet")
    val t = operators.StandingIndexes.EmbLsh.build(spark, sf, "_mntP",
      _.filter(col("vec_id") % 10 =!= 0))
    val purgeIds = graft.engine.Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 30 === 7)
      .select(col("vec_id"))
    assert(purgeIds.count() > 0, "no purgeable vectors at this sf")
    operators.StandingIndexes.EmbLsh.purge(spark, t, purgeIds)
    val refr = operators.Pipeline.refreezeEmb(spark, sf, "_mntPR", t)
    assert(spark.table(refr._2).filter(col("corpus_id") % 30 === 7
      && col("corpus_id") % 10 =!= 0).count() == 0,
      "re-freeze resurrected purged vectors")
    val fresh = operators.StandingIndexes.EmbLsh.build(spark, sf, "_mntPF",
      _.filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 30 =!= 7))
    def probe(tt: (String, String, String)) =
      operators.Pipeline.embIndexProbeOn(spark, tt,
        graft.engine.Tables.t(spark, sf, "embeddings")
          .filter(col("vec_id") % 10 === 0),
        s"$sf/embeddings.parquet").collect().map(_.toString).toSeq
    assert(probe(refr) == probe(fresh),
      "post-purge re-freeze diverged from a from-scratch survivor build")
  }
}
