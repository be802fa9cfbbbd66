package graft

import org.apache.spark.sql.functions._

import graft.engine.{Layout, Tables}

/** Bucketed layout must make the repeated join shuffle-free: joining
  * two tables bucketed on the join key produces a plan with no
  * Exchange on either side. */
class LayoutSpec extends SparkTestBase {

  test("join of co-bucketed tables elides both shuffles") {
    Layout.writeBucketed(Tables.t(spark, sf, "orders"), "orders_b",
      "o_orderkey", 8)
    Layout.writeBucketed(
      Tables.t(spark, sf, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 8)
    // force the non-broadcast path — at real scale neither side fits
    // in a broadcast, which is exactly when bucketing pays off
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val j = try {
      val j0 = Layout.readTable(spark, "orders_b")
        .join(Layout.readTable(spark, "lineitem_b"), "o_orderkey")
        .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      j0.collect()
      val p = j0.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), "bucketed join must not shuffle:\n" + p)
      j0
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // sanity: same result as the unbucketed join
    val direct = Tables.t(spark, sf, "orders")
      .join(Tables.t(spark, sf, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(j.agg(sum("n")).collect()(0).getLong(0) == direct)
  }

  test("ANN cell layout: corpus bucketed by cell id aggregates shuffle-free") {
    // the IVF "at rest" shape (q_similarity_ivf's scale note): corpus
    // written bucketed by cell id — per-cell stats, re-clustering
    // checks, and cell-local candidate scans all run with no Exchange
    val cells = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        pmod(xxhash64(col("vec_id")), lit(16)).as("cid"))
    Layout.writeBucketed(cells, "emb_cells", "cid", 8)
    val agg = Layout.readTable(spark, "emb_cells")
      .groupBy("cid").agg(count(lit(1)).as("n"))
    agg.collect()
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "bucketed aggregation must not shuffle:\n" + p)
    assert(agg.agg(sum("n")).collect()(0).getLong(0) ==
      Tables.t(spark, sf, "embeddings").count())
  }

  test("appendBucketed grows the table; compactBucketed folds files back and keeps the layout live") {
    // the index-maintenance lifecycle (round 13): write → daily
    // appends (one file per bucket each) → compaction back to one
    // file per bucket — values identical throughout, and the bucketed
    // aggregation still runs with zero Exchange AFTER the swap
    val base = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val day1 = base.filter(col("o_orderkey") % 2 === 0)
    val day2 = base.filter(col("o_orderkey") % 2 =!= 0)
    Layout.writeBucketed(day1, "orders_maint", "o_custkey", 4)
    val f0 = spark.table("orders_maint").inputFiles.length
    Layout.appendBucketed(day2, "orders_maint", "o_custkey", 4)
    val f1 = spark.table("orders_maint").inputFiles.length
    assert(f1 > f0, s"append added no files ($f0 -> $f1)")
    assert(spark.table("orders_maint").count() == base.count())
    val (beforeN, afterN) =
      Layout.compactBucketed(spark, "orders_maint", "o_custkey", 4)
    assert(beforeN == f1 && afterN <= 4,
      s"expected <=4 files after compaction, got $afterN (before $beforeN)")
    // ONE file per bucket, not files-per-task × buckets (round 14: the
    // rewrite's Exchange used to be elided while the bucketed scan was
    // simultaneously disabled, so tasks held mixed buckets and the
    // "compacted" table kept a per-task file fan-out) — the bucket id
    // is the _NNNNN suffix in each file name
    val perBucket = spark.table("orders_maint").inputFiles
      .flatMap("_(\\d{5})\\.".r.findFirstMatchIn(_).map(_.group(1)))
      .groupBy(identity).map(_._2.length)
    assert(perBucket.nonEmpty && perBucket.forall(_ == 1),
      s"files per bucket after compaction: $perBucket")
    // content identical post-swap
    val back = Layout.readTable(spark, "orders_maint")
    assert(back.count() == base.count())
    assert(back.exceptAll(base).isEmpty && base.exceptAll(back).isEmpty)
    // the layout is still LIVE: keyed aggregation rides the buckets
    val agg = back.groupBy("o_custkey").agg(count(lit(1)).as("n"))
    agg.collect()
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      "compacted bucketed table lost its layout:\n" + p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("bucketsFor: fixture floor, power-of-two growth with bytes, force prop") {
    // every test fixture sits far under one 32 MB budget unit -> floor
    assert(Layout.bucketsFor(s"$sf/documents.parquet") == 8)
    // growth: a 5 MB file at a 1 MB budget needs 5 buckets -> pow2 -> 8
    // from floor 2; at floor 16 the floor wins
    val f = java.nio.file.Files.createTempFile("bk", ".bin")
    java.nio.file.Files.write(f, new Array[Byte](5 * 1024 * 1024))
    assert(Layout.bucketsFor(f.toString, floor = 2, budgetMB = 1) == 8)
    assert(Layout.bucketsFor(f.toString, floor = 16, budgetMB = 1) == 16)
    assert(Layout.bucketsFor(f.toString, floor = 2, budgetMB = 64) == 2)
    // the force prop pins the count outright (tests / stress runs)
    System.setProperty(Layout.forceBucketsProp, "32")
    try assert(Layout.bucketsFor(f.toString, floor = 2, budgetMB = 1) == 32)
    finally System.clearProperty(Layout.forceBucketsProp)
    java.nio.file.Files.delete(f)
  }

  test("compactBucketed recovers an interrupted rename-aside swap") {
    // ADVICE r13: the old DROP→RENAME swap could strand the data under
    // the staging name with the live name dangling. The rename-aside
    // swap keeps the rows reachable under SOME name at every instant;
    // this simulates both crash points and shows the next invocation
    // self-heals.
    val base = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    Layout.writeBucketed(base, "orders_rec", "o_custkey", 4)
    val expected = base.count()
    // crash point 1: died between RENAME #1 and RENAME #2 — the live
    // name is gone, all rows sit under _old (and a stale staging table)
    Layout.writeBucketed(base.limit(10), "orders_rec_compacting",
      "o_custkey", 4)
    spark.sql("ALTER TABLE orders_rec RENAME TO orders_rec_old")
    assert(!spark.catalog.tableExists("orders_rec"))
    val (_, afterN) = Layout.compactBucketed(spark, "orders_rec",
      "o_custkey", 4)
    assert(afterN <= 4)
    assert(spark.table("orders_rec").count() == expected,
      "rollback must restore the FULL pre-swap table, not the staging stub")
    assert(!spark.catalog.tableExists("orders_rec_old"))
    assert(!spark.catalog.tableExists("orders_rec_compacting"))
    // crash point 2: died between RENAME #2 and the DROP — the live
    // name already holds the compacted data, _old is a leftover
    spark.sql("CREATE TABLE orders_rec_old AS SELECT * FROM orders_rec LIMIT 5")
    Layout.compactBucketed(spark, "orders_rec", "o_custkey", 4)
    assert(spark.table("orders_rec").count() == expected)
    assert(!spark.catalog.tableExists("orders_rec_old"))
  }

  test("retention purge: tombstoned probe equals a fresh build on the survivors; fold-compaction completes the delete") {
    // VERDICT r14 #1 — the full DELETE lifecycle: tombstone → purged
    // probe → compaction fold → probe again, value-pinned at each step
    val purged = q("q_dedup_index_purge").collect().map(_.toString).toSeq
    assert(purged.nonEmpty, "vacuous: purge probe found no pairs at all")
    // non-vacuity at the table level: the raw files still hold the
    // purged ids (delete was a sidecar append, not a rewrite) while
    // the purged read shows none
    val (gT, cT) = operators.StandingIndexes.Gram.purged(spark, sf)
    assert(spark.catalog.tableExists(gT + "_tomb"), "no tombstone sidecar")
    assert(spark.table(gT).filter(col("corpus_id") % 30 === 3).count() > 0,
      "fixture has no purgeable corpus docs — the test is vacuous")
    assert(Layout.readPurged(spark, gT, "corpus_id")
      .filter(col("corpus_id") % 30 === 3).count() == 0)
    // the purge contract: probe ≡ a FRESH index built over the
    // surviving corpus only (throwaway suffix — never the shared memo)
    val bk = Layout.bucketsFor(s"$sf/documents.parquet")
    val surv = operators.Pipeline
      .wordGrams3(Tables.spread(Tables.t(spark, sf, "documents"), "doc_id"))
      .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 30 =!= 3)
      .select(col("doc_id").as("corpus_id"), col("g"))
    Layout.writeBucketed(surv, "gram_surv_fresh", "g", bk)
    Layout.writeBucketed(
      Layout.readTable(spark, "gram_surv_fresh")
        .groupBy("corpus_id").agg(count(lit(1)).as("nc")),
      "gramcnt_surv_fresh", "corpus_id", bk)
    val fresh = operators.Pipeline.gramIndexProbeOn(spark, sf,
        Layout.readTable(spark, "gram_surv_fresh"),
        Layout.readTable(spark, "gramcnt_surv_fresh"),
        col("doc_id") % 10 === 0)
      .collect().map(_.toString).toSeq
    assert(purged == fresh, "purged probe diverged from a fresh survivor build")
    // compaction folds the tombstones: files back to one per bucket,
    // sidecar dropped, purged rows PHYSICALLY gone, probe unmoved
    val (b1, a1) = Layout.compactBucketed(spark, gT, "g", bk,
      foldTombstonesOn = Some("corpus_id"))
    val (b2, a2) = Layout.compactBucketed(spark, cT, "corpus_id", bk,
      foldTombstonesOn = Some("corpus_id"))
    assert(a1 <= bk && a2 <= bk, s"fold left $a1/$a2 files (buckets $bk)")
    assert(!spark.catalog.tableExists(gT + "_tomb"), "sidecar survived the fold")
    assert(!spark.catalog.tableExists(cT + "_tomb"), "sidecar survived the fold")
    assert(spark.table(gT).filter(col("corpus_id") % 30 === 3).count() == 0,
      "fold did not physically remove the tombstoned rows")
    val after = q("q_dedup_index_purge").collect().map(_.toString).toSeq
    assert(after == purged, "probe diverged across the fold compaction")
  }

  test("probe broadcast gate: forced-off fallback is value-identical and sheds every broadcast") {
    // VERDICT r14 nit / ADVICE r14: the index-probe batch sides are now
    // gated (Layout.probeSide) — this pins BOTH shapes on the gram and
    // embedding probes: values identical, and the fallback plan carries
    // no BroadcastHashJoin at all (every join in those probes is
    // merge-hinted once the gate trips)
    def innerPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case d: graft.plans.DeferredExec => d.body.inner
      }.head.toString
    }
    val baseGram = q("q_dedup_index_probe").collect().map(_.toString).toSeq
    val baseEmb = q("q_dedup_emb_index_probe").collect().map(_.toString).toSeq
    val baseIvf = q("q_similarity_ivf_index_probe").collect().map(_.toString).toSeq
    System.setProperty(Layout.forceProbeBroadcastProp, "off")
    try {
      val gram = q("q_dedup_index_probe")
      assert(gram.collect().map(_.toString).toSeq == baseGram,
        "gram probe diverged under the shuffle fallback")
      val pg = innerPlan(q("q_dedup_index_probe"))
      assert(!pg.contains("BroadcastHashJoin"),
        s"fallback still broadcasts:\n$pg")
      val emb = q("q_dedup_emb_index_probe")
      assert(emb.collect().map(_.toString).toSeq == baseEmb,
        "embedding probe diverged under the shuffle fallback")
      // IVF probe (round 17, VERDICT r16 #2): the nprobe-expanded probe
      // frame rides the same gate — value-identical under both shapes
      // (the surviving broadcast in this plan is the k-row centroid
      // crossJoin, which is not the gated side)
      val ivf = q("q_similarity_ivf_index_probe")
      assert(ivf.collect().map(_.toString).toSeq == baseIvf,
        "IVF probe diverged under the shuffle fallback")
    } finally System.clearProperty(Layout.forceProbeBroadcastProp)
    // and the file-stat default: every shipped fixture is under the cap
    assert(Layout.probeBroadcastOk(s"$sf/documents.parquet"))
    assert(!Layout.probeBroadcastOk(s"$sf/documents.parquet", capMB = 0))
  }

  test("compactBucketed detects a concurrent append and folds it into the rewrite") {
    // VERDICT r15 #2: an appendBucketed landing between the staging
    // build and the rename-aside swap used to be silently dropped with
    // `_old`. The drift detector re-lists the live table after each
    // staging build and rebuilds on change — the late append must
    // SURVIVE the compaction.
    val base = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val main = base.filter(col("o_orderkey") % 2 === 0)
    val late = base.filter(col("o_orderkey") % 2 =!= 0)
    Layout.writeBucketed(main, "orders_race", "o_custkey", 4)
    var fired = false
    val (_, afterN) = Layout.compactBucketed(spark, "orders_race",
      "o_custkey", 4, onStaged = () => {
        if (!fired) { // once — the retry's rebuild must then converge
          fired = true
          Layout.appendBucketed(late, "orders_race", "o_custkey", 4)
        }
      })
    assert(fired)
    assert(afterN <= 4, s"retry lost the one-file-per-bucket shape: $afterN")
    val back = Layout.readTable(spark, "orders_race")
    assert(back.count() == base.count(),
      "the append that landed during the rewrite was dropped at the swap")
    assert(back.exceptAll(base).isEmpty && base.exceptAll(back).isEmpty)
  }

  test("compactBucketed recovers an append landing between the final drift check and the swap") {
    // the residue window (round 16): a file appended AFTER the last
    // re-list but BEFORE the rename-aside travels into _old — its rows
    // are re-appended into the new table before _old drops, so the
    // happy-path lost-append window closes entirely
    val base = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val main = base.filter(col("o_orderkey") % 2 === 0)
    val late = base.filter(col("o_orderkey") % 2 =!= 0)
    Layout.writeBucketed(main, "orders_race2", "o_custkey", 4)
    var fired = false
    Layout.compactBucketed(spark, "orders_race2", "o_custkey", 4,
      onChecked = () => {
        if (!fired) {
          fired = true
          Layout.appendBucketed(late, "orders_race2", "o_custkey", 4)
        }
      })
    assert(fired)
    val back = Layout.readTable(spark, "orders_race2")
    assert(back.count() == base.count(),
      "the append that landed inside the swap window was dropped with _old")
    assert(back.exceptAll(base).isEmpty && base.exceptAll(back).isEmpty)
    assert(!spark.catalog.tableExists("orders_race2_old"))
    // layout still live after the recovery append
    val agg = back.groupBy("o_custkey").agg(count(lit(1)).as("n"))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("compactBucketed crash inside the swap recovers a swap-window append from the on-disk manifest") {
    // VERDICT r16 #5 / ADVICE r16: an append landing between the final
    // drift check and RENAME #1 combined with a CRASH before the
    // residue recovery used to lose the row (the checked listing lived
    // only in memory). The listing is now persisted as a manifest
    // before the swap; the next invocation replays the residue diff
    // from it before dropping _old.
    val base = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val main = base.filter(col("o_orderkey") % 2 === 0)
    val late = base.filter(col("o_orderkey") % 2 =!= 0)
    Layout.writeBucketed(main, "orders_crash", "o_custkey", 4)
    var fired = false
    val boom = intercept[RuntimeException] {
      Layout.compactBucketed(spark, "orders_crash", "o_custkey", 4,
        onChecked = () => {
          if (!fired) {
            fired = true
            Layout.appendBucketed(late, "orders_crash", "o_custkey", 4)
          }
        },
        onSwapped = () => throw new RuntimeException("simulated crash"))
    }
    assert(boom.getMessage == "simulated crash" && fired)
    // died with the live name on the compacted data, the missed append
    // stranded in _old, and the manifest on disk
    assert(spark.catalog.tableExists("orders_crash_old"))
    assert(Layout.readTable(spark, "orders_crash").count() == main.count())
    // next invocation recovers the row BEFORE dropping _old
    Layout.compactBucketed(spark, "orders_crash", "o_custkey", 4)
    val back = Layout.readTable(spark, "orders_crash")
    assert(back.count() == base.count(),
      "the swap-window append was lost across the crash")
    assert(back.exceptAll(base).isEmpty && base.exceptAll(back).isEmpty)
    assert(!spark.catalog.tableExists("orders_crash_old"))
  }

  test("fold's late-tombstone handling survives a purge landing after the swap (physical snapshot delete)") {
    // ADVICE r16 medium: the fold used to REWRITE the sidecar from a
    // post-swap file listing with mode("overwrite") — a purge
    // committing between that listing and the overwrite was deleted,
    // resurrecting its docs. The fold now physically removes exactly
    // the SNAPSHOT's files; a late purge's files are never touched.
    val base = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    Layout.writeBucketed(base, "orders_ltomb", "o_custkey", 4)
    val pre = base.filter(col("o_orderkey") % 10 === 1).select(col("o_orderkey"))
    val lateIds = base.filter(col("o_orderkey") % 10 === 2).select(col("o_orderkey"))
    assert(pre.count() > 0 && lateIds.count() > 0)
    Layout.tombstone("orders_ltomb", pre, "o_orderkey")
    Layout.compactBucketed(spark, "orders_ltomb", "o_custkey", 4,
      foldTombstonesOn = Some("o_orderkey"),
      onSwapped = () => Layout.tombstone("orders_ltomb", lateIds,
        "o_orderkey"))
    // snapshot ids physically folded away
    assert(Layout.readTable(spark, "orders_ltomb")
      .filter(col("o_orderkey") % 10 === 1).count() == 0)
    // the LATE purge survives in the sidecar (exactly its ids) and is
    // hidden from readers immediately
    assert(spark.catalog.tableExists("orders_ltomb_tomb"),
      "late purge's sidecar was dropped")
    val sidecar = spark.table("orders_ltomb_tomb")
      .collect().map(_.get(0).toString).toSet
    val want = lateIds.distinct().collect().map(_.get(0).toString).toSet
    assert(sidecar == want,
      s"sidecar holds ${sidecar.size} ids, expected the late purge's ${want.size}")
    assert(Layout.readPurged(spark, "orders_ltomb", "o_orderkey")
      .filter(col("o_orderkey") % 10 === 2).count() == 0)
  }

  test("compactBucketed fold preserves a tombstone landed during the rewrite") {
    // ADVICE r15: the fold used to drop the ENTIRE sidecar after the
    // swap, including tombstones appended after the staging copy was
    // read — a purge landing mid-fold resurrected its docs. The fold
    // now snapshots the sidecar's files: snapshot ids fold (physically
    // gone), later ids survive in the sidecar for readers + next fold.
    val base = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    Layout.writeBucketed(base, "orders_latetomb", "o_orderkey", 4)
    val early = base.filter(col("o_orderkey") % 5 === 0).select("o_orderkey")
    val lateIds = base.filter(col("o_orderkey") % 5 === 1).select("o_orderkey")
    Layout.tombstone("orders_latetomb", early, "o_orderkey")
    var fired = false
    Layout.compactBucketed(spark, "orders_latetomb", "o_orderkey", 4,
      foldTombstonesOn = Some("o_orderkey"), onStaged = () => {
        if (!fired) {
          fired = true
          Layout.tombstone("orders_latetomb", lateIds, "o_orderkey")
        }
      })
    assert(fired)
    // snapshot ids physically folded away
    assert(spark.table("orders_latetomb")
      .filter(col("o_orderkey") % 5 === 0).count() == 0,
      "fold did not remove the snapshotted tombstones")
    // the late purge survives: sidecar intact, reader still excludes it
    assert(spark.catalog.tableExists("orders_latetomb_tomb"),
      "the mid-fold purge was discarded with the sidecar")
    val sidecar = spark.table("orders_latetomb_tomb")
    assert(sidecar.exceptAll(lateIds).isEmpty &&
      lateIds.exceptAll(sidecar).isEmpty,
      "sidecar after the fold must hold exactly the late purge's ids")
    assert(Layout.readPurged(spark, "orders_latetomb", "o_orderkey")
      .filter(col("o_orderkey") % 5 === 1).count() == 0,
      "reader resurrected the mid-fold purge")
    // a SECOND fold (no concurrent purge) completes the delete
    Layout.compactBucketed(spark, "orders_latetomb", "o_orderkey", 4,
      foldTombstonesOn = Some("o_orderkey"))
    assert(!spark.catalog.tableExists("orders_latetomb_tomb"))
    assert(spark.table("orders_latetomb")
      .filter(col("o_orderkey") % 5 === 1).count() == 0)
    val expect = base.filter(col("o_orderkey") % 5 =!= 0 &&
      col("o_orderkey") % 5 =!= 1)
    val back = Layout.readTable(spark, "orders_latetomb")
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
  }

  test("readPurged tombstone gate: shuffled-hash fallback is value-identical") {
    // VERDICT r15 #3: the sidecar broadcast is now gated on the
    // sidecar's own landed bytes — a purge backlog degrades to a
    // shuffled hash anti-join instead of an executor OOM. Both shapes
    // must read identical survivor sets.
    val base = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    Layout.writeBucketed(base, "orders_tombgate", "o_orderkey", 4)
    Layout.tombstone("orders_tombgate",
      base.filter(col("o_orderkey") % 3 === 0).select("o_orderkey"),
      "o_orderkey")
    val bc = Layout.readPurged(spark, "orders_tombgate", "o_orderkey")
    assert(bc.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "gate should broadcast at test scale")
    val bcRows = bc.collect().map(_.toString).sorted.toSeq
    System.setProperty(Layout.forceTombBroadcastProp, "off")
    try {
      val sh = Layout.readPurged(spark, "orders_tombgate", "o_orderkey")
      assert(!sh.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"), "forced-off fallback still broadcasts")
      assert(sh.collect().map(_.toString).sorted.toSeq == bcRows,
        "fallback diverged from the broadcast shape")
    } finally System.clearProperty(Layout.forceTombBroadcastProp)
    // the file-stat default: a request-sized sidecar is under the cap
    assert(Layout.tombBroadcastOk(spark, "orders_tombgate"))
    assert(!Layout.tombBroadcastOk(spark, "orders_tombgate", capMB = 0))
  }

  test("probeBroadcastOk expansion factor tightens the gate for exploded frames") {
    // ADVICE r15: a gram-exploded frame is ~6-8x its source slice —
    // the expansion factor scales the stat so the 128 MB cap bounds
    // the FRAME, not the source
    val f = java.nio.file.Files.createTempFile("exp", ".bin")
    java.nio.file.Files.write(f, new Array[Byte](20 * 1024 * 1024))
    assert(Layout.probeBroadcastOk(f.toString, capMB = 128))
    assert(!Layout.probeBroadcastOk(f.toString, capMB = 128,
      expansion = Layout.gramExpansion),
      "a 20 MB source explodes past 128 MB at 8x — the gate must trip")
    java.nio.file.Files.delete(f)
  }

  test("purgeLanded: both gate shapes value-identical, counts from the rewrite, full purge leaves a readable tree") {
    import spark.implicits._
    def mkSink(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-purge")
        .resolve("sink").toString
      (1L to 100L).map(i => (i, i % 7, s"v$i"))
        .toDF("batch_id", "corpus_id", "v")
        .withColumn("micro_batch_id", (col("batch_id") % 3).cast("int"))
        .write.partitionBy("micro_batch_id").parquet(dir)
      dir
    }
    val ids = Seq(3L, 9L, 4L).toDF("id")
    def runWith(force: String): (String, (Long, Long)) = {
      val dir = mkSink()
      System.setProperty(Layout.forcePurgeBroadcastProp, force)
      try (dir, Layout.purgeLanded(spark, dir, ids,
        Seq("batch_id", "corpus_id"), Seq("micro_batch_id")))
      finally System.clearProperty(Layout.forcePurgeBroadcastProp)
    }
    val (dOn, cOn) = runWith("on")
    val (dOff, cOff) = runWith("off")
    assert(cOn == cOff, s"counts diverged across gate shapes: $cOn vs $cOff")
    assert(cOn._1 == 100L, "before-count must come from the rewrite's own scan")
    val rOn = spark.read.parquet(dOn).collect().map(_.toString).sorted.toSeq
    val rOff = spark.read.parquet(dOff).collect().map(_.toString).sorted.toSeq
    assert(rOn == rOff && rOn.size == cOn._2.toInt,
      "purged trees diverged across gate shapes")
    assert(rOn.forall(r => !r.contains("v3,") && !r.contains("v9,")),
      "erased rows survived the rewrite")
    // full purge (ADVICE r16): the swapped-in tree must stay READABLE
    val all = (1L to 100L).toDF("id")
    val (b2, a2) = Layout.purgeLanded(spark, dOn, all,
      Seq("batch_id", "corpus_id"), Seq("micro_batch_id"))
    assert(a2 == 0L && b2 == cOn._2)
    val empty = spark.read.parquet(dOn)
    assert(empty.count() == 0 &&
      empty.columns.toSet == Set("batch_id", "corpus_id", "v", "micro_batch_id"),
      "full purge left an unreadable or schema-less tree")
  }

  test("compact collapses a many-small-files dir preserving content") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val src = Tables.t(spark, sf, "lineitem")
    src.repartition(40).write.parquet(dir)
    val before = spark.read.parquet(dir)
    assert(before.inputFiles.length >= 40)
    val expected = before.count()
    Layout.compact(spark, dir, targetMB = 128)
    val after = spark.read.parquet(dir)
    assert(after.inputFiles.length <= 2, s"still ${after.inputFiles.length} files")
    assert(after.count() == expected)
  }

  test("compact recovers a crash between the two swap renames") {
    val dir = java.nio.file.Files.createTempDirectory("compactrec").toString + "/t"
    val src = Tables.t(spark, sf, "nation")
    src.repartition(4).write.parquet(dir)
    val expected = spark.read.parquet(dir).count()
    // simulate a compact that died after rename#1: data lives in .old,
    // the target dir is gone
    java.nio.file.Files.move(
      new java.io.File(dir).toPath, new java.io.File(dir + ".old").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    assert(!new java.io.File(dir).exists())
    Layout.compact(spark, dir, targetMB = 128)
    val after = spark.read.parquet(dir)
    assert(after.count() == expected)
    assert(!new java.io.File(dir + ".old").exists())
  }
}
