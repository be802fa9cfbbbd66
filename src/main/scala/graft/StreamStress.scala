package graft

import org.apache.spark.sql.functions._

import graft.Harness.{round2, secs, timed}
import graft.engine.Layout.dirBytes
import graft.engine.Leaves
import graft.streaming.StreamRunner

/** Streaming-at-scale harness (VERDICT r9 #7): all streaming evidence
  * through round 9 ran at sf0.001/sf0.01. This main drives the two
  * production streaming paths against a LARGE fixture (normally the
  * SfGen sf1 tree, 50k docs / 200k parts) and asserts the same
  * batch-equivalences the unit specs pin at toy scale:
  *
  *  1. incremental dedup: the crawl corpus lands as K files → K
  *     one-file micro-batches (maxFilesPerTrigger=1), each verdicted
  *     against the standing corpus; the union of per-batch outputs
  *     must EQUAL the all-at-once batch query (q_dedup_incremental) —
  *     exactAll both directions, not just counts;
  *  2. SCD2 snapshot ingest: the two-day tree folds through
  *     foreachBatch + versioned state one file per trigger; the final
  *     interval table must equal the drain-all-at-once ingest of the
  *     same tree (fresh state dirs both sides).
  *
  * One JSON line per scenario: wall seconds, batch counts, output /
  * state rows, and on-disk state+checkpoint bytes (the stream's
  * durable footprint — what a 100 TB deployment pays per day of
  * history). Usage: SPARK_GRAFT_SF_DIR=/tmp/graft_sf1
  * `sbt "runMain graft.StreamStress"`. */
object StreamStress {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val spark = Harness.session()
    val work = java.nio.file.Files.createTempDirectory("graft_streamstress")
      .toString

    // ---- 1. incremental dedup, K one-file micro-batches ----
    val docs = graft.engine.Tables.t(spark, sfDir, "documents")
    val nFiles = 5
    (0 until nFiles).foreach { i =>
      docs.filter(col("doc_id") % nFiles === i).coalesce(1)
        .write.mode("append").parquet(s"$work/crawl")
    }
    val (nBatches, dedupWall) = timed(StreamRunner.runIncrementalDedupChunked(
      spark, sfDir, s"$work/crawl", s"$work/dedup_out", s"$work/dedup_ckpt"))
    val streamed = spark.read.parquet(s"$work/dedup_out")
      .drop("micro_batch_id")
    val batch = SparkEntry.queries("q_dedup_incremental")(spark, sfDir)
    val nStream = streamed.count()
    val nBatchRows = batch.count()
    val diff = streamed.exceptAll(batch).count() +
      batch.exceptAll(streamed).count()
    require(nBatches >= nFiles, s"expected >= $nFiles micro-batches, got $nBatches")
    require(diff == 0 && nStream == nBatchRows && nStream > 0,
      s"stream/batch divergence: stream=$nStream batch=$nBatchRows diff=$diff")
    println(s"""{"scenario":"incremental_dedup","sf":"$sfDir","wall_sec":${
      round2(dedupWall)},"micro_batches":$nBatches,"verdict_rows":$nStream,""" +
      s""""batch_equal":true,"ckpt_bytes":${
        dirBytes(new java.io.File(s"$work/dedup_ckpt"))},"out_bytes":${
        dirBytes(new java.io.File(s"$work/dedup_out"))}}""")

    // ---- 1b. incremental dedup probing the STANDING PERSISTED INDEX ----
    // (round 14, VERDICT r13 #5 — the sf1 stress row for
    // runIncrementalDedupIndexed, previously exercised only at fixture
    // scale in StreamingSpec.) The standing corpus comes from the
    // bucketed gram index, built ONCE and timed separately; the stream
    // then probes it per micro-batch with zero index-side Exchange.
    // The honest comparison against scenario 1's wall: that one
    // re-tokenizes the whole corpus inside every micro-batch.
    val idxBuildWall =
      secs(graft.operators.StandingIndexes.Gram.standing(spark, sfDir))
    val dedupIdxWall = secs(StreamRunner.runIncrementalDedupIndexed(spark,
      sfDir, s"$work/dedupidx_out", s"$work/dedupidx_ckpt"))
    val streamedIdx = spark.read.parquet(s"$work/dedupidx_out")
      .drop("micro_batch_id")
    val batchIdx = SparkEntry.queries("q_dedup_index_probe")(spark, sfDir)
    val nStreamIdx = streamedIdx.count()
    val diffIdx = streamedIdx.exceptAll(batchIdx).count() +
      batchIdx.exceptAll(streamedIdx).count()
    require(diffIdx == 0 && nStreamIdx > 0 && nStreamIdx == batchIdx.count(),
      s"indexed stream/batch divergence: stream=$nStreamIdx diff=$diffIdx")
    println(s"""{"scenario":"incremental_dedup_indexed","sf":"$sfDir",""" +
      s""""wall_sec":${round2(dedupIdxWall)},"index_build_sec":${
        round2(idxBuildWall)},"recompute_wall_sec":${round2(dedupWall)},""" +
      s""""verdict_rows":$nStreamIdx,"batch_equal":true,"ckpt_bytes":${
        dirBytes(new java.io.File(s"$work/dedupidx_ckpt"))},"out_bytes":${
        dirBytes(new java.io.File(s"$work/dedupidx_out"))}}""")

    // ---- 1c. streaming EMBEDDING probe against the standing sign-LSH
    // index (round 14 — the third standing-index family's sf-scale
    // stress row). Embedding shards stream one file per trigger; each
    // micro-batch keeps its LOCAL top-50, and since any global-top-50
    // pair ranks at least as high within its own batch, one global
    // re-rank over the union must reproduce the batch query
    // row-for-row (the StreamingSpec superset argument, asserted here
    // at sf scale too — including order and every cosine bit).
    val em = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val nEmbFiles = 5
    (0 until nEmbFiles).foreach { i =>
      em.filter(col("vec_id") % nEmbFiles === i).coalesce(1)
        .write.mode("append").parquet(s"$work/embshard")
    }
    val embIdxBuildWall =
      secs(graft.operators.StandingIndexes.EmbLsh.standing(spark, sfDir))
    val (nEmbBatches, embWall) = timed(StreamRunner.runEmbProbeIndexed(spark,
      sfDir, s"$work/embshard", s"$work/embprobe_out", s"$work/embprobe_ckpt"))
    val unionTop = spark.read.parquet(s"$work/embprobe_out")
      .drop("micro_batch_id")
      .orderBy(desc("cos_sim"), col("batch_id"), col("corpus_id")).limit(50)
      .collect().map(_.toString).toSeq
    val batchTop = SparkEntry.queries("q_dedup_emb_index_probe")(spark, sfDir)
      .collect().map(_.toString).toSeq
    require(nEmbBatches >= nEmbFiles,
      s"expected >= $nEmbFiles embedding micro-batches, got $nEmbBatches")
    require(batchTop.nonEmpty && unionTop == batchTop,
      s"emb stream union re-rank diverged: ${unionTop.size} vs ${batchTop.size}")
    println(s"""{"scenario":"emb_probe_indexed","sf":"$sfDir","wall_sec":${
      round2(embWall)},"index_build_sec":${round2(embIdxBuildWall)},""" +
      s""""micro_batches":$nEmbBatches,"top50_equal":true,"ckpt_bytes":${
        dirBytes(new java.io.File(s"$work/embprobe_ckpt"))},"out_bytes":${
        dirBytes(new java.io.File(s"$work/embprobe_out"))}}""")

    // ---- 1d. the CLOSED probe→verdict→absorb loop (round 15, VERDICT
    // r14 #5): two crawl days stream through runProbeAbsorbLoop — each
    // micro-batch probes the standing gram index, lands verdicts, and
    // absorbs its keepers, so day 2 dedups against an index already
    // holding day 1's keepers. Equivalence at sf scale: the final
    // index AND the verdicts must equal a sequential chain built from
    // the BATCH primitives (gramIndexProbeOn + appendBucketed) on an
    // identical index copy.
    import graft.engine.Layout
    val bkLoop = Layout.bucketsFor(s"$sfDir/documents.parquet")
    def buildLoopIdx(sfx: String): (String, String) = {
      val (gT, cT) = (s"gram_loopstress_$sfx", s"gramcnt_loopstress_$sfx")
      Layout.writeBucketed(graft.operators.Pipeline
        .wordGrams3(docs.filter(col("doc_id") % 10 =!= 0))
        .select(col("doc_id").as("corpus_id"), col("g")), gT, "g", bkLoop)
      Layout.writeBucketed(Layout.readTable(spark, gT)
        .groupBy(col("corpus_id")).agg(count(lit(1)).as("nc")),
        cT, "corpus_id", bkLoop)
      (gT, cT)
    }
    val loopCrawl = s"$work/loopcrawl"
    docs.filter(col("doc_id") % 20 === 0).coalesce(1)
      .write.mode("append").parquet(loopCrawl)
    val tNow = System.currentTimeMillis()
    new java.io.File(loopCrawl).listFiles()
      .foreach(_.setLastModified(tNow - 120000))
    docs.filter(col("doc_id") % 20 === 10).coalesce(1)
      .write.mode("append").parquet(s"$work/loopday2")
    new java.io.File(s"$work/loopday2").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val dst = new java.io.File(loopCrawl, f.getName)
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(tNow)
      }
    val ((gS, cS), loopIdxWall) = timed(buildLoopIdx("s"))
    val (nLoop, loopWall) = timed(StreamRunner.runProbeAbsorbLoop(spark,
      sfDir, loopCrawl, gS, cS, bkLoop, s"$work/loop_out", s"$work/loop_ckpt"))
    require(nLoop >= 2, s"expected 2 one-file triggers, got $nLoop")
    val (gB, cB) = buildLoopIdx("b")
    val loopPreds = Seq(col("doc_id") % 20 === 0, col("doc_id") % 20 === 10)
    val (chainV, chainWall) = timed(loopPreds.flatMap { pred =>
      val v = Leaves.land(graft.operators.Pipeline.gramIndexProbeOn(spark, sfDir,
        Layout.readTable(spark, gB), Layout.readTable(spark, cB), pred))
      val keep = Leaves.land(graft.operators.Pipeline.wordGrams3(docs.filter(pred))
        .select(col("doc_id").as("corpus_id"), col("g"))
        .join(v.select(col("batch_id").as("corpus_id")).distinct(),
          Seq("corpus_id"), "left_anti"))
      Layout.appendBucketed(keep, gB, "g", bkLoop)
      Layout.appendBucketed(keep.groupBy(col("corpus_id"))
        .agg(count(lit(1)).as("nc")), cB, "corpus_id", bkLoop)
      v.collect().map(_.toString).toSeq
    })
    val loopV = spark.read.parquet(s"$work/loop_out").drop("micro_batch_id")
      .collect().map(_.toString).toSeq
    require(chainV.nonEmpty && loopV.sorted == chainV.sorted,
      s"loop verdicts diverged: ${loopV.size} vs ${chainV.size}")
    val gDiff = Layout.readTable(spark, gS)
      .exceptAll(Layout.readTable(spark, gB)).count() +
      Layout.readTable(spark, gB)
        .exceptAll(Layout.readTable(spark, gS)).count()
    require(gDiff == 0, s"loop index diverged from the batch chain: $gDiff")
    val absorbed = Layout.readTable(spark, cS)
      .filter(col("corpus_id") % 10 === 0).count()
    require(absorbed > 0, "loop absorbed nothing — the closed-loop claim is vacuous")
    println(s"""{"scenario":"probe_absorb_loop","sf":"$sfDir","wall_sec":${
      round2(loopWall)},"index_build_sec":${round2(loopIdxWall)},""" +
      s""""chain_wall_sec":${round2(chainWall)},"micro_batches":$nLoop,""" +
      s""""verdict_rows":${loopV.size},"absorbed_docs":$absorbed,""" +
      s""""chain_equal":true,"ckpt_bytes":${
        dirBytes(new java.io.File(s"$work/loop_ckpt"))}}""")

    // ---- 1e. the IVF loop WITH THE MAINTENANCE POLICY IN IT (round
    // 17, VERDICT r16 #3): the standing index is built over a 1/16
    // corpus slice, three quarter-corpus days stream through
    // runIvfProbeAbsorbLoop — the DEFAULT growth gauge trips after
    // day 1, reclusterIvf fires BETWEEN micro-batches (re-fitting AND
    // re-sizing the quantizer), and days 2-3 probe/absorb through the
    // repaired index. Equivalence at sf scale: per-batch verdicts and
    // the final quantizer/cells equal the sequential batch chain run
    // with the same primitives and the same policy.
    locally {
      val bkIvf = Layout.bucketsFor(s"$sfDir/embeddings.parquet")
      val dayPreds = Seq(
        col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 0,
        col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 2,
        col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 3)
      val crawl = new java.io.File(s"$work/ivfshards")
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
      val (tS, ivfIdxWall) = timed(graft.operators.Pipeline.buildIvfIndexOn(
        spark, sfDir, "_ivfstressS", _.filter(col("vec_id") % 16 === 1)))
      val ((tEnd, nIvfB, nRecl), ivfLoopWall) = timed(
        StreamRunner.runIvfProbeAbsorbLoop(spark, sfDir,
          crawl.getAbsolutePath, tS, bkIvf, s"$work/ivf_out",
          s"$work/ivf_ckpt", "_ivfstressS"))
      require(nIvfB >= dayPreds.size && nRecl >= 1 && tEnd != tS,
        s"ivf loop: $nIvfB batches, $nRecl reclusters — the policy " +
          "never fired mid-stream")
      var tC = graft.operators.Pipeline.buildIvfIndexOn(spark, sfDir,
        "_ivfstressC", _.filter(col("vec_id") % 16 === 1))
      val (chainV, ivfChainWall) = timed(dayPreds.zipWithIndex.map {
        case (p, i) =>
          val day = em.filter(p)
          val v = graft.operators.Pipeline.ivfIndexProbeOn(spark, tC, day,
            s"$sfDir/embeddings.parquet",
            excludeIds = Some(day.select(col("vec_id"))))
            .collect().map(_.toString).toSeq
          graft.operators.Pipeline.absorbIvfFrame(spark, tC, bkIvf,
            day.join(Layout.readTable(spark, tC._2)
                .select(col("corpus_id").as("vec_id")),
              Seq("vec_id"), "left_anti"))
          graft.operators.Pipeline.maybeReclusterIvf(spark, sfDir, tC,
            s"_ivfstressC_m$i").foreach(nt => tC = nt)
          v
      })
      chainV.zipWithIndex.foreach { case (v, i) =>
        val got = spark.read.parquet(s"$work/ivf_out/micro_batch_id=$i")
          .collect().map(_.toString).toSeq
        require(v.nonEmpty && got.sorted == v.sorted,
          s"ivf loop day $i verdicts diverged (${got.size} vs ${v.size})")
      }
      val cellsDiff = Layout.readTable(spark, tEnd._2)
        .exceptAll(Layout.readTable(spark, tC._2)).count() +
        Layout.readTable(spark, tC._2)
          .exceptAll(Layout.readTable(spark, tEnd._2)).count()
      require(cellsDiff == 0, s"ivf loop final cells diverged: $cellsDiff")
      val g = graft.operators.Pipeline.ivfDriftGauge(spark, tEnd).head()
      println(s"""{"scenario":"ivf_probe_absorb_maint_loop","sf":"$sfDir",""" +
        s""""wall_sec":${round2(ivfLoopWall)},"index_build_sec":${
          round2(ivfIdxWall)},"chain_wall_sec":${round2(ivfChainWall)},""" +
        s""""micro_batches":$nIvfB,"reclusters":$nRecl,""" +
        s""""post_repair_growth":${g.getAs[Double]("growth")},""" +
        s""""chain_equal":true,"ckpt_bytes":${
          dirBytes(new java.io.File(s"$work/ivf_ckpt"))}}""")
    }

    // ---- 2. SCD2 snapshot ingest, one file per trigger vs drain-all ----
    val base = graft.operators.Snapshots.snapshotBase(spark, sfDir)
    def ingest(tag: String, fpt: Option[Int]): (String, Double) =
      timed(StreamRunner.snapshotScd2Ingest(spark, base, s"$work/scd2_$tag", fpt))
    val (stateMulti, wallMulti) = ingest("multi", Some(1))
    val (stateOnce, wallOnce) = ingest("once", None)
    val like = spark.read.parquet(base)
      .select(col("p_partkey"), col("provider"), col("name"), col("price"))
    val m = StreamRunner.readScd2State(spark, stateMulti, like)
    val o = StreamRunner.readScd2State(spark, stateOnce, like)
    val nM = m.count()
    val scdDiff = m.exceptAll(o).count() + o.exceptAll(m).count()
    require(scdDiff == 0 && nM > 0 && nM == o.count(),
      s"SCD2 multi-batch vs drain-all divergence: $nM vs ${o.count()} diff=$scdDiff")
    println(s"""{"scenario":"scd2_ingest","sf":"$sfDir","wall_sec_multi":${
      round2(wallMulti)},"wall_sec_drain_all":${round2(wallOnce)},""" +
      s""""state_rows":$nM,"multi_equals_drain_all":true,"state_bytes":${
        dirBytes(new java.io.File(s"$work/scd2_multi/state"))},"ckpt_bytes":${
        dirBytes(new java.io.File(s"$work/scd2_multi/ckpt"))}}""")

    // ---- 3. watermarked stream-stream join, late clicks dropped ----
    // (VERDICT r10 #7.) The purchase-click interval join runs over the
    // FULL sf events table as 5 time-ordered tranches + one
    // deliberately held-back tranche of old clicks landed last — by
    // then both watermarks sit ~a month past those clicks' event
    // times, so the join must DROP them (bounded state is only real if
    // late data actually dies). Equivalence: stream output ==
    // batch join over (all purchases) × (on-time clicks), exactAll
    // both ways; the planted-late matches are asserted absent.
    val ev = Leaves.land(graft.engine.Tables.t(spark, sfDir, "events")
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts")))
    // 6-day tranches over the 30-day corpus, derived from the observed
    // minimum so the split is fixture-independent
    val ts0 = ev.agg(min(unix_timestamp(col("ts")))).head().getLong(0)
    val tranche = floor((unix_timestamp(col("ts")) - lit(ts0)) /
      lit(6L * 86400)).cast("int")
    val lateSel = tranche === 0 && col("event_type") === "click" &&
      pmod(col("user_id"), lit(7)) === 3
    val ssDir = s"$work/ssjoin_src"
    new java.io.File(ssDir).mkdirs()
    def land(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("ssland").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$ssDir/$name").toPath)
    }
    val src = spark.readStream.schema(ev.schema).parquet(ssDir)
    val (joinBatches, ssWall) = timed {
      val q = StreamRunner.purchaseClickJoin(src).writeStream
        .outputMode("append").format("memory").queryName("ss_join_stress")
        .option("checkpointLocation", s"$work/ssjoin_ckpt")
        .start()
      (0 until 5).foreach { i =>
        land(s"b$i.parquet",
          ev.filter(tranche === i && !lateSel))
        q.processAllAvailable() // explicit batch boundary per tranche
      }
      land("b5_late.parquet", ev.filter(lateSel)) // ~month-late clicks
      q.processAllAvailable()
      val n = q.lastProgress.batchId + 1
      q.stop()
      n
    }
    val out = spark.table("ss_join_stress")
    def batchJoin(clicks: org.apache.spark.sql.DataFrame) = {
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"))
      p.join(clicks.select(col("event_id").as("c_id"),
          col("user_id").as("c_user"), col("ts").as("c_ts")),
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"))
        .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"),
          col("c_ts"))
    }
    val expect = batchJoin(ev.filter(col("event_type") === "click" && !lateSel))
    val full = batchJoin(ev.filter(col("event_type") === "click"))
    val nOut = out.count()
    val nExpect = expect.count()
    val dropped = full.count() - nExpect
    val ssDiff = out.exceptAll(expect).count() + expect.exceptAll(out).count()
    require(ssDiff == 0 && nOut == nExpect && nOut > 0,
      s"stream-stream join divergence: stream=$nOut expect=$nExpect diff=$ssDiff")
    require(dropped > 0,
      "late-click tranche produced no droppable matches — the late-data " +
        "assertion is vacuous; widen the held-back slice")
    println(s"""{"scenario":"stream_stream_join","sf":"$sfDir","wall_sec":${
      round2(ssWall)},"micro_batches":$joinBatches,"join_rows":$nOut,""" +
      s""""late_matches_dropped":$dropped,"batch_equal":true,"ckpt_bytes":${
        dirBytes(new java.io.File(s"$work/ssjoin_ckpt"))},"state_bytes":${
        dirBytes(new java.io.File(s"$work/ssjoin_ckpt/state"))}}""")
    spark.stop()
  }
}
