package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamRunner

/** Batch/stream equivalence (SURVEY.md §5.5): the readStream pipelines
  * with watermarks, run to completion with Trigger.AvailableNow, must
  * agree with the batch window queries the DuckDB oracle checks. */
class StreamingSpec extends SparkTestBase {

  test("streaming tumbling window == batch q_stream_tumbling") {
    val stream = StreamRunner.runAvailableNow(spark,
      StreamRunner.tumblingHourly(StreamRunner.eventsStream(spark, sf)),
      "t_tumbling", "complete")
      .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
    val batch = q("q_stream_tumbling")
    assert(stream.count() == batch.count())
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("stream-static join: cohort enrichment == batch equivalent") {
    val batchEvents = graft.engine.Tables.t(spark, sf, "events")
    val userDim = batchEvents.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    val stream = StreamRunner.runAvailableNow(spark,
      StreamRunner.cohortEnriched(StreamRunner.eventsStream(spark, sf), userDim),
      "t_cohort_enriched", "complete")
    val batch = batchEvents.join(userDim, Seq("user_id"))
      .groupBy(col("cohort_day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(stream.count() == batch.count() && stream.count() > 0)
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("streaming session windows == batch q_stream_session (keys+counts)") {
    val stream = StreamRunner.runAvailableNow(spark,
      StreamRunner.sessions(StreamRunner.eventsStream(spark, sf)),
      "t_sessions", "complete")
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
    val batch = q("q_stream_session")
      .select(col("user_id"), col("session_start"), col("n_events"))
    assert(stream.count() == batch.count())
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("watermark drops data later than 1h across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("wm").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def landBatch(name: String, rows: Seq[(java.sql.Timestamp, Double)],
        mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("wmb").toString
      rows.toDF("ts", "value").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$dir/$name")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(mtime)
    }
    // batch 1 only: events in the 10:00 and 11:00 windows
    landBatch("b1.parquet", Seq(
      (ts("2024-01-01 10:05:00"), 1.0), (ts("2024-01-01 10:40:00"), 1.0),
      (ts("2024-01-01 11:30:00"), 1.0)), System.currentTimeMillis() - 60000)
    val stream = spark.readStream
      .schema("ts timestamp, value double")
      .parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("w.start").as("win_start"), col("n"), col("sv"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("t_wm").start()
    q.processAllAvailable() // batch 1 → watermark = 11:30 - 1h = 10:30
    // batch 2: one event >1h late (09:30 < wm 10:30) + fresh data
    landBatch("b2.parquet", Seq(
      (ts("2024-01-01 09:30:00"), 99.0), (ts("2024-01-01 12:10:00"), 1.0)),
      System.currentTimeMillis())
    q.processAllAvailable()
    q.stop()
    val out = spark.table("t_wm").collect()
      .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
    // the 10:00 window finalized with only batch-1 rows; the 99.0-valued
    // late event was dropped (no 09:00 window); 11:00/12:00 windows are
    // still open (end > wm 11:10) so append emitted nothing for them
    assert(out.keySet == Set("2024-01-01 10:00:00.0"), out.toString)
    assert(out("2024-01-01 10:00:00.0") == ((2L, 2.0)), out.toString)
  }

  test("stream-stream interval join == batch join (clicks within 1h before purchase)") {
    val stream = StreamRunner.runAvailableNow(spark,
      StreamRunner.purchaseClickJoin(StreamRunner.eventsStream(spark, sf)),
      "t_ssjoin", "append")
    val ev = graft.engine.Tables.t(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val batch = p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("user_id"),
        col("p_ts").cast("timestamp").as("p_ts"),
        col("c_id"), col("c_ts").cast("timestamp").as("c_ts"))
    assert(stream.count() == batch.count())
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("streaming dedup drops within-watermark duplicates across batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sdedup").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def land(name: String, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("sdb").toString
      rows.toDF("doc_key", "ts").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$dir/$name").toPath)
    }
    // batch 1: key 1 twice (in-batch dup), key 2 once
    land("b1.parquet", Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:10:00")),
      (2L, ts("2024-01-01 10:20:00"))))
    val stream = StreamRunner.dedupWithinWatermark(
      spark.readStream.schema("doc_key long, ts timestamp").parquet(dir).toDF(),
      Seq("doc_key"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("t_sdedup").start()
    q.processAllAvailable()
    // batch 2: key 1 re-sent within the watermark horizon + a fresh key
    land("b2.parquet", Seq(
      (1L, ts("2024-01-01 10:30:00")), (3L, ts("2024-01-01 10:40:00"))))
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("t_sdedup").collect().map(_.getLong(0)).sorted
    assert(keys.toSeq == Seq(1L, 2L, 3L), keys.mkString(","))
  }

  test("flatMapGroupsWithState carries per-user state across micro-batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fmgs").toString
    def land(name: String, rows: Seq[(Long, Double)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("fmgsb").toString
      rows.toDF("user_id", "value").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$dir/$name").toPath)
    }
    land("b1.parquet", Seq((1L, 10.0), (1L, 5.0), (2L, 1.0)))
    val stream = StreamRunner.runningUserStats(
      spark.readStream.schema("user_id long, value double").parquet(dir).toDF())
    val q = stream.toDF().writeStream.outputMode("append")
      .format("memory").queryName("t_fmgs").start()
    q.processAllAvailable()
    land("b2.parquet", Seq((1L, 100.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_fmgs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // user 1: batch1 emits (n=2,sum=15), batch2 emits cumulative (n=3,sum=115)
    assert(rows.toSet == Set((1L, 2L, 15.0, 2L), (2L, 1L, 1.0, 1L),
      (1L, 3L, 115.0, 1L)), rows.mkString(", "))
  }

  test("transformWithState matches flatMapGroupsWithState across batches") {
    import spark.implicits._
    val saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = java.nio.file.Files.createTempDirectory("tws").toString
      def land(name: String, rows: Seq[(Long, Double)]): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("twsb").toString
        rows.toDF("user_id", "value").coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(s"$dir/$name").toPath)
      }
      land("b1.parquet", Seq((1L, 10.0), (1L, 5.0), (2L, 1.0)))
      val stream = StreamRunner.runningUserStatsTws(
        spark.readStream.schema("user_id long, value double").parquet(dir).toDF())
      val q = stream.toDF().writeStream.outputMode("append")
        .format("memory").queryName("t_tws").start()
      q.processAllAvailable()
      land("b2.parquet", Seq((1L, 100.0)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("t_tws").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(rows.toSet == Set((1L, 2L, 15.0, 2L), (2L, 1L, 1.0, 1L),
        (1L, 3L, 115.0, 1L)), rows.mkString(", "))
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)
  }

  test("foreachBatch parquet sink lands the stream incrementally") {
    val tmp = java.nio.file.Files.createTempDirectory("sink").toString
    StreamRunner.runForeachBatchParquet(
      StreamRunner.eventsStream(spark, sf)
        .withWatermark("ts", "1 hour")
        .select(col("event_id"), col("ts"), col("user_id")),
      s"$tmp/out", s"$tmp/ckpt")
    val landed = spark.read.parquet(s"$tmp/out")
    assert(landed.count() ==
      graft.engine.Tables.t(spark, sf, "events").count())
  }

  test("snapshot-tree SCD2 ingest lands day-by-day and matches a hand replay") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("snapscd2").toString
    val base = s"$tmp/base"; val work = s"$tmp/work"
    def snap(rows: Seq[(Long, String, Double)]) =
      rows.toDF("p_partkey", "name", "price").withColumn("provider", lit("pX"))
    // day 1: k1 unchanged forever, k2 will be repriced, k3 will vanish
    graft.catalog.Catalog.writeSnapshot(
      snap(Seq((1L, "one", 10.0), (2L, "two", 20.0), (3L, "three", 30.0))),
      base, "2025-06-01")
    StreamRunner.snapshotScd2Ingest(spark, base, work)
    val after1 = StreamRunner.readScd2State(spark, s"$work/state", snap(Nil)).collect()
    assert(after1.length == 3 && after1.forall(_.isNullAt(5)), "day 1: 3 open intervals")
    // day 2 lands AFTER the first run: k2 repriced, k3 gone, k4 new
    graft.catalog.Catalog.writeSnapshot(
      snap(Seq((1L, "one", 10.0), (2L, "two", 25.0), (4L, "four", 40.0))),
      base, "2025-06-02")
    StreamRunner.snapshotScd2Ingest(spark, base, work)
    val got = StreamRunner.readScd2State(spark, s"$work/state", snap(Nil))
      .select(col("p_partkey"), col("name"), col("price"),
        col("valid_from").cast("string"), col("valid_to").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), Option(r.getString(4)))).toSet
    val expected = Set(
      (1L, "one", 10.0, "2025-06-01", None),                  // unchanged, still open
      (2L, "two", 20.0, "2025-06-01", Some("2025-06-02")),    // closed by reprice
      (2L, "two", 25.0, "2025-06-02", None),                  // new open version
      (3L, "three", 30.0, "2025-06-01", Some("2025-06-02")),  // delisted
      (4L, "four", 40.0, "2025-06-02", None))                 // newly listed
    assert(got == expected)
    // checkpoint idempotency: a third run with nothing new commits nothing
    val versions = new java.io.File(s"$work/state").listFiles()
      .count(_.getName.matches("v\\d+"))
    StreamRunner.snapshotScd2Ingest(spark, base, work)
    assert(new java.io.File(s"$work/state").listFiles()
      .count(_.getName.matches("v\\d+")) == versions, "no-op run must not add a version")
  }

  test("streaming incremental dedup probing the STANDING INDEX == batch q_dedup_incremental") {
    // round 13 (VERDICT r12 #6, streaming half): the corpus is read
    // from the persisted bucketed gram index — never re-signed inside
    // the stream — and the verdicts must still equal the recompute form
    val work = java.nio.file.Files
      .createTempDirectory("graft-incdedup-idx").toString
    StreamRunner.runIncrementalDedupIndexed(spark, sf,
      s"$work/out", s"$work/ckpt")
    val stream = spark.read.parquet(s"$work/out").drop("micro_batch_id")
    val batch = q("q_dedup_incremental")
    assert(stream.count() == batch.count() && stream.count() > 0)
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("streaming embedding probe composes to batch q_dedup_emb_index_probe " +
      "across >=3 micro-batches") {
    // round 14, the embedding family's streaming half: per-batch
    // top-50s are a superset of the global top-50's members (a pair's
    // rank within its own micro-batch is at least its global rank), so
    // a single global re-rank over the union must reproduce the batch
    // query row-for-row — including order and every cosine bit
    val work = java.nio.file.Files
      .createTempDirectory("graft-embprobe").toString
    val em = graft.engine.Tables.t(spark, sf, "embeddings")
    (0 until 3).foreach { i =>
      em.filter(col("vec_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$work/shard")
    }
    val n = StreamRunner.runEmbProbeIndexed(spark, sf,
      s"$work/shard", s"$work/out", s"$work/ckpt")
    assert(n >= 3, s"expected >=3 micro-batches, got $n")
    val union = spark.read.parquet(s"$work/out").drop("micro_batch_id")
    val global = union
      .orderBy(desc("cos_sim"), col("batch_id"), col("corpus_id")).limit(50)
      .collect().map(_.toString).toSeq
    val batchQ = q("q_dedup_emb_index_probe")
      .collect().map(_.toString).toSeq
    assert(batchQ.nonEmpty, "vacuous: batch probe returned no pairs")
    assert(global == batchQ,
      s"stream union re-rank diverged: ${global.size} vs ${batchQ.size} rows")
  }

  test("incremental dedup verdicts compose across >=3 micro-batches " +
      "(maxFilesPerTrigger=1)") {
    val work = java.nio.file.Files
      .createTempDirectory("graft-incdedup-multi").toString
    val docs = graft.engine.Tables.t(spark, sf, "documents")
    // land the crawl as three separate files => three one-file triggers
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("append").parquet(s"$work/crawl")
    }
    val n = StreamRunner.runIncrementalDedupChunked(spark, sf,
      s"$work/crawl", s"$work/out", s"$work/ckpt")
    assert(n >= 3, s"expected >=3 micro-batches, got $n")
    // stateless per-doc verdicts: the union of per-batch outputs must
    // EQUAL the all-at-once batch query — micro-batch boundaries are
    // semantically invisible (micro_batch_id is the replay-idempotence
    // partition column, not part of the verdict)
    val stream = spark.read.parquet(s"$work/out").drop("micro_batch_id")
    val batch = q("q_dedup_incremental")
    assert(stream.count() == batch.count() && stream.count() > 0)
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)

    // at-least-once replay (ADVICE r9): re-writing a micro-batch's
    // verdicts under the same id must REPLACE its partition, not append
    // a duplicate copy — foreachBatch retries are exactly this
    val verdicts = StreamRunner.incrementalDedupVerdicts(
      docs.filter(col("doc_id") % 3 === 0), docs)
    val replayDir = s"$work/replay"
    StreamRunner.writeVerdictBatch(verdicts, replayDir, 7L)
    val once = spark.read.parquet(replayDir).count()
    StreamRunner.writeVerdictBatch(verdicts, replayDir, 7L) // the retry
    assert(spark.read.parquet(replayDir).count() == once && once > 0,
      "foreachBatch replay duplicated verdict rows")
  }

  test("snapshot SCD2 ingest folds >=3 one-day micro-batches to the " +
      "single-batch state (maxFilesPerTrigger=1)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("snapscd2multi").toString
    def snap(rows: Seq[(Long, String, Double)]) =
      rows.toDF("p_partkey", "name", "price")
        .withColumn("provider", lit("pX")).coalesce(1) // one file per day
    val days = Seq(
      "2025-06-01" -> Seq((1L, "one", 10.0), (2L, "two", 20.0), (3L, "three", 30.0)),
      "2025-06-02" -> Seq((1L, "one", 10.0), (2L, "two", 25.0), (4L, "four", 40.0)),
      "2025-06-03" -> Seq((1L, "one", 11.0), (2L, "two", 25.0), (4L, "four", 40.0)))
    def ingest(work: String, fpt: Option[Int]): Set[(Long, String, Double, String, Option[String])] = {
      StreamRunner.snapshotScd2Ingest(spark, s"$tmp/base", work, fpt)
      StreamRunner.readScd2State(spark, s"$work/state", snap(Nil))
        .select(col("p_partkey"), col("name"), col("price"),
          col("valid_from").cast("string"), col("valid_to").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getString(3), Option(r.getString(4)))).toSet
    }
    days.foreach { case (d, rows) =>
      graft.catalog.Catalog.writeSnapshot(snap(rows), s"$tmp/base", d)
    }
    // chunked: three days drain as three one-file micro-batches in ONE
    // AvailableNow run; state folds per batch, dates stay ordered
    val chunked = ingest(s"$tmp/chunked", Some(1))
    val single = ingest(s"$tmp/single", None)
    assert(chunked == single, "per-batch folds must compose to the single-batch state")
    assert(chunked.nonEmpty && chunked.exists(_._5.isDefined), "some interval closed")
    // the chunked run committed one state version PER DAY
    val versions = new java.io.File(s"$tmp/chunked/state").listFiles()
      .count(_.getName.matches("v\\d+"))
    assert(versions == days.length, s"expected ${days.length} state versions, got $versions")
  }

  test("probe→verdict→absorb loop: stream equals the sequential batch chain; replay is a no-op; half-commit heals") {
    // VERDICT r14 #5 — the closed daily loop in one stream. Two crawl
    // days land as two one-file triggers IN ORDER (mtimes force the
    // file-stream ordering); the streaming loop's verdicts AND its
    // final index must equal a sequential chain built from the BATCH
    // primitives (gramIndexProbeOn + appendBucketed) — different
    // machinery, same bytes.
    import graft.engine.{Layout, Tables}
    val work = java.nio.file.Files
      .createTempDirectory("graft-loopdedup").toString
    val docs = Tables.t(spark, sf, "documents")
    val bk = Layout.bucketsFor(s"$sf/documents.parquet")
    def buildIdx(sfx: String): (String, String) = {
      val (gT, cT) = (s"gram_loop_$sfx", s"gramcnt_loop_$sfx")
      val corpus = operators.Pipeline
        .wordGrams3(docs.filter(col("doc_id") % 10 =!= 0))
        .select(col("doc_id").as("corpus_id"), col("g"))
      Layout.writeBucketed(corpus, gT, "g", bk)
      Layout.writeBucketed(Layout.readTable(spark, gT)
        .groupBy(col("corpus_id")).agg(count(lit(1)).as("nc")),
        cT, "corpus_id", bk)
      (gT, cT)
    }
    // crawl files: day 1 = %20==0, day 2 = %20==10, mtime-ordered
    val crawl = s"$work/crawl"
    docs.filter(col("doc_id") % 20 === 0).coalesce(1)
      .write.mode("append").parquet(crawl)
    val t0 = System.currentTimeMillis()
    new java.io.File(crawl).listFiles().foreach(_.setLastModified(t0 - 120000))
    docs.filter(col("doc_id") % 20 === 10).coalesce(1)
      .write.mode("append").parquet(s"$work/day2")
    new java.io.File(s"$work/day2").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        val dst = new java.io.File(crawl, f.getName)
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(t0)
      }
    val (gS, cS) = buildIdx("s")
    val n = StreamRunner.runProbeAbsorbLoop(spark, sf, crawl, gS, cS, bk,
      s"$work/out", s"$work/ckpt")
    assert(n >= 2, s"expected 2 one-file triggers, got $n")
    // sequential reference: batch primitives on an identical index copy
    val (gB, cB) = buildIdx("b")
    def batchDay(pred: org.apache.spark.sql.Column): Seq[String] = {
      val day = docs.filter(pred)
      val dayIds = day.select(col("doc_id").as("corpus_id")).distinct()
      val v = operators.Pipeline.gramIndexProbeOn(spark, sf,
        Layout.readTable(spark, gB), Layout.readTable(spark, cB), pred)
        .collect().map(_.toString).toSeq
      val dup = operators.Pipeline.gramIndexProbeOn(spark, sf,
          Layout.readTable(spark, gB), Layout.readTable(spark, cB), pred)
        .select(col("batch_id").as("corpus_id")).distinct()
      val keep = operators.Pipeline.wordGrams3(day)
        .select(col("doc_id").as("corpus_id"), col("g"))
        .join(dup, Seq("corpus_id"), "left_anti").localCheckpoint()
      Layout.appendBucketed(keep, gB, "g", bk)
      Layout.appendBucketed(keep.groupBy(col("corpus_id"))
        .agg(count(lit(1)).as("nc")), cB, "corpus_id", bk)
      v
    }
    val v1 = batchDay(col("doc_id") % 20 === 0)
    val v2 = batchDay(col("doc_id") % 20 === 10)
    assert((v1 ++ v2).nonEmpty, "vacuous: no verdicts in either day")
    val streamV = spark.read.parquet(s"$work/out").drop("micro_batch_id")
      .orderBy(col("batch_id"), col("corpus_id"))
      .collect().map(_.toString).toSeq
    assert(streamV == (v1 ++ v2).sorted || streamV.sorted == (v1 ++ v2).sorted,
      s"stream verdicts diverged: ${streamV.size} vs ${(v1 ++ v2).size}")
    // day-2 verdicts really saw day-1's keepers (the loop is CLOSED):
    // at least one verdict pairs a day-2 doc against an absorbed
    // day-1 doc, or — if the fixture plants none — the index tables
    // must still be equal, which is the binding assertion below
    def tbl(t: String) = Layout.readTable(spark, t)
    assert(tbl(gS).exceptAll(tbl(gB)).isEmpty &&
      tbl(gB).exceptAll(tbl(gS)).isEmpty, "gram tables diverged")
    assert(tbl(cS).exceptAll(tbl(cB)).isEmpty &&
      tbl(cB).exceptAll(tbl(cS)).isEmpty, "count tables diverged")
    // absorb is live: day-1 keepers are IN the stream's index
    assert(tbl(cS).filter(col("corpus_id") % 20 === 0).count() > 0)

    // a second run on the drained checkpoint processes no batch and
    // leaves the verdict sink and both index tables unchanged
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val sinkBefore = rows(spark.read.parquet(s"$work/out"))
    val idxBefore = (rows(tbl(gS)), rows(tbl(cS)))
    assert(StreamRunner.runProbeAbsorbLoop(spark, sf, crawl, gS, cS, bk,
      s"$work/out", s"$work/ckpt") == 0, "drained checkpoint re-ran a batch")
    assert(rows(spark.read.parquet(s"$work/out")) == sinkBefore,
      "re-run on a drained checkpoint changed the verdict sink")
    assert((rows(tbl(gS)), rows(tbl(cS))) == idxBefore,
      "re-run on a drained checkpoint changed the index")

    // replay of a completed batch is a no-op (verdict partition
    // overwritten identically, index untouched)
    val before = (tbl(gS).count(), tbl(cS).count())
    StreamRunner.probeAbsorbStep(spark, gS, cS, bk,
      docs.filter(col("doc_id") % 20 === 0), s"$work/out", 0L,
      s"$sf/documents.parquet")
    assert((tbl(gS).count(), tbl(cS).count()) == before,
      "replay of a committed batch mutated the index")
    val replayV = spark.read.parquet(s"$work/out").drop("micro_batch_id")
      .orderBy(col("batch_id"), col("corpus_id"))
      .collect().map(_.toString).toSeq
    assert(replayV == streamV, "replay rewrote different verdicts")

    // half-commit heal: grams landed, counts did not, crash, replay —
    // the replay appends ONLY the missing counts (derived from the
    // landed grams) and the final state equals the clean chain's day-1
    val (gH, cH) = buildIdx("h")
    val day1 = docs.filter(col("doc_id") % 20 === 0)
    StreamRunner.probeAbsorbStep(spark, gH, cH, bk, day1,
      s"$work/outh", 0L, s"$sf/documents.parquet")
    val cleanState = (tbl(gH).count(), tbl(cH).count())
    val (gX, cX) = buildIdx("x")
    // simulate the crash: verdicts + gram append landed, counts missing
    val vX = spark.read.parquet(s"$work/outh/micro_batch_id=0")
    StreamRunner.writeVerdictBatch(vX, s"$work/outx", 0L)
    val dupX = vX.select(col("batch_id").as("corpus_id")).distinct()
    val keepX = operators.Pipeline.wordGrams3(day1)
      .select(col("doc_id").as("corpus_id"), col("g"))
      .join(dupX, Seq("corpus_id"), "left_anti").localCheckpoint()
    Layout.appendBucketed(keepX, gX, "g", bk)
    // the replay heals
    StreamRunner.probeAbsorbStep(spark, gX, cX, bk, day1,
      s"$work/outx", 0L, s"$sf/documents.parquet")
    assert((tbl(gX).count(), tbl(cX).count()) == cleanState,
      "half-commit replay did not converge to the clean state")
    assert(tbl(cX).exceptAll(tbl(cH)).isEmpty &&
      tbl(cH).exceptAll(tbl(cX)).isEmpty,
      "healed counts differ from a clean run")
    assert(tbl(cX).groupBy(col("corpus_id")).agg(count(lit(1)).as("k"))
      .filter(col("k") > 1).count() == 0, "healed counts duplicated a doc")

    // re-ingest guard (ADVICE r15): the SAME docs arriving again as a
    // LATER micro-batch (fresh batch id — not a replay) must not
    // re-absorb: the self-exclusion anti-join hides their own absorbed
    // copies from the probe, so without the landed-count guard they
    // would append duplicate gram rows and a second nc row per doc
    val (gR, cR) = buildIdx("r")
    StreamRunner.probeAbsorbStep(spark, gR, cR, bk, day1,
      s"$work/outr", 0L, s"$sf/documents.parquet")
    val absorbed = (tbl(gR).count(), tbl(cR).count())
    StreamRunner.probeAbsorbStep(spark, gR, cR, bk, day1,
      s"$work/outr", 1L, s"$sf/documents.parquet")
    assert((tbl(gR).count(), tbl(cR).count()) == absorbed,
      "re-ingested batch re-absorbed into the index")
    assert(tbl(cR).groupBy(col("corpus_id")).agg(count(lit(1)).as("k"))
      .filter(col("k") > 1).count() == 0,
      "re-ingest landed a second count row for an absorbed doc")
    // its verdicts still land (fresh partition) and are deterministic:
    // index minus the batch's own ids is exactly the day-0 view
    def part(i: Long) = spark.read
      .parquet(s"$work/outr/micro_batch_id=$i").drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    assert(part(1L) == part(0L),
      "re-ingest probe verdicts diverged from the original batch")
  }

  test("purge-through: an erased doc vanishes from the landed verdict sink, equal to re-running on the surviving stream") {
    // VERDICT r15 #4 — the retention contract extended one layer down:
    // tombstoning the indexes is not enough when the loop already
    // SHIPPED verdict rows mentioning the erased doc. purgeThrough
    // rewrites the sink; for a never-absorbed doc the result must be
    // byte-equal to having run the whole loop on the surviving stream.
    import graft.engine.{Layout, Tables}
    val work = java.nio.file.Files
      .createTempDirectory("graft-purgethrough").toString
    val docs = Tables.t(spark, sf, "documents")
    val bk = Layout.bucketsFor(s"$sf/documents.parquet")
    def buildIdx(sfx: String): (String, String) = {
      val (gT, cT) = (s"gram_pt_$sfx", s"gramcnt_pt_$sfx")
      val corpus = operators.Pipeline
        .wordGrams3(docs.filter(col("doc_id") % 10 =!= 0))
        .select(col("doc_id").as("corpus_id"), col("g"))
      Layout.writeBucketed(corpus, gT, "g", bk)
      Layout.writeBucketed(Layout.readTable(spark, gT)
        .groupBy(col("corpus_id")).agg(count(lit(1)).as("nc")),
        cT, "corpus_id", bk)
      (gT, cT)
    }
    def mkCrawl(dir: String, dropId: Long): Unit = {
      val t0 = System.currentTimeMillis()
      docs.filter(col("doc_id") % 20 === 0 && col("doc_id") =!= dropId)
        .coalesce(1).write.mode("append").parquet(dir)
      new java.io.File(dir).listFiles().foreach(_.setLastModified(t0 - 120000))
      docs.filter(col("doc_id") % 20 === 10 && col("doc_id") =!= dropId)
        .coalesce(1).write.mode("append").parquet(s"$dir.d2")
      new java.io.File(s"$dir.d2").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val dst = new java.io.File(dir, f.getName)
          java.nio.file.Files.move(f.toPath, dst.toPath)
          dst.setLastModified(t0)
        }
    }
    val (g1, c1) = buildIdx("full")
    mkCrawl(s"$work/crawl1", -1L)
    StreamRunner.runProbeAbsorbLoop(spark, sf, s"$work/crawl1", g1, c1, bk,
      s"$work/out1", s"$work/ck1")
    val v0 = spark.read.parquet(s"$work/out1")
    assert(v0.count() > 0, "vacuous: the loop landed no verdicts")
    // the erasure target: a verdicted batch doc — dup, so never absorbed
    val e = v0.select(col("batch_id")).orderBy(col("batch_id"))
      .head().getLong(0)
    assert(Layout.readTable(spark, c1)
      .filter(col("corpus_id") === e).count() == 0,
      "fixture drift: the chosen doc was absorbed — pick a dup")
    val ids = spark.range(1).select(lit(e).as("doc_id"))
    val (nb0, nb1) = StreamRunner.purgeThrough(spark, g1, c1,
      s"$work/out1", ids)
    assert(nb1 < nb0, "purge-through removed nothing")
    val purgedSink = spark.read.parquet(s"$work/out1")
    assert(purgedSink.filter(col("batch_id") === e ||
      col("corpus_id") === e).count() == 0,
      "a landed row still mentions the erased doc")
    // recompute reference: fresh index, the surviving stream
    val (g2, c2) = buildIdx("surv")
    mkCrawl(s"$work/crawl2", e)
    StreamRunner.runProbeAbsorbLoop(spark, sf, s"$work/crawl2", g2, c2, bk,
      s"$work/out2", s"$work/ck2")
    val ref = spark.read.parquet(s"$work/out2")
    assert(purgedSink.exceptAll(ref).isEmpty &&
      ref.exceptAll(purgedSink).isEmpty,
      "purged sink diverged from the surviving-stream recompute")
    // and the purge-aware index reads equal the recompute's raw tables
    assert(Layout.readPurged(spark, g1, "corpus_id")
      .exceptAll(Layout.readTable(spark, g2)).isEmpty,
      "purged gram read diverged from the survivor rebuild")
    assert(Layout.readPurged(spark, c1, "corpus_id")
      .exceptAll(Layout.readTable(spark, c2)).isEmpty,
      "purged count read diverged from the survivor rebuild")
  }

  private def buildLoopIdx(sfx: String): (String, String) = {
    import graft.engine.{Layout, Tables}
    val docs = Tables.t(spark, sf, "documents")
    val bk = Layout.bucketsFor(s"$sf/documents.parquet")
    val (gT, cT) = (s"gram_sx_$sfx", s"gramcnt_sx_$sfx")
    Layout.writeBucketed(operators.Pipeline
      .wordGrams3(docs.filter(col("doc_id") % 10 =!= 0))
      .select(col("doc_id").as("corpus_id"), col("g")), gT, "g", bk)
    Layout.writeBucketed(Layout.readTable(spark, gT)
      .groupBy(col("corpus_id")).agg(count(lit(1)).as("nc")),
      cT, "corpus_id", bk)
    (gT, cT)
  }

  /** One synthetic planted doc in the documents schema. */
  private def plant(id: Long, text: String) =
    spark.range(1).select(lit(id).as("doc_id"), lit(text).as("text"),
      lit("en").as("lang"), lit("planted").as("source"),
      lit(text.length.toLong).as("n_chars"))

  test("absorbed-doc erasure: recomputeAfterErasure ≡ the loop re-run on the surviving stream (keep decisions flip back)") {
    // VERDICT r16 #4 — the value-level half of the retention story.
    // Planted chain: X (day 1) is token-unique -> ABSORBED; Y (day 2)
    // near-dups X and ONLY X (5 of its 7 grams, jac 0.714) -> verdicted
    // dup, never absorbed. Erasing X must drop every row mentioning it
    // (purgeThrough's job) AND resurrect Y into the index (Y's keep
    // decision depended on X's presence) — the effect purgeThrough
    // alone documents away.
    import graft.engine.{Layout, Tables}
    val work = java.nio.file.Files
      .createTempDirectory("graft-recompute").toString
    val docs = Tables.t(spark, sf, "documents")
    val bk = Layout.bucketsFor(s"$sf/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val xId = maxId + 1
    val yId = maxId + 2
    val xText = "zqa zqb zqc zqd zqe zqf zqg zqh"
    val yText = "zqa zqb zqc zqd zqe zqf zqg zqi"
    def mkCrawl(dir: String, dropX: Boolean): Unit = {
      val t0 = System.currentTimeMillis()
      val d1base = docs.filter(col("doc_id") % 20 === 0)
      (if (dropX) d1base else d1base.unionByName(plant(xId, xText)))
        .coalesce(1).write.mode("append").parquet(dir)
      new java.io.File(dir).listFiles().foreach(_.setLastModified(t0 - 120000))
      docs.filter(col("doc_id") % 20 === 10).unionByName(plant(yId, yText))
        .coalesce(1).write.mode("append").parquet(s"$dir.d2")
      new java.io.File(s"$dir.d2").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val dst = new java.io.File(dir, f.getName)
          java.nio.file.Files.move(f.toPath, dst.toPath)
          dst.setLastModified(t0)
        }
    }
    val (g1, c1) = buildLoopIdx("rcF")
    mkCrawl(s"$work/crawl1", dropX = false)
    StreamRunner.runProbeAbsorbLoop(spark, sf, s"$work/crawl1", g1, c1, bk,
      s"$work/out1", s"$work/ck1")
    // the plant took: X absorbed; (Y,X) landed; Y NOT absorbed
    assert(Layout.readTable(spark, c1)
      .filter(col("corpus_id") === xId).count() == 1, "X was not absorbed")
    val v0 = spark.read.parquet(s"$work/out1")
    assert(v0.filter(col("batch_id") === yId &&
      col("corpus_id") === xId).count() == 1, "the (Y,X) pair never landed")
    assert(v0.filter(col("batch_id") === yId).count() == 1,
      "Y matched more than X — the plant is not isolated")
    assert(Layout.readTable(spark, c1)
      .filter(col("corpus_id") === yId).count() == 0,
      "Y was absorbed despite its dup verdict")
    // erase X: mention-level purge + value-level replay
    StreamRunner.recomputeAfterErasure(spark, g1, c1, bk, s"$work/crawl1",
      s"$work/out1", spark.range(1).select(lit(xId).as("doc_id")),
      s"$sf/documents.parquet")
    // reference: a fresh loop on the surviving stream (X never crawled)
    val (g2, c2) = buildLoopIdx("rcS")
    mkCrawl(s"$work/crawl2", dropX = true)
    StreamRunner.runProbeAbsorbLoop(spark, sf, s"$work/crawl2", g2, c2, bk,
      s"$work/out2", s"$work/ck2")
    val got = spark.read.parquet(s"$work/out1")
    val ref = spark.read.parquet(s"$work/out2")
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      s"recomputed sink diverged from the surviving-stream re-run " +
        s"(${got.count()} vs ${ref.count()} rows)")
    // the value-level effects really happened
    assert(got.filter(col("batch_id") === xId ||
      col("corpus_id") === xId).count() == 0, "a row still mentions X")
    assert(Layout.readTable(spark, c1)
      .filter(col("corpus_id") === yId).count() == 1,
      "Y's keep decision did not flip back — no resurrection")
    // the index equals the survivor rebuild, raw reads (the recompute
    // folds its tombstones, so no sidecar hides the comparison)
    def tb(t: String) = Layout.readTable(spark, t)
    assert(tb(g1).exceptAll(tb(g2)).isEmpty &&
      tb(g2).exceptAll(tb(g1)).isEmpty, "gram tables diverged")
    assert(tb(c1).exceptAll(tb(c2)).isEmpty &&
      tb(c2).exceptAll(tb(c1)).isEmpty, "count tables diverged")
  }

  test("a purged id is BARRED from re-absorb until the fold, and re-absorbs as a fresh doc after it") {
    // ADVICE r16: the re-ingest guard anti-joins the RAW count table
    // (tombstones included), so a purged id arriving again must be
    // dropped — index membership may not depend on compaction timing.
    // Pinned contract: barred until the fold physically removes the
    // rows AND the tombstone; after the fold a re-arrival is a fresh
    // doc (deliberate re-ingest). The doc is PLANTED token-unique so
    // its keep decision is dup-free on every arrival.
    import graft.engine.{Layout, Tables}
    val work = java.nio.file.Files
      .createTempDirectory("graft-reingest").toString
    val docs = Tables.t(spark, sf, "documents")
    val bk = Layout.bucketsFor(s"$sf/documents.parquet")
    val src = s"$sf/documents.parquet"
    val pId = docs.agg(max(col("doc_id"))).head().getLong(0) + 11
    val p = plant(pId, "zru zrv zrw zrx zry zrz zsa zsb")
    val (gT, cT) = buildLoopIdx("rg")
    val day1 = docs.filter(col("doc_id") % 20 === 0).unionByName(p)
    StreamRunner.probeAbsorbStep(spark, gT, cT, bk, day1,
      s"$work/out", 0L, src)
    def rawCnt = Layout.readTable(spark, cT)
      .filter(col("corpus_id") === pId).count()
    def purgedCnt = Layout.readPurged(spark, cT, "corpus_id")
      .filter(col("corpus_id") === pId).count()
    assert(rawCnt == 1, "the planted doc was not absorbed")
    val ids = spark.range(1).select(lit(pId).as("corpus_id"))
    Layout.tombstone(gT, ids, "corpus_id")
    Layout.tombstone(cT, ids, "corpus_id")
    assert(purgedCnt == 0)
    // re-arrival BEFORE the fold: barred — nothing new lands
    StreamRunner.probeAbsorbStep(spark, gT, cT, bk, p, s"$work/out", 1L, src)
    assert(rawCnt == 1 && purgedCnt == 0,
      "a purged id re-absorbed before the fold")
    // the fold: rows and tombstone physically gone
    Layout.compactBucketed(spark, gT, "g", bk,
      foldTombstonesOn = Some("corpus_id"))
    Layout.compactBucketed(spark, cT, "corpus_id", bk,
      foldTombstonesOn = Some("corpus_id"))
    assert(rawCnt == 0, "the fold left the purged rows behind")
    // re-arrival AFTER the fold: a fresh doc — absorbs exactly once
    StreamRunner.probeAbsorbStep(spark, gT, cT, bk, p, s"$work/out", 2L, src)
    assert(rawCnt == 1 && purgedCnt == 1,
      "a post-fold re-arrival did not absorb as a fresh doc")
  }

  test("the gram loop's maintenance hook folds between micro-batches without moving a verdict") {
    // round 17 (VERDICT r16 #3): runProbeAbsorbLoop's `maintain` hook
    // runs between batches — here the gram family's upkeep, a
    // tombstone-folding compaction after every batch — and the
    // verdicts and final index must equal the no-maintenance loop.
    import graft.engine.{Layout, Tables}
    val work = java.nio.file.Files
      .createTempDirectory("graft-loopmaint").toString
    val docs = Tables.t(spark, sf, "documents")
    val bk = Layout.bucketsFor(s"$sf/documents.parquet")
    def mkCrawl(dir: String): Unit = {
      val t0 = System.currentTimeMillis()
      docs.filter(col("doc_id") % 20 === 0).coalesce(1)
        .write.mode("append").parquet(dir)
      new java.io.File(dir).listFiles().foreach(_.setLastModified(t0 - 120000))
      docs.filter(col("doc_id") % 20 === 10).coalesce(1)
        .write.mode("append").parquet(s"$dir.d2")
      new java.io.File(s"$dir.d2").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val dst = new java.io.File(dir, f.getName)
          java.nio.file.Files.move(f.toPath, dst.toPath)
          dst.setLastModified(t0)
        }
    }
    val (gP, cP) = buildLoopIdx("mhP") // plain
    mkCrawl(s"$work/crawlP")
    StreamRunner.runProbeAbsorbLoop(spark, sf, s"$work/crawlP", gP, cP, bk,
      s"$work/outP", s"$work/ckP")
    val (gM, cM) = buildLoopIdx("mhM") // maintained
    mkCrawl(s"$work/crawlM")
    var folds = 0
    StreamRunner.runProbeAbsorbLoop(spark, sf, s"$work/crawlM", gM, cM, bk,
      s"$work/outM", s"$work/ckM",
      maintain = (ss, _) => {
        Layout.compactBucketed(ss, gM, "g", bk,
          foldTombstonesOn = Some("corpus_id"))
        Layout.compactBucketed(ss, cM, "corpus_id", bk,
          foldTombstonesOn = Some("corpus_id"))
        folds += 1
      })
    assert(folds >= 2, "the hook never ran between batches")
    def v(d: String) = spark.read.parquet(d).drop("micro_batch_id")
    assert(v(s"$work/outP").exceptAll(v(s"$work/outM")).isEmpty &&
      v(s"$work/outM").exceptAll(v(s"$work/outP")).isEmpty,
      "per-batch maintenance moved a verdict")
    def tb(t: String) = Layout.readTable(spark, t)
    assert(tb(gP).exceptAll(tb(gM)).isEmpty &&
      tb(gM).exceptAll(tb(gP)).isEmpty, "maintained gram table diverged")
    // and the fold really compacted: one file per bucket at the end
    assert(spark.table(gM).inputFiles.length.toLong <= bk,
      "the between-batch folds left the fan-in unfolded")
  }

  test("one micro-batch sink and one Jaccard threshold in src/main") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = Path.of("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Path.of("").toAbsolutePath})")
    def sources(dir: Path): List[Path] = {
      val it = Files.walk(dir)
      try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally it.close()
    }
    // every .writeStream sits in StreamRunner.drain or the memory-sink
    // runner (StreamStress's processAllAvailable join lives outside
    // these packages: it needs explicit per-tranche batch boundaries,
    // which AvailableNow cannot give)
    val owners = Set("drain", "runAvailableNow")
    val defName = """def\s+(\w+)""".r
    val offenders = for {
      pkg <- List("streaming", "operators", "engine")
      p <- sources(root.resolve("graft").resolve(pkg))
      src = Files.readString(p)
      at <- """\.writeStream\b""".r.findAllMatchIn(src).map(_.start).toList
      owner = defName.findAllMatchIn(src.substring(0, at)).toList
        .lastOption.map(_.group(1))
      if !(p.endsWith(Path.of("streaming", "StreamRunner.scala")) &&
        owner.exists(owners))
    } yield s"$p: .writeStream in ${owner.getOrElse("<no def>")}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val threshold = java.util.regex.Pattern.quote("""col("inter_n") * 3""").r
    val copies = sources(root).flatMap { p =>
      Seq.fill(threshold.findAllMatchIn(Files.readString(p)).size)(p)
    }
    assert(copies.size <= 1, s"Jaccard threshold written out ${copies.size}×: " +
      copies.mkString(", "))
  }
}
