package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.engine.Leaves
import graft.engine.Tables.dec2

/** Structured Streaming surface (SURVEY.md §2B streaming; reference
  * analog: the daily re-scrape snapshot stream, crocus
  * base_scraper.py:72-83 — each day's folder is a new batch).
  *
  * ONE SINK: every micro-batch runner drains its stream through
  * [[drain]], the only foreachBatch sink in the engine. It owns the
  * append output mode, the checkpoint, Trigger.AvailableNow (process
  * what's new, then stop — the 100 TB pattern for daily snapshot
  * ingest, no always-on cluster), awaitTermination and the count of
  * distinct micro-batch ids; a runner supplies only its per-batch step.
  * [[fileStream]] is the one one-file-per-trigger reader, and every
  * verdict-landing step writes through [[writeVerdictBatch]]
  * (replay-idempotent). The other writeStream site is the memory-sink
  * [[runAvailableNow]], which returns a stateful query's final table.
  *
  * The transforms are the same window()/session_window() expressions as
  * the batch queries in operators.StreamingQueries — batch/stream
  * equivalence is the correctness argument (tested in StreamingSpec).
  * Watermarks bound state: late events beyond 1 hour are dropped.
  */
object StreamRunner {

  /** readStream view of events with the same ts normalization as the
    * batch loader, derived from the OBSERVED footer schema (the testdata
    * has shipped both TIMESTAMP(NANOS) and timestamp[us] generations —
    * hard-coding either compresses or inflates event time 1000×).
    *
    * Streaming keeps instant-typed timestamps — EventTimeWatermark
    * rejects TIMESTAMP_NTZ; the batch queries use NTZ (session tz UTC
    * makes the wall-clock values identical).
    *
    * events.parquet is a single file; the streaming file source wants a
    * directory — stream the SF dir with a glob filter instead. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = graft.engine.Tables.rawSchema(spark, dir, "events")
    val src = spark.readStream.schema(raw)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    raw("ts").dataType match {
      // TIMESTAMP(NANOS) generation: legacy flag yields raw nanos Long
      case org.apache.spark.sql.types.LongType =>
        src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // timestamp[us] generation: already a timestamp; only NTZ→instant
      case _ =>
        src.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling 1-hour counts with a 1-hour watermark. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast("double").as("sum_value"))
      .select(col("w.start").as("win_start"), col("n"), col("sum_value"))

  /** Per-user 30-minute session windows with watermark. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Stream-static join: the live event stream enriched against a
    * batch-computed user dimension (first-active cohort day). The
    * static side re-plans per micro-batch but holds NO streaming state
    * — the standard shape for dimension enrichment at scale (broadcast
    * when the dim is small; here it's one row per user). The global
    * (non-windowed) aggregation means complete output mode — run via
    * runAvailableNow(…, "complete"). No watermark: nothing here
    * consumes one (the join is stateless and the agg isn't windowed),
    * so declaring it would bound nothing. Output: events per
    * (cohort_day, event_type). */
  def cohortEnriched(stream: DataFrame, userDim: DataFrame): DataFrame =
    stream
      .join(userDim, Seq("user_id"))
      .groupBy(col("cohort_day"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Stream-stream interval join: each purchase joined to the clicks of
    * the same user in the preceding hour. Both sides carry watermarks so
    * the join state is bounded: a buffered click can be dropped once the
    * purchase-side watermark passes click_ts + 1h — the at-scale
    * requirement for unbounded stream joins (state would otherwise grow
    * with the full history). */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"), col("c_ts"))
  }

  /** Streaming exact dedup: drop events whose key was already seen
    * within the watermark horizon — the streaming side of the corpus-
    * dedup story. State holds only keys newer than the watermark, so
    * memory is bounded by (arrival rate × delay), not history. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(keyCols)

  /** Custom keyed state (SURVEY.md §1.4 "daily re-scrape stream"):
    * per-user running stats maintained across micro-batches with
    * flatMapGroupsWithState — the engine's arbitrary-state surface for
    * logic window aggregates can't express. State is bounded per key
    * (a few counters), the 100 TB pattern for long-running per-entity
    * accumulators. */
  case class UserEvent(user_id: Long, value: Double)
  case class UserState(n: Long, sum: Double)
  case class UserUpdate(user_id: Long, n: Long, sum: Double, batch_n: Long)

  def runningUserStats(events: DataFrame): org.apache.spark.sql.Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val batch = rows.toSeq
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          val next = UserState(prev.n + batch.size, prev.sum + batch.map(_.value).sum)
          state.update(next)
          Iterator.single(UserUpdate(user, next.n, next.sum, batch.size.toLong))
      }
  }

  /** Spark 4 transformWithState form of the per-user accumulator — the
    * modern arbitrary-state API (named ValueState handles, TTL support,
    * RocksDB-backed). Semantics identical to runningUserStats above;
    * equivalence asserted in StreamingSpec. Requires the RocksDB state
    * store provider. */
  class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserUpdate] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var state: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserState]("running",
        Encoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
        timers: TimerValues): Iterator[UserUpdate] = {
      val batch = rows.toSeq
      val prev = if (state.exists()) state.get() else UserState(0L, 0.0)
      val next = UserState(prev.n + batch.size, prev.sum + batch.map(_.value).sum)
      state.update(next)
      Iterator.single(UserUpdate(user, next.n, next.sum, batch.size.toLong))
    }
  }

  def runningUserStatsTws(events: DataFrame): org.apache.spark.sql.Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Run a streaming frame to completion (AvailableNow) into an
    * in-memory table and return its final contents. `outputMode` is
    * "complete" for global aggregates, "append" for stream-stream joins
    * and watermarked windows. */
  def runAvailableNow(spark: SparkSession, df: DataFrame, name: String,
      outputMode: String): DataFrame = {
    df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    spark.table(name)
  }

  /** The one foreachBatch sink: drain `stream` to completion
    * (AvailableNow, append, checkpointed at `checkpoint`) through
    * `step`, and return the number of DISTINCT micro-batch ids
    * processed — an at-least-once retry of an id does not double-count,
    * and a re-run on a drained checkpoint returns 0. `step` receives
    * each micro-batch frame (whose session is a clone of the caller's)
    * and its id, and runs in its own leaf scope (graft.engine.Leaves):
    * every leaf a step lands is dropped when it returns. */
  def drain(stream: DataFrame, checkpoint: String)(
      step: (DataFrame, Long) => Unit): Int = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        seen.add(id)
        Leaves.scope(step(batch, id))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    seen.size()
  }

  /** Parquet stream over `dir`, ONE FILE PER TRIGGER: each landed file
    * (a crawl day, an embedding shard) is its own micro-batch, in the
    * file source's (mtime, path) order. */
  def fileStream(spark: SparkSession, schema: StructType,
      dir: String): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Document file stream (the "daily crawl" analog of eventsStream —
    * documents.parquet streamed through the file source with a glob). */
  def docsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.engine.Tables.t(spark, dir, "documents").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** Streaming incremental dedup — the curation member of the
    * stream-static family: each micro-batch of newly crawled docs
    * (doc_id % 10 = 0, the batch query's crawl-slice convention) is
    * near-dup-verdicted AGAINST the standing corpus. Pure batch
    * function (unit-testable without a stream): exact 3-gram Jaccard
    * with the ≥ 0.5 threshold in integer arithmetic — semantics
    * identical to Pipeline's q_dedup_incremental, which the spec uses
    * as the batch/stream equivalence oracle. Verdicts depend only on
    * (doc, corpus): no cross-batch state, so micro-batch boundaries
    * are semantically invisible and the stream needs no watermark. At
    * scale the batch gram set is the broadcast side and each
    * micro-batch is one scan + hash probe — gated (round 16, the
    * ADVICE r15 exploded-frame rule applied to the stream path too):
    * when `srcPath` names the stream's source tree, the gram side
    * rides Layout.probeSide with the 8× gramExpansion factor and the
    * nb side the plain bound; a mega-batch degrades to a merge join
    * instead of OOMing. None (frame-only unit tests) keeps the
    * broadcast — the micro-batch contract. */
  def incrementalDedupVerdicts(newDocs: DataFrame,
      corpusDocs: DataFrame, srcPath: Option[String] = None): DataFrame = {
    import graft.engine.Layout
    val batch = graft.operators.Pipeline
      .wordGrams3(newDocs.filter(col("doc_id") % 10 === 0))
      .select(col("doc_id").as("batch_id"), col("g"))
    val corpus = graft.operators.Pipeline
      .wordGrams3(corpusDocs.filter(col("doc_id") % 10 =!= 0))
      .select(col("doc_id").as("corpus_id"), col("g"))
    val nb = batch.groupBy(col("batch_id")).agg(count(lit(1)).as("nb"))
    val nc = corpus.groupBy(col("corpus_id")).agg(count(lit(1)).as("nc"))
    val bSide = srcPath.map(p =>
      Layout.probeSide(batch, p, Layout.gramExpansion))
      .getOrElse(broadcast(batch))
    val nbSide = srcPath.map(Layout.probeSide(nb, _))
      .getOrElse(broadcast(nb))
    graft.operators.Pipeline.jaccardVerdicts(corpus.join(bSide, Seq("g"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(count(lit(1)).as("inter_n"))
      .join(nbSide, Seq("batch_id"))
      .join(nc, Seq("corpus_id")))
  }

  /** Replay-idempotent per-batch verdict write: each micro-batch lands
    * in its own `micro_batch_id=N` partition directory with overwrite,
    * so an at-least-once foreachBatch retry (failure mid-commit,
    * checkpoint replay after restart) REPLACES the batch's rows instead
    * of duplicating them (ADVICE r9). Readers get the extra
    * `micro_batch_id` partition column via discovery — drop it for
    * verdict comparisons. (NOT named batch_id: the verdict schema
    * already uses that for the batch-side doc id.) */
  def writeVerdictBatch(verdicts: DataFrame, outDir: String,
      batchId: Long): Unit =
    verdicts.write.mode("overwrite")
      .parquet(s"$outDir/micro_batch_id=$batchId")

  /** Streaming incremental dedup (VERDICT r8 #7): an arbitrary parquet
    * directory of crawled docs streams one file per trigger, each
    * micro-batch verdicted against the standing corpus. Verdicts depend
    * only on (doc, corpus) — no cross-batch state — so the per-batch
    * outputs compose exactly to q_dedup_incremental; StreamingSpec
    * asserts that across ≥ 3 batches. */
  def runIncrementalDedupChunked(spark: SparkSession, corpusDir: String,
      streamDir: String, outDir: String, checkpoint: String): Int = {
    val corpus = graft.engine.Tables.t(spark, corpusDir, "documents")
    drain(fileStream(spark, corpus.schema, streamDir), checkpoint) {
      (batch, id) => writeVerdictBatch(
        incrementalDedupVerdicts(batch, corpus, Some(streamDir)), outDir, id)
    }
  }

  /** Index-probing variant of [[incrementalDedupVerdicts]] (round 13,
    * the streaming half of VERDICT r12 #6): the standing corpus comes
    * from the PERSISTED bucketed gram index (StandingIndexes.Gram) —
    * built once at ingest — instead of being re-tokenized on every
    * micro-batch. Per-batch work is: sign the batch, merge-join the
    * bucketed index scan (zero Exchange on the index side, same plan
    * the batch query pins in PlanSpec), pick up corpus counts from the
    * bucketed count table. At 100 TB this is the difference between a
    * micro-batch costing O(batch) and costing O(corpus). Verdicts are
    * value-identical to the recompute form (StreamingSpec). */
  def incrementalDedupVerdictsIndexed(newDocs: DataFrame,
      s: SparkSession, d: String): DataFrame = {
    import graft.engine.Layout
    import graft.operators.Pipeline
    val (gT, cT) = graft.operators.StandingIndexes.Gram.standing(s, d)
    Pipeline.gramVerdicts(Layout.readTable(s, gT), Layout.readTable(s, cT),
      Pipeline.wordGrams3(newDocs.filter(col("doc_id") % 10 === 0))
        .select(col("doc_id").as("batch_id"), col("g")),
      s"$d/documents.parquet")
  }

  /** The crawl stream ([[docsStream]]) verdicted against the standing
    * bucketed index: the corpus is never re-signed inside the stream. */
  def runIncrementalDedupIndexed(spark: SparkSession, dir: String,
      outDir: String, checkpoint: String): Int =
    drain(docsStream(spark, dir), checkpoint) { (batch, id) =>
      writeVerdictBatch(
        incrementalDedupVerdictsIndexed(batch, spark, dir), outDir, id)
    }

  /** Streaming embedding near-dup probe against the STANDING sign-LSH
    * index (round 14 — the embedding family's streaming half,
    * completing the gram/text/embedding standing-index symmetry):
    * embedding shards stream one file per trigger; each micro-batch's
    * new vectors (vec_id % 10 = 0, the batch query's crawl slice) sign
    * with the FROZEN width, merge-join the persisted signatures, and
    * exact-cosine re-rank — the identical plan q_dedup_emb_index_probe
    * pins, per micro-batch. Each batch keeps its LOCAL top-50: any
    * pair in the global top-50 ranks at least as high within its own
    * micro-batch, so the per-batch outputs are a superset of the
    * global winners and ONE global re-rank over the union reproduces
    * the batch query exactly — asserted row-for-row in StreamingSpec. */
  def runEmbProbeIndexed(spark: SparkSession, corpusDir: String,
      streamDir: String, outDir: String, checkpoint: String): Int = {
    val tables =
      graft.operators.StandingIndexes.EmbLsh.standing(spark, corpusDir)
    val schema = graft.engine.Tables.t(spark, corpusDir, "embeddings").schema
    drain(fileStream(spark, schema, streamDir), checkpoint) { (batch, id) =>
      writeVerdictBatch(graft.operators.Pipeline.embIndexProbeOn(
        spark, tables, batch.filter(col("vec_id") % 10 === 0),
        s"$corpusDir/embeddings.parquet"), outDir, id)
    }
  }

  /** ONE DAY of the closed dedup loop (round 15, VERDICT r14 #5):
    * probe the standing gram index with `newDocs`, land the verdicts
    * (replay-idempotent partition overwrite), then ABSORB the kept
    * docs — the ones with no ≥ 0.5-jaccard match — into the index by
    * bucketed append, so tomorrow's batch dedups against an index that
    * already holds today's keepers. The keep decision reads the
    * verdicts BACK from the landed partition (never the in-memory
    * plan), so absorb follows bytes on disk — the absorbGramBatch
    * landed-state discipline. Intra-batch near-dups do NOT pair with
    * each other (the q_dedup_incremental batch×corpus contract); both
    * land and meet the next rebuild's self-dedup.
    *
    * Replay exactness (at-least-once foreachBatch): the COUNT append
    * lands LAST and is the absorb's commit record. A replay (detected
    * by the batch's verdict partition already existing) re-derives the
    * remaining work from landed state — ids already counted are
    * skipped; ids whose grams landed but whose counts did not (a crash
    * between the two appends) get ONLY their counts appended, derived
    * FROM the landed grams so the heal cannot drift from the bytes on
    * disk; untouched ids absorb from scratch. The gram-table-sized id
    * scan runs ONLY on the replay path; the happy path pays one
    * row-per-doc anti-join against the count table (the re-ingest
    * guard below — ADVICE r15). The grams-and-counts pair itself reads
    * one landed leaf, so the two appends can never
    * disagree. StreamingSpec pins stream ≡ sequential-batch-chain,
    * replay no-op, the half-commit heal, and the later-batch
    * re-ingest no-op. */
  def probeAbsorbStep(spark: SparkSession, gT: String, cT: String,
      buckets: Int, newDocs: DataFrame, outDir: String, batchId: Long,
      srcPath: String): Unit = {
    import graft.engine.Layout
    // ALL reads and writes go through the batch frame's OWN session:
    // foreachBatch hands each micro-batch a CLONED session, and an
    // append through the clone invalidates only the clone's relation
    // cache — reading the table through the outer session would serve
    // batch N+1 a stale file list that silently misses batch N's
    // absorbed rows (observed: the loop's index never grew). One
    // session end-to-end keeps every step self-consistent; the loop
    // runner refreshes the caller's session once the stream drains.
    val ss = newDocs.sparkSession
    val replay = new java.io.File(s"$outDir/micro_batch_id=$batchId").exists()
    val g = Leaves.land(graft.operators.Pipeline.wordGrams3(newDocs)
      .select(col("doc_id").as("corpus_id"), col("g")))
    // the probe sees the index MINUS this batch's own ids: a replay
    // after a crashed absorb would otherwise find the batch's keepers
    // already in the index (self-pairs, intra-batch pairs the original
    // attempt never saw) and land different verdicts than the first
    // attempt — the anti-join makes the verdict write deterministic
    // across replays; on the happy path it excludes nothing. Broadcast
    // anti preserves the index scan's bucket partitioning (readPurged's
    // argument).
    val bIds = g.select(col("corpus_id")).distinct()
    def selfExcluded(t: String): DataFrame =
      Layout.readPurged(ss, t, "corpus_id")
        .join(Layout.probeSide(bIds, srcPath), Seq("corpus_id"), "left_anti")
    val verdicts = graft.operators.Pipeline.gramVerdicts(
      selfExcluded(gT), selfExcluded(cT),
      g.select(col("corpus_id").as("batch_id"), col("g")), srcPath)
    writeVerdictBatch(verdicts, outDir, batchId)
    // the keep decision reads the LANDED verdicts, with the schema the
    // write just used: a schema-less read would run an inference job
    // per micro-batch
    val dupIds = ss.read.schema(verdicts.schema)
      .parquet(s"$outDir/micro_batch_id=$batchId")
      .select(col("batch_id").as("corpus_id")).distinct()
    var keep = g.join(dupIds, Seq("corpus_id"), "left_anti")
    // Re-ingest guard (ADVICE r15): a doc_id arriving AGAIN in a LATER
    // micro-batch — plausible in a production daily ingest — could
    // never match its own absorbed copy (the self-exclusion anti-join
    // above removes it from the probe's index view), so it would
    // re-absorb: duplicate gram rows plus a SECOND nc row for the same
    // corpus_id, silently multiplying later verdict pairs through the
    // count-table join. Ids already present in the landed count table
    // (the absorb's commit record) are dropped from the absorb set on
    // EVERY path — one row-per-doc anti-join against the bucketed
    // count table's own layout (its scan needs no Exchange; the batch
    // side's shuffle is day-sized). The grams-landed-without-counts
    // crash shape is NOT reachable here: micro-batches are sequential,
    // so the crashed batch's own replay (and its orphan heal below)
    // runs before any later batch can re-ingest the id.
    keep = keep.join(Layout.readTable(ss, cT).select(col("corpus_id")),
      Seq("corpus_id"), "left_anti")
    if (replay) {
      val counted = Layout.readTable(ss, cT)
        .select(col("corpus_id")).distinct()
      val landedG = Layout.readTable(ss, gT)
        .select(col("corpus_id")).distinct()
      val orphan = Leaves.land(landedG.join(counted, Seq("corpus_id"), "left_anti")
        .join(keep, Seq("corpus_id"), "left_semi"))
      if (orphan.limit(1).count() > 0)
        Layout.appendBucketed(
          Layout.readTable(ss, gT)
            .join(orphan, Seq("corpus_id"), "left_semi")
            .groupBy(col("corpus_id")).agg(count(lit(1)).as("nc")),
          cT, "corpus_id", buckets)
      keep = keep.join(landedG, Seq("corpus_id"), "left_anti")
    }
    val kept = Leaves.land(keep)
    Layout.appendBucketed(kept, gT, "g", buckets)
    Layout.appendBucketed(
      kept.groupBy(col("corpus_id")).agg(count(lit(1)).as("nc")),
      cT, "corpus_id", buckets)
  }

  /** The closed daily loop as ONE stream: each micro-batch (a day's
    * crawl file) probes, verdicts, and absorbs through
    * [[probeAbsorbStep]] — the index the stream probes GROWS as the
    * stream runs, which is the production shape a daily ingest
    * pipeline actually has.
    *
    * `maintain` (round 17, VERDICT r16 #3): the MAINTENANCE HOOK,
    * invoked BETWEEN micro-batches — after batch N's absorb commits,
    * before batch N+1's probe plans — with the batch's own session and
    * the batch id. This is where a deployment runs the index's
    * periodic upkeep: for the gram family (exact semantics, no frozen
    * stats) that is compaction cadence — fold the tombstone backlog
    * and the append fan-in via Layout.compactBucketed — which the
    * default no-op leaves to an external maintenance window. The
    * frozen-stat families run their gauge→policy→repair here instead:
    * see [[runIvfProbeAbsorbLoop]], where the hook's decision SWAPS
    * the index the remaining stream probes. Running upkeep inside the
    * hook (micro-batches are sequential) is what makes the
    * single-maintainer compaction contract (SCALING §6d) hold by
    * construction on the streaming path. */
  def runProbeAbsorbLoop(spark: SparkSession, corpusDir: String,
      streamDir: String, gT: String, cT: String, buckets: Int,
      outDir: String, checkpoint: String,
      maintain: (SparkSession, Long) => Unit = (_, _) => ()): Int = {
    val schema = graft.engine.Tables.t(spark, corpusDir, "documents").schema
    val src = s"$corpusDir/documents.parquet"
    val n = drain(fileStream(spark, schema, streamDir), checkpoint) {
      (batch, id) =>
        probeAbsorbStep(spark, gT, cT, buckets, batch, outDir, id, src)
        maintain(batch.sparkSession, id)
    }
    // the appends ran through the stream's CLONED session (see
    // probeAbsorbStep's session note) — invalidate the caller's cached
    // relations so it sees the grown index, not a stale file list
    spark.catalog.refreshTable(gT)
    spark.catalog.refreshTable(cT)
    n
  }

  /** The IVF similarity loop as ONE stream WITH THE MAINTENANCE POLICY
    * IN IT (round 17, VERDICT r16 #3 — the gauges previously fired only
    * from SoakBench and specs, so the production-shaped path could
    * silently age its frozen quantizer, the exact failure the policy
    * exists to prevent). Each micro-batch of embedding rows (drawn
    * from the corpus source at `corpusDir` — the recluster's membership
    * semi-join resolves vectors there):
    *
    *  1. PROBES the current standing IVF index (self-excluding the
    *     batch's own ids, so a replay after a crashed absorb meets the
    *     same index view as the first attempt — probeAbsorbStep's
    *     determinism argument),
    *  2. lands the verdicts replay-idempotently (partition overwrite),
    *  3. ABSORBS the batch with the frozen quantizer — guarded by a
    *     row-per-vector anti-join against the cells table so a replay
    *     or re-ingested id never lands twice (the raw-table read, NOT
    *     readPurged: a purged id stays barred until the fold — the
    *     gram loop's pinned re-ingest contract), then
    *  4. consults engine.Maintenance BETWEEN batches (every
    *     `maintainEvery` batches): when ivfNeedsRecluster trips,
    *     reclusterIvf re-fits AND re-sizes the quantizer from the
    *     membership (build-new-then-switch — the new tables land
    *     completely before the reference flips, SoakBench's
    *     transactional-swap posture), and every remaining micro-batch
    *     probes and absorbs through the repaired index.
    *
    * Stream ≡ the sequential batch chain (same primitives, same
    * policy, same order) — pinned in MaintenanceSpec with the gauge
    * tripping mid-stream, and run at sf scale in StreamStress. Returns
    * (final index tables, distinct micro-batch ids, reclusters
    * fired). */
  def runIvfProbeAbsorbLoop(spark: SparkSession, corpusDir: String,
      streamDir: String, t0: (String, String), buckets: Int,
      outDir: String, checkpoint: String, suffixBase: String,
      maintainEvery: Int = 1, growthMax: Double = 4.0,
      occSkewMax: Double = 8.0): ((String, String), Int, Int) = {
    import graft.operators.Pipeline
    val schema = graft.engine.Tables.t(spark, corpusDir, "embeddings").schema
    val src = s"$corpusDir/embeddings.parquet"
    val current =
      new java.util.concurrent.atomic.AtomicReference[(String, String)](t0)
    val reclusters = new java.util.concurrent.atomic.AtomicInteger(0)
    val n = drain(fileStream(spark, schema, streamDir), checkpoint) {
      (batch, id) =>
        val ss = batch.sparkSession // one session end-to-end, see
        val t = current.get()       // probeAbsorbStep's session note
        writeVerdictBatch(Pipeline.ivfIndexProbeOn(ss, t, batch, src,
          excludeIds = Some(batch.select(col("vec_id")))), outDir, id)
        // absorb guard (replay / re-ingest): only ids not yet landed
        Pipeline.absorbIvfFrame(ss, t, buckets,
          batch.join(graft.engine.Layout.readTable(ss, t._2)
              .select(col("corpus_id").as("vec_id")),
            Seq("vec_id"), "left_anti"))
        if ((id + 1) % maintainEvery == 0)
          Pipeline.maybeReclusterIvf(ss, corpusDir, t,
            s"${suffixBase}_m$id", growthMax, occSkewMax).foreach { nt =>
            current.set(nt)
            reclusters.incrementAndGet()
          }
    }
    Seq(t0._2, current.get()._2).distinct
      .foreach(spark.catalog.refreshTable)
    (current.get(), n, reclusters.get())
  }

  /** Retention purge-through for the closed daily loop (VERDICT r15
    * #4): an erased doc must vanish from the LANDED outputs too, not
    * only from the standing indexes. Tombstones the gram/count tables
    * (every probe already reads through Layout.readPurged) and
    * REWRITES the verdict sink, dropping each row that mentions an
    * erased id in EITHER role — as the probing batch doc (batch_id) or
    * as the indexed corpus doc (corpus_id) — behind the crash-safe
    * directory swap. The partition layout (micro_batch_id=N) is
    * re-landed, so replay detection and partition-pruned readers keep
    * working. Equality contract (StreamingSpec): for a doc the loop
    * never absorbed, the purged sink is byte-equal to re-running the
    * whole loop on the surviving stream — the q_dedup_index_purge
    * oracle discipline applied one layer down. (For an ABSORBED doc
    * the erasure is still complete — no landed row mentions it — but
    * later verdicts it participated in keep their values; re-deriving
    * those is [[recomputeAfterErasure]]'s job.) */
  def purgeThrough(spark: SparkSession, gT: String, cT: String,
      outDir: String, ids: DataFrame, idCol: String = "doc_id"): (Long, Long) = {
    graft.operators.StandingIndexes.Gram.purge(spark, (gT, cT),
      ids.select(col(idCol).as("doc_id")))
    graft.engine.Layout.purgeLanded(spark, outDir, ids.select(col(idCol)),
      Seq("batch_id", "corpus_id"), partitionCols = Seq("micro_batch_id"))
  }

  /** COMPLETE erasure, absorbed docs included (round 17, VERDICT r16
    * #4 — purgeThrough's stated limit): once an erased doc was
    * ABSORBED, later batches probed an index that contained it, so
    * beyond the rows that MENTION it (purgeThrough's job) its presence
    * shaped VALUES — a later doc whose only near-dup match was the
    * erased doc was verdicted dup and never absorbed, and everything
    * downstream of that flipped keep-decision cascades. This helper
    * performs the documented recompute: REPLAY the affected
    * micro-batch files against the corrected index.
    *
    * Mechanics (exactness argument in each step):
    *  1. Find the first affected batch N0 BEFORE purging destroys the
    *     evidence: the batch after the earliest one that ABSORBED an
    *     erased id (its absorb is what later batches saw — its own
    *     batch's rows are handled by the purge, since intra-batch docs
    *     never pair), or the earliest batch holding a surviving doc
    *     whose dup matches were ALL erased (its keep decision flips).
    *     No affected batch → purgeThrough alone is already exact.
    *  2. purgeThrough the ids.
    *  3. ROLL BACK the index to its as-of-N0 state: tombstone every
    *     absorbed id whose FIRST arrival file is ≥ N0, then fold both
    *     tables (compactBucketed) so the rolled-back ids can RE-ABSORB
    *     during the replay — a live tombstone would hide their
    *     re-appended rows (the purged-id-barred-until-fold contract,
    *     applied deliberately). After the fold the tables hold exactly
    *     corpus ∪ absorbs-before-N0 minus the erased ids.
    *  4. Replay files N0.. in trigger order through the SAME
    *     [[probeAbsorbStep]] the stream runs, each batch minus the
    *     erased ids. Each replayed step meets the index state the
    *     surviving stream would have had (induction: step 3 gives N0's
    *     view; each replay absorbs what the surviving loop absorbs),
    *     so verdict partitions overwrite with the surviving stream's
    *     bytes and the index converges to its rebuild.
    *
    * Cost: the purge rewrite + one index fold + O(affected batches)
    * replays — each batch-day-sized — NOT a from-scratch rebuild of
    * the unaffected prefix. Equality to the full-loop re-run on the
    * surviving stream (sink AND index) is pinned in StreamingSpec with
    * a planted absorbed-then-erased near-dup chain. */
  def recomputeAfterErasure(spark: SparkSession, gT: String, cT: String,
      buckets: Int, streamDir: String, outDir: String, ids: DataFrame,
      srcPath: String, idCol: String = "doc_id"): Unit = {
    import graft.engine.Layout
    val e = Leaves.land(ids.select(col(idCol).as("doc_id")).distinct())
    val eC = e.select(col("doc_id").as("corpus_id"))
    // stream files in trigger order — the file source's (mtime, path)
    // ordering, under which the loop assigned batch id N to file N
    val files = Option(new java.io.File(streamDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))
      .sortBy(f => (f.lastModified, f.getName)).toSeq
    def fileDocs(f: java.io.File): DataFrame =
      spark.read.parquet(f.getAbsolutePath)
    // 1a. earliest batch that absorbed an erased id (erasure requests
    // are request-sized; the per-file membership checks are limit-1)
    val absorbedErased = Leaves.land(Layout.readTable(spark, cT)
      .join(eC, Seq("corpus_id"), "left_semi")
      .select(col("corpus_id")))
    val aAfter = files.zipWithIndex.find { case (f, _) =>
      fileDocs(f).select(col("doc_id").as("corpus_id"))
        .join(absorbedErased, Seq("corpus_id"), "left_semi")
        .limit(1).count() > 0
    }.map(_._2 + 1)
    // 1b. earliest batch with a surviving doc dup ONLY against erased
    val eB = e.select(col("doc_id").as("batch_id"))
    val eK = eC.withColumn("er", lit(1))
    val sinkAll = spark.read.parquet(outDir)
    val flipRow = sinkAll
      .join(eB, Seq("batch_id"), "left_anti")
      .join(eK, Seq("corpus_id"), "left")
      .groupBy(col("micro_batch_id"), col("batch_id"))
      .agg(max(when(col("er").isNull, 1).otherwise(0)).as("has_surv"))
      .filter(col("has_surv") === 0)
      .agg(min(col("micro_batch_id").cast("int")).as("m")).head()
    val bFlip = if (flipRow.isNullAt(0)) None else Some(flipRow.getInt(0))
    val n0Opt = (aAfter.toSeq ++ bFlip.toSeq).sorted.headOption
    // 2. the mention-level purge (tombstones + sink rewrite)
    purgeThrough(spark, gT, cT, outDir, e, "doc_id")
    n0Opt.filter(_ < files.size).foreach { n0 =>
      // 3. roll the index back to its as-of-N0 state
      val arrivedBefore = files.take(n0).map(f =>
          fileDocs(f).select(col("doc_id").as("corpus_id")))
        .reduceOption(_ unionByName _)
      val arrivedReplay = files.drop(n0).map(f =>
          fileDocs(f).select(col("doc_id").as("corpus_id")))
        .reduce(_ unionByName _)
      val rolled0 = Layout.readPurged(spark, cT, "corpus_id")
        .join(arrivedReplay, Seq("corpus_id"), "left_semi")
      val rolled = Leaves.land(arrivedBefore.fold(rolled0)(b =>
          rolled0.join(b, Seq("corpus_id"), "left_anti"))
        .select(col("corpus_id")).distinct())
      Layout.tombstone(gT, rolled, "corpus_id")
      Layout.tombstone(cT, rolled, "corpus_id")
      Layout.compactBucketed(spark, gT, "g", buckets,
        foldTombstonesOn = Some("corpus_id"))
      Layout.compactBucketed(spark, cT, "corpus_id", buckets,
        foldTombstonesOn = Some("corpus_id"))
      // a FULL purge left one schema-bearing root file (purgeLanded);
      // replaying lands partition dirs, which cannot mix with root
      // data files — drop the (empty by construction) placeholder
      if (spark.read.parquet(outDir).isEmpty)
        Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile &&
            (f.getName.endsWith(".parquet") || f.getName == "_SUCCESS"))
          .foreach(f => java.nio.file.Files.delete(f.toPath))
      // 4. replay the affected suffix on the surviving stream
      files.zipWithIndex.drop(n0).foreach { case (f, n) =>
        probeAbsorbStep(spark, gT, cT, buckets,
          fileDocs(f).join(e, Seq("doc_id"), "left_anti"),
          outDir, n.toLong, srcPath)
      }
    }
  }

  /** Parquet sink (append) — the batch-incremental write path; each
    * micro-batch lands atomically under `outDir`. */
  def runForeachBatchParquet(df: DataFrame, outDir: String,
      checkpoint: String): Int =
    drain(df, checkpoint) { (batch, _) =>
      batch.write.mode("append").parquet(outDir)
    }

  // --------------------------------------------------------------------
  // Snapshot-tree → SCD2 incremental ingest (crocus's daily re-scrape
  // loop as one runnable path: base_scraper.py:72-83 writes one
  // /base/{date}/{provider}/ folder per day; this streams those folders
  // as they land and maintains current+history intervals).
  // --------------------------------------------------------------------

  /** One SCD2 merge step: fold snapshot `snap` (rows of key/provider/
    * attrs valid on `date`) into interval `state`. Pure batch function
    * (unit-testable without a stream): closed intervals pass through;
    * open intervals are kept (attrs unchanged), closed at `date`
    * (changed or absent), and changed/new keys open a fresh interval at
    * `date`. One full-outer shuffle keyed on (provider, key) per
    * snapshot day — at 100 TB the state side is the product dimension,
    * not the fact history, so this stays a dimension-sized join. */
  def scd2Merge(state: DataFrame, snap: DataFrame, date: java.sql.Date): DataFrame = {
    val d = lit(date)
    val open = state.filter(col("valid_to").isNull)
    val closed = state.filter(col("valid_to").isNotNull)
    val s = snap.select(col("p_partkey").as("s_key"),
      col("provider").as("s_provider"), col("name").as("s_name"),
      col("price").as("s_price"))
    val j = open.join(s,
      col("p_partkey") === col("s_key") && col("provider") === col("s_provider"),
      "full_outer")
    val same = col("name") <=> col("s_name") && col("price") <=> col("s_price")
    val stateCols = Seq("p_partkey", "provider", "name", "price",
      "valid_from", "valid_to").map(col)
    val unchanged = j.filter(col("p_partkey").isNotNull && col("s_key").isNotNull && same)
      .select(stateCols: _*)
    val closedNow = j.filter(col("p_partkey").isNotNull && (col("s_key").isNull || !same))
      .select(col("p_partkey"), col("provider"), col("name"), col("price"),
        col("valid_from"), d.as("valid_to"))
    val opened = j.filter(col("s_key").isNotNull && (col("p_partkey").isNull || !same))
      .select(col("s_key").as("p_partkey"), col("s_provider").as("provider"),
        col("s_name").as("name"), col("s_price").as("price"),
        d.as("valid_from"), lit(null).cast("date").as("valid_to"))
    closed.unionByName(unchanged).unionByName(closedNow).unionByName(opened)
  }

  private def latestStateVersion(base: java.io.File): Option[java.io.File] = {
    val vs = Option(base.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
        new java.io.File(f, "_SUCCESS").exists())
    if (vs.isEmpty) None else Some(vs.maxBy(_.getName.drop(1).toInt))
  }

  /** Latest committed SCD2 state under `stateDir` (empty frame with the
    * state schema if no version has landed yet — `like` supplies the
    * snapshot columns). Versions are write-once dirs (v1, v2, …) with
    * parquet's own _SUCCESS marker as the commit point, so a killed
    * merge leaves the previous version intact — a minimal time-travel
    * table, same recovery idea as engine.Layout. */
  def readScd2State(spark: SparkSession, stateDir: String, like: DataFrame): DataFrame =
    latestStateVersion(new java.io.File(stateDir)) match {
      case Some(v) => spark.read.parquet(v.getAbsolutePath)
      case None => like
        .select(col("p_partkey"), col("provider"), col("name"), col("price"))
        .limit(0)
        .withColumn("valid_from", lit(null).cast("date"))
        .withColumn("valid_to", lit(null).cast("date"))
    }

  /** Stream the A8 snapshot tree (glob: snapshot_date=STAR/provider=STAR
    * under basePath) and maintain SCD2 state incrementally: each AvailableNow run
    * drains only folders the checkpoint hasn't seen, folds every new
    * snapshot day into the state IN DATE ORDER, and commits one new
    * state version per day. Re-running after a new day lands processes
    * just that day — the reference's daily re-scrape loop. Returns the
    * state dir. The per-batch date list is a driver-side scalar (one
    * value per snapshot day in the batch), not a data path.
    *
    * `filesPerTrigger` caps files per micro-batch (None = drain all at
    * once). DAY ATOMICITY: a snapshot day must not split across
    * triggers — a partial-day batch would fold an incomplete key set
    * and close intervals spuriously — so set it only when each
    * snapshot folder holds at most that many files (the fixture
    * writers land one file per day). The multi-batch StreamingSpec
    * case drives three days through filesPerTrigger=1 and asserts the
    * folded state equals the single-batch result. */
  def snapshotScd2Ingest(spark: SparkSession, basePath: String, workDir: String,
      filesPerTrigger: Option[Int] = None): String = {
    val stateDir = new java.io.File(workDir, "state")
    stateDir.mkdirs()
    // batch-infer the schema once: data columns + partition columns
    // (snapshot_date inferred as DATE, provider as STRING)
    val schema = spark.read.parquet(basePath).schema
    val reader = spark.readStream.schema(schema)
      .option("basePath", basePath)
    val stream = filesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(basePath + "/snapshot_date=*/provider=*")
    drain(stream, new java.io.File(workDir, "ckpt").getAbsolutePath) {
      (batch, _) =>
        val days = batch.select(col("snapshot_date")).distinct()
          .collect().map(_.getDate(0)).sortBy(_.getTime)
        days.foreach { day =>
          val snap = batch.filter(col("snapshot_date") === lit(day))
            .select(col("p_partkey"), col("provider"), col("name"), col("price"))
          val next = scd2Merge(readScd2State(spark, stateDir.getAbsolutePath, snap), snap, day)
          val n = latestStateVersion(stateDir)
            .map(_.getName.drop(1).toInt).getOrElse(0) + 1
          next.write.mode("error")
            .parquet(new java.io.File(stateDir, s"v$n").getAbsolutePath)
        }
    }
    stateDir.getAbsolutePath
  }
}
