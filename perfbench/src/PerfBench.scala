package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.engine.{Layout, Tables}
import graft.operators.Pipeline
import graft.streaming.StreamRunner

/** The benchmark's workload process: runs one workload against generated
  * fixtures and writes a raw record (ops, setup times, and under
  * `--trace 1` every listener event and span) as one JSON object.
  * `perfbench/run.py` launches it, turns the record into metrics and
  * checks correctness; all arithmetic lives there so it is testable.
  *
  * Usage: PerfBench --workload W --fixtures DIR --work DIR --seed N
  *   --trace 0|1 --out FILE */
object PerfBench {
  /** One JSON object per recorded event; rendered at the end. */
  final class Recorder {
    private val lines = new ConcurrentLinkedQueue[String]()
    def add(kind: String, fields: (String, Any)*): Unit =
      lines.add(Json.obj(("kind" -> kind) +: fields))
    def drain(): Seq[String] = lines.asScala.toSeq
  }

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def v(x: Any): String = x match {
      case null => "null"
      case r: RawSeq => r.toString
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Number => n.toString
      case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
      case s: Seq[_] => s.map(v).mkString("[", ",", "]")
      case o => str(o.toString)
    }
    def obj(fields: Seq[(String, Any)]): String =
      fields.map { case (k, x) => s"${str(k)}:${v(x)}" }.mkString("{", ",", "}")
  }

  def now(): Long = System.currentTimeMillis()

  /** Listeners attached only under `--trace 1`: scheduler events keyed
    * by job group, per-execution plan and phase stats, spans. */
  final class Tracer(rec: Recorder) extends SparkListener {
    private val stageGroup =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private def group(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = group(e.properties)
      e.stageIds.foreach(stageGroup.put(_, g))
      rec.add("job", "group" -> g, "t" -> e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      rec.add("stage", "group" -> stageGroup.getOrDefault(e.stageInfo.stageId, ""),
        "t" -> now(), "tasks" -> e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      val base = Seq("group" -> stageGroup.getOrDefault(e.stageId, ""),
        "launch" -> i.launchTime, "finish" -> i.finishTime,
        "ok" -> i.successful)
      val ms = if (m == null) Nil else Seq(
        "deser_ms" -> m.executorDeserializeTime,
        "run_ms" -> m.executorRunTime,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "in_bytes" -> m.inputMetrics.bytesRead,
        "in_records" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten,
        "out_records" -> m.outputMetrics.recordsWritten)
      rec.add("task", base ++ ms: _*)
    }

    /** Executed-plan size, descending into AQE stages, cached inner
      * plans and subqueries; broadcast bytes once per exchange. */
    private def walk(p: SparkPlan, seen: java.util.IdentityHashMap[AnyRef, AnyRef],
        acc: Array[Long]): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, seen, acc)
      case q: QueryStageExec => acc(0) += 1; walk(q.plan, seen, acc)
      case m: InMemoryTableScanExec =>
        acc(0) += 1; walk(m.relation.cachedPlan, seen, acc)
      case _ =>
        acc(0) += 1
        p match {
          case b: BroadcastExchangeExec if seen.put(b, b) == null =>
            acc(1) += b.metrics.get("dataSize").map(_.value).getOrElse(0L)
          case _ =>
        }
        p.children.foreach(walk(_, seen, acc))
        p.subqueries.foreach(walk(_, seen, acc))
    }

    val queryListener: QueryExecutionListener = new QueryExecutionListener {
      private def record(qe: QueryExecution, ok: Boolean): Unit = {
        val ph = qe.tracker.phases
        val acc = Array(0L, 0L)
        try walk(qe.executedPlan, new java.util.IdentityHashMap(), acc)
        catch { case _: Throwable => }
        rec.add("qe", "t" -> now(), "ok" -> ok,
          "analysis_ms" -> ph.get("analysis").map(_.durationMs).getOrElse(0L),
          "optimize_ms" -> ph.get("optimization").map(_.durationMs).getOrElse(0L),
          "physical_ms" -> ph.get("planning").map(_.durationMs).getOrElse(0L),
          "nodes" -> acc(0), "broadcast_bytes" -> acc(1))
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        record(qe, ok = true)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe, ok = false)
    }
  }

  /** Streaming progress is the program's own per-batch report; it is
    * recorded in both modes because micro-batch latency is an
    * end-to-end metric. */
  final class Progress(rec: Recorder) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      rec.add("progress", "batch" -> p.batchId, "rows" -> p.numInputRows,
        "t" -> now(), "durations" -> d.toMap)
    }
  }

  final case class Args(workload: String, fixtures: String, work: String,
      seed: Long, trace: Boolean, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("fixtures"), m("work"), m("seed").toLong,
      m("trace") == "1", m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    spark.streams.addListener(new Progress(rec))
    val tracer = if (a.trace) Some(new Tracer(rec)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t.queryListener)
    }
    // listener managers are per session: every fresh session gets the tracer
    val fresh = () => {
      val s = spark.newSession()
      tracer.foreach(t => s.listenerManager.register(t.queryListener))
      s
    }
    val w: Workload = a.workload match {
      case "curation_batch" => new CurationBatch(spark, fresh, a, rec)
      case "daily_ingest" => new DailyIngest(spark, a, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ready = now()
    val setups = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      w.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    org.apache.spark.graftperf.Bus.drain(spark.sparkContext)
    val m0 = now()
    rec.add("phase", "name" -> "measure_start", "t" -> m0)
    w.measure()
    org.apache.spark.graftperf.Bus.drain(spark.sparkContext)
    val m1 = now()
    rec.add("phase", "name" -> "measure_end", "t" -> m1)
    val heap = retainedHeapMb()
    val extra = w.verify()
    val done = now()
    val info = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> cores, "spark_version" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "setup_s" -> setups, "measure_start" -> m0, "measure_end" -> m1,
      "retained_heap_mb" -> heap,
      "phase_ms" -> Map("jvm_and_session" -> (ready - jvmStart), "setups" -> (m0 - ready),
        "measure" -> (m1 - m0), "heap_and_verify" -> (done - m1))) ++ w.info ++ extra
    val pw = new PrintWriter(a.out)
    try pw.write(Json.obj(info.toSeq :+ ("events" -> RawSeq(rec.drain()))))
    finally pw.close()
    spark.stop()
  }

  /** Pre-rendered JSON values (events) spliced in without re-escaping. */
  final case class RawSeq(items: Seq[String]) {
    override def toString: String = items.mkString("[", ",", "]")
  }

  /** Heap still referenced after the measured phase: full GC, then
    * used = total - free, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** RDD storage in use: memory plus disk, over every cached block. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Run `body` as one op under its own job group, recording it. */
  def op(spark: SparkSession, rec: Recorder, group: String, name: String,
      timeOnly: Boolean = false)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, name)
    val t0 = now()
    val err = try { body; null } catch {
      case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    } finally sc.clearJobGroup()
    val t1 = now()
    rec.add("op", "group" -> group, "name" -> name, "start" -> t0, "end" -> t1,
      "ok" -> (err == null), "error" -> err,
      "cache_bytes" -> (if (timeOnly) 0L else storageBytes(spark)))
  }

  def span[T](rec: Recorder, layer: String, group: String)(body: => T): T = {
    val t0 = now()
    try body finally rec.add("span", "layer" -> layer, "group" -> group,
      "start" -> t0, "end" -> now())
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def dataFiles(f: File): Long =
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else Option(f.listFiles).map(_.map(dataFiles).sum).getOrElse(0L)

  /** Timed set-ups per run: the first runs JIT-cold, the second warm.
    * daily_ingest needs both: the second is the correctness chain's
    * starting state. */
  val Setups = 2

  /** A run times `Setups` set-ups, then measures exactly one unit of
    * work, so every run of every commit measures the same thing. */
  trait Workload {
    def setup(i: Int): Unit
    def measure(): Unit
    /** Untimed correctness work after the measured phase. */
    def verify(): Map[String, Any]
    def info: Map[String, Any] = Map.empty
  }

  /** Every table the queries read, scanned once in `s`. */
  def touchTables(s: SparkSession, fixtures: String): Unit =
    Tables.names.foreach(n => Tables.t(s, fixtures, n).count())

  /** The nightly batch: the heavy curation chain plus the paper's
    * catalog and holdings comparison, one client, one chain in a fresh
    * session of a fresh process, as a submitted batch application runs:
    * memos and JIT start cold. Every query lands
    * its result in graft.Verify's layout, so the measured chain's own
    * outputs are the ones the oracle checks. */
  final class CurationBatch(spark: SparkSession, fresh: () => SparkSession, a: Args,
      rec: Recorder) extends Workload {
    val chain: Seq[String] = Seq("q_dedup_text_lsh", "q_dedup_semantic",
      "q_bpe_apply", "q_catalog_silver", "q_holdings_overlap")
    var memo: Map[String, Any] = Map.empty
    val out = s"${a.work}/verify"

    /** The chain in a fresh session: one op, one step per query. */
    def measure(): Unit = {
      val s = fresh()
      val g = "m-chain"
      op(s, rec, g, "chain", timeOnly = !a.trace) {
        chain.foreach { n =>
          val t0 = now()
          val df = if (a.trace) span(rec, "operators.build", g) {
            SparkEntry.queries(n)(s, a.fixtures)
          } else SparkEntry.queries(n)(s, a.fixtures)
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
          rec.add("step", "group" -> g, "name" -> n, "start" -> t0, "end" -> now(),
            "cache_bytes" -> (if (a.trace) storageBytes(spark) else 0L))
        }
      }
      // memo carry-over past the session: cache as the chain leaves it,
      // then cache and heap after clearCache()
      val before = storageBytes(spark)
      s.catalog.clearCache()
      memo = Map("cache_bytes" -> before,
        "cache_bytes_after_clear" -> storageBytes(spark),
        "heap_mb_after_clear" -> retainedHeapMb())
    }

    def setup(i: Int): Unit = touchTables(fresh(), a.fixtures)
    def verify(): Map[String, Any] = {
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => chain.contains(k) }
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.obj(oracle.toSeq.sortBy(_._1)))
      Map("oracle_dir" -> out, "memo" -> memo)
    }
  }

  /** Writes beside reads: day files streamed through the gram
    * probe/absorb loop while its standing index grows and compacts. The
    * two set-ups build two identical rounds: the measured phase streams
    * the first, the correctness chain replays the second. */
  final class DailyIngest(spark: SparkSession, a: Args, rec: Recorder) extends Workload {
    val work = a.work
    val gramDays = 4
    val r = new scala.util.Random(a.seed)
    // seed-chosen holdout: 1 in 10 docs
    val holdMod = r.nextInt(10)
    def docs(s: SparkSession) = Tables.t(s, a.fixtures, "documents")
    val inHold = col("doc_id") % 10 === holdMod
    // the holdout, seed-shuffled and dealt round-robin: no day is empty
    lazy val dayIds: Seq[Seq[Long]] = {
      val ids = docs(spark).filter(inHold).select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      r.shuffle(ids).zipWithIndex.groupBy(_._2 % gramDays).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
    }
    def dayPred(d: Int) = col("doc_id").isin(dayIds(d): _*)
    val bkDocs = Layout.bucketsFor(s"${a.fixtures}/documents.parquet")
    val rounds = scala.collection.mutable.ArrayBuffer[Round]()
    var loopMs = 0L
    var compactions = 0

    /** Index copy + day files for one round of the loop. */
    final case class Round(id: String, gT: String, cT: String, dayDir: String)

    /** Move each frame's single part file into `dir` with ascending
      * mtimes, so maxFilesPerTrigger=1 streams one day per batch. */
    def landDays(frames: Seq[DataFrame], dir: String): Unit = {
      new File(dir).mkdirs()
      val t0 = now()
      frames.zipWithIndex.foreach { case (f, i) =>
        val tmp = s"$dir.tmp$i"
        f.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new File(dir, f"day$i%02d.parquet")
        Files.move(part.toPath, dst.toPath)
        dst.setLastModified(t0 - 60000L * (frames.size - i))
      }
    }

    def setup(i: Int): Unit = {
      val id = s"r$i"
      val (gT, cT) = (s"pb_gram_$id", s"pb_gramcnt_$id")
      Layout.writeBucketed(Pipeline.wordGrams3(docs(spark).filter(!inHold))
        .select(col("doc_id").as("corpus_id"), col("g")), gT, "g", bkDocs)
      Layout.writeBucketed(Layout.readTable(spark, gT)
        .groupBy(col("corpus_id")).agg(count(lit(1)).as("nc")),
        cT, "corpus_id", bkDocs)
      val dayDir = s"$work/days/$id"
      landDays((0 until gramDays).map(d => docs(spark).filter(dayPred(d))), dayDir)
      rounds += Round(id, gT, cT, dayDir)
    }

    def measure(): Unit = {
      val rd = rounds(0)
      val g = s"m-${rd.id}"
      val maintain = (s: SparkSession, id: Long) =>
        if ((id + 1) % 3 == 0) span(rec, "engine.compact", g) {
          Layout.compactBucketed(s, rd.gT, "g", bkDocs)
          Layout.compactBucketed(s, rd.cT, "corpus_id", bkDocs)
          compactions += 1
        }
      val t0 = now()
      op(spark, rec, g, "gram_loop", timeOnly = true) {
        val n = StreamRunner.runProbeAbsorbLoop(spark, a.fixtures, rd.dayDir,
          rd.gT, rd.cT, bkDocs, s"$work/out/${rd.id}", s"$work/ckpt/${rd.id}",
          maintain)
        require(n == gramDays, s"gram loop ran $n batches, expected $gramDays")
      }
      loopMs = now() - t0
    }

    def tableDir(t: String) = new File(s"$work/warehouse/$t")

    /** The measured round against the sequential batch chain, StreamStress
      * 1d style: same verdicts, same final index tables. */
    def verify(): Map[String, Any] = {
      val rd = rounds(0)
      val s = spark
      val out = scala.collection.mutable.ArrayBuffer[String]()
      // the spare set-up round holds the same starting index as the
      // measured one: the chain replays the days on it with the batch
      // primitives
      val chk = rounds(1)
      val (gB, cB) = (chk.gT, chk.cT)
      val chainV = (0 until gramDays).flatMap { d =>
        val pred = dayPred(d)
        val v = Pipeline.gramIndexProbeOn(s, a.fixtures,
          Layout.readTable(s, gB), Layout.readTable(s, cB), pred).localCheckpoint()
        val keep = Pipeline.wordGrams3(docs(s).filter(pred))
          .select(col("doc_id").as("corpus_id"), col("g"))
          .join(v.select(col("batch_id").as("corpus_id")).distinct(),
            Seq("corpus_id"), "left_anti").localCheckpoint()
        Layout.appendBucketed(keep, gB, "g", bkDocs)
        Layout.appendBucketed(keep.groupBy(col("corpus_id"))
          .agg(count(lit(1)).as("nc")), cB, "corpus_id", bkDocs)
        v.collect().map(_.toString).toSeq
      }
      val loopV = s.read.parquet(s"$work/out/${rd.id}").drop("micro_batch_id")
        .collect().map(_.toString).toSeq
      // verdicts may be legitimately empty (no held-out doc duplicates
      // the corpus); absorbed > 0 keeps the check from being vacuous
      if (loopV.sorted != chainV.sorted)
        out += s"gram verdicts: loop ${loopV.size} rows vs chain ${chainV.size}"
      val gDiff = Layout.readTable(s, rd.gT).exceptAll(Layout.readTable(s, gB)).count() +
        Layout.readTable(s, gB).exceptAll(Layout.readTable(s, rd.gT)).count()
      if (gDiff != 0) out += s"gram index differs from the chain by $gDiff rows"
      val absorbed = Layout.readTable(s, rd.cT)
        .filter(col("corpus_id") % 10 === holdMod).count()
      val heldOut = dayIds.map(_.size).sum
      if (absorbed == 0) out += "the gram loop absorbed no held-out doc"
      val tables = Seq(rd.gT, rd.cT)
      Map("verify_failed" -> out.toSeq,
        "absorbed_docs" -> absorbed, "held_out_docs" -> heldOut,
        "index_bytes" -> tables.map(t => dirBytes(tableDir(t))).sum,
        "sink_bytes" -> dirBytes(new File(s"$work/out/${rd.id}")),
        "index_files" -> tables.map(t => dataFiles(tableDir(t))).sum)
    }

    override def info: Map[String, Any] = Map(
      "input_bytes" -> dirBytes(new File(rounds(0).dayDir)),
      "items_probed" -> dayIds.map(_.size).sum,
      "loop_ms" -> loopMs, "compactions" -> compactions)
  }
}
