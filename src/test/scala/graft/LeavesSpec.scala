package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.engine.{Leaves, Memo}
import graft.plans.Deferred

/** engine.Leaves: a scope drops the leaves it landed that its value
  * does not read; Deferred bodies, memo builds and micro-batches each
  * run in one; and no query code ends an intermediate's life another
  * way. */
class LeavesSpec extends SparkTestBase {
  import LeavesSpec._

  private val idSchema = StructType(Seq(StructField("id", LongType)))

  /** perfbench's scale: the sf0.01 fixture beside the suite's sf0.001. */
  private val chainSf = sf.replace("sf0.001", "sf0.01")

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def leafId(df: DataFrame): Int =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }
      .getOrElse(fail(s"not a leaf: ${df.queryExecution.logical}"))

  /** A dropped leaf's blocks are gone: reading it fails (the removal is
    * asynchronous, so wait for it). */
  private def assertDropped(leaf: DataFrame): Unit = {
    assert(!persisted(leafId(leaf)), "the leaf is still registered")
    eventually(timeout(30.seconds), interval(200.millis)) {
      val e = intercept[Exception](leaf.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("Checkpoint block")), e)
    }
  }

  /** `body` while every RDD persisted before a job starts is held, so
    * the ContextCleaner cannot free a leaf the engine leaves behind: a
    * count taken inside measures what the engine drops, not what a
    * driver GC happened to collect. Also returns the most RDDs outside
    * `before` that were persisted at any job start. */
  private def pinned[T](before: Set[Int])(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val pin = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val live = sc.getPersistentRDDs
        live.values.foreach(held.add)
        peak.accumulateAndGet((live.keySet -- before).size, math.max)
      }
    }
    sc.addSparkListener(pin)
    try {
      val value = body
      org.apache.spark.GraftTestBridge.drainListeners(sc)
      (value, peak.get)
    } finally sc.removeSparkListener(pin)
  }

  /** Ids of the RDDs `p` scans, built Deferred inner plans included. */
  private def scanned(p: SparkPlan): Seq[Int] =
    SparkTestBase.allNodes(p).collect { case r: RDDScanExec => r.rdd.id }

  test("a scope drops the leaves its value does not read") {
    var a, b: DataFrame = null
    val v = Leaves.scope {
      a = Leaves.land(spark.range(10).toDF("x"))
      b = Leaves.land(spark.range(5).toDF("y"))
      b.filter(col("y") > 1)
    }
    assertDropped(a)
    assert(persisted(leafId(b)))
    assert(v.count() == 3)
  }

  test("a throwing body drops everything it landed") {
    var a, b: DataFrame = null
    intercept[IllegalStateException](Leaves.scope {
      a = Leaves.land(spark.range(3).toDF("x"))
      b = Leaves.land(a.select((col("x") + 1).as("x")))
      throw new IllegalStateException("planted")
    })
    assertDropped(a)
    assertDropped(b)
  }

  test("a memo build keeps the leaf its Product value reads, inside a Deferred body") {
    val s = spark.newSession()
    val outer = Deferred.df(s, "leaves_outer", idSchema) { () =>
      val box = Memo.session(s, "LeavesSpec.box")(Box(Leaves.land(s.range(7).toDF("id"))))
      assert(box.df.count() == 7)
      Leaves.land(s.range(1).toDF("id"))
    }
    assert(outer.count() == 1)
    val box = Memo.session(s, "LeavesSpec.box")(fail("the memo entry was rebuilt"): Box)
    assert(persisted(leafId(box.df)))
    assert(box.df.count() == 7)
  }

  test("a leaf read only through a temp view by s.sql is kept") {
    val v = Leaves.scope {
      Leaves.land(spark.range(4).toDF("id")).createOrReplaceTempView("leaves_spec_v")
      spark.sql("SELECT id FROM leaves_spec_v WHERE id > 0")
    }
    assert(v.count() == 3)
  }

  test("a nested Deferred's kept leaf survives the outer scope's close") {
    val inner = Deferred.df(spark, "leaves_inner", idSchema) { () =>
      Leaves.land(spark.range(6).toDF("id"))
    }
    val before = persisted
    var own: DataFrame = null
    Leaves.scope {
      assert(inner.count() == 6)
      own = Leaves.land(spark.range(2).toDF("id"))
      spark.range(1).toDF("id")
    }
    assertDropped(own)
    val added = persisted -- before
    assert(added.size == 1, s"expected only the inner body's result leaf, got $added")
    assert(inner.count() == 6)
  }

  test("the curation chain keeps only the leaves its memo values and results read") {
    // q_dedup_text_lsh lands its result and drops `proj` and `keyed`;
    // q_bpe_apply lands nothing. What stays: the text basis (memo), the
    // text-LSH result and the semantic verdicts (memo).
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val s = spark.newSession()
    val before = persisted
    pinned(before) {
      val frames = chain.map { n =>
        val df = SparkEntry.queries(n)(s, chainSf)
        df.collect()
        df
      }
      assert(cm.isEmpty, "the chain left a frame in the CacheManager")
      val added = persisted -- before
      val read = frames.flatMap(df => scanned(df.queryExecution.executedPlan)).toSet +
        leafId(graft.operators.Retrieval.textBasis(s, chainSf).vecs)
      assert(added.subsetOf(read) && added.size == 3,
        s"${added.size} persisted RDDs added, ${(added -- read).size} read by no " +
          s"result or memo value: ${(added -- read).mkString(", ")}")
    }
  }

  test("q_dedup_cluster and q_graph_pagerank keep only the leaves their results read") {
    // kept: cluster, the final label round; star, the pair leaf and the
    // final edge round; pagerank, edges, nodes and the last landed rank
    // round. Besides its round leaves, a loop also holds `others`: the
    // minhash signature cache and the pair leaf, plus cluster's edges
    // and pagerank's edges and nodes. Each landed round drops the one
    // before it, so at most 2 round leaves are live at any job start.
    for ((n, kept, others) <- Seq(("q_dedup_cluster", 1, 3),
        ("q_dedup_cluster_star", 2, 2), ("q_graph_pagerank", 3, 4))) {
      spark.catalog.clearCache()
      val before = persisted
      val ((added, read), peak) = pinned(before) {
        val df = SparkEntry.queries(n)(spark.newSession(), sf)
        df.collect()
        spark.catalog.clearCache() // q_dedup_minhash's signature cache
        (persisted -- before, scanned(df.queryExecution.executedPlan).toSet)
      }
      assert(added.subsetOf(read) && added.size == kept,
        s"$n: ${added.size} persisted RDDs added, ${(added -- read).size} " +
          s"read by no result: ${(added -- read).mkString(", ")}")
      assert(peak - others <= 2, s"$n: ${peak - others} round leaves live at once")
    }
  }

  test("a micro-batch step's leaves are dropped when it returns") {
    val dir = Files.createTempDirectory("graft-leaves-stream")
    spark.range(20).toDF("id").coalesce(1).write.parquet(dir.resolve("in").toString)
    val landed = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val n = graft.streaming.StreamRunner.drain(
      graft.streaming.StreamRunner.fileStream(spark, idSchema, dir.resolve("in").toString),
      dir.resolve("ckpt").toString) { (batch, _) =>
      val leaf = Leaves.land(batch)
      assert(leaf.count() == 20)
      landed += leaf
    }
    assert(n == 1 && landed.size == 1)
    assertDropped(landed.head)
  }

  test("no query code ends an intermediate's life outside engine.Leaves") {
    val root = Path.of("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Path.of("").toAbsolutePath})")
    val found = bypasses(root)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the Leaves source scan catches each planted bypass") {
    val copy = Files.createTempDirectory("graft-leaves-scan")
    val root = Path.of("src/main/scala/graft")
    val files = { val it = Files.walk(root); try it.iterator().asScala.toList finally it.close() }
    files.filter(Files.isRegularFile(_)).foreach { p =>
      val dst = copy.resolve(root.relativize(p))
      Files.createDirectories(dst.getParent)
      Files.copy(p, dst)
    }
    def plant(rel: Path, edit: String => String): Unit =
      Files.writeString(copy.resolve(rel), edit(Files.readString(copy.resolve(rel))))
    plant(Path.of("operators", "Audits.scala"),
      _.replace("Leaves.land(verdicts.join(cvf, Seq(\"doc_id\")))",
        "verdicts.join(cvf, Seq(\"doc_id\")).localCheckpoint()"))
    plant(Path.of("streaming", "StreamRunner.scala"),
      _.replace("val kept = Leaves.land(keep)", "val kept = keep.cache(); keep.unpersist()"))
    plant(Path.of("operators", "Retrieval.scala"),
      _.replace("val keyed = Leaves.land(", "val keyed = textLeaf("))
    val found = bypasses(copy)
    assert(found.size == 3 && Seq("Audits.scala: localCheckpoint(",
      "StreamRunner.scala: unpersist(", "Retrieval.scala: textLeaf").forall(h =>
        found.exists(_.endsWith(h))), found.mkString("\n"))
  }
}

object LeavesSpec {
  final case class Box(df: DataFrame)

  /** perfbench's curation_batch chain. */
  val chain = Seq("q_dedup_text_lsh", "q_dedup_semantic", "q_bpe_apply",
    "q_catalog_silver", "q_holdings_overlap")

  /** Every way to end an intermediate's life other than a Leaves scope,
    * in the code (comments stripped) of the sources under `root` (the
    * `graft` package directory), as "<path>: <hit>" lines:
    *  - `localCheckpoint(` outside engine/;
    *  - `unpersist(` under operators/ or streaming/;
    *  - the hand-rolled leaf helpers Leaves replaced. */
  def bypasses(root: Path): Seq[String] = {
    val files = {
      val it = Files.walk(root)
      try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally it.close()
    }
    val helpers = """\b(dropLeaves|releaseFreshLeaves|freshLeafName|textLeaf)\b""".r
    files.flatMap { p =>
      val rel = root.relativize(p)
      val code = Files.readAllLines(p).asScala.map { l =>
        val t = l.trim
        if (t.startsWith("*") || t.startsWith("/*")) "" else l.replaceAll("//.*$", "")
      }.mkString("\n")
      val top = rel.getName(0).toString
      val hits =
        (if (top != "engine" && code.contains("localCheckpoint(")) Seq("localCheckpoint(")
         else Nil) ++
        (if (Set("operators", "streaming")(top) && code.contains("unpersist("))
           Seq("unpersist(")
         else Nil) ++
        helpers.findAllMatchIn(code).map(_.group(1)).toSeq.distinct
      hits.map(h => s"$rel: $h")
    }
  }
}
