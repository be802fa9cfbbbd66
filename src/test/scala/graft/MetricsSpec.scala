package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.engine.{Metrics, Tables}

/** QueryExecutionListener observability: every action emits one
  * structured event (crocus A27 analog); the stage counter is the one
  * task/shuffle listener of the harness mains. */
class MetricsSpec extends SparkTestBase {

  test("listener records completed actions as structured events") {
    val listener = Metrics.attach(spark)
    try {
      Tables.t(spark, sf, "nation").count()
      q("q_agg_distinct").collect()
      // listener callbacks are async — poll until delivered
      var lines = Seq.empty[String]
      val deadline = System.currentTimeMillis() + 10000
      while (lines.size < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        lines = lines ++ listener.drainJson()
      }
      assert(lines.size >= 2, lines.mkString("\n"))
      assert(lines.forall(_.contains("\"ok\":true")), lines.mkString("\n"))
      assert(lines.exists(_.contains("\"plan_nodes\":")), lines.mkString("\n"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("stage counter settles on a shuffling query's tasks and shuffle bytes") {
    val stages = Metrics.countStages(spark)
    try {
      val before = stages.settle()
      Tables.t(spark, sf, "lineitem").groupBy(col("l_returnflag")).count()
        .collect()
      val after = stages.settle()
      val d = after - before
      assert(d.tasks > 0 && d.shuffleWriteBytes > 0, d)
      assert(stages.settle() == after, "no new work, yet the counts moved")
    } finally spark.sparkContext.removeSparkListener(stages)
  }

  test("one session builder and one stage counter in src/main") {
    val root = Path.of("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Path.of("").toAbsolutePath})")
    val engine = Set(Path.of("engine", "Metrics.scala"), Path.of("engine", "Memo.scala"))
    // Memo's application-end listener drops memo tables: lifecycle, not a metric
    val allowed = Map(
      "SparkSession.builder()" -> Set(Path.of("graft", "Harness.scala")),
      "addSparkListener" -> engine,
      "listenerManager.register" -> engine)
    val files = {
      val it = Files.walk(root)
      try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally it.close()
    }
    val offenders = for {
      p <- files
      src = Files.readString(p)
      (hit, ok) <- allowed if src.contains(hit) && !ok.exists(p.endsWith)
    } yield s"$p: $hit"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
