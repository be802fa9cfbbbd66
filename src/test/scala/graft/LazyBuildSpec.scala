package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The lazy-build contract: constructing ANY query's DataFrame runs
  * ZERO Spark jobs — plan-only consumers (explain, plan inspection,
  * the bench's build step) must be free. Sink-backed queries
  * (snapshot tree, stream ingest) and iterative fixpoints (connected
  * components, PageRank) satisfy it through plans.Deferred, which
  * pushes their side effects to first execution. A regression here is
  * the round-4 bloom bug / round-5 snapshot nit pattern resurfacing. */
class LazyBuildSpec extends SparkTestBase {

  test("every query's DataFrame builds with zero Spark jobs") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // no warm-up: each query builds in a new session that no Tables.t
    // call has touched, so the count includes opening every table the
    // query reads (a schema-less parquet read would run a 1-task
    // inference job there — Tables.raw reads the footer without a job)
    spark.sparkContext.addSparkListener(listener)
    try {
      val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
        val fresh = spark.newSession()
        org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
        val before = jobs.get()
        SparkEntry.queries(n)(fresh, sf) // build only — never an action
        org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
        val ran = jobs.get() - before
        if (ran > 0) Some(s"$n ran $ran Spark job(s) at build time") else None
      }
      assert(offenders.isEmpty,
        "lazy-build contract violated:\n" + offenders.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("deferred queries still execute correctly after a plan-only touch") {
    // explain (plan-only) must not corrupt the later real execution
    val df = q("q_snapshot_diff")
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(df.count() > 0)
  }
}
