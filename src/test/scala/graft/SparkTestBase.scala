package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val).
  * SPARK_GRAFT_TEST_CPUS (default 4) sets cores AND shuffle
  * partitions — running the suite at a different value is the
  * partition-invariance sweep for every determinism claim.
  * Deliberately NOT the SPARK_GRAFT_CPUS knob Bench/Verify honor:
  * the driver exports that for perf runs, and tests must keep their
  * fixed default unless the sweep is requested explicitly. */
object SparkTestBase {
  private val cpus: Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_TEST_CPUS", "4")
    try raw.toInt
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_TEST_CPUS must be an integer, got '$raw'") }
  }

  /** The shared session, or — once a suite has stopped its context
    * (MemoSpec) — a new one with the same config on a fresh warehouse
    * dir. */
  def session(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", "graft.engine.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Every node reachable from an executed plan: children, subqueries,
    * AQE stages, reused exchanges, cached plans and built Deferred
    * inner plans. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val next: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case st: QueryStageExec => Seq(st.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case r: ReusedSubqueryExec => Seq(r.child)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case d: graft.plans.DeferredExec => d.body.maybeInner.toSeq
      case _ => p.children ++ p.subqueries
    }
    p +: next.flatMap(allNodes)
  }
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session()

  val sf = "/root/testdata/sf0.001"

  def q(name: String) = SparkEntry.queries(name)(spark, sf)
}
