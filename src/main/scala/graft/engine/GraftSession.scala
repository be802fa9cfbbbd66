package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions._

/** Spark-native session integration.
  *
  * `GraftExtensions` registers the engine's Catalyst expressions through
  * SparkSessionExtensions (builder `.withExtensions(new GraftExtensions)`
  * or conf `spark.sql.extensions=graft.engine.GraftExtensions`), so
  * `spark.sql("SELECT dot_d(a, b) ...")` works with zero imperative
  * setup. `openCatalog` exposes the testdata tables as temp views for
  * the pure-SQL surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.DeferredStrategy)
    e.injectOptimizerRule(_ => graft.plans.RankFilterToAggregate)
    GraftFunctions.table.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), build))
    }
  }
}

object GraftSession {
  /** Temp views for every testdata table → full spark.sql surface. */
  def openCatalog(spark: SparkSession, dir: String): Unit = {
    GraftFunctions.register(spark)
    Tables.names.foreach { n =>
      Tables.t(spark, dir, n).createOrReplaceTempView(n)
    }
  }
}
