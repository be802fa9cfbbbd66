package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** Deferred-build relation: a DataFrame whose BODY — including any
  * side effects (materializing a snapshot tree through a sink, running
  * a stream ingest) or iterative driver loops (connected components,
  * PageRank) — runs only when the plan first EXECUTES, not when the
  * DataFrame is built.
  *
  * Why: the engine's query contract is "building a DataFrame runs no
  * Spark jobs" (guarded in LazyBuildSpec) so that plan-only consumers
  * (explain, plan inspection, the bench's plan-build step) are free.
  * Sinks and iterative fixpoints cannot be expressed as one lazy plan;
  * this node gives them the same lazy surface: analysis sees a leaf
  * with a declared schema, and the first doExecute() builds the inner
  * DataFrame, plans it (full optimization — partition pruning,
  * pushdown, AQE all apply to the INNER plan), and streams its rows.
  * This is the plan-level sibling of GraftSqlBridge.scalarSubquery
  * (the lazy-bloom fix): that defers a scalar, this defers a relation.
  *
  * The body holder is shared by every copy EnsureRequirements/AQE makes
  * of the exec node, so the body runs at most once per built query, in
  * a leaf scope (graft.engine.Leaves) that drops on return what the
  * body landed and its frame does not read.
  * Rows pass through positionally; the declared schema's dataTypes are
  * asserted against the built DataFrame at materialization, failing
  * fast on drift.
  */
final class DeferredBody(val label: String,
    // @transient: SparkPlan nodes are Serializable and DO get dragged
    // into task closures (e.g. WholeStageCodegen's doExecute) — the
    // body closure and planned inner plan are driver-only and often
    // capture non-serializable driver state (a SparkSession, a test
    // harness); executors never touch them
    @transient private val declared: StructType,
    @transient private val body: () => DataFrame) extends Serializable {
  @transient @volatile private var planned: SparkPlan = _
  def inner: SparkPlan = {
    if (planned == null) synchronized {
      if (planned == null) {
        val df = graft.engine.Leaves.scope(body())
        val got = df.schema
        // names too, not just positional dataTypes: a body whose
        // same-typed columns come back reordered (a_name/b_name swaps)
        // would otherwise pass and bind positionally, silently
        // miswiring columns (ADVICE r6)
        val cs = df.sparkSession.conf.get("spark.sql.caseSensitive", "false")
          .toBoolean
        def nameEq(a: String, b: String) =
          if (cs) a == b else a.equalsIgnoreCase(b)
        require(got.length == declared.length &&
          got.zip(declared).forall { case (g, w) =>
            g.dataType == w.dataType && nameEq(g.name, w.name) },
          s"deferred '$label': built schema ${got.simpleString} does not " +
            s"match declared ${declared.simpleString}")
        planned = df.queryExecution.executedPlan
      }
    }
    planned
  }
  def maybeInner: Option[SparkPlan] = Option(planned)
}

case class DeferredRelation(output: Seq[Attribute], body: DeferredBody)
    extends LeafNode with MultiInstanceRelation {
  // conservative size: never accidentally broadcast an unbuilt relation
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = conf.defaultSizeInBytes)
  override def newInstance(): DeferredRelation =
    copy(output = output.map(_.newInstance()))
  override def simpleString(maxFields: Int): String =
    s"DeferredRelation [${body.label}]"
}

object DeferredStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case d: DeferredRelation => DeferredExec(d.output, d.body) :: Nil
    case _ => Nil
  }
}

case class DeferredExec(output: Seq[Attribute], body: DeferredBody)
    extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = body.inner.execute()
  // once materialized, the inner plan renders inside the tree string —
  // PlanSpec's partition-pruning guard reads it post-execution
  override def innerChildren: Seq[QueryPlan[_]] = body.maybeInner.toSeq
  override def simpleString(maxFields: Int): String =
    s"DeferredExec [${body.label}]" +
      (if (body.maybeInner.isEmpty) " (unbuilt)" else "")
}

object Deferred {
  /** Build a DataFrame with `schema` whose `body` runs only at first
    * execution. `label` names the deferred work in plan strings and
    * error messages (and distinguishes otherwise-identical relations
    * under canonicalization).
    *
    * Contract: the body must return columns whose NAMES (and types)
    * match `schema` — binding is positional, but name equality is
    * enforced at first execution to catch reordered same-typed
    * columns. The check fires at query RUNTIME, not build; alias the
    * body's output columns to the declared names. */
  def df(spark: SparkSession, label: String, schema: StructType)(
      body: () => DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    synchronized {
      if (!cs.experimental.extraStrategies.contains(DeferredStrategy))
        cs.experimental.extraStrategies =
          cs.experimental.extraStrategies :+ DeferredStrategy
    }
    val attrs = schema.map(f =>
      AttributeReference(f.name, f.dataType, nullable = true)()).toSeq
    org.apache.spark.sql.GraftSqlBridge.ofRows(cs,
      DeferredRelation(attrs, new DeferredBody(label, schema, body)))
  }
}
