package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation utilities for the 100 TB design point.
  *
  * A hot grouping key (one customer with 10% of all events, one
  * near-dup cluster with millions of members) turns a single reducer
  * into the stage's critical path. Salting splits each key into
  * `buckets` sub-keys for the wide shuffle, then combines the partials
  * with a second (tiny) aggregation. Valid for any associative,
  * salt-independent aggregate; the exact-decimal sums used across this
  * engine are associative by construction, so salted == direct
  * bit-for-bit (asserted in SkewSpec).
  *
  * AQE's skew-join splitting (enabled by default) covers joins; this
  * covers aggregations, which AQE does not re-split.
  */
object Skew {

  /** True when hash() accepts the type — MapType anywhere in the
    * structure raises AnalysisException (map equality is undefined, so
    * Spark refuses to hash it by default). */
  private def hashable(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case a: ArrayType => hashable(a.elementType)
      case _ => true
    }
  }

  /** Two-phase salted sum of `valCol` (exact decimal, emitted double)
    * plus row count, grouped by `keyCol`. The salt is DETERMINISTIC:
    * a hash of the hashable columns PLUS spark_partition_id() — never
    * monotonically_increasing_id, whose per-partition counter reorders
    * when a map task is recomputed over a nondeterministically-ordered
    * input after a shuffle-fetch failure, re-routing rows to different
    * reduce partitions than the copies already fetched (the SPARK-23207
    * double-count/drop class). partition_id is stable for deterministic
    * input splits (a parquet scan), and mixing it in spreads hot keys
    * whose rows are largely IDENTICAL (common in event/token data) —
    * a whole-row hash alone maps every duplicate to one bucket, the
    * exact case this helper exists for. Residual limit: duplicates
    * within a single input split still share a salt, bounding one
    * reducer's hot load to one split (~maxPartitionBytes), which a
    * reducer absorbs by construction. Columns containing MapType
    * (e.g. events.props) are excluded from the hash — hash() rejects
    * them at analysis — without narrowing which tables the helper
    * accepts. The salt carries no semantics, only spread.
    *
    * CONTRACT (enforced, not just documented): partition_id's
    * row→partition mapping is only stable when the input plan is
    * deterministic end to end. Behind a nondeterministic operator
    * (sample, a nondeterministic expression) a shuffle-fetch-failure
    * recompute can reassign partition ids and re-route rows — the
    * same SPARK-23207 class this helper guards against. The input
    * plan is therefore INSPECTED: if any node samples or carries a
    * nondeterministic expression, the salt falls back to the pure
    * content hash (identical duplicate rows then share a bucket —
    * spread degrades, correctness never does). */
  private[graft] def deterministicPlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Sample, RebalancePartitions}
    // collectWithSubqueries, not collectFirst over the outer plan:
    // SubqueryExpression.deterministic does not reflect its INNER plan,
    // so a Sample (or nondeterministic expression) inside a scalar/IN
    // subquery would otherwise evade detection (ADVICE r7)
    df.queryExecution.analyzed.collectWithSubqueries {
      case s: Sample => s
      case r: RebalancePartitions => r
      case p if p.expressions.exists(e => !e.deterministic) => p
    }.isEmpty
  }

  def saltedSumCount(df: DataFrame, keyCol: String, valCol: String,
      buckets: Int = 32): DataFrame = {
    val hashCols = df.schema.fields.filter(f => hashable(f.dataType))
      .map(f => col(f.name)).toSeq
    val spreadCols =
      if (deterministicPlan(df)) hashCols :+ spark_partition_id()
      else hashCols
    val salted = df.withColumn("_salt",
      pmod(hash(spreadCols: _*), lit(buckets)))
    salted
      .groupBy(col(keyCol), col("_salt"))
      .agg(sum(Tables.dec2(col(valCol))).as("_psum"),
        count(lit(1)).as("_pcnt"))
      .groupBy(col(keyCol))
      .agg(sum(col("_psum")).cast("double").as(s"sum_$valCol"),
        sum(col("_pcnt")).as("n"))
  }
}
