package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sampling (the reference's commented-out manual
  * memoization/test fixture swap, crocus ishares.py:196, done right):
  * hash-based key sampling is stable across runs, partitionings, and
  * cluster sizes — unlike `df.sample`, whose output depends on
  * partition layout even with a fixed seed. The audit-slice pattern
  * used by the dedup ground-truth queries, as a reusable utility.
  */
object Sample {

  /** Keep ~pct% of rows, chosen by key hash — same keys every run. */
  def byKey(df: DataFrame, keyCol: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100)
    df.filter(pmod(xxhash64(col(keyCol)), lit(100)) < pct)
  }

  /** Consistent sampling across tables: rows whose keys hash into the
    * same bucket survive in BOTH tables, so sampled joins stay joinable
    * (plain per-table sampling destroys join pairs quadratically). */
  def consistentPair(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
      pct: Int): (DataFrame, DataFrame) =
    (byKey(a, aKey, pct), byKey(b, bKey, pct))

  /** Stratified deterministic sampling — the training-mix constructor:
    * per-stratum keep rates (e.g. lang -> pct), applied by key hash so
    * the mix is reproducible run-to-run and cluster-to-cluster.
    * Strata absent from `rates` get `defaultPct`. */
  def stratified(df: DataFrame, keyCol: String, stratumCol: String,
      rates: Map[String, Int], defaultPct: Int = 0): DataFrame = {
    val pctExpr = rates.foldLeft(lit(defaultPct)) { case (acc, (stratum, pct)) =>
      when(col(stratumCol) === stratum, lit(pct)).otherwise(acc)
    }
    df.filter(pmod(xxhash64(col(keyCol)), lit(100)) < pctExpr)
  }
}
