package graft.operators

import org.apache.spark.sql.functions._

import graft.engine.{QueryPack, Tables}
import graft.functions.WeightedAvg

/** Typed Dataset + UDAF surface (SURVEY.md §2B q_udaf). */
object Typed extends QueryPack {

  override def queries: Map[String, Q] = Map(
    "q_udaf" -> ((s, d) => {
      import s.implicits._
      val ds = Tables.t(s, d, "lineitem")
        .select(col("l_extendedprice"), col("l_quantity"), col("l_returnflag"))
        .as[(Double, Double, String)]
      ds.groupByKey(_._3)
        .agg(new WeightedAvg().toColumn.name("wavg_price"))
        .toDF("l_returnflag", "wavg_price")
        .orderBy(col("l_returnflag"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "q_udaf" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
