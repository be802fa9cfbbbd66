package graft

import org.apache.spark.sql.functions._

import graft.operators.HoldingsContent
import graft.sources.Holdings

/** Ground truths for the holdings-CONTENT pack (value parity is the
  * DuckDB oracle gate; these pin what the oracle can't see: the landed
  * on-disk shape, the csv round-trip losslessness, and the semantic
  * invariants of the overlap/drift scores). */
class HoldingsSpec extends SparkTestBase {

  test("landing shape: one flat {fund}.csv per fund — the reference's download layout") {
    for (tree <- HoldingsContent.fullTree +: HoldingsContent.dateTrees) {
      val files = new java.io.File(HoldingsContent.holdingsTree(spark, sf, tree))
        .listFiles()
        .filter(_.getName.endsWith(".csv")).map(_.getName).sorted
      assert(files.toSeq == (0 to 5).map(i => s"F$i.csv"),
        s"${tree.name} landed ${files.mkString(",")}")
    }
  }

  test("csv round trip is lossless: ingested weights equal a direct recompute") {
    val ingested = Holdings.readHoldings(spark,
      HoldingsContent.holdingsTree(spark, sf, HoldingsContent.fullTree))
      .select(col("isin"), col("constituent").cast("long").as("constituent"),
        col("weight").cast("decimal(12,10)").as("w"))
    // recompute the weights straight from lineitem (never touching csv)
    val h = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(concat(lit("F"), (col("l_suppkey") % 6).cast("string")).as("isin"),
        col("l_partkey").as("constituent"),
        col("l_quantity").cast("decimal(18,2)").as("qd"))
      .groupBy(col("isin"), col("constituent")).agg(sum(col("qd")).as("q"))
    val tot = h.groupBy(col("isin")).agg(sum(col("q")).as("tot"))
    val direct = h.join(tot, Seq("isin"))
      .select(col("isin"), col("constituent"),
        round(col("q").cast("double") / col("tot").cast("double"), 10)
          .cast("decimal(12,10)").as("w"))
    assert(ingested.count() == direct.count())
    assert(ingested.join(direct, Seq("isin", "constituent", "w")).count()
      == direct.count(), "some weight changed across the csv round trip")
  }

  test("per-fund ingested weights sum to 1 (up to 1e-10-per-row rounding)") {
    val sums = Holdings.readHoldings(spark,
      HoldingsContent.holdingsTree(spark, sf, HoldingsContent.fullTree))
      .groupBy(col("isin"))
      .agg(sum(col("weight").cast("decimal(12,10)")).as("s"),
        count(lit(1)).as("n"))
      .collect()
    assert(sums.length == 6)
    sums.foreach { r =>
      val s = r.getDecimal(1).doubleValue()
      val slack = 1e-10 * r.getLong(2) + 1e-12
      assert(math.abs(s - 1.0) <= slack, s"fund ${r.getString(0)} sums to $s")
    }
  }

  test("q_holdings_overlap: all 15 ordered pairs, score in [0,1], symmetric base") {
    val rows = q("q_holdings_overlap").collect()
    assert(rows.length == 15, "C(6,2) fund pairs")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs are ordered a < b")
      val ov = r.getDouble(3)
      assert(ov >= 0.0 && ov <= 1.0, s"overlap $ov out of [0,1]")
      assert(r.getLong(2) > 0, "fixture funds share constituents")
    }
  }

  test("q_holdings_overlap: broadcast and co-partitioned shapes are value-identical, gate switches the plan") {
    // VERDICT r12: the overlap join is size-gated — broadcast below
    // the file-stat budget (this fixture), co-partitioned merge join
    // on `constituent` above it (forced here via the sys prop). Both
    // shapes must produce byte-identical rows, and the plan must
    // actually switch.
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); df.queryExecution.executedPlan.toString
    }
    val bDf = q("q_holdings_overlap")
    val bRows = bDf.collect().map(_.toString).toSeq
    assert(planOf(bDf).contains("BroadcastHashJoin"),
      "sub-budget fixture must take the broadcast shape")
    System.setProperty(HoldingsContent.forceShuffleProp, "true")
    try {
      val sDf = q("q_holdings_overlap")
      val sPlan = planOf(sDf)
      assert(!sPlan.contains("BroadcastHashJoin"),
        s"forced shuffle shape still broadcasts:\n$sPlan")
      assert(sPlan.contains("SortMergeJoin"),
        s"forced shape is not the co-partitioned merge join:\n$sPlan")
      val sRows = sDf.collect().map(_.toString).toSeq
      assert(sRows == bRows, "broadcast vs co-partitioned shapes diverged")
    } finally System.clearProperty(HoldingsContent.forceShuffleProp)
  }

  test("q_holdings_xprovider: heterogeneous ids resolve by NAME — true cross-id matches present") {
    val rows = q("q_holdings_xprovider").collect()
    assert(rows.nonEmpty, "no cross-provider matches at all")
    // nothing was equi-joinable: id spaces are disjoint by construction
    assert(rows.forall(r => r.getString(1).startsWith("A") &&
      r.getString(2).startsWith("B")))
    // a TRUE match is one whose decimal and hex ids denote the same part
    val truePairs = rows.filter { r =>
      r.getString(1).drop(1) ==
        java.lang.Long.parseLong(r.getString(2).drop(1), 16).toString
    }
    assert(truePairs.nonEmpty, "no same-part match survived the name matching")
    // every pair passed the integer-arithmetic jaccard >= 0.5 gate
    rows.foreach { r =>
      val j = r.getDouble(4)
      assert(j >= 0.5 - 1e-9 && j <= 1.0 + 1e-9, s"jaccard $j out of range")
    }
    // the confrontation payload is real: providers report different
    // periods, so some true match carries diverging weights
    assert(truePairs.exists(r => r.getDouble(5) != r.getDouble(6)),
      "all matched weights identical — period split not exercised")
  }

  test("q_holdings_drift: top-50 per fund, rank ordered by |drift|, statuses real") {
    val rows = q("q_holdings_drift").collect()
    val byFund = rows.groupBy(_.getString(0))
    assert(byFund.keySet == (0 to 5).map(i => s"F$i").toSet)
    byFund.foreach { case (f, rs) =>
      assert(rs.length == 50, s"$f returned ${rs.length} rows")
      val drifts = rs.sortBy(_.getInt(6)).map(r => math.abs(r.getDouble(5)))
      assert(drifts.zip(drifts.tail).forall { case (a, b) => a >= b - 1e-15 },
        s"$f ranks not ordered by |drift|")
    }
    val statuses = rows.map(_.getString(2)).toSet
    assert(statuses.contains("entered") && statuses.contains("exited") &&
      statuses.contains("held"), s"statuses seen: $statuses")
    // entered rows have no prior weight; exited no current weight
    rows.foreach { r =>
      r.getString(2) match {
        case "entered" => assert(r.isNullAt(3) && !r.isNullAt(4))
        case "exited"  => assert(!r.isNullAt(3) && r.isNullAt(4))
        case _         => assert(!r.isNullAt(3) && !r.isNullAt(4))
      }
    }
  }

  test("header drift fails loudly: swapped csv columns throw instead of binding by position") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val content = StructType(Seq(
      StructField("constituent", LongType), StructField("weight", DoubleType)))
    val dir = java.nio.file.Files.createTempDirectory("graft-holdings-drift")
    def land(name: String, csv: String): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), csv)
    land("F0.csv", "constituent,weight\n3,7\n")
    // the control: a conforming header reads back by name
    val ok = Holdings.readHoldingsAs(spark, dir.toString, content).collect()
    assert(ok.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((3L, 7.0)))
    // both values parse as either type, so positional binding would
    // silently yield constituent 7 / weight 3.0 for this fund
    land("F1.csv", "weight,constituent\n7,3\n")
    val e = intercept[Exception](
      Holdings.readHoldingsAs(spark, dir.toString, content).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("header"), msgs)
  }

  test("q_holdings_overlap lands only the full tree, never the two date trees") {
    // a fixture dir no other case touches — a fresh copy of lineitem —
    // so neither this context's memo nor an earlier run landed its trees
    val d = java.nio.file.Files.createTempDirectory("graft-holdings-full-only")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/lineitem.parquet"),
      d.resolve("lineitem.parquet"))
    val landed = HoldingsContent.holdingsDir(d.toString)
    try {
      val rows = SparkEntry.queries("q_holdings_overlap")(spark, d.toString)
        .collect()
      assert(rows.length == 15, s"${rows.length} fund pairs")
      val trees = Option(landed.list()).map(_.toSeq.sorted).getOrElse(Nil)
      assert(trees == Seq(HoldingsContent.fullTree.name),
        s"landed trees: ${trees.mkString(",")}")
    } finally {
      graft.engine.Layout.deleteRecursively(landed)
      graft.engine.Layout.deleteRecursively(d.toFile)
    }
  }
}
