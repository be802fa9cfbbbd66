package graft

import org.apache.spark.sql.functions._

import graft.engine.GraftSession
import graft.sources.{Holdings, HttpSource}

/** Acquisition + holdings connectors (crocus A4/A8/A9) and the SQL
  * surface, driven end-to-end on local files. */
class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("HttpSource fetches a url catalog partition-parallel (file:// scheme)") {
    val src = tmpDir("src")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/a.csv"), "h1,h2\n1,2\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/b.csv"), "h1,h2\n3,4\n5,6\n")
    val dest = tmpDir("dest")
    val urls = Seq(
      (s"file://$src/a.csv", "IE00AAA.csv"),
      (s"file://$src/b.csv", "IE00BBB.csv"),
      (s"file://$src/missing.csv", "IE00CCC.csv"))
      .toDF("url", "filename")
    val res = HttpSource.fetchAll(urls, dest, parallelism = 2)
    assert(res.filter(col("ok")).count() == 2)
    val bad = res.filter(!col("ok")).collect()
    assert(bad.length == 1 && bad(0).getAs[String]("error").nonEmpty)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dest/IE00AAA.csv")))
  }

  test("holdingsFilename: fileType param with csv default (A11/A22)") {
    val got = Seq(
      ("https://x.com/d?fileType=xlsx", "IE1"),
      ("https://x.com/d", "IE2"))
      .toDF("url", "isin")
      .select(HttpSource.holdingsFilename(col("url"), col("isin")).as("f"))
      .as[String].collect().toSet
    assert(got == Set("IE1.xlsx", "IE2.csv"))
  }

  test("holdings csv ingest derives isin from filename with inferred schema") {
    val dir = tmpDir("hold")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/IE00B5BMR087.csv"),
      "ticker,weight\nAAPL,7.1\nMSFT,6.5\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/IE00BK5BQT80.csv"),
      "ticker,weight\nNVDA,5.0\n")
    val df = Holdings.readHoldings(spark, dir)
    assert(df.count() == 3)
    assert(df.schema("weight").dataType.typeName == "double")
    val byIsin = df.groupBy("isin").count().as[(String, Long)].collect().toMap
    assert(byIsin == Map("IE00B5BMR087" -> 2L, "IE00BK5BQT80" -> 1L))
  }

  test("latestPerKey is the argmax-by-mtime of the reference rename") {
    val dir = tmpDir("latest")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/IE1.csv"), "old")
    Thread.sleep(1100) // binaryFile mtime granularity is 1s
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/IE1.xlsx"), "newer")
    val latest = Holdings.latestPerKey(spark, dir).collect()
    assert(latest.length == 1)
    assert(latest(0).getAs[String]("path").endsWith("IE1.xlsx"))
  }

  test("acquisition->analysis end-to-end: fetch holdings, ingest, aggregate") {
    // the reference's §3 flow: catalog of holdings urls → rate-limited
    // fetch → csv ingest keyed by filename → per-fund analytics
    val src = tmpDir("holdsrc")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/a.csv"),
      "ticker,weight\nAAPL,7.1\nMSFT,6.5\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/b.csv"),
      "ticker,weight\nNVDA,5.0\nAAPL,4.0\n")
    val landed = tmpDir("holdland")
    val catalog = Seq(
      (s"file://$src/a.csv", "IE00AAA"), (s"file://$src/b.csv", "IE00BBB"))
      .toDF("url", "isin")
      .withColumn("filename",
        HttpSource.holdingsFilename(col("url"), col("isin")))
    assert(HttpSource.fetchAll(catalog, landed, parallelism = 2)
      .filter(col("ok")).count() == 2)
    val holdings = Holdings.readHoldings(spark, landed)
    val topw = holdings.groupBy("isin")
      .agg(sum(col("weight")).as("total_w"), count(lit(1)).as("n_pos"))
      .orderBy("isin").collect()
    assert(topw.map(r => (r.getString(0), r.getLong(2))).toSeq ==
      Seq(("IE00AAA", 2L), ("IE00BBB", 2L)))
    // cross-fund overlap: tickers held by both funds
    val overlap = holdings.groupBy("ticker")
      .agg(countDistinct("isin").as("n_funds"))
      .filter(col("n_funds") > 1).collect()
    assert(overlap.map(_.getString(0)).toSeq == Seq("AAPL"))
  }

  test("Acquire: click-download analog lands opaque files and claims by mtime (A6)") {
    import graft.sources.Acquire
    val src = tmpDir("vansrc")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/equity-fund-download.csv"),
      "ticker,weight\nAAPL,7.1\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/bond-fund-download.csv"),
      "ticker,weight\nT10Y,3.2\nT30Y,2.9\n")
    val staging = tmpDir("vanstage")
    val landing = tmpDir("vanland")
    // failing product FIRST: its fetch must leave no partial file in
    // staging for the next product's mtime-argmax claim to adopt
    val catalog = Seq(
      ("IE00XX3", s"file://$src/missing.csv"),
      ("IE00EQ1", s"file://$src/equity-fund-download.csv"),
      ("IE00BD2", s"file://$src/bond-fund-download.csv"))
      .toDF("isin", "url")
    val res = Acquire.acquireAll(spark, catalog, staging, landing).collect()
    assert(res.count(_.getAs[Boolean]("ok")) == 2)
    // the first success claimed its own bytes, not a stale partial
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$landing/IE00EQ1.csv")).contains("AAPL"))
    val bad = res.filter(!_.getAs[Boolean]("ok"))
    assert(bad.length == 1 && bad(0).getAs[String]("isin") == "IE00XX3" &&
      bad(0).getAs[String]("error").nonEmpty)
    // landed files are keyed {isin}.{ext}; staging is fully claimed
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$landing/IE00EQ1.csv")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$landing/IE00BD2.csv")))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(staging)).count() == 0)
    // and flow straight into the holdings ingest path
    val holdings = Holdings.readHoldings(spark, landing)
    assert(holdings.select("isin").distinct().collect().map(_.getString(0)).sorted
      .sameElements(Array("IE00BD2", "IE00EQ1")))
  }

  test("Acquire.acquireAll: one entry point, both shapes equivalent (VERDICT r10 #6)") {
    import graft.sources.Acquire
    val src = tmpDir("unisrc")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/a.csv"), "x,y\n1,2\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/b.json"), "{\"k\":1}")
    val catalog = Seq(
      ("IE00AA1", s"file://$src/a.csv"),
      ("IE00BB2", s"file://$src/b.json"),
      ("IE00CC3", s"file://$src/missing.csv")).toDF("isin", "url")
    // sequential shape: catalog under the boundary
    val seqLand = tmpDir("uniseqland")
    val seqRes = Acquire
      .acquireAll(spark, catalog, tmpDir("uniseqstage"), seqLand)
      .orderBy("isin").collect()
    // delegated shape: boundary forced under the catalog size
    val parLand = tmpDir("uniparland")
    val parStage = tmpDir("uniparstage")
    val parRes = Acquire
      .acquireAll(spark, catalog, parStage, parLand, maxSequential = 2)
      .orderBy("isin").collect()
    // same verdicts, filenames, and bytes — only the landing dir differs
    assert(seqRes.length == parRes.length)
    seqRes.zip(parRes).foreach { case (a, b) =>
      assert(a.getAs[String]("isin") == b.getAs[String]("isin"))
      assert(a.getAs[Boolean]("ok") == b.getAs[Boolean]("ok"), a.toString)
      assert(a.getAs[Long]("bytes") == b.getAs[Long]("bytes"))
      assert(Option(a.getAs[String]("landed")).map(_.split('/').last) ==
        Option(b.getAs[String]("landed")).map(_.split('/').last),
        s"filename drift: $a vs $b")
    }
    // keyed {isin}.{ext} names need no staging claim: dir stays empty
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(parStage)).count() == 0)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$parLand/IE00AA1.csv")).contains("1,2"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$parLand/IE00BB2.json")))
  }

  test("Acquire.claimLatest takes the newest staging file (reference rename)") {
    import graft.sources.Acquire
    val staging = tmpDir("clstage")
    val landing = tmpDir("clland")
    val older = java.nio.file.Paths.get(s"$staging/download-a.xlsx")
    val newer = java.nio.file.Paths.get(s"$staging/download-b.csv")
    java.nio.file.Files.writeString(older, "old")
    java.nio.file.Files.writeString(newer, "new")
    older.toFile.setLastModified(1000000000000L)
    newer.toFile.setLastModified(1700000000000L)
    val claimed = Acquire.claimLatest(staging, "IE00ZZZ", landing)
    assert(claimed.exists(_.toString.endsWith("IE00ZZZ.csv")))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$landing/IE00ZZZ.csv")) == "new")
    // the older file stays staged; empty staging yields None
    assert(java.nio.file.Files.exists(older))
    assert(Acquire.claimLatest(tmpDir("empty"), "IE00ZZZ", landing).isEmpty)
  }

  test("DSv2 products source reads keyed-object catalog json") {
    import graft.catalog.Catalog
    val silver = Catalog.normalizeIShares(Seq(
      ("IE00B5BMR087", "iShares Core S&P 500 UCITS ETF", null: String,
        "USD", "0,07", "USD 632,42", "28 feb 2025",
        "https://e.com/fs", "https://e.com/kid", "https://e.com/p",
        "https://e.com/h?fileType=csv"))
      .toDF("isin", "name", "fund_type", "currency", "ter", "price", "date",
        "factsheet", "kid", "product_page", "holdings_file"))
      .select(col("isin"), col("name"), col("price_ccy"),
        col("ter").cast("string").as("ter"))
    val dir = tmpDir("dsv2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/products.json"),
      Catalog.productsJsonString(silver))
    val df = spark.read.format("graft.sources.ProductsSource")
      .load(s"$dir/products.json")
    assert(df.columns.sorted.toSeq == Seq("isin", "name", "price_ccy", "ter"))
    val r = df.collect()(0)
    assert(r.getAs[String]("isin") == "IE00B5BMR087")
    assert(r.getAs[String]("price_ccy") == "USD")
    // integrates like any table: joinable + SQL-able
    df.createOrReplaceTempView("products_dsv2")
    assert(spark.sql(
      "SELECT count(*) FROM products_dsv2 WHERE price_ccy = 'USD'")
      .collect()(0).getLong(0) == 1)
    // column pruning + isin filter pushdown reach the DSv2 scan
    val pruned = df.filter(col("isin") === "IE00B5BMR087").select("name")
    assert(pruned.collect()(0).getString(0) == "iShares Core S&P 500 UCITS ETF")
    val plan = pruned.queryExecution.executedPlan.toString
    // filter fully consumed by the source: no Filter node survives, and
    // column pruning leaves only `name` in the scan output
    assert(!plan.contains("Filter "), plan)
    assert(plan.contains("[name#") && !plan.contains("price_ccy"), plan)
    // unmatched pushed filter → empty at the source
    assert(df.filter(col("isin") === "ZZ_NOPE").count() == 0)
  }

  test("SQL surface: openCatalog + spark.sql runs Q1 and custom functions") {
    GraftSession.openCatalog(spark, sf)
    val q1 = spark.sql(
      """SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) s
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)
    assert(q1.count() == 3)
    val fn = spark.sql(
      """SELECT parse_locale_pct('0,22%') p,
        |       parse_date_it('28 feb 2025') d,
        |       dot_d(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) dp""".stripMargin)
      .collect()(0)
    assert(fn.getDouble(0) == 0.22 / 100)
    assert(fn.getDate(1).toString == "2025-02-28")
    assert(fn.getDouble(2) == 11.0)
  }

  test("GraftExtensions wires functions through SparkSessionExtensions") {
    import org.apache.spark.sql.SparkSession
    spark // force shared session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.extensions", "graft.engine.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      assert(s2 ne spark, "must be a fresh session for the test to mean anything")
      val r = s2.sql("SELECT parse_locale_pct('0,07') p").collect()(0)
      assert(r.getDouble(0) == 0.07 / 100)
      // the aggregates come from the same function table
      val top = s2.sql("SELECT top_k_by(a, o, 2) FROM VALUES " +
        "(1L, 10L), (2L, 30L), (3L, 20L) AS v(a, o)").collect()(0)
      assert(top.getSeq[Long](0) == Seq(2L, 3L))
      val sig = s2.sql("SELECT minhash_sig(h, 4) FROM VALUES (1L), (2L) AS v(h)")
        .collect()(0)
      assert(sig.getSeq[Long](0).size == 4)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
