package graft.catalog

/** End-to-end demo of the reference's product flow (crocus §3):
  * bronze provider records → normalize → confront → keyed products.json
  * → snapshot-partitioned store. Run: `sbt "runMain graft.catalog.CatalogDemo"`. */
object CatalogDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()
    import spark.implicits._

    val ishares = Catalog.normalizeIShares(Seq(
      ("IE00B5BMR087", "iShares Core S&P 500 UCITS ETF\nCSPX", null: String,
        "USD", "0,07", "USD 632,42", "28 feb 2025",
        "https://e.com/fs", "https://e.com/kid", "https://e.com/p",
        "https://e.com/h?fileType=csv"))
      .toDF("isin", "name", "fund_type", "currency", "ter", "price", "date",
        "factsheet", "kid", "product_page", "holdings_file"))
    val vanguard = Catalog.normalizeVanguard(Seq(
      ("IE00BK5BQT80", "FTSE All-World UCITS ETF (USD)\nACCUMULATING",
        "VWCE IM", "equity", "USD", "0,22%", "144,12 USD", "21/02/25",
        "https://v.com/fs", "https://v.com/kid", "https://v.com/p"),
      ("IE00B5BMR087", "S&P 500 UCITS ETF (USD)\nACCUMULATING",
        "VUAA IM", "equity", "USD", "0,07%", "628,11 USD", "21/02/25",
        "https://v.com/fs2", "https://v.com/kid2", "https://v.com/p2"))
      .toDF("isin", "name", "ticker", "asset_class", "currency", "ter",
        "price", "date", "factsheet", "kid", "product_page"))

    println("== silver (typed) ==")
    ishares.unionByName(vanguard).show(10, truncate = false)
    println("== confront (cross-provider diff) ==")
    Catalog.confront(ishares, vanguard).show(10, truncate = false)
    println("== products.json (reference sink shape) ==")
    println(Catalog.productsJsonString(
      ishares.select("isin", "name", "ter", "price_ccy")))
    spark.stop()
  }
}
