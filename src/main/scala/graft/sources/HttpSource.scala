package graft.sources

import java.io.{BufferedInputStream, FileOutputStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Acquisition connector: fetch a catalog of URLs to local files,
  * partition-parallel with a per-task politeness delay — the engine
  * analog of the reference's sequential download loop (crocus
  * base_scraper.py:180-191, sleeps at ishares.py:187 / vanguard.py:150).
  *
  * Distribution model: the url catalog is repartitioned to bound
  * per-host concurrency; each task streams its urls sequentially with
  * `delayMs` between requests, so cluster-wide request rate is
  * `partitions / delay` — tunable politeness at 1000-executor scale.
  * Results (url, path, bytes, ok, error) come back as a DataFrame so
  * failures are data, not exceptions (continue-on-error per element,
  * base_scraper.py:103-109).
  */
object HttpSource {

  case class FetchResult(url: String, dest: String, bytes: Long,
      ok: Boolean, error: String)

  /** Stream one url to dest, atomically: bytes land under a temp name
    * and only a COMPLETE download renames onto dest. A failure can
    * therefore never leave a partial file (Acquire's claim-by-mtime
    * would adopt it) nor destroy a pre-existing good dest from an
    * earlier run — the temp file alone is cleaned up. */
  private[sources] def fetchOne(url: String, dest: String): Long = {
    val tmp = Paths.get(dest + ".part")
    try {
      val conn = new java.net.URL(url).openConnection()
      conn.setConnectTimeout(20000) // reference's 20s wait, base_scraper.py:68
      conn.setReadTimeout(20000)
      val in = new BufferedInputStream(conn.getInputStream)
      val total =
        try {
          val out = new FileOutputStream(tmp.toFile)
          try {
            val buf = new Array[Byte](64 * 1024)
            var n = in.read(buf)
            var t = 0L
            while (n >= 0) { out.write(buf, 0, n); t += n; n = in.read(buf) }
            t
          } finally out.close()
        } finally in.close()
      Files.move(tmp, Paths.get(dest),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      total
    } catch {
      case e: Exception =>
        Files.deleteIfExists(tmp)
        throw e
    }
  }

  /** Fetch each (url, filename) row into destDir. Supports any
    * java.net.URL scheme (http/https/file). */
  def fetchAll(urls: DataFrame, destDir: String, parallelism: Int = 4,
      delayMs: Long = 0L): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    Files.createDirectories(Paths.get(destDir))
    val rows = urls.select(col("url").cast("string"), col("filename").cast("string"))
      .repartition(parallelism)
      .as[(String, String)]
    rows.mapPartitions { it =>
      it.map { case (url, filename) =>
        if (delayMs > 0) Thread.sleep(delayMs)
        val dest = s"$destDir/$filename"
        try FetchResult(url, dest, fetchOne(url, dest), ok = true, null)
        catch {
          case e: Exception => FetchResult(url, dest, 0L, ok = false,
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }.toDF()
  }

  /** Default filename: last path segment; extension from the fileType
    * query param, default csv (crocus ishares.py:181-186). */
  def holdingsFilename(urlCol: org.apache.spark.sql.Column,
      isinCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(isinCol, lit("."),
      coalesce(parse_url(urlCol, lit("QUERY"), lit("fileType")), lit("csv")))
}
