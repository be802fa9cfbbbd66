package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap and shared helpers for every `main` (the
  * reference's base_scraper.py owns session setup for both provider
  * pipelines the same way).
  *
  * Every session gets, from the environment:
  *  - `SPARK_GRAFT_CPUS` cores (default: every core the JVM sees) and as
  *    many shuffle partitions;
  *  - `SPARK_GRAFT_MASTER` as the master instead of `local[cores]`
  *    (e.g. `local-cluster[2,8,4096]` for real executor JVMs), with
  *    `SPARK_GRAFT_JAR` shipping the application classes as a jar;
  *
  * and, fixed: UTC session time zone, TIMESTAMP_MICROS parquet output,
  * no UI, a fresh temp warehouse (managed tables never land in a
  * cwd-relative spark-warehouse/) and the engine installed through
  * `spark.sql.extensions=graft.engine.GraftExtensions`, as the test
  * suite installs it — so RankFilterToAggregate also runs inside
  * operator optimization, and the mains run the plans PlanSpec checks.
  * Callers pass only the confs that really differ. */
object Harness {

  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(confs: Map[String, String] = Map.empty, cores: Int = cpus,
      logLevel: String = "WARN"): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_JAR").foreach(b.config("spark.jars", _))
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Wall seconds of `body`, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def secs(body: => Any): Double = timed(body)._2

  def round2(v: Double): Double = math.rint(v * 100) / 100

  /** 1-minute system load average, to one decimal. */
  def loadavg: Double = math.rint(java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage * 10) / 10
}
