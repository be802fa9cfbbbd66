package graft

/** Local smoke: runs SparkEntry.entry (the driver's rows>0 check) and
  * prints the result. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"[smoke] entry rows=${df.count()}")
    spark.stop()
  }
}
