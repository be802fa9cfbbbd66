package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan dumps of SparkEntry queries — the plan-quality review
  * artifact (see PERF.md).
  *
  * Usage:
  *  - `runMain graft.Plans <sfDir> <outFile>`: every query, one
  *    markdown book (docs/PLANS.md);
  *  - `runMain graft.Plans <sfDir> <outDir> <suffix> <q1> [q2 ...]`:
  *    one `<outDir>/<q>_<suffix>.txt` per named query (the per-change
  *    `plans/` pairs).
  *
  * A query renders as its formatted plan. Deferred-wrapped queries
  * (VERDICT r13 #2-of-missing: their entries showed only the one-node
  * Deferred leaf, making the dump blind to the very plans that matter
  * most at scale) are MATERIALIZED once through a noop sink: the
  * deferred body builds and plans at first execution, and the
  * executed-plan tree then renders the full inner plan via
  * innerChildren. SPARK_GRAFT_PLAN_EXEC=1 renders the EXECUTED plan for
  * every query: the post-AQE tree is the only place runtime
  * re-optimization (AQEShuffleRead coalescing, join rewrites, the
  * cached-plan partitioning change) is visible; the static
  * FormattedMode text is identical across those confs.
  *
  * The session runs on a fixed 4 cores, whatever SPARK_GRAFT_CPUS says:
  * the output is a checked-in artifact. */
object Plans {
  private val execAll = sys.env.get("SPARK_GRAFT_PLAN_EXEC").contains("1")

  /** The plan text of `df`, and whether rendering executed it. */
  private def render(df: DataFrame): (String, Boolean) = {
    val pre = df.queryExecution.explainString(FormattedMode).trim
    if (execAll || pre.contains("Deferred")) {
      df.write.format("noop").mode("overwrite").save()
      (df.queryExecution.executedPlan.toString.trim, true)
    } else (pre, false)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Harness.session(cores = 4, logLevel = "ERROR")
    if (args.length > 3) {
      val suffix = args(2)
      args.drop(3).foreach { name =>
        Files.writeString(Paths.get(s"$out/${name}_$suffix.txt"),
          render(SparkEntry.queries(name)(spark, sfDir))._1)
        println(s"[plans] wrote $name")
      }
    } else {
      val sb = new StringBuilder
      sb ++= s"# Physical plans (generated by graft.Plans, $sfDir)\n\n"
      sb ++= "Optimizer output per query — the scale-behavior artifact:\n"
      sb ++= "pushdown/pruning at the scans, broadcast vs shuffle joins,\n"
      sb ++= "partial aggregation, codegen stage markers `*(n)`.\n"
      sb ++= "Deferred-wrapped queries are materialized once and show the\n"
      sb ++= "EXECUTED inner plan (tree form) instead of the deferred leaf.\n"
      var nExec = 0
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        sb ++= s"\n## $name\n\n```\n"
        try {
          val (txt, executed) = render(fn(spark, sfDir))
          if (executed) nExec += 1
          sb ++= txt
        } catch { case e: Throwable =>
          sb ++= s"<plan unavailable: ${e.getMessage}>"
        }
        sb ++= "\n```\n"
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[plans] wrote ${SparkEntry.queries.size} plans " +
        s"($nExec materialized) to $out")
    }
    spark.stop()
  }
}
