package graft.operators

import org.apache.spark.sql.DataFrame

import graft.{Harness, SparkEntry}
import graft.Harness.loadavg
import graft.functions.GraftFunctions

/** Paired in-session A/B for a RUNTIME conf (r18): the box swings
  * ±40-80% across minutes even at equal 1-min loadavg, so split-session
  * A/Bs (one process per conf) confound conf with window. This main
  * alternates A(conf=v1) / B(conf=v2) WITHIN one session, clearing the
  * cache and re-warming before each timed run, and reports per-pair
  * deltas — window drift hits both arms of a pair near-equally.
  *
  * Usage: runMain graft.operators.ProfAB [sfDir] <conf> <v1> <v2> <q1> [q2 ...]
  * Measurement tool only — outside the declared surface. */
object ProfAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val key = args(1); val v1 = args(2); val v2 = args(3)
    val names = args.drop(4)
    val spark = Harness.session(logLevel = "ERROR")
    GraftFunctions.register(spark)
    val stages = graft.engine.Metrics.countStages(spark)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val gate = sys.env.getOrElse("PROF_LOAD_GATE", "2.5").toDouble
    def awaitQuiet(): Unit = {
      var waited = 0
      while (loadavg > gate && waited < 180) { Thread.sleep(10000); waited += 10 }
    }
    val pairs = sys.env.getOrElse("PROF_AB_PAIRS", "3").toInt

    names.foreach { name =>
      val mk = () => SparkEntry.queries(name)(spark, sfDir)
      // one arm: set conf, drop caches, ONE warm run (rebuilds caches
      // under this conf — cache materialization is where the conf
      // bites), then one timed run with its task count
      def arm(v: String): (Double, Long) = {
        spark.conf.set(key, v)
        spark.catalog.clearCache()
        noop(mk())
        val t0 = stages.settle()
        val secs = Harness.secs(noop(mk()))
        (secs, (stages.settle() - t0).tasks)
      }
      val obs = (1 to pairs).map { i =>
        awaitQuiet()
        val l0 = loadavg
        val a = arm(v1)
        val b = arm(v2)
        println(f"[ab] $name pair$i%d $key: $v1=${a._1}%6.3f (tasks=${a._2}) " +
          f"$v2=${b._1}%6.3f (tasks=${b._2}) load=$l0%.1f")
        (a, b)
      }
      val aMed = obs.map(_._1._1).sorted.apply(obs.size / 2)
      val bMed = obs.map(_._2._1).sorted.apply(obs.size / 2)
      println(f"[ab] $name%-22s $v1 med=${aMed}%6.3f  $v2 med=${bMed}%6.3f  " +
        f"min=${obs.map(_._1._1).min}%6.3f/${obs.map(_._2._1).min}%6.3f  " +
        s"tasks=${obs.last._1._2}/${obs.last._2._2}")
    }
    spark.stop()
  }
}
