package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness.{round2, timed}
import graft.engine.{Leaves, StandingIndex, Tables}
import graft.operators.StandingIndexes

/** Multi-day soak of every standing-index family, driven through the
  * engine.StandingIndex seam (VERDICT r14 #7, r15 #5).
  *
  * LIFECYCLE, one row per family: build a throwaway index over the
  * id % 10 ≠ 0 corpus, absorb three disjoint crawl days (id % 40 = 0 /
  * 10 / 20), snapshot a day-4 probe (id % 40 = 30, never absorbed),
  * PURGE the members with id % 30 = 3 (tombstone sidecars), snapshot
  * the purged probe, compact every declared table WITH TOMBSTONE
  * FOLDING, and re-probe: the fold must not move a verdict by a bit,
  * the sidecars must be gone, and the purged rows physically absent.
  * The row carries the build, absorb, purge and fold walls, each
  * table's file fan-in before/after the fold, and the probe row
  * counts before/after the purge.
  *
  * POLICY, one row per family with frozen stats: gauge → decision →
  * repair at the DEFAULT thresholds, on inputs constructed to age the
  * frozen stats for real. The text index freezes its vocabulary on
  * the FIRST HALF of the doc-id space and the gauge batch comes from
  * the second half (on an SfGen-scaled fixture that is a genuine
  * domain shift: replica tokens are disjoint); the embedding and IVF
  * indexes freeze on a 1/16th build slice and absorb three
  * quarter-corpus days on top (≥ 4× the design capacity once the
  * fixture holds > ~25k vectors — pass a factor-30 embeddings fixture
  * as SPARK_GRAFT_SOAK_EMB_DIR). The row prints the gauge as read;
  * when the policy fires, it asserts the repaired index probes equal
  * to a from-scratch build over the same membership.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<fixture> runMain graft.SoakBench
  */
object SoakBench {

  /** Inputs that age a family's frozen stats: the fixture, the corpus
    * the index freezes on, the absorbed days, and the gauge batch. */
  private final case class Aging(dir: String, corpus: Column,
      days: Seq[Column], batch: Column)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val embDir = sys.env.getOrElse("SPARK_GRAFT_SOAK_EMB_DIR", sfDir)
    val spark = Harness.session()
    StandingIndexes.families.foreach(f => lifecycle(spark, sfDir, f))

    val (doc, vec) = (col("doc_id"), col("vec_id"))
    val half = Tables.t(spark, sfDir, "documents")
      .agg(max(doc)).head().getLong(0) / 2 + 1
    val grown = Aging(embDir, vec % 16 === 1,
      Seq(0, 2, 3).map(r => vec % 16 =!= 1 && vec % 4 === r), vec % 16 === 5)
    val aging: Seq[(StandingIndex[_], Aging)] = Seq(
      StandingIndexes.TextLsh -> Aging(sfDir, doc < half && doc % 10 =!= 0,
        Seq(doc >= half && doc % 40 === 0), doc >= half && doc % 40 === 30),
      StandingIndexes.EmbLsh -> grown,
      StandingIndexes.Ivf -> grown)
    aging.foreach { case (f, a) => policy(spark, f, a) }
    spark.stop()
  }

  private def lifecycle[T](spark: SparkSession, d: String,
      f: StandingIndex[T]): Unit = {
    val id = col(f.idCol)
    val (t, buildW) =
      timed(f.build(spark, d, "_soak", _.filter(id % 10 =!= 0)))
    val absorbW = Seq(0, 10, 20).map(dy =>
      timed(f.absorb(spark, d, t, id % 40 === dy))._2)
    def probe() = f.probe(spark, d, t, id % 40 === 30)
      .collect().map(_.toString).toSeq
    val before = probe()
    // land the ids first: members reads through the tombstones
    val ids = Leaves.land(f.members(spark, d, t).filter(id % 30 === 3))
    val (_, purgeW) = timed(f.purge(spark, t, ids))
    val purged = probe()
    val (files, compW) = timed(f.compact(spark, d, t))
    val after = probe()
    require(purged == after, s"${f.family} probe diverged across the fold: " +
      s"${purged.size} vs ${after.size}")
    val left = f.idTables(t).collect { case (table, _, idc)
      if spark.catalog.tableExists(table + "_tomb") ||
        !spark.table(table).join(ids.select(id.as(idc)), Seq(idc), "left_semi")
          .isEmpty => table }
    require(left.isEmpty, s"${f.family}: the fold left tombstones or " +
      s"purged rows in ${left.mkString(", ")}")
    def arr(xs: Seq[Any]) = xs.mkString("[", ",", "]")
    println(s"""{"scenario":"soak_${f.family}","sf":"$d",""" +
      s""""buckets":${f.buckets(d)},"build_sec":${round2(buildW)},""" +
      s""""absorb_sec":${arr(absorbW.map(round2))},""" +
      s""""purge_sec":${round2(purgeW)},""" +
      s""""tables":${arr(f.idTables(t).map(e => s""""${e._1}""""))},""" +
      s""""files":${arr(files.map { case (b, a) => arr(Seq(b, a)) })},""" +
      s""""fold_compact_sec":${round2(compW)},""" +
      s""""probe_rows":[${before.size},${purged.size}],""" +
      s""""post_fold_identical":true}""")
  }

  private def policy[T](spark: SparkSession, f: StandingIndex[T],
      a: Aging): Unit = {
    val t = f.build(spark, a.dir, "_soakpol", _.filter(a.corpus))
    a.days.foreach(f.absorb(spark, a.dir, t, _))
    val gauge = f.gauge(spark, a.dir, t, a.batch)
      .getOrElse(sys.error(s"${f.family} has no gauge")).toJSON.head()
    val (repaired, rw) = timed(f.maybeMaintain(spark, a.dir, t, a.batch,
      "_soakpolr"))
    val identical = repaired.map { rt =>
      val fresh = f.build(spark, a.dir, "_soakpolf",
        _.filter(a.days.foldLeft(a.corpus)(_ || _)))
      def probe(tt: T) = f.probe(spark, a.dir, tt, a.batch)
        .collect().map(_.toString).toSeq
      require(probe(rt) == probe(fresh),
        s"${f.family}: the repaired index probes apart from a fresh build")
      true
    }
    println(s"""{"scenario":"soak_policy_${f.family}","sf":"${a.dir}",""" +
      s""""gauge":$gauge,"repaired":${repaired.isDefined},""" +
      s""""repair_sec":${round2(rw)},""" +
      s""""post_repair_identical":${identical.getOrElse(null)}}""")
  }
}
