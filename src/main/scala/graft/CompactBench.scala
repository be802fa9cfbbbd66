package graft

import graft.Harness.round2

/** Timed evidence for Layout.compactBucketed (VERDICT r13 #5 — the
  * lifecycle's last unmeasured step): build the ABSORBED gram index
  * (day-0 bucketed write + day-1 append, so every bucket holds ≥ 2
  * files), snapshot the day-2 probe output, compact BOTH index tables,
  * re-run the probe, require value identity, and print one JSON line
  * with files before/after and the compaction wall.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<fixture> runMain graft.CompactBench
  */
object CompactBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val bk = graft.engine.Layout.bucketsFor(s"$sfDir/documents.parquet")
    val probe = SparkEntry.queries("q_dedup_index_absorb")
    // first execution builds the absorbed index (write + append)
    val before = probe(spark, sfDir).collect().toSeq
    val (gT, cT) = graft.operators.Pipeline.gramIndexAbsorbed(spark, sfDir)
    val (((gb, ga), (cb, ca)), wall) = Harness.timed((
      graft.engine.Layout.compactBucketed(spark, gT, "g", bk),
      graft.engine.Layout.compactBucketed(spark, cT, "corpus_id", bk)))
    val after = probe(spark, sfDir).collect().toSeq
    require(before.nonEmpty && before == after,
      s"post-compact probe diverged: ${before.size} vs ${after.size} rows")
    println(s"""{"scenario":"compact_bucketed","sf":"$sfDir","buckets":$bk,""" +
      s""""gram_files":[$gb,$ga],"count_files":[$cb,$ca],""" +
      s""""wall_sec":${round2(wall)},"probe_rows":${before.size},""" +
      s""""post_compact_identical":true}""")
    spark.stop()
  }
}
