package graft

import graft.Harness.round2

/** Over-cap LSH evidence (VERDICT r11 #4, extended to the embedding
  * family in round 13): run the banded dedup against an over-cap
  * fixture (≥ 24·2^16 ≈ 1.57 M docs/vectors) with NO force-props —
  * the shard-pair shape must build from the file-stat gate and S from
  * the in-plan corpus count — then re-run with S forced to 1 (the
  * sub-cap single-cell shape on the SAME data) and assert value
  * identity. One JSON line: n, the w/S the plan derives, both walls,
  * shuffle bytes, row counts, hash equality.
  *
  * Modes (both ride Retrieval.shardPairJoin and the shared 24·2^w
  * occupancy cap, so one harness covers both):
  *  - `text` (default): q_dedup_text_lsh over `documents` — fixture
  *    built by SfGen with SPARK_GRAFT_SF_TABLES=documents (×35 of sf1
  *    ≈ 1.75 M docs);
  *  - `embedding`: q_dedup_embedding_lsh over `embeddings` — fixture
  *    is sf1's embeddings replicated ×100 ≈ 2 M vectors with SfGen's
  *    rotate-plus-sign-flip rule (norm-preserving; the flip keyed by
  *    r/dim keeps replicas past the rotation period distinct — ADVICE
  *    r13), past the 250 MB organic build gate. The standing row was
  *    RE-MEASURED in round 15 on a post-sign-flip fixture (VERDICT
  *    r14 #4): S=2 organic 373.55 s vs forced-S=1 398.72 s,
  *    hash-identical, +2.2% shuffle — SCALING.md §1 carries the JSON;
  *    the superseded round-13 numbers came from a fixture whose
  *    replicas 64..99 duplicated 0..35 (pair counts read high there,
  *    though hash identity between the two shapes was unaffected).
  *
  * Usage: runMain graft.LshOverCap [fixtureDir] [text|embedding]
  */
object LshOverCap {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf35")
    val mode = if (args.length > 1) args(1) else "text"
    val (qname, table) = mode match {
      case "text"      => ("q_dedup_text_lsh", "documents")
      case "embedding" => ("q_dedup_embedding_lsh", "embeddings")
      case other => sys.error(s"unknown mode $other (text|embedding)")
    }
    require(System.getProperty(operators.Retrieval.forceShardsProp) == null,
      "organic run: no force-prop may be set at launch")
    // both runs rebuild the session-memoized text-vector basis, so
    // their walls and shuffle bytes compare the same work; each run's
    // Deferred scope drops its basis and LSH leaves
    System.setProperty(operators.Retrieval.freshFitProp, "true")
    // 1.75 M-doc caches + wide sorts on one JVM: a full-GC pause can
    // exceed the 120 s default executor-liveness window in local
    // mode, which kills the run spuriously (observed round 12) —
    // this is a single-box evidence harness, not the cluster shape
    val spark = Harness.session(Map(
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.network.timeout" -> "900s"))
    val stages = graft.engine.Metrics.countStages(spark)

    val n = spark.read.parquet(s"$dir/$table.parquet").count()
    // the same integer derivations the plan applies (Retrieval.scala
    // band width / Pipeline.annBitsSel): w = smallest width in 8..16
    // with 24·2^w ≥ n; S = ⌈n / 24·2^16⌉
    val w = (8 to 16).find(b => 24L * (1L << b) >= n).getOrElse(16)
    val s2 = ((n + 1572863L) / 1572864L).toInt
    require(n > 1572864L,
      s"fixture has $n $table rows — not over the 24*2^16 cap; rebuild bigger")

    def run(label: String): (Double, Long, String, String) = {
      spark.catalog.clearCache()
      val b0 = stages.settle()
      val ((df, rows), wall) = Harness.timed {
        val df = SparkEntry.queries(qname)(spark, dir)
        (df, df.collect())
      }
      val bytes = (stages.settle() - b0).shuffleWriteBytes
      val md = java.security.MessageDigest.getInstance("MD5")
      // \\u0001-separated fields (ADVICE r12): an empty separator aliases
      // across column boundaries — ("a","bc") vs ("ab","c") would hash
      // identically and mask a real divergence
      rows.map(_.mkString("\u0001")).sorted
        .foreach(r => md.update(r.getBytes("UTF-8")))
      val hash = md.digest().map("%02x".format(_)).mkString
      val plan = df.queryExecution.executedPlan.toString
      // the shard-pair join shape must be IN the executed plan: the
      // explode over the target-shard sequence and both shard keys.
      // Attribute-anchored (ADVICE r12): plan text renders attributes
      // as name#exprId, so \\bsa#\\d cannot match an incidental two-char
      // substring the way a bare contains("sa") could
      val shape = if ("""\bsa#\d""".r.findFirstIn(plan).isDefined &&
        """\btb#\d""".r.findFirstIn(plan).isDefined &&
        plan.contains("Generate")) "shard-pair" else "unsharded"
      println(s"[overcap] $label: wall ${round2(wall)} s, " +
        s"${rows.length} pairs, ${bytes / 1048576} MB shuffle, $shape")
      (wall, bytes, hash, shape)
    }

    // organic: S derived in-plan from the corpus count
    val (wOrg, bOrg, hOrg, shapeOrg) = run(s"organic $mode (expect S=$s2)")
    // control: the sub-cap single-cell shape, same data
    System.setProperty(operators.Retrieval.forceShardsProp, "1")
    val (wS1, bS1, hS1, _) = run("forced S=1 control")
    System.clearProperty(operators.Retrieval.forceShardsProp)

    require(shapeOrg == "shard-pair", "organic run did not build the shard shape")
    require(hOrg == hS1, s"VALUE DIVERGENCE: organic $hOrg vs S=1 $hS1")
    println(s"""{"overcap_lsh":{"mode":"$mode","dir":"$dir","n_docs":$n,"w":$w,"S":$s2,""" +
      s""""wall_organic":${round2(wOrg)},"wall_s1":${round2(wS1)},""" +
      s""""shuffle_mb_organic":${bOrg / 1048576},"shuffle_mb_s1":${bS1 / 1048576},""" +
      s""""hash_match":${hOrg == hS1},"cpus":${Harness.cpus}}}""")
    spark.stop()
  }
}
