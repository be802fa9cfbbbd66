package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 test-fixture generator (VERDICT r6/r7: "one standing sf1 bench
  * row"): scales the driver's sf0.1 tables ×N with referential
  * consistency, so the full surface + DuckDB oracles can run at sf1
  * without touching the read-only driver data.
  *
  * Replication scheme (replica r of N):
  *  - dims `region`/`nation` are fixed (as in TPC-H — they don't scale);
  *  - every other table's keys shift by r·(max(key)+1), with FK columns
  *    shifted by the PARENT's offset, so orders→customer,
  *    lineitem→{orders,part,supplier} and documents↔embeddings
  *    (doc_id = vec_id joins, hence one SHARED offset for both) keep
  *    exactly N× the base match cardinality;
  *  - `documents.text` tokens get a `_r{r}` suffix for r > 0
  *    (ScaleStress's scheme): within-replica similarity structure is
  *    the original's, cross-replica token overlap is zero, so the
  *    ideal dedup/LSH workload is exactly N× — superlinearity measured
  *    on top of this is algorithmic, not data artifact;
  *  - `embeddings.embedding` is rotated by r mod dim positions for
  *    r > 0, composed for generations g = r/dim >= 1 with a
  *    deterministic sign-flip pattern keyed by g (ADVICE r13: rotation
  *    alone repeats with period dim, so factor > dim would make
  *    replica r an exact duplicate of replica r-dim): both transforms
  *    are norm-preserving and deterministic, so replicas are never
  *    exact vector duplicates at any factor (which would turn every
  *    ANN/dedup query into a degenerate all-dups run).
  *
  * Emits one PLAIN parquet file per table (matching the driver layout,
  * readable by DuckDB's single-file scan in tools/check.py).
  */
object SfGen {
  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_BASE", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SF_OUT", "/tmp/graft_sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    // base tables are timestamp[us]; the session's TIMESTAMP_MICROS
    // output keeps the scaled files identical
    val spark = Harness.session()

    // SPARK_GRAFT_SF_TABLES (csv, default all): restrict which tables
    // replicate — the round-12 over-cap LSH fixture needs ONLY a
    // ≥1.6 M-doc documents table (×35 of sf1), and replicating
    // lineitem/events at that factor would cost GBs for queries the
    // run never touches. Unlisted tables symlink to the base fixture
    // so every query still resolves against the one scaled dir.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_SF_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(tables.toSet)
    val unknownT = only -- tables.toSet
    require(unknownT.isEmpty, s"unknown tables: ${unknownT.mkString(",")}")

    val done = new java.io.File(outDir, "_SUCCESS")
    if (done.exists()) {
      // the fixture survives across driver testdata regenerations —
      // REFUSE a stale tree instead of silently verifying old data
      // (VERDICT r8 #4): the manifest pins the md5 of every base file
      // the standing fixture was built from.
      validateManifest(baseDir, outDir, factor, only) match {
        case None => println(s"[sfgen] $outDir already built (manifest OK)"); return
        case Some(why) =>
          System.err.println(s"[sfgen] STALE fixture at $outDir: $why\n" +
            s"[sfgen] delete $outDir and re-run to rebuild from $baseDir")
          sys.exit(1)
      }
    }
    new java.io.File(outDir).mkdirs()

    // events goes through Tables.t: its ts footer type has drifted
    // between driver generations (TIMESTAMP(NANOS) vs timestamp[us]),
    // and Tables.t adapts on the observed type — a raw read would
    // crash on the nanos generation, exactly when the drift guard
    // fires. The written file is normalized micros either way
    // (the session's outputTimestampType).
    def base(t: String): DataFrame =
      if (t == "events") graft.engine.Tables.t(spark, baseDir, t)
      else spark.read.parquet(s"$baseDir/$t.parquet")
    def off(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    val cOff = off(base("customer"), "c_custkey")
    val sOff = off(base("supplier"), "s_suppkey")
    val pOff = off(base("part"), "p_partkey")
    val oOff = off(base("orders"), "o_orderkey")
    val eOff = off(base("events"), "event_id")
    val uOff = off(base("events"), "user_id")
    // documents.doc_id and embeddings.vec_id share one id space
    // (q_doc_embed_join etc. join them) → one shared offset
    val dOff = math.max(off(base("documents"), "doc_id"),
      off(base("embeddings"), "vec_id"))

    def replicate(t: String)(per: (DataFrame, Int) => DataFrame): Unit = {
      if (!only(t)) {
        // subset mode: unlisted tables ride along as symlinks so the
        // fixture dir stays a complete table set
        val link = Paths.get(s"$outDir/$t.parquet")
        if (Files.isSymbolicLink(link)) Files.delete(link)
        if (!Files.exists(link))
          // absolute target (ADVICE r12): a relative baseDir would be
          // resolved against outDir at READ time, yielding a dangling link
          Files.createSymbolicLink(link,
            Paths.get(s"$baseDir/$t.parquet").toAbsolutePath.normalize())
        println(s"[sfgen] $t -> symlink to base (not in SPARK_GRAFT_SF_TABLES)")
        return
      }
      val b = base(t)
      val scaled = (0 until factor).map(r => per(b, r)).reduce(_ unionAll _)
      val tmp = s"$outDir/.tmp_$t"
      scaled.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $t"))
      Files.move(part.toPath, Paths.get(s"$outDir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      println(s"[sfgen] $t -> $outDir/$t.parquet")
    }

    // fixed dims: copy through one replica
    replicate("region")((b, r) => if (r == 0) b else b.limit(0))
    replicate("nation")((b, r) => if (r == 0) b else b.limit(0))

    replicate("customer")((b, r) => b.withColumn("c_custkey",
      col("c_custkey") + lit(r * cOff)))
    replicate("supplier")((b, r) => b.withColumn("s_suppkey",
      col("s_suppkey") + lit(r * sOff)))
    replicate("part")((b, r) => b.withColumn("p_partkey",
      col("p_partkey") + lit(r * pOff)))
    replicate("orders")((b, r) => b
      .withColumn("o_orderkey", col("o_orderkey") + lit(r * oOff))
      .withColumn("o_custkey", col("o_custkey") + lit(r * cOff)))
    replicate("lineitem")((b, r) => b
      .withColumn("l_orderkey", col("l_orderkey") + lit(r * oOff))
      .withColumn("l_partkey", col("l_partkey") + lit(r * pOff))
      .withColumn("l_suppkey", col("l_suppkey") + lit(r * sOff)))
    replicate("events")((b, r) => b
      .withColumn("event_id", col("event_id") + lit(r * eOff))
      .withColumn("user_id", col("user_id") + lit(r * uOff)))
    replicate("documents")((b, r) => graft.engine.Replica.docText(b, r)
      .withColumn("doc_id", col("doc_id") + lit(r * dOff)))
    // rotate by r MOD the vector width (round 13): the raw-r slice
    // yields a negative length once r >= dim — mod keeps every replica
    // a norm-preserving permutation at any factor. But rotation alone
    // repeats with period dim (ADVICE r13: at factor 100 over 64-float
    // vectors, replicas 64..99 exactly duplicate replicas 0..35), so
    // generations g = r/dim >= 1 compose it with a deterministic
    // md5-keyed sign-flip pattern — still norm-preserving, and distinct
    // per generation. g = 0 stays pure rotation, so every fixture with
    // factor <= dim is bit-identical to what earlier rounds measured.
    val embDim = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .select(size(col("embedding"))).head.getInt(0)
    def flipSigns(g: Int): Array[Float] =
      (0 until embDim).map { j =>
        val b = java.security.MessageDigest.getInstance("MD5")
          .digest(s"sfgen_flip_${g}_$j".getBytes("UTF-8"))(0)
        if ((b & 1) == 1) -1f else 1f
      }.toArray
    replicate("embeddings")((b, r) => {
      val rot = r % embDim
      val g = r / embDim
      val rotated =
        if (rot == 0) col("embedding")
        else concat(
          slice(col("embedding"), lit(rot + 1), lit(embDim - rot)),
          slice(col("embedding"), lit(1), lit(rot)))
      val transformed =
        if (g == 0) rotated
        else zip_with(rotated, typedLit(flipSigns(g)), (x, sgn) => x * sgn)
      b.withColumn("vec_id", col("vec_id") + lit(r * dOff))
        .withColumn("embedding",
          if (r == 0) col("embedding") else transformed.cast("array<float>"))
    })

    writeManifest(spark, baseDir, outDir, factor, only)
    Files.createFile(done.toPath)
    println(s"[sfgen] done: factor $factor from $baseDir")
    spark.stop()
  }

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def fileMd5(p: java.nio.file.Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** MANIFEST.json: factor + per-base-table content md5 + per-scaled-
    * table row count — everything a later run (or tools/sfcheck.py)
    * needs to detect a stale or corrupt fixture without rebuilding. */
  private def writeManifest(spark: SparkSession, baseDir: String,
      outDir: String, factor: Int, only: Set[String]): Unit = {
    val entries = tables.map { t =>
      val md5 = fileMd5(Paths.get(s"$baseDir/$t.parquet"))
      val rows = spark.read.parquet(s"$outDir/$t.parquet").count()
      s"""    "$t": {"base_md5": "$md5", "scaled_rows": $rows}"""
    }.mkString(",\n")
    val scaledList = tables.filter(only).map("\"" + _ + "\"").mkString(", ")
    Files.writeString(Paths.get(s"$outDir/MANIFEST.json"),
      s"""{\n  "factor": $factor,\n  "base_dir": "$baseDir",\n""" +
        s"""  "scaled_tables": [$scaledList],\n""" +
        s"""  "tables": {\n$entries\n  }\n}\n""")
  }

  /** None = fixture matches the current base data AND the requested
    * factor; Some(reason) = stale, corrupt, or built at a different
    * scale. Pure JVM (no Spark session needed on the reuse path).
    * The factor check matters (ADVICE r9): without it, invoking SfGen
    * with SPARK_GRAFT_SCALE_FACTOR=30 against a standing ×10 tree
    * printed "already built (manifest OK)" and silently reused the
    * wrong-scale fixture — the exact silent-wrong-data class this
    * guard exists to refuse. */
  private[graft] def validateManifest(baseDir: String, outDir: String,
      requestedFactor: Int,
      requestedTables: Set[String] = tables.toSet): Option[String] = {
    val mf = Paths.get(s"$outDir/MANIFEST.json")
    if (!Files.exists(mf))
      return Some("no MANIFEST.json (fixture predates the manifest guard)")
    val txt = Files.readString(mf)
    val factorPat = """"factor":\s*(\d+)""".r
    factorPat.findFirstMatchIn(txt) match {
      case None => return Some("manifest has no \"factor\" field")
      case Some(m) if m.group(1).toInt != requestedFactor =>
        return Some(s"fixture built at factor ${m.group(1)}, " +
          s"this run requests factor $requestedFactor")
      case _ =>
    }
    // subset check (round 12): a documents-only fixture must not pass
    // for a run that expects the full table set, and vice versa.
    // Manifests predating the field scaled every table.
    val scaledPat = """"scaled_tables":\s*\[([^\]]*)\]""".r
    val manifestTables = scaledPat.findFirstMatchIn(txt)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
        .stripSuffix("\"")).filter(_.nonEmpty).toSet)
      .getOrElse(tables.toSet)
    if (manifestTables != requestedTables)
      return Some(s"fixture scaled [${manifestTables.toSeq.sorted.mkString(",")}], " +
        s"this run requests [${requestedTables.toSeq.sorted.mkString(",")}]")
    tables.flatMap { t =>
      val base = Paths.get(s"$baseDir/$t.parquet")
      val pat = s""""$t": \\{"base_md5": "([0-9a-f]{32})"""".r
      pat.findFirstMatchIn(txt) match {
        case None => Some(s"table $t missing from manifest")
        case Some(m) =>
          if (!Files.exists(base)) Some(s"base file $base is gone")
          else if (fileMd5(base) != m.group(1))
            Some(s"base $t.parquet changed since the fixture was built " +
              "(driver testdata regenerated?)")
          else if (!Files.exists(Paths.get(s"$outDir/$t.parquet")))
            Some(s"scaled $t.parquet missing from fixture")
          else None
      }
    }.headOption
  }
}
