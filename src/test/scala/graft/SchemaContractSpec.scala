package graft

import org.apache.spark.sql.types._

import graft.engine.Tables

/** Schema-drift guard (VERDICT r7 item 9): the driver regenerates
  * /root/testdata between sessions, and its parquet logical types have
  * already moved once (events.ts TIMESTAMP(NANOS) → timestamp[us]),
  * silently breaking any code that hard-codes a file generation. This
  * spec loads EVERY table through Tables.t and pins the post-
  * normalization logical types the engine depends on, failing loudly
  * with observed-vs-expected on any drift — so the next regeneration is
  * caught here, by name, before an equivalence suite fails obscurely.
  */
class SchemaContractSpec extends SparkTestBase {

  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
  )

  for (name <- Tables.names) {
    test(s"table `$name` resolves the logical types the engine depends on") {
      val got = Tables.t(spark, sf, name).schema
        .map(f => f.name -> f.dataType)
      val want = expected(name)
      assert(got == want,
        s"\nTESTDATA DRIFT on `$name`:\n  observed: $got\n  expected: $want\n" +
          "If the driver regenerated /root/testdata with new logical " +
          "types, adapt Tables.t (and any hard-coded conversion, e.g. " +
          "StreamRunner.eventsStream) to the observed type, then update " +
          "this contract.")
    }
  }

  // Tables.raw reads a single file's schema from its footer without a
  // job; it must be the schema Spark's inference job would resolve,
  // under the same session conf (rawSchema sets nanosAsLong first)
  for (name <- Tables.names) {
    test(s"table `$name` footer schema equals the inferred schema") {
      for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
        val path = s"$dir/$name.parquet"
        val footer = Tables.rawSchema(spark, dir, name)
        assert(Tables.footerSchema(spark, path).contains(footer))
        assert(footer == spark.read.parquet(path).schema, s"$path")
      }
    }
  }

  test("a Spark-written directory table falls back to inference, same schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dirtable").toString
    try {
      Tables.t(spark, sf, "nation").repartition(2)
        .write.parquet(s"$dir/nation.parquet")
      val path = s"$dir/nation.parquet"
      assert(Tables.footerSchema(spark, path).isEmpty)
      assert(Tables.rawSchema(spark, dir, "nation") ==
        spark.read.parquet(path).schema)
      assert(Tables.t(spark, dir, "nation").count() ==
        Tables.t(spark, sf, "nation").count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("events.props `k` is always a JSON integer, corpus-wide (ADVICE r9)") {
    // q_json_funcs/q_json_corrupt parse props with `k int` via from_json;
    // their DuckDB oracles extract k as text and CAST. The two engines
    // agree ONLY while k is an integer literal: for k="x", from_json's
    // PERMISSIVE mode nulls the struct (is_valid=0) while DuckDB's
    // json_extract_string IS NOT NULL yields 1 (and the CAST hard-errors).
    // This pins the generator invariant the equivalence rests on, so a
    // testdata regeneration that ships non-integer k fails HERE by name,
    // not as an obscure oracle hash mismatch.
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val k = Tables.t(spark, dir, "events")
        .select(get_json_object(col("props"), "$.k").as("k"))
      val bad = k.filter(col("k").isNotNull && !col("k").rlike("^-?[0-9]+$"))
        .limit(5).collect()
      assert(bad.isEmpty,
        s"TESTDATA DRIFT in $dir: events.props.k is no longer always a " +
          s"JSON integer (samples: ${bad.mkString(", ")}); q_json_funcs/" +
          "q_json_corrupt's from_json(k int) plan and their DuckDB oracles " +
          "now DIVERGE on null semantics — rework both together.")
    }
  }

  test("embedding components stay within the portable-geometry range (ADVICE r10)") {
    // The ANN/IVF/semantic oracles rest on qv = floor(v·2^20) casting to
    // float LOSSLESSLY — true only while |v| <= 16 (|q| < 2^24), and on
    // the centroid floor bound |qv_i| < 2^28 with fit count <= 5·10^5.
    // PortableGeometrySpec pins the MATH under these ranges; this pins
    // the CORPUS to them, so a testdata regeneration with larger
    // embeddings fails HERE by name, not as an opaque sf-sweep oracle
    // hash mismatch (mirrors the events.props.k guard above).
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val mx = Tables.t(spark, dir, "embeddings")
        .select(expr("max(array_max(transform(embedding, x -> abs(x))))")
          .cast("double"))
        .collect()(0).getDouble(0)
      assert(mx <= 16.0,
        s"TESTDATA DRIFT in $dir: max |embedding component| = $mx > 16 — " +
          "floor(v*2^20) no longer fits float-exactly in 2^24; the " +
          "q_similarity_ivf / q_dedup_semantic portable-geometry oracles " +
          "are void. Rescale the fixed point AND the oracle SQL together.")
    }
  }

  test("centered text-vector components stay under 2^28 (ADVICE r10)") {
    // q_dedup_text_lsh / q_dedup_semantic center in exact integers:
    // c_j = (v_j·N − S_j) >> 12. The float-mirror summation proof
    // (PortableGeometrySpec "sums ... stay exact in double") assumes
    // |c_j| < 2^28; pin the corpus to that bound on the same dirs.
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val mx = graft.operators.Retrieval.textBasis(spark, dir).dense
        .agg(max(abs(col("c")))).collect()(0).getLong(0)
      assert(mx < (1L << 28),
        s"TESTDATA DRIFT in $dir: max |centered component| = $mx >= 2^28 — " +
          "centroid sums can exceed the exact-double range; re-derive the " +
          ">> 12 centering shift and the PortableGeometrySpec bounds.")
    }
  }

  test("events.ts raw footer type is a known generation (nanos-long or timestamp)") {
    val raw = Tables.rawSchema(spark, sf, "events")("ts").dataType
    assert(raw == LongType || raw == TimestampNTZType || raw == TimestampType,
      s"TESTDATA DRIFT: events.ts footer resolved to $raw — neither the " +
        "TIMESTAMP(NANOS)-as-long generation nor a timestamp generation; " +
        "eventsStream's conversion switch needs a new arm.")
  }

  test("batch and stream views of events.ts agree on wall-clock values") {
    // The r7 incident in one assertion: the same row, loaded via Tables.t
    // (batch/NTZ) and via eventsStream's conversion logic applied to a
    // static read (streams can't collect), must land on the same instant.
    import org.apache.spark.sql.functions._
    val batch = Tables.t(spark, sf, "events")
      .orderBy(col("event_id")).limit(1)
      .select(col("ts").cast("timestamp").cast("long")).collect()(0).getLong(0)
    val raw = Tables.rawSchema(spark, sf, "events")
    val staticRead = spark.read.schema(raw)
      .parquet(s"$sf/events.parquet")
    val streamConv = raw("ts").dataType match {
      case LongType => staticRead.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => staticRead.withColumn("ts", col("ts").cast("timestamp"))
    }
    val streamed = streamConv.orderBy(col("event_id")).limit(1)
      .select(col("ts").cast("long")).collect()(0).getLong(0)
    assert(batch == streamed,
      s"batch epoch-seconds $batch != stream-converted $streamed — " +
        "StreamRunner.eventsStream's conversion diverged from Tables.t")
  }
}
