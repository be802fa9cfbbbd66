package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Leaves, QueryPack, Tables}

/** Round-4 corpus-curation operators — the remaining steps a large-scale
  * training-data pipeline runs between raw crawl and tokenizer:
  * benchmark decontamination, repetition-based quality filtering
  * (Gopher-style rules), PII redaction, deterministic global shuffle,
  * sequence packing to a context budget, and an inverted-index build.
  *
  * Cache scope (ADVICE r11): the .cache() calls below (dsir feature
  * stream, winnow fingerprints) mark multi-consumer subtrees on plans
  * that job-free builders return (LazyBuildSpec), so nothing here can
  * drop them. The harnesses own their lifecycle: graft.Verify clears
  * the cache after every query, graft.Bench at each phase boundary,
  * ScaleStress between scale steps. What a Deferred body materializes
  * is a leaf, dropped by its scope (Pipeline.scala's header).
  *
  * Scale notes (100 TB posture, per operator):
  *  - decontaminate: benchmark n-gram sets are small by nature (eval
  *    suites are ~1e5 docs vs a ~1e10-doc corpus) — the gram set is
  *    broadcast, so the corpus side is a map-only scan + hash probe,
  *    no shuffle of corpus grams;
  *  - quality_gopher: per-doc aggregations over exploded n-grams —
  *    partial aggregation applies (doc_id is the group key, docs are
  *    bounded), no global state;
  *  - pii_redact: pure per-row projection (regex), embarrassingly
  *    parallel, stays inside whole-stage codegen;
  *  - global_shuffle: shard = hash(doc_id) then order within shard —
  *    one shuffle by shard key, each shard sorts independently. This is
  *    the scalable form of "shuffle the training set": a single global
  *    row_number would serialize on one partition, sharded positions
  *    (shard, pos) are a total order ((s,p) < (s',p') lexicographic)
  *    with per-shard parallelism;
  *  - pack_sequences: packing is per-source (per input shard), so the
  *    running cumsum window partitions by source — parallel across
  *    shards, which is how real pipelines pack (within-file locality
  *    preserves domain mixing guarantees set upstream by the shuffle);
  *  - inverted_index: classic map-side-combinable groupBy(token);
  *    posting lists are capped samples, so no unbounded per-key state.
  */
object Curation extends QueryPack {

  // NOT spread (measured): these consumers aggregate into SMALL key
  // spaces (vocab, doc ids) — 32-way pre-partitioning multiplies the
  // partial-agg outputs per key and the shuffle rows with them
  // (q_perplexity_filter 1.5 s -> 2.6 s when docs were spread). The
  // self-join/shingle family in Pipeline/Audits, whose keys are
  // corpus-sized, IS spread — see Tables.spread.
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "documents")

  /** doc_id + word array (whitespace tokens, the corpus has no
    * punctuation — TESTDATA synthetic text). Spread (r17): every
    * consumer explodes words or n-grams from this frame — CPU fan-out
    * that the 1-row-group documents scan otherwise serializes on one
    * task (Tables.spread scaladoc; measured: q_decontaminate
    * 1.24 → 0.92 s warm at sf0.1, same shape across the family). */
  private def words(s: SparkSession, d: String): DataFrame =
    Tables.spread(docs(s, d), "doc_id")
      .select(col("doc_id"), split(col("text"), " ").as("w"))

  /** Exploded word n-grams: doc_id, g (space-joined n consecutive words). */
  private def grams(s: SparkSession, d: String, n: Int): DataFrame =
    words(s, d)
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w)-${n - 1}), i -> concat_ws(' ', slice(w, i, $n)))"))
        .as("g"))

  val queries: Map[String, Q] = Map(

    // Benchmark decontamination: flag corpus docs sharing any word
    // 3-gram with the "benchmark" slice (doc_id % 97 == 0 stands in for
    // an eval suite). Real pipelines use 8-13-gram overlap; 3 here
    // because the synthetic vocabulary is tiny (longer grams never
    // collide in this data).
    "q_decontaminate" -> ((s, d) => {
      val g = grams(s, d, 3)
      val bench = g.filter(col("doc_id") % 97 === 0).select(col("g")).distinct()
      g.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_hit_grams"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition quality: fraction of distinct words,
    // most-frequent-word fraction, most-frequent-bigram fraction, and
    // the keep/drop verdict. Ratios are exact int/int doubles rounded
    // to 6dp (parity contract); the verdict compares the unrounded
    // values — identical operands on both engines.
    //
    // Stated relationally (explode → groupBy(doc,ngram) → groupBy(doc)
    // → join): the shuffles key on doc_id so partial aggregation
    // applies and per-row work stays codegen'd. A zero-shuffle
    // alternative — per-doc `transform`/`filter`/`array_max` array
    // computations — was measured 2.6× SLOWER at sf0.1: higher-order
    // functions are interpreted per element, and O(n_words×n_distinct)
    // interpreted lambda calls lose to two codegen'd hash aggregations.
    "q_quality_gopher" -> ((s, d) => {
      val base = words(s, d).select(col("doc_id"), col("w"),
        size(col("w")).as("n_words"),
        size(array_distinct(col("w"))).as("n_distinct"))
      val uni = base
        .select(col("doc_id"), explode(col("w")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_word_n"))
      val bi = grams(s, d, 2)
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_n"),
          sum(col("c")).cast("long").as("n_bigrams"))
      base.select(col("doc_id"), col("n_words"), col("n_distinct"))
        .join(uni, Seq("doc_id")).join(bi, Seq("doc_id"))
        .select(col("doc_id"), col("n_words"),
          round(col("n_distinct") / col("n_words"), 6).as("distinct_ratio"),
          round(col("top_word_n") / col("n_words"), 6).as("top_word_frac"),
          round(col("top_bigram_n") / col("n_bigrams"), 6).as("top_bigram_frac"),
          when(col("n_distinct") / col("n_words") >= 0.4 &&
            col("top_word_n") / col("n_words") <= 0.1 &&
            col("top_bigram_n") / col("n_bigrams") <= 0.08, 1).otherwise(0)
            .as("keep"))
        .orderBy(col("doc_id"))
    }),

    // PII redaction: the corpus itself is synthetic word soup, so the
    // query first derives a contact-laden string from real columns
    // (same derivation in the oracle), then redacts email / phone /
    // IPv4 and counts each. Counts are computed on the raw string.
    "q_pii_redact" -> ((s, d) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b\\d{3}-\\d{4}\\b"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      docs(s, d)
        .select(col("doc_id"), concat(
          col("source"), lit(".user@"), col("lang"), lit(".example.com tel 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ip 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), ((col("doc_id") * 7) % 256).cast("string"),
          lit(" "), substring(col("text"), 1, 40)).as("raw"))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(regexp_replace(col("raw"),
            email, "[EMAIL]"), ip, "[IP]"), phone, "[PHONE]").as("redacted"),
          regexp_count(col("raw"), lit(email)).as("n_email"),
          regexp_count(col("raw"), lit(phone)).as("n_phone"),
          regexp_count(col("raw"), lit(ip)).as("n_ip"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic global shuffle of the training set: shard by a hash
    // of the doc id (seeded), position within shard by the full hash.
    // (shard, pos) is a reproducible total order; shards sort in
    // parallel (no single global sort partition).
    "q_global_shuffle" -> ((s, d) => {
      val h = md5(concat(lit("s42:"), col("doc_id").cast("string")))
      docs(s, d)
        .select(col("doc_id"), h.as("h"),
          (conv(substring(h, 1, 4), 16, 10).cast("long") % 32).as("shard"))
        .withColumn("pos",
          row_number().over(Window.partitionBy(col("shard"))
            .orderBy(col("h"), col("doc_id"))))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // Sequence packing: concatenate docs in deterministic order and cut
    // into fixed token-budget bins — per source shard (parallel), doc
    // goes to the bin where it starts (concatenate-then-chunk).
    "q_pack_sequences" -> ((s, d) => {
      val budget = 256
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w).cast("long"))
        .withColumn("bin", expr(s"(cum - n_tok) div $budget"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("seq_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("bin"))
    }),

    // Doc-boundary-preserving NEXT-FIT sequence packing (sample
    // packing): unlike q_pack_sequences (concatenate-then-chunk — a
    // doc can straddle two training sequences), next-fit keeps every
    // document whole: a doc that would overflow the current bin opens
    // a new one, and the padding the policy costs is reported per bin.
    // Genuine sequential per-group state, so this is the engine's
    // showcase for the TYPED API path the brief's ladder allows:
    // `groupByKey(source).flatMapSortedGroups(doc_id)` — secondary
    // sort inside the shuffle, O(1) state per group, no window, no
    // driver loop. At 100 TB the group key becomes (source,
    // hash-shard) with bounded shard size (q_global_shuffle's
    // sharding), keeping every group executor-sized; the algorithm is
    // unchanged because next-fit is shard-local by construction.
    "q_pack_nextfit" -> ((s, d) => {
      val budget = 256L
      import s.implicits._
      val base = docs(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .as[(String, Long, Long)]
      base.groupByKey(_._1)
        .flatMapSortedGroups(col("doc_id")) { (src: String, it: Iterator[(String, Long, Long)]) =>
          var bin = 0L; var used = 0L; var first = true
          it.map { case (_, id, n) =>
            if (!first && used + n > budget) { bin += 1L; used = 0L }
            first = false
            used += n
            (src, bin, id, n)
          }
        }
        .toDF("source", "bin", "doc_id", "n_tok")
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("bin_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .select(col("source"), col("bin"), col("n_docs"), col("bin_tokens"),
          greatest(lit(0L), lit(budget) - col("bin_tokens")).as("padding"),
          col("first_doc"), col("last_doc"))
        .orderBy(col("source"), col("bin"))
    }),

    // Unicode NFC canonicalization — the normalization multilingual
    // curation applies before hashing (decomposed combining sequences
    // must collide with their precomposed forms). The corpus is ASCII,
    // so the query plants decomposed text (combining acute/diaeresis)
    // from literals; the custom codegen'd NfcNormalize expression
    // composes it. Oracle: DuckDB's nfc_normalize.
    "q_unicode_normalize" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // explicit combining-mark escapes (U+0301 acute, U+0308
      // diaeresis), NOT raw NFD bytes: an NFC-normalizing editor or
      // formatter would silently precompose a raw literal and turn
      // the query AND its oracle into no-ops in lockstep (ADVICE r4)
      val planted = " cafe\u0301 u\u0308ber"
      val raw = concat(split(col("text"), " ").getItem(0), lit(planted))
      docs(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"), col("raw"),
          call_function("nfc_normalize", col("raw")).as("normalized"),
          length(col("raw")).as("len_raw"),
          length(call_function("nfc_normalize", col("raw"))).as("len_nfc"))
        .orderBy(col("doc_id"))
    }),

    // Decontamination by bloom filter instead of exact broadcast set:
    // the benchmark grams aggregate into a fixed-size sketch (bits ~
    // n·ln(1/fp), independent of gram text size), the corpus probes it
    // map-side — the shape that still works when the exact gram set is
    // too big to broadcast. Superset of q_decontaminate's hits by
    // construction (bloom has false positives, no false negatives);
    // rows-only (sketch membership isn't SQL-expressible in the
    // oracle), asserted against the exact query in CurationSpec.
    "q_decontaminate_bloom" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val g = grams(s, d, 3)
      // might_contain demands a CONSTANT sketch; it enters the plan as
      // a SCALAR SUBQUERY over the one-row bloom aggregate — the exact
      // shape Spark's own InjectRuntimeFilter emits. Unlike the
      // previous collect()-then-lit() form, building this DataFrame
      // runs NO job (ADVICE r4: explain/plan inspection used to
      // trigger a full corpus-gram scan); the ~25 KB sketch is
      // computed once at execution time and broadcast to the probes.
      // An empty benchmark slice aggregates to a NULL sketch;
      // might_contain(NULL, h) is NULL, so the filter drops every row
      // — same result the old explicit empty-slice branch produced.
      val bloomDf = g.filter(col("doc_id") % 97 === 0)
        .agg(expr("bloom_agg(xxhash64(g), 10000L, 200000L)").as("bf"))
      g.filter(col("doc_id") % 97 =!= 0)
        .filter(call_function("bloom_might_contain",
          org.apache.spark.sql.GraftSqlBridge.scalarSubquery(bloomDf),
          xxhash64(col("g"))))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_candidate_grams"))
        .orderBy(col("doc_id"))
    }),

    // PageRank over the near-dup candidate graph (centrality-based
    // representative selection). Fixed 5 power iterations in INTEGER
    // fixed-point (1e15 scale): every per-edge contribution is a
    // floor division and every rank a BIGINT sum, so shuffle order
    // can't perturb the result AND DuckDB reproduces it bit-exactly —
    // this is what upgrades the query from rows-only to hash-oracled
    // (5 chained CTEs, VERDICT r8 next-round #1). 85·fp ≤ 8.5e16 stays
    // far under 2^63, so no overflow in either engine. Lineage is
    // truncated per round (a landed leaf) like the connected-
    // components query. The power loop runs inside plans.Deferred at
    // first execution — the build itself is job-free (LazyBuildSpec).
    "q_graph_pagerank" -> ((s, d) => {
      val idT = Tables.t(s, d, "documents").schema("doc_id").dataType
      graft.plans.Deferred.df(s, "graph_pagerank",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", idT),
          org.apache.spark.sql.types.StructField("pagerank",
            org.apache.spark.sql.types.DoubleType)))) { () =>
        val fpOne = 1000000000000000L // 1e15 fixed-point scale
        // localCheckpoint BEFORE the edge union (r18): the union
        // references `pairs` twice and exchange reuse does not fire
        // across the swapped branches — un-checkpointed, the minhash
        // pipeline ran twice per execution (366 tasks/run vs 161 + ~45)
        val pairs = Leaves.land(Pipeline.queries("q_dedup_minhash")(s, d)
          .select(col("da"), col("db")))
        val edges = Leaves.land(pairs
          .unionByName(pairs.select(col("db").as("da"), col("da").as("db")))
          .select(col("da").as("src"), col("db").as("dst")))
        val nodes = Leaves.land(edges.select(col("src").as("node")).distinct())
        val n = nodes.count() // scalar fixpoint-style driver value, not data
        if (n == 0) {
          nodes.select(col("node").as("doc_id"),
            lit(0.0).as("pagerank"))
        } else {
          val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          var pr = nodes.withColumn("fp", lit(fpOne / n))
          def round(prev: DataFrame): DataFrame = {
            val contrib = edges.join(prev, col("src") === col("node"))
              .join(deg, Seq("src"))
              .groupBy(col("dst"))
              .agg(sum(expr("fp div deg")).as("infp"))
            // rank' = 0.15/n + 0.85·in, all in floor-divided fixed point
            nodes.join(contrib, col("node") === col("dst"), "left")
              .select(col("node"),
                (lit(150000000000000L / n) +
                  expr("(85 * coalesce(infp, cast(0 as bigint))) div 100"))
                  .as("fp"))
          }
          // TWO power rounds per checkpoint (VERDICT r11 #7): each
          // eager localCheckpoint is a blocking driver→executor round
          // trip, which the multi-JVM A/B measured at +24% seq for
          // this query — latency, not compute. Lineage still truncates
          // (depth ≤ 2 rounds ≈ 6 operators between cuts), the
          // arithmetic is exact integers so batching cannot change a
          // bit, and the 5th round rides the output plan with no cut
          // at all: 5 rounds now cost 2 checkpoints instead of 5.
          (1 to 2).foreach { _ =>
            pr = Leaves.advance(pr, round(round(pr)))
          }
          pr = round(pr)
          pr.select(col("node").as("doc_id"),
            (col("fp").cast("double") / lit(1e15)).as("pagerank"))
            .orderBy(desc("pagerank"), col("doc_id"))
        }
      }
    }),

    // Inverted index over the corpus: document frequency, corpus
    // frequency, and a capped posting-list sample per token; top 50
    // tokens by df (total order: df desc, cf desc, token). The sample
    // is built with the bounded top_k_by aggregate (5 ids of state per
    // token, ever) over pre-distinct (tok, doc_id) — collect_set would
    // buffer EVERY doc_id of a stopword token before slicing, which is
    // unbounded per-key state at corpus scale. ~doc_id orders the k
    // smallest ids first (bitwise NOT, overflow-safe vs unary minus).
    "q_inverted_index" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      docs(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("c"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("df"), sum(col("c")).cast("long").as("cf"),
          call_function("top_k_by", col("doc_id"),
            expr("~doc_id"), lit(5)).as("ids"))
        .select(col("tok"), col("df"), col("cf"), expr(
          "array_join(transform(ids, x -> cast(x as string)), ',')")
          .as("posting_sample"))
        .orderBy(desc("df"), desc("cf"), col("tok"))
        .limit(50)
    }),

    // Temperature-weighted domain mixing: the per-source sampling
    // weights a multilingual/multi-domain pretraining run uses to
    // up-sample small sources, w_s ∝ n_s^α with α = 0.3 (the unigram-LM
    // smoothing exponent). Float parity: pow() is transcendental, so
    // each p_s is rounded to 9dp and carried as exact decimal; the
    // final ratio divides two doubles that are bit-identical on both
    // engines. Scale: one map-side-combinable groupBy on `source`
    // (dozens of keys), then a broadcast of the one-row total — the
    // corpus is scanned once.
    "q_domain_mix" -> ((s, d) => {
      val per = docs(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
        .withColumn("p_s",
          round(pow(col("n_tokens").cast("double"), 0.3), 9)
            .cast("decimal(28,10)"))
      val tot = per.agg(sum(col("p_s")).as("p_tot"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("p_s").cast("double") / col("p_tot").cast("double"), 6)
            .as("weight"))
        .orderBy(col("source"))
    }),

    // Contamination ATTRIBUTION: for each benchmark doc (the %97 eval
    // slice q_decontaminate uses), the top-3 training docs ranked by
    // 3-gram containment C(bench→train) = |G_b ∩ G_t| / |G_b| — the
    // "which training doc covers this eval item" report a
    // decontamination AUDIT produces, where q_decontaminate only
    // counts hits per training doc. Ranking is by the INTEGER
    // intersection size (the per-bench denominator is constant inside
    // each window partition), ties by train_id — no float ordering
    // can diverge between engines. Chance single-gram collisions are
    // suppressed (inter_n ≥ 2). Scale: the bench gram set is
    // broadcast (eval suites are tiny vs the corpus), the corpus side
    // is a scan + hash probe, and the top-3 window partitions by
    // bench doc — bounded state, parallel across the suite.
    "q_contain_attrib" -> ((s, d) => {
      val g = grams(s, d, 3).distinct()
      val bench = g.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("g"))
      val nb = bench.groupBy(col("bench_id")).agg(count(lit(1)).as("n_bench"))
      val win = Window.partitionBy(col("bench_id"))
        .orderBy(desc("inter_n"), col("train_id"))
      g.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id").as("train_id"), col("g"))
        .join(broadcast(bench), Seq("g"))
        .groupBy(col("bench_id"), col("train_id"))
        .agg(count(lit(1)).as("inter_n"))
        .filter(col("inter_n") >= 2)
        .withColumn("rank", row_number().over(win))
        .filter(col("rank") <= 3)
        .join(broadcast(nb), Seq("bench_id"))
        .select(col("bench_id"), col("rank"), col("train_id"),
          col("inter_n"), col("n_bench"),
          round(col("inter_n").cast("double") / col("n_bench"), 6)
            .as("containment"))
        .orderBy(col("bench_id"), col("rank"))
    }),

    // Domain-mix RESAMPLING — materialize q_domain_mix's α = 0.3
    // temperature weights as an actual training subset: per-source
    // keep-rate r_s ∝ weight_s / token_share_s, normalized so the
    // most up-weighted source keeps everything (downsample-only — no
    // replication), decided by a deterministic per-doc coin
    // (md5-derived integer in [0, 1e9)) any engine reproduces. The
    // keep decision is an INTEGER compare (u < round(r_s·1e9)) — no
    // float threshold can flip a doc between engines; the double
    // chain producing r_s is operand-order-mirrored in the oracle.
    // Scale: the rate table is sources-sized and broadcast; the
    // corpus pass is map-only (scan + hash + filter) — the shape
    // production mixers use to hit a target mixture without a
    // shuffle.
    "q_mix_sample" -> ((s, d) => {
      val per = docs(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
        .withColumn("p_s",
          round(pow(col("n_tokens").cast("double"), 0.3), 9)
            .cast("decimal(28,10)"))
      val tot = per.agg(sum(col("p_s")).as("p_tot"),
        sum(col("n_tokens")).as("tok_tot"))
      val rates = per.crossJoin(broadcast(tot))
        .select(col("source"),
          round((round(col("p_s").cast("double") / col("p_tot").cast("double"), 9) /
            round(col("n_tokens").cast("double") / col("tok_tot").cast("double"), 9)), 9)
            .as("raw"))
      val mx = rates.agg(max(col("raw")).as("mx"))
      val thr = rates.crossJoin(broadcast(mx))
        .select(col("source"),
          expr("cast(round(raw / mx * 1000000000, 0) as bigint)").as("thr"))
      docs(s, d)
        .select(col("doc_id"), col("source"), expr(
          "cast(conv(substring(md5(concat('mix:', cast(doc_id as string))), 1, 15), 16, 10) as bigint) " +
            "% 1000000000").as("u"))
        .join(broadcast(thr), Seq("source"))
        .filter(col("u") < col("thr"))
        .select(col("doc_id"), col("source"), col("u"), col("thr"))
        .orderBy(col("doc_id"))
    }),

    // URL-canonicalization dedup — step 1 of a crawl-curation pipeline:
    // the same page arrives under scheme/host-case noise, default
    // ports, trailing slashes, tracking params and fragments. The
    // corpus has no URL column, so one is derived deterministically
    // from real columns (messy on purpose; same derivation in the
    // oracle), then canonicalized with string surgery on the URL
    // itself and deduped keep-best (max n_chars, tie → min doc_id).
    //
    // Scale notes: canonicalization is a pure per-row projection
    // (regex + tiny array ops — bounded ≤3 params, so the interpreted
    // higher-order filter is noise); keep-best is written directly in
    // aggregate form — the (1e6−n_chars)·1e10+doc_id ordinal packs the
    // lexicographic (max n_chars, min doc_id) choice into one exact
    // BIGINT min, so the whole dedup is a single map-side-combinable
    // hash aggregation. No window sort, no self-join; at 100 TB the
    // only shuffle is groupBy(canon_url) with partial aggregation.
    "q_dedup_url" -> ((s, d) => {
      val raw = docs(s, d).select(col("doc_id"), col("n_chars"), concat(
        when(col("doc_id") % 3 === 1, lit("HTTPS://"))
          .when(col("doc_id") % 3 === 2, lit("http://"))
          .otherwise(lit("https://")),
        when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
        lit(".Example.COM"),
        when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/"), col("lang"), lit("/item/"), (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=feed&id="), (col("doc_id") % 6).cast("string")))
          .otherwise(concat(lit("?page="), (col("doc_id") % 3).cast("string"),
            lit("&id="), (col("doc_id") % 6).cast("string"), lit("&utm_medium=email"))),
        when(col("doc_id") % 4 === 0, lit("#section-2")).otherwise(lit("")))
        .as("url"))
      val noFrag = regexp_replace(col("url"), "#.*$", "")
      val auth0 = lower(regexp_extract(noFrag, "^([^/]+//[^/]+)", 1))
      val auth = when(auth0.startsWith("https://"),
        regexp_replace(auth0, ":443$", "")).otherwise(auth0)
      val rest = regexp_replace(noFrag, "^[^/]+//[^/]+", "")
      val path = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/$", "")
      val qs = regexp_extract(rest, "\\?(.*)$", 1)
      val kept = array_join(array_sort(filter(split(qs, "&"),
        x => !x.startsWith("utm_") && x =!= "")), "&")
      val canon = concat(auth, path,
        when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
      // Keep-best packing bounds (ADVICE r11): the ordinal encodes
      // (longest n_chars wins, doc_id breaks ties) as
      // (1e6 - n_chars)*1e10 + doc_id, which decodes correctly only
      // while 0 <= n_chars < 1_000_000 and 0 <= doc_id < 1e10 — the
      // same style of contract as q_dedup_winnow's pos < 2^20 packing.
      // CurationSpec pins both bounds against the standing fixture;
      // a corpus beyond them needs a wider packing (or min_by/arg_min
      // once both engines agree on its multi-key tie-breaking).
      raw
        .select(canon.as("canon_url"),
          ((lit(1000000L) - col("n_chars")) * lit(10000000000L) + col("doc_id"))
            .as("ord"))
        .groupBy(col("canon_url"))
        .agg(min(col("ord")).as("ord"), count(lit(1)).as("n_dups"))
        .select(col("canon_url"),
          (col("ord") % lit(10000000000L)).as("kept_doc_id"),
          (lit(1000000L) - expr("ord div 10000000000")).as("kept_n_chars"),
          col("n_dups"))
        .orderBy(col("canon_url"))
    }),

    // C4-style span dedup BELOW document granularity: the corpus is
    // chunked into non-overlapping 8-word spans, every span that
    // occurs more than once corpus-wide keeps only its FIRST
    // occurrence (min (doc_id, idx)), and each document is reassembled
    // from its surviving spans — the C4 "three-sentence span" rule
    // re-expressed over the synthetic word corpus.
    //
    // Scale notes: the winner table is keyed by the portable 60-bit
    // span hash, so the winner-election shuffle moves 8-byte keys +
    // one BIGINT ordinal, never span text; the verdict join is a
    // corpus-sized equi-join on that hash (hash-collision behavior is
    // IDENTICAL in both engines — the oracle shares the hash, so
    // equality holds even on a collision); reassembly is one
    // doc_id-keyed aggregation whose per-doc state is bounded by
    // document length. Two shuffles + one equi-join total, all
    // partial-aggregated; nothing corpus-sized is ever broadcast,
    // collected, or window-sorted.
    "q_dedup_span" -> ((s, d) => {
      val ch = words(s, d)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, cast(ceil(size(w)/8.0) as int)-1)," +
            " i -> array_join(slice(w, i*8+1, 8), ' '))")))
        .toDF("doc_id", "idx", "chunk")
        .select(col("doc_id"), col("idx"), col("chunk"),
          conv(substring(md5(col("chunk")), 1, 15), 16, 10).cast("bigint").as("h"),
          (col("doc_id") * 100000 + col("idx")).as("ord"))
      val win = ch.groupBy(col("h")).agg(min(col("ord")).as("keep_ord"))
      ch.join(win, Seq("h"))
        .select(col("doc_id"), col("idx"), col("chunk"),
          (col("ord") === col("keep_ord")).as("kept"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("kept"), 0).otherwise(1)).as("n_dropped"),
          array_join(transform(sort_array(collect_list(
            when(col("kept"), struct(col("idx"), col("chunk"))))),
            x => x.getField("chunk")), " ").as("new_text"))
        .orderBy(col("doc_id"))
    }),

    // Hashed linear quality classifier (fastText-style feature
    // hashing): every token hashes into one of 4096 buckets, each
    // bucket carries an md5-derived integer weight in [-1000, 1000],
    // a doc's score is the sum over token occurrences, keep = score>0.
    // Real pipelines fit the weights offline (wiki-ref vs crawl); here
    // they are derived from the same portable 60-bit md5 hash both
    // engines share, so scoring is fully oracle-checkable.
    //
    // Scale notes: the MODEL LIVES IN THE PLAN as codegen'd hash
    // expressions — no weight table, no broadcast, no join. Scoring is
    // explode → project → one doc_id-keyed hash aggregation with
    // map-side partials; everything integer, so the oracle is exact.
    "q_quality_classifier" -> ((s, d) => {
      val tok = words(s, d).select(col("doc_id"), explode(col("w")).as("tok"))
      val hv = conv(substring(md5(concat(lit("qc:"), col("tok"))), 1, 15), 16, 10)
        .cast("bigint")
      val bucket = hv % 4096
      val wt = conv(substring(md5(concat(lit("qw:"), bucket.cast("string"))), 1, 15),
        16, 10).cast("bigint") % 2001 - 1000
      tok.select(col("doc_id"), wt.as("wt"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).as("score_sum"))
        .select(col("doc_id"), col("n_tokens"), col("score_sum"),
          when(col("score_sum") > 0, 1).otherwise(0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // CCNet/RefinedWeb-style line-level boilerplate removal: a line
    // that appears in ≥3 DISTINCT documents of the same source is
    // boilerplate (nav bars, footers, cookie banners) and is removed
    // from EVERY document — the frequency-threshold complement of
    // q_dedup_span's first-occurrence-wins rule. The corpus has no
    // newlines, so "lines" are a deterministic per-doc structure
    // derived in-query (same derivation in the oracle, the q_dedup_url
    // pattern): a per-source 8-word header, the doc's non-overlapping
    // 8-word chunks, a per-source 8-word footer. Headers/footers hit
    // the threshold (each source has ~100 docs) and vanish; organic
    // chunks top out at df=2 in this corpus and survive — so the
    // threshold boundary itself is exercised.
    //
    // Scale notes: the frequency table is keyed by (source, 60-bit
    // line hash) — count(DISTINCT doc_id) is a two-stage hash agg
    // with map-side partials over the (source,h,doc_id) distinct set;
    // the verdict is a corpus-sized equi-join on the same key (hash
    // collisions behave identically in both engines — the oracle
    // shares the hash); reassembly is one doc_id-keyed aggregation
    // with per-doc bounded state. No window sort, nothing broadcast
    // or collected; at 100 TB the line-hash shuffle moves 8-byte keys
    // only.
    "q_boilerplate_lines" -> ((s, d) => {
      val lines = docs(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("source"), posexplode(concat(
          array(concat(lit("nav home about contact login search "),
            col("source"), lit(" menu"))),
          expr("transform(sequence(0, cast(ceil(size(w)/8.0) as int)-1)," +
            " i -> array_join(slice(w, i*8+1, 8), ' '))"),
          array(concat(lit("copyright footer "), col("source"),
            lit(" all rights reserved terms privacy"))))))
        .toDF("doc_id", "source", "idx", "line")
        .select(col("doc_id"), col("source"), col("idx"), col("line"),
          conv(substring(md5(col("line")), 1, 15), 16, 10).cast("bigint").as("h"))
      val freq = lines.groupBy(col("source"), col("h"))
        .agg(countDistinct(col("doc_id")).as("df"))
      lines.join(freq, Seq("source", "h"))
        .select(col("doc_id"), col("idx"), col("line"), (col("df") < 3).as("kept"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("kept"), 0).otherwise(1)).as("n_dropped"),
          array_join(transform(sort_array(collect_list(
            when(col("kept"), struct(col("idx"), col("line"))))),
            x => x.getField("line")), " ").as("new_text"))
        .orderBy(col("doc_id"))
    }),

    // DSIR-style importance weighting (data selection via importance
    // resampling): score every document by how much more likely its
    // hashed-bigram features are under a TARGET domain's unigram
    // feature LM than under the raw-corpus LM — Σ_f ln(p_t(f)/p_r(f)),
    // add-one smoothing over 4096 hashed buckets. The target domain is
    // the lexicographically-first source (deterministic); real
    // pipelines fit p_t offline on a trusted corpus — the fit here is
    // in-plan so the whole operator is oracle-checkable. Keep = mean
    // log-ratio above θ = -0.92 (the fixture's median — both sides
    // populated), decided on EXACT decimals (score·100 > -92·n) so no
    // float boundary can flip it; ln terms use the q_source_kl
    // portable idiom (identical-operand IEEE ln, 12dp-rounded decimal
    // sum).
    //
    // Scale notes: both LMs live in two 4096-row tables — n_t/n_r are
    // sums OVER those tables, not extra corpus passes — broadcast back
    // for scoring; the exploded feature stream is cached because it
    // feeds fit and scoring in one plan (at 100 TB the fit is its own
    // job persisting the 4096-row tables, and scoring is one
    // map-side-joined pass; nothing here shuffles more than (bucket,
    // count) pairs and the doc-keyed score rollup).
    "q_importance_dsir" -> ((s, d) => {
      val f = docs(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(1, size(w)-1), i -> concat_ws(' ', w[i-1], w[i]))"))
          .as("g"))
        .select(col("doc_id"), col("source"),
          (conv(substring(md5(concat(lit("ds:"), col("g"))), 1, 15), 16, 10)
            .cast("bigint") % 4096).as("b"))
        .cache() // fit AND scoring read it (scale notes above)
      val tgt = f.agg(min(col("source")).as("t"))
      val ct = f.crossJoin(broadcast(tgt)).filter(col("source") === col("t"))
        .groupBy(col("b")).agg(count(lit(1)).as("c_t"))
      val cr = f.groupBy(col("b")).agg(count(lit(1)).as("c_r"))
      val nt = ct.agg(sum(col("c_t")).cast("long").as("n_t"))
      val nr = cr.agg(sum(col("c_r")).cast("long").as("n_r"))
      val lr = cr.join(ct, Seq("b"), "left")
        .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
        .select(col("b"), round(log(
          ((coalesce(col("c_t"), lit(0L)) + lit(1L)) / (col("n_t") + lit(4096L))) /
            ((col("c_r") + lit(1L)) / (col("n_r") + lit(4096L)))), 12)
          .cast("decimal(30,14)").as("lr"))
      val sc = f.join(broadcast(lr), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"), sum(col("lr")).as("score"))
      docs(s, d).select(col("doc_id")).join(sc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_feats"), lit(0L)).as("n_feats"),
          round(coalesce(col("score"), lit(0).cast("decimal(30,14)"))
            .cast("double"), 6).as("dsir_score"),
          when(col("score") * 100 > col("n_feats") * -92, 1).otherwise(0)
            .as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Gopher's REPETITION rule, the half q_quality_gopher doesn't
    // cover: the fraction of a document's characters contained in
    // duplicate word n-grams (all occurrences of any gram that appears
    // more than once in the SAME doc). Gopher applies it at n=2..10;
    // this corpus has intra-doc duplicates only at n≤3 (measured:
    // 349 docs at n=2, 27 at n=3, zero at n≥5), so the query runs
    // n ∈ {2,3} and the thresholds (8% / 1%) are chosen to split the
    // fixture — both sides of each boundary are populated. The keep
    // flag compares EXACT integers (dup·25 ≤ tot·2, dup·100 ≤ tot),
    // so no float boundary can flip it between engines; the reported
    // fractions are display-rounded doubles like q_quality_gopher's.
    //
    // Scale notes: two keyed hash aggs per n — (doc,gram) counts with
    // map-side partials, then a doc-keyed rollup; the joins are
    // doc-keyed equi-joins of 500-row-per-doc aggregates. Nothing is
    // collected or broadcast; shuffle keys are (doc_id, gram-hash)
    // sized.
    "q_repetition_filter" -> ((s, d) => {
      def dupFrac(n: Int, suffix: String): DataFrame =
        grams(s, d, n)
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .select(col("doc_id"), col("c"), length(col("g")).as("lg"))
          .groupBy(col("doc_id"))
          .agg(sum(when(col("c") > 1, col("c") * col("lg")).otherwise(0L))
            .as(s"dup$suffix"),
            sum(col("c") * col("lg")).as(s"tot$suffix"))
      docs(s, d).select(col("doc_id"))
        .join(dupFrac(2, "2"), Seq("doc_id"), "left")
        .join(dupFrac(3, "3"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup2"), lit(0L)).as("d2"),
          coalesce(col("tot2"), lit(0L)).as("t2"),
          coalesce(col("dup3"), lit(0L)).as("d3"),
          coalesce(col("tot3"), lit(0L)).as("t3"))
        .select(col("doc_id"),
          when(col("t2") > 0, round(col("d2") / col("t2"), 6)).otherwise(0.0)
            .as("dup2_frac"),
          when(col("t3") > 0, round(col("d3") / col("t3"), 6)).otherwise(0.0)
            .as("dup3_frac"),
          when(col("d2") * 25 <= col("t2") * 2 && col("d3") * 100 <= col("t3"), 1)
            .otherwise(0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (the MOSS local-fingerprinting scheme):
    // hash every 4-word gram, slide a window of 4 consecutive gram
    // hashes, select the minimum in each window (ties broken by
    // position via a packed (hash,pos) key) — guaranteeing any shared
    // run of ≥ 7 words between two documents shares a fingerprint,
    // at ~2/(w+1) the density of the full gram set. Near-dup
    // candidates are document pairs sharing ≥2 fingerprints. Distinct
    // from q_doc_fingerprint (one rolling hash per doc — no locality
    // guarantee) and from the LSH families (probabilistic recall;
    // winnowing's detection guarantee is combinatorial).
    //
    // Scale notes: selection is a bounded ROWS window per doc (state =
    // 4 rows); fingerprints shuffle as 8-byte keys at ~1/5 gram
    // density; the pair join is an equi-join on the fingerprint hash
    // with a df ≤ 8 frequency cap ahead of it, so one hot fingerprint
    // (boilerplate) can never go quadratic — the same
    // bucket-occupancy discipline as the LSH band joins.
    "q_dedup_winnow" -> ((s, d) => {
      val p = words(s, d).filter(size(col("w")) >= 4)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, size(w)-3), i -> concat_ws(' ', slice(w, i, 4)))")))
        .toDF("doc_id", "pos", "g")
        .select(col("doc_id"), col("pos"),
          ((conv(substring(md5(col("g")), 1, 15), 16, 10).cast("bigint")
            % lit(1099511627776L)) * lit(1048576L) + col("pos")).as("khp"))
      val wDoc = Window.partitionBy(col("doc_id"))
      val wSel = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(0, 3)
      val fp = p
        .withColumn("maxpos", max(col("pos")).over(wDoc))
        .withColumn("wmin", min(col("khp")).over(wSel))
        .filter(col("pos") <= col("maxpos") - 3)
        .select(col("doc_id"), expr("wmin div 1048576").as("h"))
        .distinct()
        .cache() // feeds the df-cap agg AND both sides of the pair join
      val ok = fp.groupBy(col("h")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") <= 8).select(col("h"))
      val ff = fp.join(ok, Seq("h"))
      ff.as("a").join(ff.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy(col("da"), col("db"))
    }),
  )

  /** 5 chained power-iteration CTEs in the same 1e15 integer fixed
    * point as the Spark plan: floor divisions and BIGINT/HUGEINT sums
    * only, so the hash oracle is drift-free (VERDICT r8 #1). */
  private val pagerankSql: String = {
    val iters = (1 to 5).map { k =>
      val prev = if (k == 1) "r0" else s"i${k - 1}"
      s"""i$k AS MATERIALIZED (SELECT nd.node,
         |    150000000000000 // (SELECT n FROM nn)
         |      + (85 * COALESCE(c.infp, 0)) // 100 AS fp
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst, SUM(r.fp // d.deg) AS infp
         |    FROM edges e JOIN $prev r ON e.src = r.node
         |    JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) c ON nd.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${graft.operators.Pipeline.minhashPairsCtes},
       |edges AS MATERIALIZED (SELECT da AS src, db AS dst FROM mh_pairs
       |          UNION ALL SELECT db, da FROM mh_pairs),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS MATERIALIZED (SELECT node, 1000000000000000 // (SELECT n FROM nn) AS fp
       |       FROM nodes),
       |$iters
       |SELECT node AS doc_id, CAST(fp AS DOUBLE) / 1e15 AS pagerank
       |FROM i5 ORDER BY pagerank DESC, doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "q_graph_pagerank" -> pagerankSql,

    "q_unicode_normalize" ->
      s"""WITH raw AS (SELECT doc_id,
        |  string_split(text, ' ')[1] || ' cafe' || chr(769) || ' u' || chr(776) || 'ber' AS raw
        |  FROM documents)
        |SELECT doc_id, raw, nfc_normalize(raw) AS normalized,
        |  CAST(length(raw) AS INT) AS len_raw,
        |  CAST(length(nfc_normalize(raw)) AS INT) AS len_nfc
        |FROM raw ORDER BY doc_id""".stripMargin,

    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
        |      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) t
        |      WHERE len(w) >= 3),
        |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
        |SELECT g.doc_id, count(DISTINCT g.g) AS n_hit_grams
        |FROM g JOIN bench USING (g) WHERE g.doc_id % 97 <> 0
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,

    "q_quality_gopher" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, CAST(len(w) AS INT) AS n_words,
        |                CAST(len(list_distinct(w)) AS INT) AS n_distinct FROM w),
        |uni AS (SELECT doc_id, max(c) AS top_word_n FROM (
        |  SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(w) AS tok FROM w) u GROUP BY 1, 2) uc GROUP BY 1),
        |bi AS (SELECT doc_id, max(c) AS top_bigram_n, CAST(sum(c) AS BIGINT) AS n_bigrams FROM (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
        |    FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) t
        |    WHERE len(w) >= 2) bg GROUP BY 1, 2) bc GROUP BY 1)
        |SELECT base.doc_id, n_words,
        |  round(n_distinct / n_words, 6) AS distinct_ratio,
        |  round(top_word_n / n_words, 6) AS top_word_frac,
        |  round(top_bigram_n / n_bigrams, 6) AS top_bigram_frac,
        |  CASE WHEN n_distinct / n_words >= 0.4 AND top_word_n / n_words <= 0.1
        |            AND top_bigram_n / n_bigrams <= 0.08 THEN 1 ELSE 0 END AS keep
        |FROM base JOIN uni USING (doc_id) JOIN bi USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_pii_redact" ->
      """WITH raw AS (SELECT doc_id,
        |  source || '.user@' || lang || '.example.com tel 555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |  ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |  CAST((doc_id * 7) % 256 AS VARCHAR) || ' ' || substr(text, 1, 40) AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\b\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(raw, '\b\d{3}-\d{4}\b')) AS INT) AS n_phone,
        |  CAST(len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip
        |FROM raw ORDER BY doc_id""".stripMargin,

    "q_global_shuffle" ->
      """WITH h AS (SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 32 AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 32
        |    ORDER BY h, doc_id) AS INT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tok FROM documents),
        |c AS (SELECT source, doc_id, n_tok,
        |  CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d)
        |SELECT source, (cum - n_tok) // 256 AS bin, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY source, (cum - n_tok) // 256
        |ORDER BY source, bin""".stripMargin,

    "q_inverted_index" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |t AS (SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS cf
        |      FROM tok WHERE tok <> '' GROUP BY tok),
        |p AS (SELECT tok, array_to_string(
        |        (list(DISTINCT doc_id ORDER BY doc_id))[1:5], ',') AS posting_sample
        |      FROM tok WHERE tok <> '' GROUP BY tok)
        |SELECT t.tok, df, cf, posting_sample FROM t JOIN p USING (tok)
        |ORDER BY df DESC, cf DESC, tok LIMIT 50""".stripMargin,

    "q_domain_mix" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |p AS (SELECT source, n_docs, n_tokens,
        |  CAST(round(pow(CAST(n_tokens AS DOUBLE), CAST(0.3 AS DOUBLE)), 9)
        |    AS DECIMAL(28,10)) AS p_s
        |  FROM per),
        |tot AS (SELECT sum(p_s) AS p_tot FROM p)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(p_s AS DOUBLE) / CAST(p_tot AS DOUBLE), 6) AS weight
        |FROM p, tot ORDER BY source""".stripMargin,

    "q_contain_attrib" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
        |      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) t
        |      WHERE len(w) >= 3),
        |nb AS (SELECT doc_id, count(*) AS n_bench FROM g
        |       WHERE doc_id % 97 = 0 GROUP BY doc_id),
        |inter AS (SELECT b.doc_id AS bench_id, a.doc_id AS train_id, count(*) AS inter_n
        |          FROM g b JOIN g a USING (g)
        |          WHERE b.doc_id % 97 = 0 AND a.doc_id % 97 <> 0 GROUP BY 1, 2),
        |rk AS (SELECT bench_id, train_id, inter_n,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY bench_id
        |           ORDER BY inter_n DESC, train_id) AS INT) AS rank
        |       FROM inter WHERE inter_n >= 2)
        |SELECT bench_id, rank, train_id, inter_n, n_bench,
        |  round(CAST(inter_n AS DOUBLE) / n_bench, 6) AS containment
        |FROM rk JOIN nb ON bench_id = nb.doc_id
        |WHERE rank <= 3 ORDER BY bench_id, rank""".stripMargin,

    "q_mix_sample" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |p AS (SELECT source, n_tokens,
        |  CAST(round(pow(CAST(n_tokens AS DOUBLE), CAST(0.3 AS DOUBLE)), 9)
        |    AS DECIMAL(28,10)) AS p_s
        |  FROM per),
        |tot AS (SELECT sum(p_s) AS p_tot, CAST(sum(n_tokens) AS BIGINT) AS tok_tot FROM p),
        |rates AS (SELECT source,
        |  round(round(CAST(p_s AS DOUBLE) / CAST(p_tot AS DOUBLE), 9) /
        |        round(CAST(n_tokens AS DOUBLE) / CAST(tok_tot AS DOUBLE), 9), 9) AS raw
        |  FROM p, tot),
        |mx AS (SELECT max(raw) AS mx FROM rates),
        |thr AS (SELECT source,
        |  CAST(round(raw / mx * 1000000000, 0) AS BIGINT) AS thr FROM rates, mx),
        |u AS (SELECT doc_id, source,
        |  CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |    % 1000000000 AS u
        |  FROM documents)
        |SELECT doc_id, u.source, u, thr FROM u JOIN thr USING (source)
        |WHERE u < thr ORDER BY doc_id""".stripMargin,

    "q_dedup_url" ->
      """WITH raw AS (SELECT doc_id, n_chars,
        |  (CASE WHEN doc_id % 3 = 1 THEN 'HTTPS://'
        |        WHEN doc_id % 3 = 2 THEN 'http://' ELSE 'https://' END) ||
        |  (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END) ||
        |  '.Example.COM' ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |  '/' || lang || '/item/' || CAST(doc_id % 40 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 2 = 0
        |        THEN '?utm_source=feed&id=' || CAST(doc_id % 6 AS VARCHAR)
        |        ELSE '?page=' || CAST(doc_id % 3 AS VARCHAR) ||
        |             '&id=' || CAST(doc_id % 6 AS VARCHAR) || '&utm_medium=email' END) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '#section-2' ELSE '' END) AS url
        |  FROM documents),
        |c1 AS (SELECT doc_id, n_chars, regexp_replace(url, '#.*$', '') AS u FROM raw),
        |c2 AS (SELECT doc_id, n_chars,
        |  lower(regexp_extract(u, '^([^/]+//[^/]+)', 1)) AS auth0,
        |  regexp_replace(u, '^[^/]+//[^/]+', '') AS rest FROM c1),
        |c3 AS (SELECT doc_id, n_chars,
        |  CASE WHEN starts_with(auth0, 'https://')
        |       THEN regexp_replace(auth0, ':443$', '') ELSE auth0 END AS auth,
        |  regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$', '') AS path,
        |  array_to_string(list_sort(list_filter(
        |    string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |    x -> NOT starts_with(x, 'utm_') AND x <> '')), '&') AS kept
        |  FROM c2),
        |c4 AS (SELECT
        |  auth || path || (CASE WHEN kept = '' THEN '' ELSE '?' || kept END)
        |    AS canon_url,
        |  (1000000 - n_chars) * 10000000000 + doc_id AS ord FROM c3)
        |SELECT canon_url, CAST(min(ord) % 10000000000 AS BIGINT) AS kept_doc_id,
        |  CAST(1000000 - min(ord) // 10000000000 AS BIGINT) AS kept_n_chars,
        |  count(*) AS n_dups
        |FROM c4 GROUP BY canon_url ORDER BY canon_url""".stripMargin,

    "q_dedup_span" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (SELECT doc_id, i AS idx,
        |  array_to_string(w[i*8+1 : i*8+8], ' ') AS chunk,
        |  doc_id * 100000 + i AS ord
        |  FROM w, LATERAL (SELECT unnest(generate_series(0,
        |    CAST(ceil(len(w)/8.0) AS INT) - 1)) AS i) t),
        |h AS (SELECT doc_id, idx, chunk, ord,
        |  CAST(('0x' || substr(md5(chunk), 1, 15)) AS BIGINT) AS h FROM ch),
        |win AS (SELECT h, min(ord) AS keep_ord FROM h GROUP BY h),
        |k AS (SELECT doc_id, idx, chunk, (ord = keep_ord) AS kept
        |      FROM h JOIN win USING (h))
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  COALESCE(array_to_string(list(chunk ORDER BY idx)
        |    FILTER (WHERE kept), ' '), '') AS new_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_quality_classifier" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |b AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5('qc:' || tok), 1, 15)) AS BIGINT) % 4096 AS bucket
        |  FROM t),
        |w AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5('qw:' || CAST(bucket AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 2001 - 1000 AS wt
        |  FROM b)
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(wt) AS BIGINT) AS score_sum,
        |  CASE WHEN sum(wt) > 0 THEN 1 ELSE 0 END AS keep
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // sequential next-fit replayed as a per-source recursive CTE
    // stepping docs in doc_id order (depth = max docs per source)
    "q_pack_nextfit" ->
      """WITH RECURSIVE d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |step AS (
        |  SELECT source, rn, doc_id, n_tok, CAST(0 AS BIGINT) AS bin,
        |    n_tok AS used
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.rn, d.doc_id, d.n_tok,
        |    CASE WHEN s.used + d.n_tok > 256 THEN s.bin + 1 ELSE s.bin END,
        |    CASE WHEN s.used + d.n_tok > 256 THEN d.n_tok
        |         ELSE s.used + d.n_tok END
        |  FROM step s JOIN d ON d.source = s.source AND d.rn = s.rn + 1)
        |SELECT source, bin, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
        |  greatest(0, 256 - CAST(sum(n_tok) AS BIGINT)) AS padding,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM step GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    "q_importance_dsir" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |f AS (SELECT doc_id, source,
        |        CAST(('0x' || substr(md5('ds:' || array_to_string(w[i : i+1], ' ')),
        |          1, 15)) AS BIGINT) % 4096 AS b
        |      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) t),
        |tgt AS (SELECT min(source) AS t FROM f),
        |ct AS (SELECT b, count(*) AS c_t FROM f, tgt WHERE source = t GROUP BY b),
        |cr AS (SELECT b, count(*) AS c_r FROM f GROUP BY b),
        |nt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t FROM ct),
        |nr AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r FROM cr),
        |lr AS (SELECT cr.b, CAST(round(ln(
        |          ((COALESCE(c_t, 0) + 1) / (n_t + 4096)) /
        |          ((c_r + 1) / (n_r + 4096))), 12) AS DECIMAL(30,14)) AS lr
        |       FROM cr LEFT JOIN ct USING (b), nt, nr),
        |sc AS (SELECT doc_id, count(*) AS n_feats, sum(lr) AS score
        |       FROM f JOIN lr USING (b) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_feats, 0) AS n_feats,
        |  round(CAST(COALESCE(score, 0) AS DOUBLE), 6) AS dsir_score,
        |  CASE WHEN score * 100 > n_feats * -92 THEN 1 ELSE 0 END AS keep
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_repetition_filter" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g2 AS (SELECT doc_id, array_to_string(w[i : i+1], ' ') AS g
        |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) t
        |       WHERE len(w) >= 2),
        |c2 AS (SELECT doc_id, count(*) AS c, len(g) AS lg FROM g2 GROUP BY doc_id, g),
        |f2 AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN c > 1 THEN c*lg ELSE 0 END) AS BIGINT) AS d2,
        |         CAST(sum(c*lg) AS BIGINT) AS t2
        |       FROM c2 GROUP BY doc_id),
        |g3 AS (SELECT doc_id, array_to_string(w[i : i+2], ' ') AS g
        |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) t
        |       WHERE len(w) >= 3),
        |c3 AS (SELECT doc_id, count(*) AS c, len(g) AS lg FROM g3 GROUP BY doc_id, g),
        |f3 AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN c > 1 THEN c*lg ELSE 0 END) AS BIGINT) AS d3,
        |         CAST(sum(c*lg) AS BIGINT) AS t3
        |       FROM c3 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN COALESCE(t2,0) > 0 THEN round(COALESCE(d2,0) / t2, 6) ELSE 0.0 END
        |    AS dup2_frac,
        |  CASE WHEN COALESCE(t3,0) > 0 THEN round(COALESCE(d3,0) / t3, 6) ELSE 0.0 END
        |    AS dup3_frac,
        |  CASE WHEN COALESCE(d2,0)*25 <= COALESCE(t2,0)*2
        |        AND COALESCE(d3,0)*100 <= COALESCE(t3,0) THEN 1 ELSE 0 END AS keep
        |FROM documents d
        |LEFT JOIN f2 USING (doc_id) LEFT JOIN f3 USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_boilerplate_lines" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |lines AS (SELECT doc_id, source,
        |  list_concat(list_concat(
        |    ['nav home about contact login search ' || source || ' menu'],
        |    list_transform(generate_series(0, CAST(ceil(len(w)/8.0) AS INT) - 1),
        |      i -> array_to_string(w[i*8+1 : i*8+8], ' '))),
        |    ['copyright footer ' || source || ' all rights reserved terms privacy'])
        |    AS ls
        |  FROM w),
        |ex AS (SELECT doc_id, source, i - 1 AS idx, ls[i] AS line
        |       FROM lines, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) t),
        |h AS (SELECT doc_id, source, idx, line,
        |  CAST(('0x' || substr(md5(line), 1, 15)) AS BIGINT) AS h FROM ex),
        |df AS (SELECT source, h, count(DISTINCT doc_id) AS df FROM h GROUP BY 1, 2),
        |k AS (SELECT doc_id, idx, line, (df < 3) AS kept
        |      FROM h JOIN df USING (source, h))
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  COALESCE(array_to_string(list(line ORDER BY idx) FILTER (WHERE kept), ' '),
        |    '') AS new_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_winnow" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id, i - 1 AS pos,
        |    (CAST(('0x' || substr(md5(array_to_string(w[i : i+3], ' ')), 1, 15))
        |       AS BIGINT) % 1099511627776) * 1048576 + (i - 1) AS khp
        |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 3)) AS i) t
        |  WHERE len(w) >= 4),
        |sel AS (SELECT DISTINCT doc_id,
        |    min(khp) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM p QUALIFY pos <= max(pos) OVER (PARTITION BY doc_id) - 3),
        |fp AS (SELECT DISTINCT doc_id, wmin // 1048576 AS h FROM sel),
        |ok AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 8),
        |ff AS (SELECT fp.doc_id, fp.h FROM fp JOIN ok USING (h))
        |SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
        |FROM ff a JOIN ff b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY da, db""".stripMargin,
  )
}
