package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.engine.{Leaves, QueryPack, Tables}
import graft.plans.Deferred

/** Oracle-adjacent audits for the sketch/LSH family (VERDICT r4 #7).
  *
  * The sketch queries themselves are rows-only by nature (bloom bits,
  * minhash signatures, LSH buckets aren't SQL-expressible), so their
  * correctness lived only in ScalaTest. Each audit here re-states a
  * sketch query's containment/recall CLAIM as a driver-checkable
  * query, so CORRECTNESS_r{N} itself witnesses the claim:
  *
  *  - q_audit_bloom_fn: the exact contamination result filtered
  *    through the bloom's doc-level verdicts — equals the exact result
  *    iff the bloom has no false negative. Oracled against the same
  *    DuckDB SQL as q_decontaminate: a single missed gram drops a row
  *    or lowers a count and the hash diverges.
  *  - q_audit_phash_recall: how many PLANTED near-dup pairs (same
  *    doc_id/3 group — a relation DuckDB can count independently) the
  *    dHash dedup actually surfaced. The oracle computes the full
  *    planted-pair count, so it passes only at 100% recall.
  *  - q_audit_embed_recall: planted pairs whose IN-PLAN exact cosine
  *    (same embeddings, same dot) clears the 0.9 gate but which the
  *    banded sign-LSH did NOT surface — pinned to zero. The exact
  *    side is computed from the decoded embeddings themselves, not
  *    assumed of the fixture generator: the sf1 campaign found 2 of
  *    49 999 planted groups whose variants legitimately land below
  *    0.9, so "every planted pair is a near-dup" is not a property
  *    audits may assume at scale.
  *  - q_audit_simhash_lsh: exact-slice pairs the banded LSH failed to
  *    surface, pinned to zero — pigeonhole-GUARANTEED (8 bands vs
  *    hamming ≤ 4).
  *  - q_audit_minhash_recall: the exact full-corpus shingle-jaccard
  *    ≥ 0.9 pairs that minhash banding also found, oracled against an
  *    independent DuckDB recomputation of the exact pair set — passes
  *    only at 100% recall (a fixed property of the deterministic
  *    seeds on this corpus; DedupSimilaritySpec holds the per-pair
  *    probability argument).
  */
object Audits extends QueryPack {

  override def queries: Map[String, Q] = Map(
    // Exact decontamination result, gated doc-by-doc on the bloom
    // verdict: a doc survives only if the bloom flagged at least as
    // many candidate grams as the exact query found hits. Bloom
    // guarantees no false negatives, so this must EQUAL the exact
    // result (same oracle as q_decontaminate).
    "q_audit_bloom_fn" -> ((s, d) => {
      val exact = Curation.queries("q_decontaminate")(s, d)
      val bloom = Curation.queries("q_decontaminate_bloom")(s, d)
        .select(col("doc_id").as("b_doc"), col("n_candidate_grams"))
      exact.join(bloom,
          col("doc_id") === col("b_doc") &&
            col("n_candidate_grams") >= col("n_hit_grams"),
          "left_semi")
        .orderBy(col("doc_id"))
    }),

    // Planted-pair recall of the dHash image dedup: the oracle counts
    // the planted pairs straight off the documents table, the engine
    // counts how many of them the banded-LSH join surfaced. 7 bands
    // vs hamming ≤ 6 is pigeonhole-exact and planted pairs measure
    // ≤ 4 bits apart, so this is an equality, not a bound.
    "q_audit_phash_recall" -> ((s, d) =>
      Multimodal.queries("q_image_dedup_phash")(s, d)
        .filter(expr("da div 3 = db div 3"))
        .agg(count(lit(1)).as("n_found"))
        .orderBy(col("n_found"))),

    // Recall audit of the real-embedding sign-LSH dedup, against
    // in-plan exact ground truth: join every planted pair (doc_id/3
    // groups — 3 docs each, so the exact side is O(n) at any scale),
    // compute the EXACT cosine with the same decoded embeddings and
    // the same codegen'd dot the LSH gate uses, keep pairs ≥ 0.9, and
    // anti-join the LSH-found pair set. n_missed is pinned zero:
    // multiprobe pigeonhole covers sign diffs ≤ 7 bits and planted
    // variants measure ≤ 4. Runs inside Deferred (the embedding frame
    // builds media fixtures on first touch).
    "q_audit_embed_recall" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Deferred.df(s, "audit_embed_recall", StructType(Seq(
        StructField("n_missed", LongType, nullable = true),
        StructField("exact_nonempty", org.apache.spark.sql.types.BooleanType,
          nullable = false)))) { () =>
        val emb = Multimodal.realEmbeddings(s, d) // a leaf; shared with LSH side
        val a = emb.select(col("doc_id").as("da"), col("emb").as("ea"))
        val b = emb.select(col("doc_id").as("db"), col("emb").as("eb"))
        val exact = a.join(b,
            expr("da div 3 = db div 3") && col("da") < col("db") &&
              graft.functions.GraftFunctions.dot_d(col("ea"), col("eb")) >= 0.9)
          .select(col("da"), col("db"))
        val found = Multimodal.queries("q_embed_real")(s, d)
          .select(col("da"), col("db")).withColumn("hit", lit(true))
        // exact_nonempty guards against a vacuous pass: if the decode/
        // embedding pipeline degraded until NO planted pair cleared the
        // 0.9 exact gate, n_missed would read 0 with zero recall
        // actually witnessed. A dead exact side now returns
        // (null, false) and the pinned (0, TRUE) oracle fails loudly.
        exact.join(found, Seq("da", "db"), "left")
          .agg(
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_missed"),
            (count(lit(1)) > 0).as("exact_nonempty"))
          .orderBy(col("n_missed"))
      }
    }),

    // Exact-slice simhash pairs the banded full-corpus LSH missed:
    // pigeonhole (6×10-bit bands, threshold hamming ≤ 4 < 6) says
    // ZERO, at any scale, on any data.
    "q_audit_simhash_lsh" -> ((s, d) => {
      val exact = Pipeline.queries("q_dedup_simhash")(s, d)
        .select(col("da"), col("db"))
      val lsh = Pipeline.queries("q_dedup_simhash_lsh")(s, d)
        .select(col("da"), col("db"))
      exact.join(lsh, Seq("da", "db"), "left_anti")
        .agg(count(lit(1)).as("n_missed"))
        .orderBy(col("n_missed"))
    }),

    // Exact full-corpus 3-shingle-jaccard pairs ≥ 0.9 that minhash
    // banding ALSO surfaced. The basis matters: minhash sketches
    // 3-word shingle sets, so the exact side must too — word-set
    // jaccard (q_dedup_ngram) rates shuffled-word template variants
    // as near-dups that shingle similarity correctly rejects. The
    // threshold is integer arithmetic (inter·10 ≥ union·9) so no
    // float-compare drift vs the oracle. Not a pigeonhole guarantee —
    // per-pair banding miss probability is (1-j⁴)⁸ ≈ 1.9e-4 at
    // j = 0.9 — but deterministic seeds make recall a fixed property
    // of the corpus; the oracle computes the full exact pair set, so
    // the driver passes only at 100% recall (verified at every
    // shipped SF).
    "q_audit_minhash_recall" -> ((s, d) => {
      val bare = Tables.spread(Tables.t(s, d, "documents"), "doc_id")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")))
          .as("sh"))
      // per-doc shingle count rides along on every exploded row so the
      // size-compatibility prune can live INSIDE the self-join
      val sh = bare
        .join(bare.groupBy(col("doc_id")).agg(count(lit(1)).as("n")), "doc_id")
        .cache() // two consumers below; lazy reuse would re-tokenize
      // jac >= 0.9 forces |A|,|B| within 10/9 of each other — putting
      // that bound in the join condition kills hot-shingle pairs of
      // incompatible sizes during enumeration (round-3 lesson: the
      // verification predicate belongs IN the join, not after it)
      val inter = sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
            col("a.n") * 10 >= col("b.n") * 9 && col("b.n") * 10 >= col("a.n") * 9)
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("inter_n"))
      val exact = inter
        .filter(col("inter_n") * 10 >= (col("na") + col("nb") - col("inter_n")) * 9)
        .select(col("da"), col("db"))
      val found = Pipeline.queries("q_dedup_minhash")(s, d)
        .select(col("da"), col("db"))
      exact.join(found, Seq("da", "db"), "left_semi")
        .orderBy(col("da"), col("db"))
    }),

    // HLL distinct-count audit: the exact per-group cardinality is the
    // oracled value; within_tol pins |approx − exact| ≤ 5%·exact —
    // 2.5σ above the rsd=0.02 sketch setting, and a FIXED property of
    // this deterministic data (verified at every shipped SF), so the
    // driver's hash check witnesses the sketch's accuracy claim.
    "q_audit_approx_distinct" -> ((s, d) => {
      val approx = Relational.queries("q_agg_approx_distinct")(s, d)
        .select(col("o_orderstatus"), col("approx_cust"))
      Tables.t(s, d, "orders").groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
        .join(approx, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n_exact"),
          (abs(col("approx_cust") - col("n_exact")).cast("double") <=
            lit(0.05) * col("n_exact").cast("double")).as("within_tol"))
        .orderBy(col("o_orderstatus"))
    }),

    // KLL/GK percentile-sketch audit, same shape: exact discrete
    // p50/p90 oracled, approx-within-5% pinned TRUE (accuracy 10000 →
    // rank error ≤ n/10⁴; prices are dense, 5% is far above it).
    "q_audit_approx_percentile" -> ((s, d) => {
      val approx = Relational.queries("q_agg_approx_percentile")(s, d)
        .select(col("o_orderstatus"), col("ap50"), col("ap90"))
      Relational.queries("q_agg_percentile")(s, d)
        .select(col("o_orderstatus"), col("p50"), col("p90"))
        .join(approx, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("p50"), col("p90"),
          (abs(col("ap50") - col("p50")) <= lit(0.05) * col("p50")).as("p50_ok"),
          (abs(col("ap90") - col("p90")) <= lit(0.05) * col("p90")).as("p90_ok"))
        .orderBy(col("o_orderstatus"))
    }),

    // Heavy hitters through a count-min sketch: the exact top-20
    // tokens (oracled list + counts) probed against a CMS built over
    // the full token stream. CMS can only OVERestimate, so
    // `est_ge_exact` is an invariant — the oracle pins it TRUE; a
    // single undercount flips the bit and fails the hash. At 100 TB
    // this is the hot-key detector: the sketch is one mergeable
    // 112 KB aggregate (partial CMS per partition, merged once), and
    // probing costs one broadcast row — no second corpus pass, which
    // is why skew probes use a sketch instead of an exact groupBy.
    "q_audit_cms_hh" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val toks = Tables.t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .cache() // two consumers (exact histogram + CMS aggregate) —
                 // lazy reuse would re-explode the corpus
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("c_exact"))
        .orderBy(desc("c_exact"), col("tok")).limit(20)
      val cms = toks.agg(
        expr("count_min_sketch(tok, 0.001d, 0.99d, 42)").as("sk"))
      exact.crossJoin(broadcast(cms))
        .select(col("tok"), col("c_exact"),
          (call_function("cms_estimate", col("sk"), col("tok")) >=
            col("c_exact")).as("est_ge_exact"))
        .orderBy(desc("c_exact"), col("tok"))
    }),

    // Semantic-dedup verdict audit (r7 verdict item 4): re-derive
    // every q_dedup_semantic verdict FROM ITS OWN CELLS with an
    // independent in-cell pairwise pass — a drop is consistent iff a
    // lower-id same-cell doc shadows it at integer-exact cos ≥ 0.9, a
    // keep iff none does — and count the mismatches. The clustering
    // itself is float geometry DuckDB can't replay, so (like
    // q_audit_simhash_lsh's pinned zero) the oracle pins both counts
    // to 0 while the engine executes the full recheck: any verdict
    // that disagrees with its cell's exact-cosine structure flips a
    // count and fails the hash. This moves RetrievalSpec's driver
    // recheck into CORRECTNESS itself.
    "q_audit_semantic" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // Deferred: the basis leaves below are built by jobs. The
      // verdicts need no lineage cut of their own: q_dedup_semantic
      // lands them as a leaf and shares it through Retrieval's session
      // memo, so every join branch below scans n_docs landed rows and
      // the clustering executes once.
      Deferred.df(s, s"audit_semantic:$d", StructType(Seq(
        StructField("n_bad_drops", LongType),
        StructField("n_bad_keeps", LongType)))) { () =>
      val verdicts = Retrieval.queries("q_dedup_semantic")(s, d)
      val cvf = Retrieval.textBasis(s, d).vecs
      // the audit's OWN in-cell pass, written apart from the one in
      // q_dedup_semantic so the two can disagree; only the integer gate
      // is shared, and q_audit_text_recall's oracle recomputes that
      // a leaf, not a cache: the body's scope drops it, which a cache
      // cannot do here (the deadlock at semanticVerdicts)
      val sides = Leaves.land(verdicts.join(cvf, Seq("doc_id")))
      val aa = sides.select(col("cid"), col("doc_id").as("da"),
        col("vf").as("vfa"), col("n2f").as("n2a"))
      val bb = sides.select(col("cid").as("cid_b"), col("doc_id").as("db"),
        col("vf").as("vfb"), col("n2f").as("n2b"))
      // distinct() barrier between the float prefilter and the exact
      // gate — same reason as in q_dedup_semantic (the optimizer
      // otherwise merges the interpreted exact-gate folds into this
      // join's bound condition, paying them on every same-cell pair)
      val fdot = graft.functions.GraftFunctions.dot_d(col("vfa"), col("vfb"))
      val cand = aa.join(bb, col("cid") === col("cid_b") &&
          col("da") < col("db") && fdot > 0 &&
          fdot * fdot >= lit(0.7744) * col("n2a") * col("n2b"))
        .select(col("da"), col("db")).distinct()
      val va = sides.select(col("doc_id").as("da"), col("cv").as("cva"))
      val vb = sides.select(col("doc_id").as("db"), col("cv").as("cvb"))
      val shadowed = Retrieval.exactCosGate(
          cand.join(va, Seq("da")).join(vb, Seq("db")))
        .select(col("db").as("doc_id")).distinct()
        .withColumn("shadowed", lit(true))
      Leaves.land(verdicts.join(shadowed, Seq("doc_id"), "left")
        .select(col("is_kept"),
          coalesce(col("shadowed"), lit(false)).as("sh"))
        .agg(
          sum(when(!col("is_kept") && !col("sh"), 1L).otherwise(0L))
            .as("n_bad_drops"),
          sum(when(col("is_kept") && col("sh"), 1L).otherwise(0L))
            .as("n_bad_keeps"))
        .orderBy(col("n_bad_drops")))
      }
    }),

    // Exhaustive-slice recall audit of the adaptive-width text LSH
    // (q_dedup_text_lsh): the TRUE cosine ≥ 0.9 pair set over the
    // doc_id < 2000 slice by brute force (codegen'd float prefilter,
    // integer-exact gate — the margin argument at Retrieval.TextBasis),
    // each pair flagged with whether the banded pipeline surfaced it. The
    // oracle recomputes BOTH sides — the exhaustive slice AND the
    // full banded pipeline — so CORRECTNESS itself witnesses the
    // recall, found-flags included. Not a pigeonhole: per-pair band
    // miss probability is (1−p1^w)^8 (p1 = 1−θ/π ≈ 0.856 at
    // cos 0.9), so misses are possible and HONESTLY REPORTED —
    // deterministic planes make the flag pattern a fixed corpus
    // property both engines agree on. Scale: the slice brute force is
    // the audit's cost (2000²/2 float dots, broadcast nested loop);
    // the production path stays the banded join.
    "q_audit_text_recall" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // Deferred (r17): the LSH side now comes from the session-shared
      // pair-set memo (Retrieval.lshPairsShared — the semantic-audit
      // idiom), whose localCheckpoint runs jobs; Deferred keeps the
      // query BUILD job-free (LazyBuildSpec) exactly like
      // q_audit_semantic. q_dedup_text_lsh itself still re-derives its
      // bands and pairs every run — only the audit's re-derivation of
      // the same pair set is shared.
      val idT = graft.engine.Tables.t(s, d, "documents")
        .schema("doc_id").dataType
      Deferred.df(s, s"audit_text_recall:$d", StructType(Seq(
        StructField("da", idT), StructField("db", idT),
        StructField("cos", org.apache.spark.sql.types.DoubleType),
        StructField("found", org.apache.spark.sql.types.BooleanType,
          nullable = false)))) { () =>
      val cvf = Retrieval.textBasis(s, d).vecs.filter(col("doc_id") < 2000)
      // r17 optimization (guide §4/§2.3, measured): the brute-force
      // join carries ONLY the float mirror + id — the integer cv
      // arrays used to ride the BNLJ output, and without a barrier
      // the optimizer merged the interpreted integer folds into the
      // join condition, paying 3 × 64-element ArrayAggregate on every
      // enumerated pair (the round-11 float-survivor lesson, here).
      // The float prefilter is also the single-dot form — one codegen
      // dot per pair instead of three (fdot ≥ 0.88·√(n2a·n2b) admits
      // the same superset: float error ~1e-6 relative against the
      // 0.88-vs-0.90 margin, TextBasis scaladoc); the integer gate
      // below stays the AUTHORITATIVE filter, so output is unchanged.
      val a = cvf.select(col("doc_id").as("da"),
        col("vf").as("vfa"), col("n2f").as("n2a"))
      val b = cvf.select(col("doc_id").as("db"),
        col("vf").as("vfb"), col("n2f").as("n2b"))
      val fdot = graft.functions.GraftFunctions.dot_d(col("vfa"), col("vfb"))
      // distinct() = the float-survivor barrier: interpreted folds run
      // on survivors only (q_audit_semantic's shape, applied here)
      // no separate fdot > 0 conjunct: the threshold is positive
      // (norms > 0 — docs with < 4 nonzero dims are excluded upstream),
      // and a second fdot occurrence would evaluate the dot twice
      val cand = a.join(broadcast(b), col("da") < col("db") &&
          fdot >= lit(0.88) * sqrt(col("n2a") * col("n2b")))
        .select(col("da"), col("db")).distinct()
      val exh = Retrieval.exactCosGate(cand
        .join(broadcast(cvf.select(col("doc_id").as("da"),
          col("cv").as("cva"))), Seq("da"))
        .join(broadcast(cvf.select(col("doc_id").as("db"),
          col("cv").as("cvb"))), Seq("db")))
      val lsh = Retrieval.lshPairsShared(s, d).withColumn("hit", lit(true))
      exh.join(lsh, Seq("da", "db"), "left")
        .select(col("da"), col("db"), col("cos"),
          coalesce(col("hit"), lit(false)).as("found"))
        .orderBy(col("da"), col("db"))
      }
    })
  )

  override def oracle: Map[String, String] = Map(
    // identical to q_decontaminate's oracle: the bloom gate must be
    // invisible (no false negatives)
    "q_audit_bloom_fn" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
        |      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) t
        |      WHERE len(w) >= 3),
        |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
        |SELECT g.doc_id, count(DISTINCT g.g) AS n_hit_grams
        |FROM g JOIN bench USING (g) WHERE g.doc_id % 97 <> 0
        |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,

    "q_audit_phash_recall" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_found
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
        |ORDER BY 1""".stripMargin,

    // pinned (0, TRUE) — the engine side executes the full exact-cosine
    // planted-pair recheck against the LSH pair set (the exact side
    // needs the decoded image embeddings, which SQL cannot recompute;
    // the CLAIM "LSH missed nothing the exact gate accepts" is what
    // the driver hash-checks). exact_nonempty makes the claim
    // non-vacuous: a degraded embedding pipeline with an EMPTY exact
    // side returns (null, false) and this row mismatches.
    "q_audit_embed_recall" ->
      "SELECT CAST(0 AS BIGINT) AS n_missed, TRUE AS exact_nonempty ORDER BY 1",

    // the claim is literally "nothing missed": pinned zero — the
    // engine side still executes the full exact-vs-LSH anti-join
    "q_audit_simhash_lsh" ->
      "SELECT CAST(0 AS BIGINT) AS n_missed ORDER BY 1",

    // verdict-consistency counts pinned zero — the engine side still
    // executes the full in-cell exact-cosine recheck of every verdict
    "q_audit_semantic" ->
      """SELECT CAST(0 AS BIGINT) AS n_bad_drops,
        |  CAST(0 AS BIGINT) AS n_bad_keeps ORDER BY 1""".stripMargin,

    // independently recomputes the exact shingle-jaccard ≥ 0.9 pair
    // set; equality with the engine's exact∩found ⟺ 100% recall
    "q_audit_minhash_recall" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) u
        |       WHERE len(w) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter_n
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT da, db
        |FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |WHERE inter_n * 10 >= (ca.n + cb.n - inter_n) * 9
        |ORDER BY da, db""".stripMargin,

    "q_audit_approx_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_exact,
        |  TRUE AS within_tol
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_audit_approx_percentile" ->
      """WITH w AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS cnt
        |  FROM orders)
        |SELECT o_orderstatus,
        |  MIN(CASE WHEN rn = CEIL(cnt * 0.5) THEN o_totalprice END) AS p50,
        |  MIN(CASE WHEN rn = CEIL(cnt * 0.9) THEN o_totalprice END) AS p90,
        |  TRUE AS p50_ok, TRUE AS p90_ok
        |FROM w GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // exact top-20 token counts; est_ge_exact pinned TRUE (CMS never
    // underestimates) — the engine side computes the real estimate
    "q_audit_cms_hh" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |             FROM documents)
        |SELECT tok, count(*) AS c_exact, TRUE AS est_ge_exact
        |FROM tok WHERE tok <> ''
        |GROUP BY tok ORDER BY c_exact DESC, tok LIMIT 20""".stripMargin,

    // both sides recomputed: the banded pipeline verbatim (the
    // q_dedup_text_lsh oracle nested as a CTE) and the exhaustive
    // exact slice — the found flag is part of the hashed result
    // __LSH__ is substituted AFTER stripMargin: the nested SQL's own
    // `||` continuations at line starts would otherwise be eaten as
    // margin characters
    "q_audit_text_recall" ->
      """WITH lsh AS (__LSH__),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok <> ''
        |       GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |h AS (SELECT tf.doc_id, tf.tf, df.df,
        |        ('0x' || substr(md5(tf.tok), 1, 15))::BIGINT AS hv
        |      FROM tf JOIN df USING (tok)),
        |emb0 AS (SELECT doc_id, CAST(hv % 64 AS INT) AS j,
        |           SUM((CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END)
        |               * tf * (100000 // df)) AS v
        |         FROM h GROUP BY 1, 2),
        |emb AS (SELECT doc_id, j, CAST(v AS BIGINT) AS v FROM emb0 WHERE v <> 0),
        |docs_e AS (SELECT doc_id FROM emb GROUP BY 1 HAVING count(*) >= 4),
        |n_d AS (SELECT count(*) AS nd FROM docs_e),
        |sj AS (SELECT j, CAST(SUM(v) AS BIGINT) AS sj FROM emb GROUP BY 1),
        |dense AS (SELECT d.doc_id, g.j,
        |            ((COALESCE(e.v, 0) * (SELECT nd FROM n_d)
        |              - COALESCE(s.sj, 0)) >> 12) AS c
        |          FROM (SELECT doc_id FROM docs_e WHERE doc_id < 2000) d
        |          CROSS JOIN range(64) g(j)
        |          LEFT JOIN emb e ON e.doc_id = d.doc_id AND e.j = g.j
        |          LEFT JOIN sj s ON s.j = g.j),
        |cvecs AS (SELECT doc_id, list(c ORDER BY j) AS cv
        |          FROM dense WHERE doc_id < 2000 GROUP BY 1),
        |nrm AS (SELECT doc_id,
        |          CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS n2
        |        FROM cvecs),
        |exh AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |          CAST(list_sum(list_transform(range(1, 65),
        |               i -> a.cv[i] * b.cv[i])) AS BIGINT) AS dot
        |        FROM cvecs a JOIN cvecs b ON a.doc_id < b.doc_id)
        |SELECT e.da, e.db,
        |  round(CAST(e.dot AS DOUBLE)
        |        / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cos,
        |  (l.da IS NOT NULL) AS found
        |FROM exh e
        |JOIN nrm na ON na.doc_id = e.da
        |JOIN nrm nb ON nb.doc_id = e.db
        |LEFT JOIN lsh l ON l.da = e.da AND l.db = e.db
        |WHERE e.dot > 0
        |  AND 100 * CAST(e.dot AS HUGEINT) * e.dot
        |      >= 81 * CAST(na.n2 AS HUGEINT) * nb.n2
        |ORDER BY e.da, e.db""".stripMargin
        .replace("__LSH__", sliceRestrictedLshOracle)
  )

  /** The nested q_dedup_text_lsh oracle with its `dense` CTE restricted
    * to the audited doc_id < 2000 slice. Output-equivalent: the audit's
    * final LEFT JOIN observes only lsh pairs with BOTH ids inside the
    * slice, bucketing is per-doc (a pair shares a band value or not
    * regardless of other docs), and every global statistic the
    * projection depends on (df, nd, sj, the adaptive width w) is
    * computed from CTEs upstream of `dense`, which stay corpus-wide.
    * Restricting `dense` makes proj/bands/sigs/keyed/cand/cvecs/dots
    * slice-sized transitively. Without this, the nested copy enumerated
    * 23.4M full-corpus candidate pairs at sf1 and spilled DuckDB past
    * this box's disk budget — for rows the audit provably never reads.
    * Round-12 caveat: the hot-bucket star cap (occ/hotb CTEs) computes
    * occupancy over the restricted `keyed`, which would diverge from
    * the engine's corpus-wide occupancy — but the cap is nd-GATED
    * (dormant while the corpus count ≤ 24·2^16, and n_d stays
    * corpus-wide here), so at every scale this audit runs the hot flag
    * is constant-false on both sides. An over-cap audit run would need
    * a corpus-wide occupancy CTE spliced in alongside the slice. */
  private lazy val sliceRestrictedLshOracle: String = {
    val lsh = Retrieval.oracle("q_dedup_text_lsh")
    val from = "FROM docs_e d CROSS JOIN range(64) g(j)"
    require(lsh.contains(from), "nested lsh oracle drifted: dense FROM not found")
    lsh.replace(from,
      "FROM (SELECT doc_id FROM docs_e WHERE doc_id < 2000) d CROSS JOIN range(64) g(j)")
  }
}
