package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.engine.{Leaves, Memo, QueryPack, Tables}
import graft.functions.{BpeLearner, GraftFunctions}
import graft.plans.Deferred

/** Round-4 retrieval & corpus-statistics operators: TF-IDF, BM25
  * scoring, co-occurrence PMI, a bigram language model, sliding-window
  * chunking (RAG ingestion shape), and time-series drift detection
  * over the event stream.
  *
  * Float-parity design (the DuckDB oracle hash-compares doubles):
  *  - transcendental scores (ln) are rounded to 6dp on both sides;
  *  - BM25 sums per-term double scores through an exact
  *    DECIMAL(28,10) of the 9dp-rounded term value, so the aggregate
  *    is addition-order-independent (Spark shuffles, DuckDB doesn't);
  *  - ratios divide identical integer operands — one IEEE op, exact;
  *  - oracle SQL casts fractional literals to DOUBLE explicitly
  *    (DuckDB types bare `0.5` as DECIMAL, which would silently switch
  *    the whole expression to decimal arithmetic).
  *
  * Scale notes (100 TB posture):
  *  - tfidf/bigram_lm/inverted stats: map-side-combinable groupBys on
  *    bounded keys (vocabulary, (doc,term)); corpus scalars (N, avgdl)
  *    are single-row broadcasts, never a driver collect;
  *  - bm25: term postings are filtered to the query's terms BEFORE the
  *    join (postings ~ |query| × df, not the corpus) — that filtered
  *    tf side is the small one Spark broadcasts against the
  *    corpus-sized dl table; only dfc (one row per query term) and
  *    the single-row stats are explicitly broadcast;
  *  - cooccur_pmi: the per-doc self-join is bounded by document length
  *    (docs are bounded by upstream curation), and the pair aggregation
  *    keys on vocab² with partial aggregation — no corpus-sized state;
  *  - chunk_sliding: pure per-row generate+explode, embarrassingly
  *    parallel, output ~ corpus_tokens/stride rows;
  *  - event_drift: keyed daily aggregation then a per-key ordered
  *    window — partitions by event_type, no global sort.
  */
object Retrieval extends QueryPack {

  private val k1 = 1.2
  private val b = 0.75
  private val bm25Terms = Seq("table", "spark", "merge")

  /** System property that bypasses the text-basis and semantic memos
    * so every call rebuilds the basis and re-fits the cluster hierarchy
    * from scratch — the fresh-fit mode ScaleStress uses to measure
    * honest pass-1 cost (VERDICT r9 #5); the consumer's Deferred scope
    * drops a fresh basis. Production consumers never set it. */
  private[graft] val freshFitProp = "graft.semantic.freshFit"

  // NOT spread — same small-vocab partial-agg reasoning as
  // Curation.docs (measured regression when spread)
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "documents")

  // The q_dedup_text_lsh PAIR SET for its audit consumer, memoized
  // per (session, dir) through engine.Memo (r17; the
  // q_dedup_semantic/q_audit_semantic idiom applied to the text-LSH
  // family): q_audit_text_recall re-derived the ENTIRE banded pipeline
  // — band join, verification, integer gates — on every run just to
  // label which exhaustive pairs the LSH surfaced, ~2.5 s of the
  // audit's 4 s warm wall at sf0.1. q_dedup_text_lsh itself NEVER
  // reads this memo — every run re-derives its bands and pairs; what it
  // shares with the audit is the textBasis leaves underneath. The
  // pair set is built by textLsh directly, so it runs jobs: the audit
  // body sits inside plans.Deferred (the q_audit_semantic posture) to
  // keep query BUILDS job-free.
  private[operators] def lshPairsShared(s: SparkSession, d: String): DataFrame =
    Memo.session(s, "lshPairsShared", d) {
      Leaves.land(textLsh(s, d).select(col("da"), col("db")))
    }

  private def tokens(s: SparkSession, d: String): DataFrame =
    // spread (r17): the token explode is the CPU stage; without it the
    // 1-row-group documents scan runs it on one task (Tables.spread)
    Tables.spread(docs(s, d), "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")

  /** Feature-hash term frequencies (doc_id, tok, tf) against a
    * (tok, df) vocabulary into the sparse integer embedding
    * (doc_id, j, v ≠ 0) — the arithmetic at q_embed_text, shared by the
    * recompute form and the standing index. */
  private def hashEmbed(tf: DataFrame, vocab: DataFrame): DataFrame =
    tf.join(vocab, Seq("tok"))
      .withColumn("hv",
        expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"))
      .groupBy(col("doc_id"), expr("cast(hv % 64 as int)").as("j"))
      .agg(sum(expr("(case when (hv div 64) % 2 = 0 then 1 else -1 end)" +
        " * tf * (100000 div df)")).as("v"))
      .filter(col("v") =!= 0)

  /** The unordered text-content embedding (doc_id, j, v) — q_embed_text
    * without its sort, and the one input of [[textBasis]]. Uncached:
    * the basis reads it once per leaf build. */
  private def embedText(s: SparkSession, d: String): DataFrame = {
    val tf = tokens(s, d).groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    hashEmbed(tf, tf.groupBy(col("tok")).agg(count(lit(1)).as("df")))
  }

  /** The shared text-vector basis: one checkpointed leaf and a view.
    *  - `vecs` (doc_id, cv, vf, n2f), the leaf: one row per doc, the
    *    integer vector cv in j order, its float mirror vf and the float
    *    norm n2f. cv holds the mean-centered components c_j =
    *    (v_j·N − S_j) >> 12 — cosine-invariant centering kept in exact
    *    integer range — for all 64 dims. Docs with < 4 nonzero dims are
    *    excluded. Pairwise PREFILTERS run on the codegen'd dot_d over
    *    vf — float error is ~1e-6 relative, three orders below the
    *    0.88-vs-0.90 margin every caller uses, so no true pair can be
    *    lost; cv stays authoritative for the exact gate;
    *  - `dense` (doc_id, j, c), the view: cv exploded back to one row
    *    per component. Landing it too would keep 64 rows per doc that
    *    duplicate the leaf. */
  private[graft] final case class TextBasis(vecs: DataFrame) {
    lazy val dense: DataFrame =
      vecs.select(col("doc_id"), posexplode(col("cv")).as(Seq("j", "c")))
  }

  /** [[TextBasis]] of `d`, built once per (session, dir) and read by
    * q_dedup_text_lsh, q_dedup_semantic, q_audit_semantic and
    * q_audit_text_recall. The memo holds one localCheckpoint leaf — a
    * scan of landed blocks, per the rule at [[graft.engine.Memo]] —
    * not a cache, whose query every consumer would re-plan and whose
    * executed plan the memo would pin. The checkpoint runs jobs, so
    * call this only from a Deferred body. */
  private[graft] def textBasis(s: SparkSession, d: String): TextBasis =
    sessionMemo(s, "textBasis", d) {
      GraftFunctions.register(s)
      val emb = embedText(s, d)
      val docsE = emb.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nz")).filter(col("nz") >= 4)
        .select(col("doc_id"))
      val nD = docsE.agg(count(lit(1)).as("nd"))
      val sj = emb.groupBy(col("j")).agg(sum(col("v")).as("sj")) // ≤64 rows
      val dims = s.range(0, 64).select(col("id").cast("int").as("j"))
      val dense = docsE.crossJoin(broadcast(dims))
        .join(emb, Seq("doc_id", "j"), "left")
        .join(broadcast(sj), Seq("j"), "left")
        .crossJoin(broadcast(nD))
        .select(col("doc_id"), col("j"),
          shiftright(coalesce(col("v"), lit(0L)) * col("nd") -
            coalesce(col("sj"), lit(0L)), 12).as("c"))
      val vecs = dense.groupBy(col("doc_id"))
        .agg(expr("transform(sort_array(collect_list(struct(j, c))), x -> x.c)")
          .as("cv"))
        .select(col("doc_id"), col("cv"),
          expr("transform(cv, x -> cast(x as float))").as("vf"))
        .withColumn("n2f", GraftFunctions.dot_d(col("vf"), col("vf")))
      TextBasis(Leaves.land(vecs))
    }

  /** The integer-exact cosine ≥ 0.9 gate over candidate pairs
    * (da, db, cva, cvb): keeps (da, db, cos) where dot > 0 ∧
    * 100·dot² ≥ 81·na·nb in DECIMAL(38), so no borderline pair can flip
    * between engines; cos is the 6dp double in the oracle's operand
    * order. Its folds are interpreted: feed it float-prefilter
    * survivors behind a distinct() barrier only (notes at textLsh). */
  private[operators] def exactCosGate(pairs: DataFrame): DataFrame =
    pairs.select(col("da"), col("db"), expr(
        "aggregate(zip_with(cva, cvb, (x, y) -> x * y), " +
          "cast(0 as bigint), (acc, x) -> acc + x)").as("dot"),
        expr("aggregate(cva, cast(0 as bigint), (acc, x) -> acc + x * x)").as("na"),
        expr("aggregate(cvb, cast(0 as bigint), (acc, x) -> acc + x * x)").as("nb"))
      .filter(col("dot") > 0 &&
        col("dot").cast("decimal(38,0)") * col("dot") * 100 >=
          col("na").cast("decimal(38,0)") * col("nb") * 81)
      .select(col("da"), col("db"),
        round(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
          .as("cos"))

  private def freshFit: Boolean = sys.props.get(freshFitProp).contains("true")

  /** Memo.session, bypassed under [[freshFitProp]]. */
  private def sessionMemo[V](s: SparkSession, kind: String, d: String)(
      build: => V): V =
    if (freshFit) build
    else Memo.session(s, kind, d)(build)

  /** Size switch for the LSH pair-verification join (VERDICT r7 #3;
    * SCALING.md §2).
    * The broadcast side is the derived vector table at ~850 B/doc; the
    * probe is the documents parquet byte size (a driver-side file stat
    * — query builds stay job-free). On this corpus parquet runs ~400
    * compressed bytes/doc, so the 128 MB file ceiling ≈ 300k docs ≈
    * 270 MB of broadcast vectors — comfortably under executor budgets;
    * above it the verification must not pin a docs-sized table in
    * every executor (nor grow driver collect pressure), so both sides
    * meet in co-partitioned shuffle joins instead. The sys prop forces
    * the bucketed path on small data for tests and stress runs. */
  private[graft] val forceBucketedProp = "graft.lsh.verify.forceBucketed"
  private[operators] def verifyBroadcastOk(d: String): Boolean =
    !java.lang.Boolean.getBoolean(forceBucketedProp) &&
      graft.engine.Layout.dirBytes(new java.io.File(s"$d/documents.parquet")) <= 128L * 1024 * 1024

  /** W-CAP OVERFLOW SHARD PATH (VERDICT r10 #1; SCALING.md §1).
    * The static 128×64 plane pool caps the adaptive band width at
    * w = 16, which holds expected bucket occupancy ≤ 24 only up to
    * 24·2^16 ≈ 1.57 M docs. Beyond the cap the corpus is hash-SHARDED:
    * each band-join side gains a shard id `pmod(xxhash64(doc_id), S)`
    * and is replicated across the S target shards of the OTHER side,
    * so the single declarative join becomes S² co-partitioned
    * shard-pair band joins keyed by (band, bucket, shard_a, shard_b) —
    * per-key occupancy falls back to ≤ 24 per side and no reducer ever
    * sees an over-cap bucket. This is the idiomatic-Spark realization
    * of "run the band join per shard + a cross-shard band pass": every
    * unordered doc pair meets in EXACTLY one shard-pair cell, so the
    * candidate set — and therefore the oracle — is value-identical to
    * the unsharded join (asserted in RetrievalSpec; the DuckDB mirror
    * needs no shard columns at all). S = ⌈n / (24·2^16)⌉ is derived
    * IN-PLAN from the corpus count exactly like w; whether to build
    * the shard shape at all is decided by the same job-free parquet
    * file-stat idiom as `verifyBroadcastOk` (~400 compressed B/doc ⇒
    * the 1.57 M-doc cap sits near 600 MB of documents parquet), so the
    * sub-cap default plan is byte-identical to round 10's. The sys
    * prop forces a shard count on small data for tests / ScaleStress. */
  private[graft] val forceShardsProp = "graft.lsh.shards.force"
  private[operators] def forcedShards: Option[Int] =
    Option(System.getProperty(forceShardsProp)).map(_.toInt)
  // Build gate recalibrated (round 12): the r11 gate (600 MB ≈
  // 1.57 M docs at the ~400 B/doc sf0.1 compression) never fires on
  // the leaner sf1-replica corpora (~115 B/doc — an over-cap 1.75 M-
  // doc fixture reads ~200 MB), so the over-cap path could only be
  // force-propped. The gate's only job is to keep the byte-identical
  // zero-overhead plan on clearly-sub-cap corpora; the ACTUAL shard
  // count is S = ⌈n/1.57M⌉ derived in-plan from the corpus count
  // (shardCountSel), and the shard shape at S=1 is value-identical
  // with measured ~0 overhead (PERF.md r11 triple: S=2 within 7% of
  // unsharded at ×100). So the gate errs early: 64 MB covers every
  // plausible bytes/doc (0.4-1.2 M docs) — past it the count decides.
  // (The hot-bucket star cap and the in-plan shard count are both
  // nd-gated, so a gate false-positive builds value-identical shapes;
  // a false NEGATIVE — an over-cap corpus under 64 MB — would need
  // < 40 compressed bytes/doc, below any real text corpus.)
  private[operators] def shardingNeeded(d: String): Boolean =
    forcedShards.isDefined ||
      graft.engine.Layout.dirBytes(new java.io.File(s"$d/documents.parquet")) > 64L * 1024 * 1024

  /** The shard-pair self-join described at [[forceShardsProp]],
    * shared by the text-LSH band join and the embedding sign-LSH
    * bucket join (both carry the same w ≤ 16 pool cap). `idA`/`idB`
    * name each side's id column (the shard hash source); `cond` is
    * the caller's FULL join condition — bucket equi-keys, pair
    * ordering, and any prefilter, which must stay INSIDE the join so
    * over-cap buckets still die during enumeration. `sSel` is a
    * one-row (ns) frame, derived in-plan. */
  private[operators] def shardPairJoin(aa: DataFrame, bb: DataFrame,
      sSel: DataFrame, idA: String, idB: String, cond: Column): DataFrame = {
    val aas = aa.crossJoin(broadcast(sSel))
      .withColumn("sa", pmod(xxhash64(col(idA)), col("ns")).cast("int"))
      .withColumn("tb",
        explode(sequence(lit(0), col("ns").cast("int") - 1)))
    val bbs = bb.crossJoin(broadcast(sSel.select(col("ns").as("ns_b"))))
      .withColumn("sb", pmod(xxhash64(col(idB)), col("ns_b")).cast("int"))
      .withColumn("ta",
        explode(sequence(lit(0), col("ns_b").cast("int") - 1)))
    aas.join(bbs,
      cond && col("sa") === col("ta") && col("tb") === col("sb"))
  }

  /** One-row (ns) shard-count frame: the forced override, or
    * ⌈count / 1.57M⌉ derived in-plan from the corpus-count frame
    * `nD` (a one-row aggregate named `nd`). */
  private[operators] def shardCountSel(s: SparkSession,
      nD: DataFrame): DataFrame = forcedShards match {
    case Some(k) => s.range(1).select(lit(k).as("ns"))
    case None => nD.select(
      expr("cast((nd + 1572863) div 1572864 as int)").as("ns"))
  }

  // ---- STANDING text-LSH signature index (round 14, VERDICT r13 #2) ----
  // q_dedup_text_lsh re-derives the WHOLE banded pipeline — corpus df,
  // centering sums, projections, signatures — on every run; at 100 TB
  // that re-signing dwarfs any daily probe. The standing-index form
  // persists the corpus side ONCE as four managed tables (the
  // gram-index posture of StandingIndexes.Gram applied to the flagship
  // family):
  //   graft_lshsig_idx*  (corpus_id, band, bkt, sig)  bucketed on bkt
  //   graft_lshvec_idx*  (corpus_id, cv, vf, n2f, n2) bucketed on corpus_id
  //   graft_lshdf_idx*   (tok, df)                    bucketed on tok
  //   graft_lshstat_idx* (j, sj, nd, w)               64 rows, broadcast-sized
  // A daily batch probe signs ONLY the batch against the FROZEN stats
  // (df, centering sums sj, corpus count nd, band width w are READ
  // from the index, never recomputed — the production contract:
  // featurization freezes at index build and refreshes only on
  // rebuild/compaction; batch tokens absent from the frozen df are
  // OOV and drop out of the features). The batch then meets the
  // signature table in a sort-merge join on bb = band·2^16 + bkt — an
  // INJECTIVE packing (bkt < 2^w ≤ 2^16, band < 8), so bb equality IS
  // (band, bkt) equality, and the single-column key matches the bucket
  // spec exactly (the planner DISABLES a bucketed scan when the bucket
  // key is only a subset of the join keys — measured, not assumed) —
  // and the vector table in corpus_id merge joins, with ZERO Exchange
  // on the index side (plan-pinned in PlanSpec). No hot-bucket star
  // path here: a
  // probed hot bucket costs idx_occ·batch_occ — linear in each side —
  // unlike the self-join's occ²; the star discipline stays a
  // recompute-form concern.

  /** Data-derived bucket count for the LSH index tables (VERDICT r13
    * #4 — Layout.bucketsFor scaladoc): all four tables share one count
    * so the co-keyed joins stay aligned. */
  private[graft] def lshBuckets(d: String): Int =
    graft.engine.Layout.bucketsFor(s"$d/documents.parquet")

  /** The 128×64 md5-derived ±1 plane matrix (the q_dedup_text_lsh
    * pool, as a reusable frame). */
  private def rmat128(s: SparkSession): DataFrame =
    s.range(0, 128).select(col("id").cast("int").as("k"))
      .crossJoin(s.range(0, 64).select(col("id").cast("int").as("j")))
      .withColumn("r", expr(
        "case when cast(conv(substring(md5(concat(cast(k as string), " +
          "'_', cast(j as string))), 1, 15), 16, 10) as bigint) % 2 = 0 " +
          "then cast(1 as bigint) else cast(-1 as bigint) end"))

  /** Sign the docs `sel` selects against the FROZEN per-corpus
    * statistics persisted in `dfT`/`statT`. Returns (keyed, vecs):
    * keyed = (doc_id, band, bkt, sig); vecs = (doc_id, cv, vf, n2f,
    * n2). Used identically for the index build and every batch probe,
    * so build and probe cannot drift. `sel` is a TRANSFORM, not a
    * Column (round 15): the re-freeze path selects membership by
    * semi-joining the landed manifest — not expressible as a predicate
    * literal. The df join is a merge join — the vocabulary table stays
    * on its tok-bucket layout (at 100 TB it is billions of rows;
    * broadcasting it is not an option). */
  private def lshSign(s: SparkSession, d: String,
      sel: DataFrame => DataFrame,
      dfT: String, statT: String): (DataFrame, DataFrame) = {
    GraftFunctions.register(s)
    val tf = sel(Tables.spread(Tables.t(s, d, "documents"), "doc_id"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val emb = hashEmbed(tf, graft.engine.Layout.readTable(s, dfT).hint("merge"))
    val docsE = emb.groupBy(col("doc_id")).agg(count(lit(1)).as("nz"))
      .filter(col("nz") >= 4).select(col("doc_id"))
    val stats = graft.engine.Layout.readTable(s, statT) // 64 rows
    val dense = docsE.crossJoin(broadcast(stats))
      .join(emb, Seq("doc_id", "j"), "left")
      .select(col("doc_id"), col("j"), col("w"),
        shiftright(coalesce(col("v"), lit(0L)) * col("nd") - col("sj"), 12)
          .as("c"))
      .cache() // feeds projections AND packed vectors; job-free for lazy probes
    val proj = dense.join(broadcast(rmat128(s)), Seq("j"))
      .filter(col("k") < col("w") * 8)
      .groupBy(col("doc_id"), col("k"), col("w"))
      .agg(sum(col("r") * col("c")).as("p"))
      .cache() // buckets AND sigs read this
    val buckets = proj.groupBy(col("doc_id"), expr("k div w").as("band"))
      .agg(sum(when(col("p") >= 0,
        expr("shiftleft(cast(1 as bigint), k % w)")).otherwise(0L)).as("bkt"))
    val sigs = proj.filter(col("k") < 63).groupBy(col("doc_id"))
      .agg(sum(when(col("p") >= 0,
        expr("shiftleft(cast(1 as bigint), k)")).otherwise(0L)).as("sig"))
    val keyed = buckets.join(sigs, Seq("doc_id"))
      // bb: the injective single-column band-bucket key (module scaladoc)
      .withColumn("bb", col("band") * 65536 + col("bkt"))
    val vecs = dense.groupBy(col("doc_id"))
      .agg(expr("transform(sort_array(collect_list(struct(j, c))), x -> x.c)")
        .as("cv"))
      .withColumn("vf", expr("transform(cv, x -> cast(x as float))"))
      .withColumn("n2f", GraftFunctions.dot_d(col("vf"), col("vf")))
      .withColumn("n2",
        expr("aggregate(cv, cast(0 as bigint), (acc, x) -> acc + x * x)"))
    (keyed, vecs)
  }

  /** Membership-manifest table name for an index suffix — the fifth
    * table of the family (round 15): the authoritative record of WHICH
    * docs the index covers, written at build and appended at absorb.
    * Why it exists: re-freeze must rebuild from landed state alone,
    * and neither sig nor vec tables are a complete membership record
    * (a doc with < 4 nonzero feature dims signs nothing, yet its
    * tokens still count in df — dropping it from a rebuild would
    * shift EVERY doc's features). Derivable from the sig table's name
    * so the 4-tuple the probes carry stays unchanged. */
  private[graft] def lshMemTable(sigT: String): String =
    sigT.replace("graft_lshsig_idx", "graft_lshmem_idx")

  /** Build the five index tables over the docs `corpus` selects.
    * The frozen stats (df, then sj/nd/w from an emb computed against
    * the LANDED df table) land first; the corpus signatures are then
    * produced by the same lshSign every batch probe uses — the
    * gram-index invariant that everything derives from landed bytes. */
  private[graft] def buildLshIndex(s: SparkSession, d: String, suffix: String,
      corpus: DataFrame => DataFrame): (String, String, String, String) = Leaves.scope {
    val bk = lshBuckets(d)
    val dfT = s"graft_lshdf_idx$suffix"
    val statT = s"graft_lshstat_idx$suffix"
    val sigT = s"graft_lshsig_idx$suffix"
    val vecT = s"graft_lshvec_idx$suffix"
    val corpDocs = corpus(Tables.spread(Tables.t(s, d, "documents"), "doc_id"))
    graft.engine.Layout.writeBucketed(
      corpDocs.select(col("doc_id")), lshMemTable(sigT), "doc_id", bk)
    val ctf = corpDocs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    graft.engine.Layout.writeBucketed(
      ctf.groupBy(col("tok")).agg(count(lit(1)).as("df")), dfT, "tok", bk)
    val emb = Leaves.land( // nd and sj read it; dropped once the tables land
      hashEmbed(ctf, graft.engine.Layout.readTable(s, dfT).hint("merge")))
    val nD = emb.groupBy(col("doc_id")).agg(count(lit(1)).as("nz"))
      .filter(col("nz") >= 4).agg(count(lit(1)).as("nd"))
    val wSel = s.range(8, 17).select(col("id").cast("int").as("wc"))
      .crossJoin(nD)
      .agg(coalesce(min(when(
        expr("shiftleft(cast(1 as bigint), wc)") * 24 >= col("nd"),
        col("wc"))), lit(16)).as("w"))
    s.range(0, 64).select(col("id").cast("int").as("j"))
      .join(emb.groupBy(col("j")).agg(sum(col("v")).as("sj")), Seq("j"), "left")
      .crossJoin(broadcast(nD)).crossJoin(broadcast(wSel))
      .select(col("j"), coalesce(col("sj"), lit(0L)).as("sj"),
        col("nd"), col("w"))
      .write.mode("overwrite").format("parquet").saveAsTable(statT)
    val (keyed, vecs) = lshSign(s, d, corpus, dfT, statT)
    graft.engine.Layout.writeBucketed(
      keyed.select(col("doc_id").as("corpus_id"), col("bb"), col("band"),
        col("bkt"), col("sig")), sigT, "bb", bk)
    graft.engine.Layout.writeBucketed(
      vecs.select(col("doc_id").as("corpus_id"), col("cv"), col("vf"),
        col("n2f"), col("n2")), vecT, "corpus_id", bk)
    (sigT, vecT, dfT, statT)
  }

  /** One absorb day for a text-LSH index: sign the batch with the
    * FROZEN stats, append signatures, vectors, and the membership
    * manifest (the re-freeze contract: the manifest alone names the
    * covered corpus). Factored (round 15) for the multi-day soak bench
    * and throwaway-index lifecycle specs (ADVICE r14: never mutate the
    * shared memoized index in a test). */
  private[graft] def absorbLshBatch(s: SparkSession, d: String,
      t: (String, String, String, String), bk: Int,
      sel: DataFrame => DataFrame): Unit = {
    val (sigT, vecT, dfT, statT) = t
    val (k1, v1) = lshSign(s, d, sel, dfT, statT)
    graft.engine.Layout.appendBucketed(
      k1.select(col("doc_id").as("corpus_id"), col("bb"), col("band"),
        col("bkt"), col("sig")), sigT, "bb", bk)
    graft.engine.Layout.appendBucketed(
      v1.select(col("doc_id").as("corpus_id"), col("cv"), col("vf"),
        col("n2f"), col("n2")), vecT, "corpus_id", bk)
    graft.engine.Layout.appendBucketed(
      sel(Tables.spread(Tables.t(s, d, "documents"), "doc_id"))
        .select(col("doc_id")), lshMemTable(sigT), "doc_id", bk)
  }

  /** Re-freeze an ARBITRARY landed index (the memoized
    * lshIndexRefrozen below wires it to the shared absorbed index):
    * membership comes from the PURGE-AWARE manifest read, so a
    * re-freeze after a retention purge rebuilds over the survivors
    * only — spec-pinned in RetrievalSpec (the resurrection test). */
  private[graft] def refreezeLsh(s: SparkSession, d: String, suffix: String,
      t: (String, String, String, String)): (String, String, String, String) = {
    val member = graft.engine.Layout
      .readPurged(s, lshMemTable(t._1), "doc_id").select(col("doc_id"))
    buildLshIndex(s, d, suffix, _.join(member, Seq("doc_id"), "left_semi"))
  }

  /** RE-FREEZE (VERDICT r14 #2, the other half of the drift story):
    * when the drift monitor (q_dedup_text_index_drift) says the frozen
    * featurization has aged out — OOV climbing, df distribution
    * shifted — the index REBUILDS its df/stat tables and re-signs the
    * corpus via the same buildLshIndex, with membership read from the
    * LANDED manifest (lshMemTable), never from predicates the catalog
    * may no longer remember. What happens to signatures absorbed under
    * the old width: they are DISCARDED and re-derived from raw text —
    * a signature is a function of the frozen df/centering/width, so no
    * old-width row can be carried into the new index without mixing
    * incompatible feature spaces (the vec table's cv vectors are
    * df-weighted too, so not even the vectors survive). The old index
    * tables stay untouched under their own suffix — re-freeze is
    * build-new-then-switch, the compactBucketed swap posture at the
    * index level; a deployment flips probes to the new suffix and
    * drops the old one after verification. Probe-equivalence to a
    * from-scratch build over the same membership is spec-pinned
    * (RetrievalSpec). */
  private[graft] def lshIndexRefrozen(s: SparkSession,
      d: String): (String, String, String, String) = {
    val h = graft.engine.Layout.indexSuffix(s, d, lshBuckets(d))
    Memo.context(s, "lshIndexRefrozen", h) {
      refreezeLsh(s, d, s"r_$h", StandingIndexes.TextLsh.absorbed(s, d))
    }
  }

  /** FROZEN-STATS DRIFT GAUGE for a text-LSH index (the
    * q_dedup_text_index_drift body, factored round 16 so the
    * maintenance policy can read it over ANY index instance): one row
    * per probe — total batch token occurrences, OOV occurrences,
    * oov_rate, and df_shift = the L1 distance between the batch's and
    * the frozen corpus's normalized document-frequency distributions
    * over the SHARED vocabulary (numerator in exact decimal-128, both
    * engines; the share-based normalization needs no corpus doc count,
    * which the index does not persist). Everything derives from the
    * LANDED df table + the raw batch — no corpus re-tokenization.
    * The one-row result lands eagerly and the batch-df join's leaf is
    * dropped when the gauge returns (ADVICE r15: repeated gauge reads
    * in a multi-day session accumulated unreleased cached frames). */
  private[graft] def lshDriftGauge(s: SparkSession, d: String,
      t: (String, String, String, String), batchPred: Column): DataFrame = Leaves.scope {
    val (_, _, dfT, _) = t
    val fdf = graft.engine.Layout.readTable(s, dfT)
    val btf = Tables.spread(Tables.t(s, d, "documents"), "doc_id")
      .filter(batchPred)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val bdf = btf.groupBy(col("tok"))
      .agg(sum(col("tf")).as("occ"), count(lit(1)).as("dfb"))
    val j = Leaves.land(bdf.join(fdf.hint("merge"), Seq("tok"), "left"))
    val sb = bdf.agg(sum(col("dfb")).as("s_b"))
    val sc = fdf.agg(sum(col("df")).as("s_c"))
    val tot = j.agg(sum(col("occ")).as("n_tok"),
      sum(when(col("df").isNull, col("occ")).otherwise(lit(0L)))
        .as("n_oov"))
    val l1 = j.filter(col("df").isNotNull)
      .crossJoin(broadcast(sb)).crossJoin(broadcast(sc))
      .agg(sum(abs(col("dfb").cast("decimal(38,0)") * col("s_c") -
        col("df").cast("decimal(38,0)") * col("s_b"))).as("l1num"))
    Leaves.land(tot.crossJoin(broadcast(l1))
      .crossJoin(broadcast(sb)).crossJoin(broadcast(sc))
      .select(col("n_tok"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tok"), 6)
          .as("oov_rate"),
        round(col("l1num").cast("double") /
          (col("s_b").cast("double") * col("s_c").cast("double")), 6)
          .as("df_shift")))
  }

  /** The gauge WIRED to the re-freeze (VERDICT r15 #5): read the drift
    * gauge for `batchPred` against index `t`; when the policy trips
    * (engine.Maintenance.textNeedsRefreeze — OOV or df-shift past the
    * alarm thresholds), rebuild under `suffix` from the purge-aware
    * membership manifest (refreezeLsh) and return the new tables.
    * None = the frozen featurization is still healthy. This is the
    * maintenance decision a deployment's daily cycle runs after each
    * absorb; SoakBench drives it end-to-end. */
  private[graft] def maybeRefreezeText(s: SparkSession, d: String,
      t: (String, String, String, String), batchPred: Column,
      suffix: String, oovMax: Double = 0.2, shiftMax: Double = 0.5)
      : Option[(String, String, String, String)] = {
    val g = lshDriftGauge(s, d, t, batchPred).head()
    if (graft.engine.Maintenance.textNeedsRefreeze(
        g.getAs[Double]("oov_rate"), g.getAs[Double]("df_shift"),
        oovMax, shiftMax))
      Some(refreezeLsh(s, d, suffix, t))
    else None
  }

  /** The daily probe: sign the batch with the frozen stats, meet the
    * persisted signatures in a (band, bkt) merge join (hamming ≤ 16
    * inside the join), float-prefilter candidates against the
    * persisted vectors (merge on corpus_id; the batch vectors are the
    * broadcast side — daily-batch-sized by contract, the same posture
    * as the gram probe's nb broadcast), then the integer-exact cosine
    * ≥ 0.9 gate on float survivors only (the recompute form's
    * float-survivor barrier, scaladoc at q_dedup_text_lsh). */
  private[graft] def lshIndexProbe(s: SparkSession, d: String,
      tables: (String, String, String, String), batch: Column): DataFrame = {
    val (sigT, vecT, dfT, statT) = tables
    // purge-aware reads (round 15): a plain read when no retention
    // purge has ever run; a layout-preserving broadcast anti-join
    // otherwise — readPurged is the only legal read path for
    // purgeable tables (its scaladoc contract)
    val idxSig = graft.engine.Layout.readPurged(s, sigT, "corpus_id")
    val idxVec = graft.engine.Layout.readPurged(s, vecT, "corpus_id")
    val (bk, bv) = lshSign(s, d, _.filter(batch), dfT, statT)
    val bKeyed = bk.select(col("doc_id").as("batch_id"),
      col("bb").as("bb_b"), col("sig").as("sig_b"))
    val bSide = bv.select(col("doc_id").as("batch_id"), col("cv").as("cvb"),
      col("vf").as("vfb"), col("n2f").as("n2b"), col("n2").as("nb"))
    // bb equality IS (band, bkt) equality — injective packing, module
    // scaladoc; the single-column key keeps the bucketed scan live
    val cand = idxSig.hint("merge").join(bKeyed,
        col("bb") === col("bb_b") && expr("bit_count(sig ^ sig_b)") <= 16)
      .select(col("batch_id"), col("corpus_id")).distinct()
    // batch-vector sides ride the probeSide gate (VERDICT r14):
    // broadcast under 128 MB of source, sort-merge above it
    val src = s"$d/documents.parquet"
    val fdot = GraftFunctions.dot_d(col("vfa"), col("vfb"))
    val flt = cand
      .join(idxVec.hint("merge").select(col("corpus_id"),
        col("vf").as("vfa"), col("n2f").as("n2a")), Seq("corpus_id"))
      .join(graft.engine.Layout.probeSide(
        bSide.select(col("batch_id"), col("vfb"), col("n2b")), src),
        Seq("batch_id"))
      .filter(fdot > 0 && fdot * fdot >= lit(0.7744) * col("n2a") * col("n2b"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    flt
      .join(idxVec.hint("merge").select(col("corpus_id"),
        col("cv").as("cva"), col("n2").as("na")), Seq("corpus_id"))
      .join(graft.engine.Layout.probeSide(
        bSide.select(col("batch_id"), col("cvb"), col("nb")), src),
        Seq("batch_id"))
      .select(col("batch_id"), col("corpus_id"),
        expr("aggregate(zip_with(cva, cvb, (x, y) -> x * y), " +
          "cast(0 as bigint), (acc, x) -> acc + x)").as("dot"),
        col("na"), col("nb"))
      .filter(col("dot") > 0 &&
        col("dot").cast("decimal(38,0)") * col("dot") * 100 >=
          col("na").cast("decimal(38,0)") * col("nb") * 81)
      .select(col("batch_id"), col("corpus_id"),
        round(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
          .as("cos"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  private val lshProbeSchema = StructType(Seq(
    StructField("batch_id", LongType),
    StructField("corpus_id", LongType),
    StructField("cos", DoubleType)))

  /** The body of q_dedup_text_lsh (design notes at its entry in
    * [[queries]]). It reads the text-vector basis and lands `proj` and
    * `keyed` in the caller's leaf scope, so building it runs jobs: the
    * query lands this frame in its Deferred body, whose scope then
    * drops both, and PlanSpec asserts on the plan of this frame. */
  private[graft] def textLsh(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val basis = textBasis(s, d)
    val dense = basis.dense
    // ADAPTIVE band width (round-6 10× lesson; SCALING.md §1): with a FIXED 8-bit
    // bucket, same-bucket pairs grow quadratically in the corpus
    // (measured: 103M enumerated pairs / 1.9 GB shuffle / 35 s at
    // 10× vs 1M / 3 s at 1×). w = the smallest width in 8..16 with
    // 24·2^w ≥ n keeps expected bucket occupancy ≤ 24 docs, so
    // enumeration stays ~linear; w is selected IN-PLAN by integer
    // comparison (no transcendentals, no build-time job) and the
    // oracle derives the identical w from the same count. The plane
    // pool is a static 128×64 table (w ≤ 16); beyond n ≈ 1.5M docs
    // per partition-of-corpus, shard or raise the cap.
    val nD = basis.vecs.agg(count(lit(1)).as("nd")) // one row per doc
    val wSel = s.range(8, 17).select(col("id").cast("int").as("w"))
      .crossJoin(nD)
      .agg(coalesce(min(when(
        expr("shiftleft(cast(1 as bigint), w)") * 24 >= col("nd"), col("w"))),
        lit(16)).as("w"))
    // buckets AND sig read proj — unshared, the dense→proj subtree
    // ran twice (measured 2.1 GB shuffle at 10× from the rebuild); a
    // leaf, not a cache, so neither consumer re-plans it
    val proj = Leaves.land(dense.join(broadcast(rmat128(s)), Seq("j"))
      .crossJoin(broadcast(wSel))
      .filter(col("k") < col("w") * 8)
      .groupBy(col("doc_id"), col("k"), col("w"))
      .agg(sum(col("r") * col("c")).as("p")))
    val buckets = proj.groupBy(col("doc_id"), expr("k div w").as("band"))
      .agg(sum(when(col("p") >= 0,
        expr("shiftleft(cast(1 as bigint), k % w)")).otherwise(0L)).as("bkt"))
    // the 63-plane hamming signature is decoupled from bucket
    // packing (k < 63 always — identical to the former band-packed
    // form at w = 8)
    val sigs = proj.filter(col("k") < 63).groupBy(col("doc_id"))
      .agg(sum(when(col("p") >= 0,
        expr("shiftleft(cast(1 as bigint), k)")).otherwise(0L)).as("sig"))
    val keyed = Leaves.land(buckets.join(sigs, Seq("doc_id")))
    val aa = keyed.select(col("doc_id").as("da"), col("band").as("band_a"),
      col("bkt").as("bkt_a"), col("sig").as("sig_a"))
    val bb = keyed.select(col("doc_id").as("db"), col("band").as("band_b"),
      col("bkt").as("bkt_b"), col("sig").as("sig_b"))
    // non-equi residual: pair ordering + the hamming prefilter (IN
    // the join on either path — see the plane-count note above)
    val residual = col("da") < col("db") &&
      expr("bit_count(sig_a ^ sig_b)") <= 16
    val cvf = basis.vecs
    // codegen'd float-cosine gate at 0.88 (margin argument at
    // TextBasis): keeps every true cosine-0.9 pair, kills the
    // hamming-close-but-unrelated bulk (measured at sf1: only 2.6%
    // of hamming survivors pass the cosine gate)
    val fdot = GraftFunctions.dot_d(col("vfa"), col("vfb"))
    val floatGate = fdot > 0 &&
      fdot * fdot >= lit(0.7744) * col("n2a") * col("n2b")
    val pre = (if (!shardingNeeded(d)) {
        // sub-cap default: untouched round-10 band join, float
        // prefilter attached AFTER candidate distinct — the
        // FLOAT-SURVIVOR BARRIER comment below the branch explains
        // why the interpreted integer gate must stay downstream
        val cand = aa.join(bb, col("band_a") === col("band_b") &&
            col("bkt_a") === col("bkt_b") && residual)
          .select(col("da"), col("db")).distinct()
        val sideAf = cvf.select(col("doc_id").as("da"),
          col("vf").as("vfa"), col("n2f").as("n2a"))
        val sideBf = cvf.select(col("doc_id").as("db"),
          col("vf").as("vfb"), col("n2f").as("n2b"))
        (if (verifyBroadcastOk(d))
            cand.join(broadcast(sideAf), Seq("da"))
              .join(broadcast(sideBf), Seq("db"))
          else
            cand.join(sideAf, Seq("da")).join(sideBf, Seq("db")))
          .filter(floatGate)
          .select(col("da"), col("db"))
      } else {
        // HOT-BUCKET STAR DISCIPLINE (round 12, measured the hard
        // way): past the w=16 cap a pathological bucket — a single
        // boilerplate/template cluster, NOT average growth — makes
        // the pair enumeration quadratic in the cluster and drags
        // cluster-sized VECTOR payloads through the verification
        // joins (the organic 1.75 M-doc fixture spilled 63 GB before
        // this guard; the corpus carries organic 472-1303-doc
        // buckets at 5k-50k docs). A bucket whose occupancy exceeds
        // 8× the expected nd/2^16 (cap = nd div 8192) emits STAR
        // edges — bucket-min to each member, hamming-filtered — in
        // place of all O(c²) pairs: dedup connectivity (the
        // downstream cluster/star CC queries) is preserved through
        // the star, per-bucket work falls to O(c), and the recall
        // trade is the winnowing df≤8 doctrine applied to bands.
        // Gated IN-PLAN on nd > 24·2^16 (the same constant that
        // caps w), so every sub-cap corpus — and the oracle, which
        // mirrors the gate from the same count — is value-identical
        // to the ungated form; typical buckets at over-cap scale
        // (24·S docs) sit 8× under the cap, so only true pathology
        // stars. The occupancy table is doc×band-sized (one keyed
        // agg + join-back), never pair-sized.
        val occ = keyed.groupBy(col("band"), col("bkt"))
          .agg(count(lit(1)).as("occ"),
            min(struct(col("doc_id"), col("sig"))).as("bm"))
          .crossJoin(broadcast(nD.select(col("nd").as("nd_c"))))
          .select(col("band"), col("bkt"), col("occ"),
            col("bm").getField("doc_id").as("bmin"),
            col("bm").getField("sig").as("bsig"),
            (col("nd_c") > lit(1572864L) &&
              col("occ") > expr("nd_c div 8192")).as("hot"))
        // IN-JOIN FLOAT VERIFICATION (round 12, measured the hard
        // way again): the per-pair verification stream at over-cap
        // scale carries ~600 B of float vectors per candidate, and
        // the corpus runs ~100 hamming-close candidates per doc of
        // which only ~2.6% pass cosine (sf1 funnel probe) — the
        // organic 1.75 M-doc run spilled past this box's 78 GB even
        // star-capped. Moving the codegen'd float gate INSIDE the
        // band join flips the cost: the vectors ride the doc×band-
        // sized keyed table (~8 x 300 B per doc, one shuffle) and
        // only true cosine-0.88 survivors ever exist as pair rows.
        // The r11 float-survivor barrier is unaffected: dot_d is
        // compiled codegen, and the INTERPRETED integer folds still
        // run only on the distinct survivor set downstream.
        val keyedV = keyed.join(
          cvf.select(col("doc_id"), col("vf"), col("n2f")), Seq("doc_id"))
        val keyedH = keyedV.join(occ, Seq("band", "bkt"))
        val cool = keyedH.filter(!col("hot"))
        val ca = cool.select(col("doc_id").as("da"), col("band").as("band_a"),
          col("bkt").as("bkt_a"), col("sig").as("sig_a"),
          col("vf").as("vfa"), col("n2f").as("n2a"))
        val cb = cool.select(col("doc_id").as("db"), col("band").as("band_b"),
          col("bkt").as("bkt_b"), col("sig").as("sig_b"),
          col("vf").as("vfb"), col("n2f").as("n2b"))
        // cool buckets: S shards, selected in-plan from the same
        // corpus count that selects w (scaladoc at forceShardsProp)
        val pairs = shardPairJoin(ca, cb, shardCountSel(s, nD), "da", "db",
          col("band_a") === col("band_b") &&
            col("bkt_a") === col("bkt_b") && residual && floatGate)
          .select(col("da"), col("db"))
        val starDot = GraftFunctions.dot_d(col("bvf"), col("vf"))
        val stars = keyedH.filter(col("hot") &&
            col("doc_id") =!= col("bmin") &&
            expr("bit_count(bsig ^ sig)") <= 16)
          .join(cvf.select(col("doc_id").as("bmin"), col("vf").as("bvf"),
            col("n2f").as("bn2")), Seq("bmin"))
          .filter(starDot > 0 &&
            starDot * starDot >= lit(0.7744) * col("bn2") * col("n2f"))
          .select(col("bmin").as("da"), col("doc_id").as("db"))
        pairs.unionByName(stars)
      })
      .select(col("da"), col("db")).distinct()
    // verification over PACKED per-doc vectors: codegen'd float
    // dot_d ≥ 0.88 prefilter first (margin argument at TextBasis),
    // the interpreted integer-exact gate only on survivors — the
    // zip_with-on-everything form measured 43 s at 10×. SIZE-SWITCHED
    // join shape (r7 verdict item 3): while the docs-sized vector
    // table (~850 B/doc) fits a broadcast budget it is BROADCAST into
    // both joins — the candidate stream is pairs-sized and shuffling
    // pairs+arrays measured 1.3 GB at 10× vs ~0 broadcast. Beyond the
    // budget (file-length probe — builds stay job-free) the
    // verification becomes two co-partitioned SHUFFLE equi-joins on
    // da then db: vectors shuffle once per side keyed by doc_id, the
    // pair stream carries arrays through exactly one exchange, and
    // nothing docs-sized is ever collected to one node. Tests force
    // this path on small data via the sys prop; both shapes are
    // value-identical (asserted in RetrievalSpec, plan-asserted in
    // PlanSpec).
    // FLOAT-SURVIVOR BARRIER (round 11 — the q_dedup_semantic
    // lesson re-learned on the over-cap path): without the
    // distinct() between the codegen'd float prefilter and the
    // integer-exact gate, the optimizer merges the gate's filter —
    // three INTERPRETED ArrayAggregate/ZipWith folds — into the
    // pair-attach join's bound condition, where generated-predicate
    // subexpression elimination defeats conjunction short-circuit:
    // EVERY enumerated candidate pays ~3 interpreted 64-element
    // folds before the float dot can kill it (jstack-confirmed:
    // SpecificPredicate.subExpr_1 → ArrayAggregate.eval inside
    // SortMergeJoinEvaluator). Measured at ×100/forced-S=2: 606 s
    // wall vs 204 s unsharded-r10 at near-identical shuffle
    // (5.06 vs 5.63 GB) — pure CPU. With the barrier only float
    // survivors (true near-dups, ~O(n)) reach interpreted
    // arithmetic, whatever join shape or pushdown the optimizer
    // picks for either attach. (In the sharded branch the float
    // gate lives in the band join itself — still codegen — and
    // `pre`'s distinct() is the same barrier for the stars/pairs.)
    val sideAc = cvf.select(col("doc_id").as("da"), col("cv").as("cva"))
    val sideBc = cvf.select(col("doc_id").as("db"), col("cv").as("cvb"))
    exactCosGate(if (verifyBroadcastOk(d))
        pre.join(broadcast(sideAc), Seq("da"))
          .join(broadcast(sideBc), Seq("db"))
      else
        pre.join(sideAc, Seq("da")).join(sideBc, Seq("db")))
      .orderBy(col("da"), col("db"))
  }

  /** The body of q_dedup_semantic (design notes at its entry in
    * [[queries]]): its sorted verdicts (doc_id, cid, is_kept), over
    * intermediate leaves landed in the caller's leaf scope. The query
    * lands the verdicts, and its Deferred scope then drops the
    * intermediates; PlanSpec asserts on the plan of this frame. Fitting
    * runs jobs, so call this only from a Deferred body.
    *
    * The intermediates are leaves, not caches: dropping a cache inside
    * a Deferred body goes through the CacheManager, which waits on
    * every cache being built — and a consumer's cache over this very
    * Deferred (q_audit_semantic's) is built while holding its builder
    * and waiting on the body: a deadlock. Dropping a leaf's blocks
    * takes no lock of the CacheManager. */
  private[graft] def semanticVerdicts(s: SparkSession, d: String): DataFrame = {
    // all CLUSTERING geometry and the pairwise PREFILTER run on
    // codegen'd dot_d over the float mirror (the interpreted
    // zip_with form measured 8.0 s at sf0.1; this form 2 s)
    val cvf = textBasis(s, d).vecs
    val nDocs = cvf.count()
    val targetCell = 160L
    val kCoarse = math.max(1, math.round(
      math.sqrt(nDocs.toDouble / targetCell)).toInt)
    val rounds = 2
    // PORTABLE GEOMETRY (round 10 — upgrades this query from
    // rows-only to DuckDB-oracled, the q_similarity_ivf recipe):
    //  - ranks are md5-derived (hv60) instead of xxhash64, which has
    //    no DuckDB twin;
    //  - the per-doc |vf|² term is dropped from the assignment
    //    distance (constant under argmin — order and ties preserved)
    //    so the expression is exactly mirrorable;
    //  - centroid components are floor(sum/count) of the float
    //    mirror's exact-integer values (sums < 2^53 stay exact;
    //    count bounds keep the double division away from the floor
    //    boundary), then one float rounding — every step engine-
    //    identical, unlike the decimal avg it replaces (DuckDB's
    //    avg(DECIMAL) returns DOUBLE, the one true portability
    //    wall of the old form).
    // dot_d's left-to-right double accumulation ≡ DuckDB's
    // list_inner_product, so even the rounding of large float dots
    // is identical in both engines.
    val hRank =
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
    def sqDist = GraftFunctions.dot_d(col("cvec"), col("cvec")) -
      lit(2.0) * GraftFunctions.dot_d(col("vf"), col("cvec"))
    def assignOf(docsV: DataFrame, cents: DataFrame): DataFrame =
      docsV.crossJoin(broadcast(cents))
        .groupBy(col("doc_id"))
        .agg(min(struct(sqDist.as("dist"), col("cid"))).as("m"))
        .select(col("doc_id"), col("m.cid").as("cid"))
    // quantizer FIT on a bounded hash-sample (16 Ki docs): Lloyd
    // rounds cost O(sample·k_c), never O(n·k).
    // (when the corpus already fits the bound, the hash-rank sort
    // would select everything — skip it and read the cvf leaf)
    val fit =
      if (nDocs <= 16384) cvf.select(col("doc_id"), col("vf"), col("n2f"))
      else Leaves.land(cvf.orderBy(hRank, col("doc_id"))
        .limit(16384)
        .select(col("doc_id"), col("vf"), col("n2f")))
    var cents = fit.orderBy(hRank, col("doc_id"))
      .limit(kCoarse)
      .select(col("doc_id").as("cid"), col("vf").as("cvec"))
    // centroid mean as ONE groupBy: count + 64 exact double sums,
    // then the portable floor division (see the geometry note above)
    (1 to rounds).foreach { _ =>
      cents = assignOf(fit, cents)
        .join(fit, Seq("doc_id"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"),
          (0 until 64).map(i =>
            sum(element_at(col("vf"), i + 1)).as(s"s$i")): _*)
        .select(col("cid"), array((0 until 64).map(i =>
          floor(col(s"s$i") / col("n")).cast("float")): _*).as("cvec"))
    }
    // coarse pass: constant-size broadcast, map-only. cents is
    // localCheckpointed (k_c rows): the Lloyd rounds nest their plan
    // trees recursively, and the hierarchy below references coarse
    // several times — without the cut, the executed plan string grows
    // multiplicatively (OOM'd explainString at sf0.001).
    val coarse = assignOf(cvf, Leaves.land(cents))
      .withColumnRenamed("cid", "ccid")
    val withC = Leaves.land(coarse.join(cvf, Seq("doc_id"))) // seeds + fine assign
    // fine seeds: the ⌈m/160⌉ hash-ranked member docs of each coarse
    // cell (row_number + count over the cell partition — distributed,
    // no driver pass)
    val wRank = Window.partitionBy(col("ccid"))
      .orderBy(hRank, col("doc_id"))
    val fineSeeds = withC
      .select(col("ccid"), col("doc_id"), col("vf"),
        row_number().over(wRank).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("ccid"))).as("m"))
      .filter(col("rn") <= expr(s"(m + ${targetCell - 1}) div $targetCell"))
      .select(col("ccid"), col("doc_id").as("fcid"), col("vf").as("fvec"))
    // fine pass: docs meet ONLY their own coarse cell's seeds — a
    // coarse-cid equi-join, co-partitioned, nothing broadcast; the
    // per-doc n2f term is constant under argmin so the distance
    // drops it (ties still break by fine cell id)
    val cells = Leaves.land(withC.join(fineSeeds, Seq("ccid"))
      .groupBy(col("doc_id"))
      .agg(min(struct(
        (GraftFunctions.dot_d(col("fvec"), col("fvec")) -
          lit(2.0) * GraftFunctions.dot_d(col("vf"), col("fvec"))).as("dist"),
        col("fcid"))).as("m"))
      // a leaf, not a cache: three consumers below (both shadow-join
      // sides + the output join) would otherwise each re-render the
      // full two-level assignment tree in the plan
      .select(col("doc_id"), col("m.fcid").as("cid")))
    val sides = Leaves.land(cells.join(cvf, Seq("doc_id")))
    val aa = sides.select(col("cid"), col("doc_id").as("da"),
      col("vf").as("vfa"), col("n2f").as("n2a"))
    val bb = sides.select(col("cid").as("cid_b"), col("doc_id").as("db"),
      col("vf").as("vfb"), col("n2f").as("n2b"))
    // float cos ≥ 0.88 prefilter INSIDE the join, then a distinct()
    // BARRIER before the exact gate — without it the optimizer
    // collapses the gate's filter into this join's bound condition,
    // and its three INTERPRETED ArrayAggregates lead the conjunction:
    // every enumerated same-cell pair paid ~25 µs of interpreted
    // 64-element folds (18 s of single-task CPU at sf0.1,
    // jstack-confirmed) instead of one codegen'd float dot. With the
    // barrier only prefilter survivors (true near-dups) reach the
    // exact arithmetic — the q_dedup_text_lsh lesson re-learned for
    // the merged-filter case.
    val fdot = GraftFunctions.dot_d(col("vfa"), col("vfb"))
    val cand = aa.join(bb, col("cid") === col("cid_b") &&
        col("da") < col("db") && fdot > 0 &&
        fdot * fdot >= lit(0.7744) * col("n2a") * col("n2b"))
      .select(col("da"), col("db")).distinct()
    val va = sides.select(col("doc_id").as("da"), col("cv").as("cva"))
    val vb = sides.select(col("doc_id").as("db"), col("cv").as("cvb"))
    // lower id shadows higher, exact ≥ 0.9
    val shadowed = exactCosGate(cand.join(va, Seq("da")).join(vb, Seq("db")))
      .select(col("db").as("doc_id")).distinct()
    cells.join(shadowed.withColumn("shadowed", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("cid"),
        coalesce(!col("shadowed"), lit(true)).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(

    // Daily near-dup probe against the STANDING text-LSH signature
    // index (scaladoc block above lshSign): batch = doc_id % 10 = 0,
    // corpus = the persisted rest. Value discipline: the oracle
    // recomputes the frozen-stats pipeline from raw text, so the
    // persisted round trip — four tables, bucket layouts, OOV
    // semantics — must not change a single verdict.
    "q_dedup_text_index_probe" -> ((s, d) =>
      Deferred.df(s, "dedup_text_index_probe", lshProbeSchema) { () =>
        StandingIndexes.TextLsh.probe(s, d,
          StandingIndexes.TextLsh.standing(s, d), col("doc_id") % 10 === 0)
      }),

    // Index MAINTENANCE twin: day-1's verdicted batch (doc_id % 20 =
    // 0) is absorbed by bucketed APPEND — write proportional to the
    // day's crawl — then day-2's probe (doc_id % 20 = 10) runs against
    // the UPDATED index through the same zero-index-Exchange plan. The
    // oracle recomputes against corpus ∪ absorbed batch from raw text,
    // so the append round trip is value-checked.
    "q_dedup_text_index_absorb" -> ((s, d) =>
      Deferred.df(s, "dedup_text_index_absorb", lshProbeSchema) { () =>
        StandingIndexes.TextLsh.probe(s, d,
          StandingIndexes.TextLsh.absorbed(s, d), col("doc_id") % 20 === 10)
      }),

    // FROZEN-STATS DRIFT MONITOR (VERDICT r14 #2): the standing text
    // index freezes df/centering/width at build time; batch tokens
    // absent from the frozen vocabulary are OOV and silently drop out
    // of the features, and a shifted df distribution degrades the
    // features even for in-vocabulary tokens. This is the per-probe
    // gauge a deployment alarms on to schedule a re-freeze
    // (lshIndexRefrozen): one row per probe — total batch token
    // occurrences, OOV occurrences, oov_rate, and df_shift = the L1
    // distance between the batch's and the frozen corpus's normalized
    // document-frequency distributions over the SHARED vocabulary
    // (numerator in exact decimal-128, both engines; the same
    // share-based normalization needs no corpus doc count, which the
    // index does not persist). Everything derives from the LANDED df
    // table + the raw batch, so the oracle recomputes both sides from
    // text and a stale or resurrected df row is a hash mismatch. At
    // scale: two map-side-combinable token aggs (batch-sized), one
    // merge join onto the df table's tok-bucket layout, three scalar
    // aggregates — no corpus re-tokenization anywhere.
    "q_dedup_text_index_drift" -> ((s, d) =>
      Deferred.df(s, "dedup_text_index_drift", StructType(Seq(
        StructField("n_tok", LongType), StructField("n_oov", LongType),
        StructField("oov_rate", DoubleType),
        StructField("df_shift", DoubleType)))) { () =>
        lshDriftGauge(s, d, StandingIndexes.TextLsh.standing(s, d),
          col("doc_id") % 10 === 0)
      }),

    // MAINTENANCE DECISION over the standing text index (round 16,
    // VERDICT r15 #5 wired end-to-end): the drift gauge PLUS the
    // default re-freeze policy — the Spark side routes through the
    // SAME engine.Maintenance.textNeedsRefreeze predicate SoakBench
    // fires, and the oracle recomputes both gauges from raw text and
    // applies the same thresholds, so the POLICY (not just the gauge)
    // is hash-checked. refreeze is 0/1 INT for cross-engine type
    // stability.
    "q_dedup_text_maint" -> ((s, d) =>
      Deferred.df(s, "dedup_text_maint", StructType(Seq(
        StructField("n_tok", LongType), StructField("n_oov", LongType),
        StructField("oov_rate", DoubleType),
        StructField("df_shift", DoubleType),
        StructField("refreeze", IntegerType)))) { () =>
        val g = lshDriftGauge(s, d, StandingIndexes.TextLsh.standing(s, d),
          col("doc_id") % 10 === 0)
        val r = g.head()
        val trip = graft.engine.Maintenance.textNeedsRefreeze(
          r.getAs[Double]("oov_rate"), r.getAs[Double]("df_shift"))
        g.withColumn("refreeze", lit(if (trip) 1 else 0))
      }),


    // TEXT-CONTENT embeddings (round-6, VERDICT r5 #3): a 64-dim
    // feature-hashed tf·idf projection over documents.text in PURE
    // INTEGER arithmetic, so DuckDB recomputes it bit-exactly:
    //   hv   = first 60 bits of md5(token)  (same hex both engines)
    //   dim  = hv % 64, sign = bit 6 of hv (hashing-trick signed
    //          projection, Weinberger et al.)
    //   w    = 100000 div df  (integer idf surrogate — no ln, so no
    //          cross-engine transcendental drift)
    //   v_j  = Σ sign·tf·w  (exact BIGINT)
    // Sparse rows (doc_id, j, v≠0). This replaces the synthetic-random
    // embeddings table as the ANN family's content-derived input (the
    // random table stays as the documented sign-LSH worst case,
    // SURVEY §12). The unordered frame (embedText) is the one input of
    // the text-vector basis (textBasis).
    "q_embed_text" -> ((s, d) =>
      embedText(s, d).orderBy(col("doc_id"), col("j"))),

    // ANN consumer over the text embeddings: RANDOM-HYPERPLANE
    // sign-LSH near-dup join (the q_dedup_embedding_lsh shape) with
    // the ENTIRE pipeline — mean-centering, 63 ±1-hyperplane
    // projections → 8 bands → band-equality candidates with a packed-
    // signature hamming prefilter IN the join → exact cosine ≥ 0.9 —
    // mirrored in the DuckDB oracle, banding included, so the result
    // is hash-oracled end-to-end rather than rows-only.
    //
    // Two load-bearing steps, both measured the hard way at sf0.1:
    //  1. CENTERING (c_j = v_j·N − S_j ≡ (v_j − mean_j)·N, cosine-
    //     invariant; >> 12 keeps later products inside exact 64/128-
    //     bit range). Raw hashed-tfidf sign bits are common-mode
    //     correlated → quadratic bucket collisions (92 s).
    //  2. PROJECTIONS, not coordinate signs: the per-dim distribution
    //     is heavy-tailed (rare tokens carry w up to 1e5), so even
    //     centered coordinates leave most docs below the mean and the
    //     bits stay skewed (148 s). A ±1 pseudo-random hyperplane
    //     (md5-derived, engine-portable) mixes all 64 dims per bit —
    //     bits come out balanced, buckets uniform. 63 planes, not 64:
    //     the packed signature must stay under BIGINT's sign bit in
    //     both engines. The hamming ≤ 16 prefilter (codegen'd
    //     bit_count inside the join condition) kills the ~N²/256
    //     random same-bucket pairs during enumeration — only
    //     near-dups reach the 64-dim dot verification (the
    //     q_dedup_simhash_lsh lesson).
    // The cosine gate is INTEGER-EXACT (dot > 0 and 100·dot² ≥
    // 81·|a|²·|b|² in DECIMAL(38)/HUGEINT) so no borderline pair can
    // flip between engines; the reported cosine double mirrors
    // operand order. Scale: candidates meet in a (band, bucket)
    // equi-join — never all-pairs; at much larger corpora widen the
    // bands (more planes) to hold buckets sub-quadratic. Degenerate
    // docs (< 4 nonzero dims) are excluded on both sides.
    "q_dedup_text_lsh" -> ((s, d) => {
      val idT = Tables.t(s, d, "documents").schema("doc_id").dataType
      Deferred.df(s, s"dedup_text_lsh:$d", StructType(Seq(
        StructField("da", idT), StructField("db", idT),
        StructField("cos", DoubleType))))(() => Leaves.land(textLsh(s, d)))
    }),

    // SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): quantize the
    // content-derived text embeddings into cells, then prune within
    // each cell — a doc is dropped when a LOWER-ID doc in the SAME
    // cell has cosine ≥ 0.9 with it. Quantization is HIERARCHICAL
    // (r7 verdict item: the former flat k = ⌈n/160⌉ assignment
    // crossJoined every doc with k ∝ n broadcast centroids — O(n²/160)
    // total work and an n-proportional broadcast, a 100 TB killer;
    // SCALING.md §3):
    //  - COARSE: k_c = ⌈√(n/160)⌉ Lloyd-fitted centroids (fit on a
    //    16 Ki hash-sample), broadcast to a map-only nearest-centroid
    //    pass — the broadcast is √-sublinear (~650 KB at 1e9 docs),
    //    per-doc work k_c dots;
    //  - FINE: inside each coarse cell of m docs, ⌈m/160⌉ hash-ranked
    //    member docs seed the fine cells; docs meet their OWN cell's
    //    seeds in a coarse-cid EQUI-JOIN (co-partitioned shuffle, no
    //    broadcast) and take the nearest — per-doc work ~m/160 ≈
    //    √(n/160) dots, fine-seed table n/160 rows but never
    //    broadcast or crossed corpus-wide.
    // Total assignment is O(n·√(n/160)) dots with bounded fan-out —
    // vs O(n²/160) flat — and E[final cell] ≈ 160 docs AT EVERY
    // SCALE, so the in-cell pairwise stays ~160·n. Fine seeds are
    // member docs, not Lloyd means: SemDeDup needs deterministic
    // bounded cells, not optimal quantization — cell quality moves
    // only recall (rows-only; verdicts are exact-cosine either way),
    // and skipping the fine Lloyd keeps the level O(n) (a third
    // level with the same split bounds per-doc work at n^(1/3) if a
    // corpus ever outgrows this). Deriving k_c needs the corpus
    // count, so the body runs inside plans.Deferred — builds stay
    // job-free and the hierarchy is fixed at first execution.
    // Candidates meet in a cell-id equi-join, never all-pairs.
    // Deterministic across runs AND across engines: coarse seeds and
    // fine seeds are md5-hash-ranked docs, centroid components are
    // the portable floor(sum/count) (see the geometry note in the
    // body), both assignment levels break distance ties by cell id —
    // since round 10 the ENTIRE query (cells included) is
    // DuckDB-oracled. The drop verdict uses the SAME integer-exact
    // cosine gate as q_dedup_text_lsh (dot > 0 ∧ 100·dot² ≥ 81·na·nb
    // in DECIMAL(38)) — assignment geometry is float but no verdict
    // can flip on a borderline cosine; q_audit_semantic re-derives
    // every verdict from the cells and the driver pins the mismatch
    // counts to zero. "Min-id wins locally": the lower-id doc of a
    // dup pair survives unless itself shadowed — one pass, no
    // iteration (contrast q_dedup_apply's transitive closure).
    // Memoized per (session, dir) through engine.Memo, like Tables.t:
    // q_dedup_semantic AND q_audit_semantic consume the SAME Deferred
    // instance, so within one session the clustering runs once and a
    // second consumer reads its landed verdicts instead of re-fitting
    // the whole hierarchy (measured at sf0.1: the audit's private
    // re-derivation cost ~6 s). The body lands the sorted verdicts as
    // one leaf and its leaf scope drops the intermediate leaves, so the
    // memo's executed plan is a scan of n_docs landed rows, not the
    // clustering plan (the rule at engine.Memo). freshFitProp bypasses
    // the memo (each call re-fits the whole hierarchy): scale
    // measurements need pass-1 cost (VERDICT r9 #5). Same staleness
    // caveat as every Memo entry (testdata dirs are immutable
    // in-process).
    "q_dedup_semantic" -> ((s, d) => sessionMemo(s, "q_dedup_semantic", d) {
      GraftFunctions.register(s)
      val idT = Tables.t(s, d, "documents").schema("doc_id").dataType
      Deferred.df(s, s"dedup_semantic:$d", StructType(Seq(
        StructField("doc_id", idT), StructField("cid", idT),
        StructField("is_kept", BooleanType, nullable = false)))) { () =>
        Leaves.land(semanticVerdicts(s, d))
      }
    }),

    // TF-IDF: tf(doc,term) × ln(N/df(term)), top 100 scored pairs.
    "q_tfidf" -> ((s, d) => {
      val tf = tokens(s, d).groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(df_, Seq("tok")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
            .as("tfidf"))
        .orderBy(desc("tfidf"), col("doc_id"), col("tok"))
        .limit(100)
    }),

    // BM25 retrieval for a fixed query term set; per-term scores are
    // summed through an exact decimal so the fold order can't show.
    "q_bm25" -> ((s, d) => {
      val dl = docs(s, d).select(col("doc_id"),
        size(split(col("text"), " ")).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        avg(col("dl")).as("avgdl"))
      val tf = tokens(s, d).filter(col("tok").isin(bm25Terms: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val idf = log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      val term = idf * (col("tf") * (lit(k1) + lit(1.0))) /
        (col("tf") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl")))
      tf.join(broadcast(dfc), Seq("tok")).join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), round(term, 9).cast("decimal(28,10)").as("ts_"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("ts_")).cast("double"), 6).as("bm25"),
          count(lit(1)).cast("int").as("n_terms"))
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(20)
    }),

    // Pointwise mutual information of word pairs co-occurring in a
    // document: pmi = ln(c_ab·N / (c_a·c_b)) over doc-level presence.
    "q_cooccur_pmi" -> ((s, d) => {
      val dtok = docs(s, d).select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
        .filter(col("tok") =!= "")
      val pairs = dtok.as("a")
        .join(dtok.as("b"), col("a.doc_id") === col("b.doc_id") &&
          col("a.tok") < col("b.tok"))
        .groupBy(col("a.tok").as("wa"), col("b.tok").as("wb"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val cnt = dtok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      pairs
        .join(cnt.select(col("tok").as("wa"), col("c").as("c_a")), Seq("wa"))
        .join(cnt.select(col("tok").as("wb"), col("c").as("c_b")), Seq("wb"))
        .crossJoin(broadcast(n))
        .select(col("wa"), col("wb"), col("c_ab"),
          round(log((col("c_ab") * col("n_docs")).cast("double") /
            (col("c_a") * col("c_b"))), 6).as("pmi"))
        .orderBy(desc("pmi"), col("wa"), col("wb"))
        .limit(50)
    }),

    // Bigram language model: P(w2|w1) = c(w1 w2) / c(w1 ·), top
    // transitions by evidence.
    "q_bigram_lm" -> ((s, d) => {
      val bi = docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val ctx = bi.groupBy(col("w1")).agg(sum(col("c12")).cast("long").as("c1"))
      bi.join(ctx, Seq("w1"))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          round(col("c12") / col("c1"), 6).as("p"))
        .orderBy(desc("c12"), col("w1"), col("w2"))
        .limit(50)
    }),

    // Interpolated Kneser–Ney bigram LM (D = 3/4) in EXACT scaled
    // integers — the smoothing every serious n-gram LM pipeline uses
    // (MLE bigrams overfit: P(w2|w1)=0 for every unseen continuation).
    //   P_KN(w2|w1) = (c12 − D)/c1 + D·n1p(w1)/c1 · ncont(w2)/nb
    // where n1p(w1) = |{w2 : c(w1,w2)>0}| (discount mass fan-out),
    // ncont(w2) = |{w1 : c(w1,w2)>0}| (continuation count — how many
    // DISTINCT contexts w2 follows, the KN insight), nb = distinct
    // bigram types. With D = 3/4 everything clears denominators:
    //   knum = (4·c12 − 3)·nb + 3·n1p·ncont,  kden = 4·c1·nb
    // — both exact BIGINTs in either engine (c12,c1 ≤ corpus tokens,
    // nb ≤ bigram types: products < 2^62 with orders of magnitude to
    // spare at sf1); p_kn is then ONE IEEE division of identical
    // integers + round(6), the proven-portable idiom.
    //
    // Scale notes: three map-side-combinable aggregations over
    // vocabulary-sized keys (bigram types, unigram contexts,
    // continuations) + a one-row count broadcast — the corpus is
    // touched once by the explode; nothing corpus-sized joins.
    "q_bigram_kn" -> ((s, d) => {
      val bi = docs(s, d)
        .select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .cache() // four consumers: ctx, cont, nb, and the output join
      val ctx = bi.groupBy(col("w1"))
        .agg(sum(col("c12")).cast("long").as("c1"), count(lit(1)).as("n1p"))
      val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("ncont"))
      val nb = bi.agg(count(lit(1)).as("nb"))
      val knum = (lit(4L) * col("c12") - lit(3L)) * col("nb") +
        lit(3L) * col("n1p") * col("ncont")
      val kden = lit(4L) * col("c1") * col("nb")
      bi.join(ctx, Seq("w1")).join(cont, Seq("w2")).crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("n1p"),
          col("ncont"), knum.as("knum"), kden.as("kden"))
        .withColumn("p_kn", round(col("knum") / col("kden"), 6))
        .orderBy(desc("c12"), col("w1"), col("w2"))
        .limit(100)
    }),

    // Reciprocal-rank fusion (RRF, Cormack et al.: score(d) =
    // Σ_systems 1/(60 + rank_s(d))) of a SPARSE retriever (distinct-
    // token overlap through an inverted-index join — the BM25 candidate
    // shape) and a DENSE retriever (exact embedding cosine, the
    // q_similarity_batch shape), top-20 each, for the 8 query docs
    // (doc_id < 8; doc_id ≡ vec_id per q_doc_embed_join). The RRF
    // contribution is held exact: floor(10^12/(60+rank)) per system,
    // summed as BIGINTs — no float in the fused score, so the oracle
    // hash-matches trivially; the dense ranking's doubles are the
    // identical-operand IEEE cosine both engines already agree on.
    //
    // Scale notes: the query side is small BY CONSTRUCTION (it's the
    // user's query batch) — its token set and embeddings broadcast;
    // the corpus contributes one inverted-join + partial-aggregated
    // (q,doc) count on the sparse side and one broadcast nested-loop
    // scored pass with WindowGroupLimit top-k on the dense side. The
    // fusion full-outer join touches ≤ 40·|queries| rows. At 100 TB
    // the dense side would swap in the ANN bucket join
    // (q_similarity_batch_ann) — same fusion tail.
    "q_rrf_fusion" -> ((s, d) => {
      GraftFunctions.register(s)
      val dtok = docs(s, d)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        .filter(col("tok") =!= "")
      val qt = dtok.filter(col("doc_id") < 8)
        .select(col("doc_id").as("q_id"), col("tok"))
      val ov = dtok.filter(col("doc_id") >= 8).join(broadcast(qt), Seq("tok"))
        .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("ov"))
      val wsp = Window.partitionBy(col("q_id")).orderBy(desc("ov"), col("doc_id"))
      val sp = ov.withColumn("rs", row_number().over(wsp))
        .filter(col("rs") <= 20).select(col("q_id"), col("doc_id"), col("rs"))
      val e = Tables.t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("q_nrm"))
      val cos = GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
        (sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))) * col("q_nrm"))
      val wd = Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), col("doc_id"))
      val dn = e.filter(col("vec_id") >= 8).crossJoin(broadcast(q))
        .select(col("q_id"), col("vec_id").as("doc_id"), cos.as("cos_sim"))
        .withColumn("rd", row_number().over(wd))
        .filter(col("rd") <= 20).select(col("q_id"), col("doc_id"), col("rd"))
      dn.join(sp, Seq("q_id", "doc_id"), "full_outer")
        .select(col("q_id"), col("doc_id"),
          when(col("rd").isNotNull, 1).otherwise(0).as("in_dense"),
          when(col("rs").isNotNull, 1).otherwise(0).as("in_sparse"),
          (coalesce(expr("1000000000000 div (60 + rd)"), lit(0L)) +
            coalesce(expr("1000000000000 div (60 + rs)"), lit(0L))).as("rrf_score"))
        .orderBy(col("q_id"), desc("rrf_score"), col("doc_id"))
    }),

    // Sliding-window chunking (RAG ingestion): 32-token chunks, stride
    // 24; a doc yields 1 + max(0, ceil((n-32)/24)) chunks (integer
    // arithmetic — no FP in the chunk count).
    "q_chunk_sliding" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          (lit(1) + greatest(lit(0),
            expr("(size(w) - 32 + 23) div 24"))).as("nchunks"))
        .select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, nchunks - 1), i -> slice(w, i*24 + 1, 32))"))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * 24 + 1).as("chunk_start"),
          size(col("chunk")).as("n_chunk_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Distribution drift between corpus slices: KL(source ‖ corpus)
    // over token distributions. Per-token contributions are single
    // IEEE ops on identical integer-ratio operands (exact on both
    // engines); the Σ runs through the 12dp-rounded exact-decimal
    // trick so shuffle order can't perturb the sum. Source terms are a
    // subset of corpus terms, so p_corpus > 0 wherever p_source > 0.
    "q_source_kl" -> ((s, d) => {
      val st = docs(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_st"))
      val sTot = st.groupBy(col("source"))
        .agg(sum(col("c_st")).cast("long").as("n_s"))
      val cTok = st.groupBy(col("tok"))
        .agg(sum(col("c_st")).cast("long").as("c_t"))
      val nC = st.agg(sum(col("c_st")).cast("long").as("n_c"))
      val ps = col("c_st") / col("n_s")
      val pc = col("c_t") / col("n_c")
      st.join(sTot, Seq("source")).join(cTok, Seq("tok"))
        .crossJoin(broadcast(nC))
        .select(col("source"), col("n_s"),
          round(ps * log(ps / pc), 12).cast("decimal(30,14)").as("term"))
        .groupBy(col("source"), col("n_s"))
        .agg(round(sum(col("term")).cast("double"), 6).as("kl"))
        .orderBy(col("source"))
    }),

    // Event-stream drift: daily volume per event type, day-over-day
    // change, 7-day moving average, spike flag.
    "q_event_drift" -> ((s, d) => {
      val daily = Tables.t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.dsum2(col("value")).as("day_value"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val ma = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, Window.currentRow)
      daily
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("ma7", avg(col("n")).over(ma))
        .select(col("day"), col("event_type"), col("n"), col("day_value"),
          round((col("n") - col("prev_n")).cast("double") * 100 /
            when(col("prev_n") === 0, lit(null)).otherwise(col("prev_n")), 6)
            .as("pct_change"),
          round(col("ma7"), 6).as("ma7"),
          when(col("n").cast("double") > col("ma7") * 1.5, 1).otherwise(0)
            .as("spike"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Perplexity filtering (the CCNet/Gopher curation step): score
    // every document by its average negative log-likelihood under the
    // corpus's OWN bigram LM, then keep documents within a band of the
    // corpus mean. Because the LM is trained on the same corpus, every
    // bigram has nonzero count — no smoothing term to diverge on.
    // Float parity: per-bigram nll = ln(c1) − ln(c12) rounded to 9dp
    // and summed through exact DECIMAL(28,10) (shuffle-order-proof);
    // the per-doc mean and the corpus mean each divide identical
    // operands (one IEEE op). Scale: the LM is a vocab²-bounded
    // aggregation with map-side combine; scoring is one equi-join of
    // the exploded bigrams against the LM — both corpus-linear.
    "q_perplexity_filter" -> ((s, d) => {
      val bi = docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w)-2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
          .as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        // consumed by the LM build AND the scoring join; MEMORY_AND_DISK
        // cache collapses the double execution (1.7 -> 0.9 s measured).
        // At 100 TB the same dedup is a checkpointed temp table — the
        // principle (never re-explode the corpus) is the same.
        .cache()
      val lm = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .cache() // consumed by ctx and the prob projection
      val ctx = lm.groupBy(col("w1")).agg(sum(col("c12")).cast("long").as("c1"))
      val probs = lm.join(ctx, Seq("w1"))
        .select(col("w1"), col("w2"),
          round(log(col("c1").cast("double")) - log(col("c12").cast("double")), 9)
            .cast("decimal(28,10)").as("nll"))
      val perdoc = bi.join(probs, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("nll")).cast("double") /
            count(lit(1)).cast("double"), 6).as("avg_nll"))
      val thr = perdoc.cache().agg( // perdoc: thr + the crossJoin below
        (sum(col("avg_nll").cast("decimal(28,10)")).cast("double") /
          count(lit(1)).cast("double")).as("mean_nll"))
      perdoc.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
          (col("avg_nll") <= col("mean_nll") + lit(0.05)).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // BPE vocabulary induction, round 1: count adjacent character
    // pairs within words across the corpus — the argmax pair is the
    // first merge a byte-pair tokenizer would learn; the top-30 list
    // is the merge frontier. Pure explode → groupBy on a bounded key
    // space (alphabet²) with map-side combine; q_bpe_apply learns the
    // later rounds from the same word-frequency dictionary.
    "q_bpe_pair_counts" -> ((s, d) => {
      // The corpus is touched ONCE for the word-frequency dict
      // (map-side combinable count); the pair explode then runs over
      // DISTINCT words weighted by wc — vocab-sized, not corpus-sized
      // (~25M token occurrences vs ~600k distinct words at sf1; the
      // dictionary q_bpe_apply's learner reads). Σ wc over a word's
      // pairs equals the per-occurrence count exactly, so the oracle
      // is unchanged.
      docs(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        .select(col("wc"), explode(expr(
          "transform(sequence(1, length(w)-1), i -> struct(substring(w, i, 1) AS c1, substring(w, i+1, 1) AS c2))"))
          .as("p"))
        .groupBy(col("p.c1").as("c1"), col("p.c2").as("c2"))
        .agg(sum(col("wc")).as("cnt"))
        .select(col("c1"), col("c2"), concat(col("c1"), col("c2")).as("merged"),
          col("cnt"))
        .orderBy(desc("cnt"), col("c1"), col("c2"))
        .limit(30)
    }),

    // BPE vocabulary induction, rounds 1..10 (Sennrich et al. 2016):
    // the learned merge table. The corpus is read once, into the
    // word-frequency dictionary (a map-side combined groupBy); every
    // round after that is vocab-sized, so one task learns all ten over
    // the dictionary (functions.BpeLearner): a lazy plan of two jobs.
    // Hash-oracled (bpeApplySql); RetrievalSpec replays an independent
    // reference, and round 1 equals q_bpe_pair_counts' top row.
    "q_bpe_apply" -> ((s, d) => {
      val bpeSchema = StructType.fromDDL(
        "round INT NOT NULL, s1 STRING, s2 STRING, merged STRING, cnt BIGINT")
      docs(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        .coalesce(1)
        .mapPartitions(it => BpeLearner.learn(
          it.map(r => r.getString(0) -> r.getLong(1)), 10).iterator
          .map(m => Row(m.round, m.s1, m.s2, m.s1 + m.s2, m.cnt)))(Encoders.row(bpeSchema))
    }),
  )

  /** DuckDB mirror of the FULL 10-round BPE learner (round 9 — was
    * rows-only). The symbol sequence of each word is encoded as a
    * string `|s1||s2||...|`: the greedy left-to-right non-overlapping
    * merge is then exactly one `replace('|m1||m2|' → '|m1m2|')` —
    * replace() consumes matches left-to-right without overlap, the
    * same order BpeLearner applies merges, and the per-side `|`
    * sentinels stop cross-symbol-boundary matches. The encoding is
    * unambiguous while no token contains '|' and text is single-
    * code-point chars — both verified corpus-wide at every shipped SF
    * (and the hash compare fails loudly if a future corpus breaks
    * either). Every vN/tN is MATERIALIZED: each is referenced twice
    * downstream, and un-hinted re-inlining would double work per
    * round (2^10 by round 10 — the pagerank-oracle lesson). */
  private val bpeApplySql: String = {
    val rounds = (1 to 10).map { k =>
      val prev = s"v${k - 1}"
      s"""p$k AS (SELECT l[i] AS s1, l[i + 1] AS s2, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(str, '|'), '||') AS l, wc FROM $prev) t,
         |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) u
         |  GROUP BY 1, 2),
         |t$k AS MATERIALIZED (SELECT $k AS round, s1, s2, s1 || s2 AS merged, cnt
         |  FROM p$k ORDER BY cnt DESC, s1, s2 LIMIT 1),
         |v$k AS MATERIALIZED (SELECT
         |    replace(str, '|' || t.s1 || '||' || t.s2 || '|',
         |                 '|' || t.s1 || t.s2 || '|') AS str, wc
         |  FROM $prev, t$k t)""".stripMargin
    }.mkString(",\n")
    val union = (1 to 10).map(k => s"SELECT * FROM t$k").mkString("\n  UNION ALL ")
    s"""WITH w0 AS (SELECT w, count(*) AS wc FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE w <> '' GROUP BY w),
       |v0 AS MATERIALIZED (SELECT
       |    '|' || array_to_string(string_split(w, ''), '||') || '|' AS str, wc
       |  FROM w0),
       |$rounds
       |SELECT round, s1, s2, merged, cnt FROM (
       |  $union)
       |ORDER BY round""".stripMargin
  }

  /** DuckDB mirror of q_dedup_semantic's portable √-hierarchy (round
    * 10): centered integer vectors (the q_dedup_text_lsh prefix), the
    * deterministic float mirror vf = double(float(c)), md5-ranked
    * 16 Ki fit sample + kc seeds, two Lloyd rounds with portable
    * floor(sum/count) centroids, coarse assignment, per-cell
    * ⌈m/160⌉ fine seeds, fine assignment, then the integer-exact
    * shadow gate on same-cell pairs. The float 0.88 PREFILTER is
    * deliberately absent: exact-gate winners (cos ≥ 0.9) always pass
    * it (float error ~1e-6 relative vs the 0.02 margin — the
    * q_audit_text_recall oracle's established argument), so the final
    * verdicts are identical without mirroring the shortcut. */
  private val semanticOracleSql: String = {
    def assignSql(out: String, docs: String, cents: String) =
      s"""$out AS MATERIALIZED (SELECT doc_id, cid FROM (
         |  SELECT d.doc_id, c.cid, row_number() OVER (PARTITION BY d.doc_id
         |    ORDER BY list_inner_product(c.cvec, c.cvec)
         |      - 2 * list_inner_product(d.vf, c.cvec), c.cid) AS rn
         |  FROM $docs d CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def centSql(out: String, asg: String) =
      s"""$out AS MATERIALIZED (SELECT cid, list(m ORDER BY i) AS cvec FROM (
         |  SELECT a.cid, u.i,
         |    CAST(CAST(floor(sum(d.vf[u.i]) / count(*)) AS FLOAT) AS DOUBLE) AS m
         |  FROM $asg a JOIN sem_fit d USING (doc_id),
         |       LATERAL (SELECT unnest(generate_series(1, 64)) AS i) u
         |  GROUP BY a.cid, u.i) GROUP BY cid)""".stripMargin
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |             FROM documents),
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
       |dense AS MATERIALIZED (SELECT d.doc_id, g.j,
       |            ((COALESCE(e.v, 0) * (SELECT nd FROM n_d)
       |              - COALESCE(s.sj, 0)) >> 12) AS c
       |          FROM docs_e d CROSS JOIN range(64) g(j)
       |          LEFT JOIN emb e ON e.doc_id = d.doc_id AND e.j = g.j
       |          LEFT JOIN sj s ON s.j = g.j),
       |cvecs AS MATERIALIZED (SELECT doc_id, list(c ORDER BY j) AS cv
       |          FROM dense GROUP BY 1),
       |sem_v AS MATERIALIZED (SELECT doc_id, cv,
       |          list_transform(cv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS vf,
       |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hr
       |        FROM cvecs),
       |sem_k AS (SELECT GREATEST(1,
       |            CAST(floor(sqrt(count(*) / 160.0) + 0.5) AS INT)) AS kc
       |          FROM sem_v),
       |sem_fit AS MATERIALIZED (SELECT doc_id, vf, rnk FROM (
       |          SELECT doc_id, vf, row_number() OVER (ORDER BY hr, doc_id) AS rnk
       |          FROM sem_v) WHERE rnk <= 16384),
       |sem_c0 AS (SELECT doc_id AS cid, vf AS cvec FROM sem_fit
       |           WHERE rnk <= (SELECT kc FROM sem_k)),
       |${assignSql("sem_a1", "sem_fit", "sem_c0")},
       |${centSql("sem_c1", "sem_a1")},
       |${assignSql("sem_a2", "sem_fit", "sem_c1")},
       |${centSql("sem_c2", "sem_a2")},
       |${assignSql("sem_coarse", "sem_v", "sem_c2")},
       |sem_fseeds AS MATERIALIZED (SELECT ccid, doc_id AS fcid, vf AS fvec FROM (
       |    SELECT c.cid AS ccid, v.doc_id, v.vf,
       |      row_number() OVER (PARTITION BY c.cid ORDER BY v.hr, v.doc_id) AS rn,
       |      count(*) OVER (PARTITION BY c.cid) AS m
       |    FROM sem_coarse c JOIN sem_v v USING (doc_id))
       |  WHERE rn <= (m + 159) // 160),
       |sem_cells AS MATERIALIZED (SELECT doc_id, cid FROM (
       |    SELECT v.doc_id, f.fcid AS cid, row_number() OVER (
       |      PARTITION BY v.doc_id ORDER BY
       |        list_inner_product(f.fvec, f.fvec)
       |        - 2 * list_inner_product(v.vf, f.fvec), f.fcid) AS rn
       |    FROM sem_coarse c JOIN sem_v v USING (doc_id)
       |    JOIN sem_fseeds f ON f.ccid = c.cid) WHERE rn = 1),
       |sem_sh AS (SELECT DISTINCT db FROM (
       |    SELECT b.doc_id AS db,
       |      CAST(list_sum(list_transform(range(1, 65),
       |           i -> a.cv[i] * b.cv[i])) AS BIGINT) AS dot,
       |      CAST(list_sum(list_transform(a.cv, x -> x * x)) AS BIGINT) AS na,
       |      CAST(list_sum(list_transform(b.cv, x -> x * x)) AS BIGINT) AS nb
       |    FROM sem_cells ca JOIN sem_v a ON ca.doc_id = a.doc_id
       |    JOIN sem_cells cb ON ca.cid = cb.cid AND ca.doc_id < cb.doc_id
       |    JOIN sem_v b ON cb.doc_id = b.doc_id)
       |  WHERE dot > 0
       |    AND 100 * CAST(dot AS HUGEINT) * dot >= 81 * CAST(na AS HUGEINT) * nb)
       |SELECT c.doc_id, c.cid, (s.db IS NULL) AS is_kept
       |FROM sem_cells c LEFT JOIN sem_sh s ON c.doc_id = s.db
       |ORDER BY c.doc_id""".stripMargin
  }

  /** Shared frozen-stats oracle for the standing-index probe family:
    * `candPred` selects the index side (a) and the probe side (b) of
    * the candidate join — the only thing that differs between the
    * probe and the absorb twin. */
  private def lshIndexOracle(candPred: String): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |             FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok <> ''
      |       GROUP BY 1, 2),
      |df AS (SELECT tok, count(*) AS df FROM tf WHERE doc_id % 10 <> 0
      |       GROUP BY 1),
      |h AS (SELECT tf.doc_id, tf.tf, df.df,
      |        ('0x' || substr(md5(tf.tok), 1, 15))::BIGINT AS hv
      |      FROM tf JOIN df USING (tok)),
      |emb0 AS (SELECT doc_id, CAST(hv % 64 AS INT) AS j,
      |           SUM((CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END)
      |               * tf * (100000 // df)) AS v
      |         FROM h GROUP BY 1, 2),
      |emb AS (SELECT doc_id, j, CAST(v AS BIGINT) AS v FROM emb0 WHERE v <> 0),
      |docs_e AS (SELECT doc_id FROM emb GROUP BY 1 HAVING count(*) >= 4),
      |n_d AS (SELECT count(*) AS nd FROM docs_e WHERE doc_id % 10 <> 0),
      |sj AS (SELECT j, CAST(SUM(v) AS BIGINT) AS sj FROM emb
      |       WHERE doc_id % 10 <> 0 GROUP BY 1),
      |dense AS MATERIALIZED (SELECT d.doc_id, g.j,
      |            ((COALESCE(e.v, 0) * (SELECT nd FROM n_d)
      |              - COALESCE(s.sj, 0)) >> 12) AS c
      |          FROM docs_e d CROSS JOIN range(64) g(j)
      |          LEFT JOIN emb e ON e.doc_id = d.doc_id AND e.j = g.j
      |          LEFT JOIN sj s ON s.j = g.j),
      |wsel AS (SELECT coalesce(min(CASE WHEN 24 * (1::BIGINT << w.range)
      |                  >= (SELECT nd FROM n_d) THEN w.range END), 16) AS w
      |         FROM range(8, 17) w),
      |rmat AS (SELECT t1.range AS k, t2.range AS j,
      |           CASE WHEN ('0x' || substr(md5(t1.range::VARCHAR || '_'
      |                      || t2.range::VARCHAR), 1, 15))::BIGINT % 2 = 0
      |                THEN 1::BIGINT ELSE (-1)::BIGINT END AS r
      |         FROM range(128) t1 CROSS JOIN range(64) t2),
      |proj AS MATERIALIZED (SELECT d.doc_id, r.k, SUM(r.r * d.c) AS p
      |         FROM dense d JOIN rmat r ON r.j = d.j
      |         WHERE r.k < 8 * (SELECT w FROM wsel) GROUP BY 1, 2),
      |bands AS MATERIALIZED (SELECT doc_id, k // (SELECT w FROM wsel) AS band,
      |            CAST(SUM(CASE WHEN p >= 0
      |                          THEN (1::BIGINT << CAST(k % (SELECT w FROM wsel) AS INT))
      |                          ELSE 0 END) AS BIGINT) AS bkt
      |          FROM proj GROUP BY 1, 2),
      |sigs AS MATERIALIZED (SELECT doc_id,
      |           CAST(SUM(CASE WHEN p >= 0 AND k < 63
      |                         THEN (1::BIGINT << CAST(k AS INT))
      |                         ELSE 0 END) AS BIGINT) AS sig
      |         FROM proj GROUP BY 1),
      |keyed AS MATERIALIZED (SELECT b.doc_id, b.band, b.bkt, s.sig
      |          FROM bands b JOIN sigs s USING (doc_id)),
      |cand AS MATERIALIZED (SELECT DISTINCT b.doc_id AS batch_id,
      |           a.doc_id AS corpus_id
      |         FROM keyed a JOIN keyed b
      |           ON a.band = b.band AND a.bkt = b.bkt
      |          AND $candPred
      |          AND bit_count(xor(a.sig, b.sig)) <= 16),
      |cvecs AS MATERIALIZED (SELECT doc_id, list(c ORDER BY j) AS cv
      |          FROM dense GROUP BY 1),
      |nrm AS MATERIALIZED (SELECT doc_id,
      |          CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS n2
      |        FROM cvecs),
      |dots AS (SELECT c2.batch_id, c2.corpus_id,
      |           CAST(list_sum(list_transform(range(1, 65),
      |                i -> a.cv[i] * b.cv[i])) AS BIGINT) AS dot
      |         FROM cand c2
      |         JOIN cvecs a ON a.doc_id = c2.corpus_id
      |         JOIN cvecs b ON b.doc_id = c2.batch_id)
      |SELECT d.batch_id, d.corpus_id,
      |  round(CAST(d.dot AS DOUBLE)
      |        / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cos
      |FROM dots d
      |JOIN nrm na ON na.doc_id = d.corpus_id
      |JOIN nrm nb ON nb.doc_id = d.batch_id
      |WHERE d.dot > 0
      |  AND 100 * CAST(d.dot AS HUGEINT) * d.dot
      |      >= 81 * CAST(na.n2 AS HUGEINT) * nb.n2
      |ORDER BY 1, 2""".stripMargin

  /** The frozen-stats drift recompute (q_dedup_text_index_drift's
    * oracle), factored so q_dedup_text_maint layers the policy
    * thresholds over the identical gauge derivation. */
  private val textDriftOracle =
    """WITH ctf AS (SELECT doc_id, tok, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents WHERE doc_id % 10 <> 0) t
      |  WHERE tok <> '' GROUP BY doc_id, tok),
      |fdf AS (SELECT tok, count(*) AS df FROM ctf GROUP BY tok),
      |btf AS (SELECT doc_id, tok, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents WHERE doc_id % 10 = 0) t
      |  WHERE tok <> '' GROUP BY doc_id, tok),
      |bdf AS (SELECT tok, sum(tf) AS occ, count(*) AS dfb
      |        FROM btf GROUP BY tok),
      |j AS (SELECT b.tok, b.occ, b.dfb, f.df
      |      FROM bdf b LEFT JOIN fdf f USING (tok)),
      |sb AS (SELECT sum(dfb) AS s_b FROM bdf),
      |sc AS (SELECT sum(df) AS s_c FROM fdf),
      |tot AS (SELECT sum(occ) AS n_tok,
      |          sum(CASE WHEN df IS NULL THEN occ ELSE 0 END) AS n_oov
      |        FROM j),
      |l1 AS (SELECT sum(abs(CAST(dfb AS HUGEINT) * s_c
      |                      - CAST(df AS HUGEINT) * s_b)) AS l1num
      |       FROM j, sb, sc WHERE df IS NOT NULL)
      |SELECT CAST(n_tok AS BIGINT) AS n_tok,
      |  CAST(n_oov AS BIGINT) AS n_oov,
      |  round(CAST(n_oov AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS oov_rate,
      |  round(CAST(l1num AS DOUBLE) /
      |    (CAST(s_b AS DOUBLE) * CAST(s_c AS DOUBLE)), 6) AS df_shift
      |FROM tot, l1, sb, sc
      |ORDER BY n_tok""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_bpe_apply" -> bpeApplySql,

    "q_dedup_semantic" -> semanticOracleSql,

    // integer-exact hashed projection: md5 hex and all arithmetic are
    // engine-portable; DuckDB SUM(BIGINT) widens to HUGEINT, so the
    // final CAST pins the schema to Spark's BIGINT
    "q_embed_text" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok <> ''
        |       GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |h AS (SELECT tf.doc_id, tf.tf, df.df,
        |        ('0x' || substr(md5(tf.tok), 1, 15))::BIGINT AS hv
        |      FROM tf JOIN df USING (tok)),
        |emb AS (SELECT doc_id, CAST(hv % 64 AS INT) AS j,
        |          SUM((CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END)
        |              * tf * (100000 // df)) AS v
        |        FROM h GROUP BY 1, 2)
        |SELECT doc_id, j, CAST(v AS BIGINT) AS v FROM emb
        |WHERE v <> 0 ORDER BY doc_id, j""".stripMargin,

    // the FULL LSH pipeline mirrored — hashed projection, mean-
    // centering (v·N − S_j, >> 12), 63 md5-derived ±1 hyperplanes,
    // banding, the packed-signature hamming prefilter, integer-exact
    // cosine gate — so the near-dup pair set is hash-oracled
    // end-to-end (not an approximation audit). DuckDB's >> is
    // arithmetic shift like Spark's shiftright (both floor, verified
    // on negatives); SUMs widen to HUGEINT, hence the BIGINT casts at
    // each fragment boundary. The multiply-referenced CTEs carry
    // AS MATERIALIZED (a plan hint, results identical): DuckDB 1.0
    // otherwise re-inlines each reference and decorrelates the
    // (SELECT w FROM wsel) scalar subqueries into join plans that
    // spilled past this box's 79 GB disk at sf1; materialized, the
    // same oracle completes there (133,519 pairs).
    "q_dedup_text_lsh" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
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
        |dense AS MATERIALIZED (SELECT d.doc_id, g.j,
        |            ((COALESCE(e.v, 0) * (SELECT nd FROM n_d)
        |              - COALESCE(s.sj, 0)) >> 12) AS c
        |          FROM docs_e d CROSS JOIN range(64) g(j)
        |          LEFT JOIN emb e ON e.doc_id = d.doc_id AND e.j = g.j
        |          LEFT JOIN sj s ON s.j = g.j),
        |wsel AS (SELECT coalesce(min(CASE WHEN 24 * (1::BIGINT << w.range)
        |                  >= (SELECT nd FROM n_d) THEN w.range END), 16) AS w
        |         FROM range(8, 17) w),
        |rmat AS (SELECT t1.range AS k, t2.range AS j,
        |           CASE WHEN ('0x' || substr(md5(t1.range::VARCHAR || '_'
        |                      || t2.range::VARCHAR), 1, 15))::BIGINT % 2 = 0
        |                THEN 1::BIGINT ELSE (-1)::BIGINT END AS r
        |         FROM range(128) t1 CROSS JOIN range(64) t2),
        |proj AS MATERIALIZED (SELECT d.doc_id, r.k, SUM(r.r * d.c) AS p
        |         FROM dense d JOIN rmat r ON r.j = d.j
        |         WHERE r.k < 8 * (SELECT w FROM wsel) GROUP BY 1, 2),
        |bands AS MATERIALIZED (SELECT doc_id, k // (SELECT w FROM wsel) AS band,
        |            CAST(SUM(CASE WHEN p >= 0
        |                          THEN (1::BIGINT << CAST(k % (SELECT w FROM wsel) AS INT))
        |                          ELSE 0 END) AS BIGINT) AS bkt
        |          FROM proj GROUP BY 1, 2),
        |sigs AS MATERIALIZED (SELECT doc_id,
        |           CAST(SUM(CASE WHEN p >= 0 AND k < 63
        |                         THEN (1::BIGINT << CAST(k AS INT))
        |                         ELSE 0 END) AS BIGINT) AS sig
        |         FROM proj GROUP BY 1),
        |keyed AS MATERIALIZED (SELECT b.doc_id, b.band, b.bkt, s.sig
        |          FROM bands b JOIN sigs s USING (doc_id)),
        |occ AS MATERIALIZED (SELECT band, bkt, count(*) AS occ,
        |          min(doc_id) AS bmin FROM keyed GROUP BY 1, 2),
        |hotb AS (SELECT o.band, o.bkt, o.bmin, k.sig AS bsig,
        |           ((SELECT nd FROM n_d) > 1572864
        |            AND o.occ > (SELECT nd FROM n_d) // 8192) AS hot
        |         FROM occ o JOIN keyed k
        |           ON k.band = o.band AND k.bkt = o.bkt AND k.doc_id = o.bmin),
        |cand AS MATERIALIZED (SELECT DISTINCT da, db FROM (
        |         SELECT a.doc_id AS da, b.doc_id AS db
        |         FROM keyed a JOIN keyed b
        |           ON a.band = b.band AND a.bkt = b.bkt
        |          AND a.doc_id < b.doc_id
        |          AND bit_count(xor(a.sig, b.sig)) <= 16
        |         JOIN hotb h ON h.band = a.band AND h.bkt = a.bkt AND NOT h.hot
        |         UNION ALL
        |         SELECT h.bmin AS da, k.doc_id AS db
        |         FROM keyed k JOIN hotb h
        |           ON h.band = k.band AND h.bkt = k.bkt AND h.hot
        |          AND k.doc_id <> h.bmin
        |          AND bit_count(xor(h.bsig, k.sig)) <= 16) u),
        |cvecs AS MATERIALIZED (SELECT doc_id, list(c ORDER BY j) AS cv
        |          FROM dense GROUP BY 1),
        |nrm AS MATERIALIZED (SELECT doc_id,
        |          CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS n2
        |        FROM cvecs),
        |dots AS (SELECT c2.da, c2.db,
        |           CAST(list_sum(list_transform(range(1, 65),
        |                i -> a.cv[i] * b.cv[i])) AS BIGINT) AS dot
        |         FROM cand c2
        |         JOIN cvecs a ON a.doc_id = c2.da
        |         JOIN cvecs b ON b.doc_id = c2.db)
        |SELECT d.da, d.db,
        |  round(CAST(d.dot AS DOUBLE)
        |        / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cos
        |FROM dots d
        |JOIN nrm na ON na.doc_id = d.da
        |JOIN nrm nb ON nb.doc_id = d.db
        |WHERE d.dot > 0
        |  AND 100 * CAST(d.dot AS HUGEINT) * d.dot
        |      >= 81 * CAST(na.n2 AS HUGEINT) * nb.n2
        |ORDER BY 1, 2""".stripMargin,

    // FROZEN-STATS probe oracle (standing text-LSH index): identical
    // pipeline to q_dedup_text_lsh's oracle EXCEPT every corpus
    // statistic — df, centering sums sj, the doc count nd, the band
    // width w — is computed over the CORPUS side only (doc_id % 10 <>
    // 0), and applied to batch docs through the inner df join (OOV
    // batch tokens drop out, exactly as the persisted-index join
    // drops them). Candidates are corpus×batch, never a self-join.
    "q_dedup_text_index_probe" -> lshIndexOracle(
      "a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0"),

    // Absorb twin: the index side is corpus ∪ the day-1 absorbed batch
    // (doc_id % 20 = 0, signed with the SAME frozen corpus stats —
    // matching the append path, which never refreshes df/stats); the
    // probe side is day-2 (doc_id % 20 = 10).
    "q_dedup_text_index_absorb" -> lshIndexOracle(
      "(a.doc_id % 10 <> 0 OR a.doc_id % 20 = 0) AND b.doc_id % 20 = 10"),

    // drift monitor: frozen df recomputed from the corpus slice, batch
    // stats from raw text; L1 numerator in HUGEINT (the engine's
    // decimal-128 mirror)
    "q_dedup_text_index_drift" -> textDriftOracle,

    // the drift oracle + the default policy thresholds — DuckDB
    // recomputes the gauges AND the decision (Maintenance scaladoc)
    "q_dedup_text_maint" ->
      s"""SELECT n_tok, n_oov, oov_rate, df_shift,
         |  CAST(CASE WHEN oov_rate >= 0.2 OR df_shift >= 0.5
         |       THEN 1 ELSE 0 END AS INT) AS refreeze
         |FROM ($textDriftOracle)
         |ORDER BY n_tok""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok <> ''
        |       GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, tf.tok, tf, df,
        |  round(tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df), 6)
        |    AS tfidf
        |FROM tf JOIN df USING (tok)
        |ORDER BY tfidf DESC, doc_id, tok LIMIT 100""".stripMargin,

    "q_bm25" ->
      """WITH dl AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS dl FROM documents),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
        |       WHERE tok IN ('table', 'spark', 'merge') GROUP BY 1, 2),
        |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |term AS (SELECT tf.doc_id,
        |  CAST(round(
        |    ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
        |    * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
        |    (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |      + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl)), 9) AS DECIMAL(28,10)) AS ts_
        |  FROM tf JOIN dfc USING (tok) JOIN dl ON tf.doc_id = dl.doc_id, stats)
        |SELECT doc_id, round(CAST(sum(ts_) AS DOUBLE), 6) AS bm25,
        |  CAST(count(*) AS INT) AS n_terms
        |FROM term GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "q_cooccur_pmi" ->
      """WITH dtok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |pairs AS (SELECT a.tok AS wa, b.tok AS wb, count(*) AS c_ab
        |          FROM dtok a JOIN dtok b
        |            ON a.doc_id = b.doc_id AND a.tok < b.tok
        |          WHERE a.tok <> '' AND b.tok <> ''
        |          GROUP BY 1, 2 HAVING count(*) >= 5),
        |cnt AS (SELECT tok, count(*) AS c FROM dtok WHERE tok <> '' GROUP BY 1)
        |SELECT wa, wb, c_ab,
        |  round(ln(CAST(c_ab * (SELECT count(*) FROM documents) AS DOUBLE) /
        |    (ca.c * cb.c)), 6) AS pmi
        |FROM pairs JOIN cnt ca ON pairs.wa = ca.tok
        |           JOIN cnt cb ON pairs.wb = cb.tok
        |ORDER BY pmi DESC, wa, wb LIMIT 50""".stripMargin,

    "q_bigram_lm" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bi AS (SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS c12
        |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) t
        |       WHERE len(w) >= 2 GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bi GROUP BY 1)
        |SELECT bi.w1 AS w1, w2, c12, c1, round(c12 / c1, 6) AS p
        |FROM bi JOIN ctx ON bi.w1 = ctx.w1
        |ORDER BY c12 DESC, bi.w1, w2 LIMIT 50""".stripMargin,

    "q_bigram_kn" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bi AS (SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS c12
        |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) t
        |       WHERE len(w) >= 2 GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1p
        |        FROM bi GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS ncont FROM bi GROUP BY 1),
        |nb AS (SELECT count(*) AS nb FROM bi)
        |SELECT bi.w1 AS w1, bi.w2 AS w2, c12, c1, n1p, ncont,
        |  CAST((4*c12 - 3)*nb + 3*n1p*ncont AS BIGINT) AS knum,
        |  CAST(4*c1*nb AS BIGINT) AS kden,
        |  round(CAST((4*c12 - 3)*nb + 3*n1p*ncont AS BIGINT)
        |    / CAST(4*c1*nb AS BIGINT), 6) AS p_kn
        |FROM bi JOIN ctx ON bi.w1 = ctx.w1 JOIN cont ON bi.w2 = cont.w2
        |CROSS JOIN nb
        |ORDER BY c12 DESC, bi.w1, bi.w2 LIMIT 100""".stripMargin,

    "q_rrf_fusion" ->
      """WITH dtok AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |qt AS (SELECT doc_id AS q_id, tok FROM dtok
        |       WHERE doc_id < 8 AND tok <> ''),
        |ct AS (SELECT doc_id, tok FROM dtok WHERE doc_id >= 8 AND tok <> ''),
        |ov AS (SELECT q_id, ct.doc_id AS doc_id, count(*) AS ov
        |       FROM ct JOIN qt USING (tok) GROUP BY 1, 2),
        |sp AS (SELECT q_id, doc_id, row_number() OVER
        |         (PARTITION BY q_id ORDER BY ov DESC, doc_id) AS rs FROM ov),
        |sp20 AS (SELECT q_id, doc_id, rs FROM sp WHERE rs <= 20),
        |qe AS (SELECT vec_id AS q_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
        |         sqrt(list_inner_product(
        |           list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |           list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS qn
        |       FROM embeddings WHERE vec_id < 8),
        |de AS (SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv,
        |         sqrt(list_inner_product(
        |           list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |           list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS dn
        |       FROM embeddings WHERE vec_id >= 8),
        |cs AS (SELECT q_id, vec_id AS doc_id,
        |         list_inner_product(dv, qv) / (dn * qn) AS cos_sim
        |       FROM de, qe),
        |dr AS (SELECT q_id, doc_id, row_number() OVER
        |         (PARTITION BY q_id ORDER BY cos_sim DESC, doc_id) AS rd FROM cs),
        |dr20 AS (SELECT q_id, doc_id, rd FROM dr WHERE rd <= 20)
        |SELECT COALESCE(d.q_id, s.q_id) AS q_id,
        |  COALESCE(d.doc_id, s.doc_id) AS doc_id,
        |  CASE WHEN d.rd IS NOT NULL THEN 1 ELSE 0 END AS in_dense,
        |  CASE WHEN s.rs IS NOT NULL THEN 1 ELSE 0 END AS in_sparse,
        |  COALESCE(1000000000000 // (60 + d.rd), 0) +
        |    COALESCE(1000000000000 // (60 + s.rs), 0) AS rrf_score
        |FROM dr20 d FULL OUTER JOIN sp20 s
        |  ON d.q_id = s.q_id AND d.doc_id = s.doc_id
        |ORDER BY q_id, rrf_score DESC, doc_id""".stripMargin,

    "q_chunk_sliding" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |n AS (SELECT doc_id, w,
        |  1 + greatest(0, (len(w) - 32 + 23) // 24) AS nchunks FROM w),
        |c AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx, w[i*24+1:i*24+32] AS chunk
        |      FROM n, LATERAL (SELECT unnest(generate_series(0, nchunks - 1)) AS i) t)
        |SELECT doc_id, chunk_idx,
        |  CAST(chunk_idx * 24 + 1 AS INT) AS chunk_start,
        |  CAST(len(chunk) AS INT) AS n_chunk_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_source_kl" ->
      """WITH st AS (SELECT source, tok, count(*) AS c_st FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) u WHERE tok <> '' GROUP BY 1, 2),
        |s_tot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
        |          FROM st GROUP BY 1),
        |c_tok AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t
        |          FROM st GROUP BY 1),
        |n_c AS (SELECT CAST(sum(c_st) AS BIGINT) AS n_c FROM st)
        |SELECT source, n_s, round(CAST(sum(CAST(round(
        |    (c_st / n_s) * ln((c_st / n_s) / (c_t / n_c)), 12)
        |  AS DECIMAL(30,14))) AS DOUBLE), 6) AS kl
        |FROM st JOIN s_tot USING (source) JOIN c_tok USING (tok), n_c
        |GROUP BY source, n_s ORDER BY source""".stripMargin,

    "q_event_drift" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |x AS (SELECT day, event_type, n, day_value,
        |  lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_n,
        |  avg(n) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7
        |  FROM daily)
        |SELECT day, event_type, n, day_value,
        |  round((n - prev_n) * CAST(100 AS DOUBLE) / NULLIF(prev_n, 0), 6)
        |    AS pct_change,
        |  round(ma7, 6) AS ma7,
        |  CASE WHEN CAST(n AS DOUBLE) > ma7 * CAST(1.5 AS DOUBLE) THEN 1 ELSE 0 END
        |    AS spike
        |FROM x ORDER BY event_type, day""".stripMargin,

    "q_perplexity_filter" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bi AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |       FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) t
        |       WHERE len(w) >= 2),
        |lm AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM lm GROUP BY 1),
        |probs AS (SELECT lm.w1 AS w1, w2,
        |  CAST(round(ln(CAST(c1 AS DOUBLE)) - ln(CAST(c12 AS DOUBLE)), 9)
        |    AS DECIMAL(28,10)) AS nll
        |  FROM lm JOIN ctx ON lm.w1 = ctx.w1),
        |perdoc AS (SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(nll) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS avg_nll
        |  FROM bi JOIN probs ON bi.w1 = probs.w1 AND bi.w2 = probs.w2
        |  GROUP BY doc_id),
        |thr AS (SELECT CAST(sum(CAST(avg_nll AS DECIMAL(28,10))) AS DOUBLE)
        |  / CAST(count(*) AS DOUBLE) AS mean_nll FROM perdoc)
        |SELECT doc_id, n_bigrams, avg_nll,
        |  avg_nll <= mean_nll + CAST(0.05 AS DOUBLE) AS keep
        |FROM perdoc, thr ORDER BY doc_id""".stripMargin,

    "q_bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT substring(w, i, 1) AS c1, substring(w, i+1, 1) AS c2
        |      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) t
        |      WHERE len(w) >= 2)
        |SELECT c1, c2, c1 || c2 AS merged, count(*) AS cnt
        |FROM p GROUP BY c1, c2 ORDER BY cnt DESC, c1, c2 LIMIT 30""".stripMargin,
  )
}
