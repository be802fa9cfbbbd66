package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

import graft.engine.{Leaves, Memo, QueryPack, Tables}
import graft.functions.GraftFunctions
import graft.plans.Deferred

/** Training-data pipeline operators (north star): deduplication (exact,
  * n-gram Jaccard, MinHash/LSH, SimHash, embedding-cosine), similarity
  * search (brute-force + LSH-bucketed ANN), text analysis (tokens,
  * quality, language-id, fingerprinting).
  *
  * Scale notes:
  *  - exact dedup = hash-groupBy on a fingerprint: one shuffle keyed by
  *    the hash — uniform by construction, no skew;
  *  - MinHash/LSH: signatures are a single groupBy over exploded
  *    shingles; candidate generation joins on (band, bucket) — only
  *    near-dup docs collide, so the join output is ~linear in dups,
  *    never all-pairs. This is the 100 TB path; the n-gram Jaccard
  *    all-pairs query is deliberately capped to a 100-doc audit slice
  *    (jaccard ground truth for the LSH self-check);
  *  - similarity: cosine via the codegen'd dot_d expression; the
  *    brute-force top-k broadcasts the single query vector (no
  *    shuffle); the ANN variant prunes by random-hyperplane bucket.
  *
  * Cache scope: what a Deferred body or an index build materializes is
  * a leaf (engine.Leaves.land), dropped when its scope closes unless
  * the result reads it. The .cache() calls left mark multi-consumer
  * subtrees of plans that job-free builders return (LazyBuildSpec), so
  * nothing here can drop them: graft.Verify and graft.Bench clear them
  * between queries, and the CacheManager dedups re-built plans, so
  * repeated builds don't stack copies.
  *
  * MinHash is a custom expression composition rather than MLlib's
  * MinHashLSH (SURVEY.md §4.3 considered both): the SQL-native form
  * needs no fitted model state, keeps seeds explicit in the plan
  * (hash-derived, reproducible from code alone), and stays inside
  * whole-stage codegen — an ML Pipeline stage would add a fit step and
  * model persistence for what is a stateless hash.
  */
object Pipeline extends QueryPack {

  /** Distinct word 3-grams per doc (doc_id, g) — the shingle basis of
    * q_dedup_incremental, shared with the streaming incremental dedup
    * (streaming.StreamRunner.incrementalDedupVerdicts). */
  def wordGrams3(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(w)-2), i -> concat_ws(' ', slice(w, i, 3)))")))
        .as("g"))

  /** STANDING dedup index (VERDICT r12 #6): the corpus side of the
    * incremental dedup persisted as two bucketed+sorted managed tables
    * — the distinct-3-gram fingerprint (corpus_id, g) bucketed on g,
    * and per-doc gram counts bucketed on corpus_id — over the docs
    * `sel` keeps (StandingIndexes.Gram; its memoized fixtures build
    * through here). A daily 100 TB crawl signs the standing corpus
    * ONCE at ingest and every batch probe reads the compact signature
    * tables with zero re-tokenization and zero Exchange on the index
    * side. The bucket count derives from the source bytes (VERDICT r13
    * #4). Counts derive FROM the landed gram table (one build-time
    * shuffle), so the two tables cannot drift from each other. */
  private[graft] def buildGramIndex(s: SparkSession, d: String,
      suffix: String, sel: DataFrame => DataFrame): (String, String) = {
    val bk = graft.engine.Layout.bucketsFor(s"$d/documents.parquet")
    val gT = s"graft_gram_idx$suffix"
    val cT = s"graft_gramcnt_idx$suffix"
    val corpus =
      wordGrams3(sel(Tables.spread(Tables.t(s, d, "documents"), "doc_id")))
        .select(col("doc_id").as("corpus_id"), col("g"))
    graft.engine.Layout.writeBucketed(corpus, gT, "g", bk)
    graft.engine.Layout.writeBucketed(
      graft.engine.Layout.readTable(s, gT)
        .groupBy(col("corpus_id")).agg(count(lit(1)).as("nc")),
      cT, "corpus_id", bk)
    (gT, cT)
  }

  /** One absorb day for a gram index (StandingIndexes.Gram.absorb):
    * append the day's grams — one new file per bucket, no rebuild, a
    * write proportional to the day's crawl — then counts derived FROM
    * the landed gram table filtered to the day's ids (ADVICE r13: the
    * in-memory batch frame could drift from what landed). Day ids must be
    * disjoint from the landed corpus — the streaming loop's re-ingest
    * guard enforces exactly that on the production path. */
  private[graft] def absorbGramBatch(s: SparkSession, d: String,
      t: (String, String), bk: Int, sel: DataFrame => DataFrame): Unit = {
    val (gT, cT) = t
    val day =
      wordGrams3(sel(Tables.spread(Tables.t(s, d, "documents"), "doc_id")))
        .select(col("doc_id").as("corpus_id"), col("g"))
    graft.engine.Layout.appendBucketed(day, gT, "g", bk)
    val dayIds = day.select(col("corpus_id")).distinct()
    graft.engine.Layout.appendBucketed(
      graft.engine.Layout.readTable(s, gT)
        .join(dayIds, Seq("corpus_id"), "left_semi")
        .groupBy(col("corpus_id")).agg(count(lit(1)).as("nc")),
      cT, "corpus_id", bk)
  }

  private val gramProbeSchema = StructType(Seq(
    StructField("batch_id", org.apache.spark.sql.types.LongType),
    StructField("corpus_id", org.apache.spark.sql.types.LongType),
    StructField("inter_n", org.apache.spark.sql.types.LongType),
    StructField("union_n", org.apache.spark.sql.types.LongType),
    StructField("jac", org.apache.spark.sql.types.DoubleType)))

  /** The exact 3-gram Jaccard ≥ 0.5 verdict over candidate pairs
    * carrying (batch_id, corpus_id, inter_n, nb, nc). The threshold is
    * INTEGER arithmetic (3·inter ≥ nb + nc ⇔ inter/union ≥ 0.5), so no
    * borderline pair can flip vs the oracle; `jac` is rounded to 6
    * places. Output: gramProbeSchema. */
  private[graft] def jaccardVerdicts(pairs: DataFrame): DataFrame = {
    val union = col("nb") + col("nc") - col("inter_n")
    pairs.filter(col("inter_n") * 3 >= col("nb") + col("nc"))
      .select(col("batch_id"), col("corpus_id"), col("inter_n"),
        union.as("union_n"),
        round(col("inter_n").cast("double") / union, 6).as("jac"))
  }

  /** The one indexed gram-probe body, unordered (q_dedup_index_probe /
    * _absorb / _purge and both streaming index probes): merge-join the
    * batch grams (batch_id, g) onto the index view `idx` (corpus_id, g)
    * and pick up corpus counts from `nc` (corpus_id, nc). The hints pin
    * the non-broadcast paths — the INDEX side rides its g-bucket layout
    * and stats must never re-pick a broadcast that pins the corpus
    * fingerprint in every executor. The batch-count side rides the
    * probeSide gate on `src` (VERDICT r14): broadcast under 128 MB of
    * source, sort-merge above. Zero Exchange on the index side —
    * tree-walk-pinned in PlanSpec. Callers pass their own index views:
    * plain, purged, or purged and self-excluded. */
  private[graft] def gramVerdicts(idx: DataFrame, nc: DataFrame,
      batch: DataFrame, src: String): DataFrame = {
    val nb = batch.groupBy(col("batch_id")).agg(count(lit(1)).as("nb"))
    jaccardVerdicts(idx.hint("merge").join(batch, Seq("g"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(count(lit(1)).as("inter_n"))
      .join(graft.engine.Layout.probeSide(nb, src), Seq("batch_id"))
      .join(nc.hint("merge"), Seq("corpus_id")))
  }

  /** [[gramVerdicts]] for the fixture's own documents matching
    * `batchPred`, ordered by (batch_id, corpus_id). */
  private[graft] def gramIndexProbeOn(s: SparkSession, d: String,
      idx: DataFrame, nc: DataFrame, batchPred: Column): DataFrame =
    gramVerdicts(idx, nc,
      wordGrams3(Tables.spread(Tables.t(s, d, "documents"), "doc_id"))
        .filter(batchPred)
        .select(col("doc_id").as("batch_id"), col("g")),
      s"$d/documents.parquet")
      .orderBy(col("batch_id"), col("corpus_id"))

  /** The q_dedup_substring span algebra over an arbitrary doc slice
    * (factored in round 15 so the cascade can re-run it on the
    * post-dedup SURVIVORS): every maximal run of word positions whose
    * 5-gram also occurs in ANOTHER document of the slice. Grams are
    * keyed by xxhash64, never the raw string (scaladoc at the
    * q_dedup_substring entry — measured 2.2× shuffle cut); the island
    * merge windows PER DOC, so runs merge in parallel across docs.
    *
    * `transient`: the positional grams are a leaf, dropped as soon as
    * the dup-sized span frame lands. The full-corpus callers
    * (q_dedup_substring / q_dedup_span_apply) keep the default cache —
    * their fragment is plan-identical across queries, so CacheManager
    * shares ONE entry — but the cascade's survivor-slice call descends
    * from a leaf whose lineage is unique per run: cached, every cascade
    * invocation pinned a fresh corpus-sized gram frame for the
    * session's lifetime (ADVICE r15, the multi-day-soak accumulation). */
  private def dupSpans(docs: DataFrame,
      transient: Boolean = false): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w)-4), i -> " +
          "struct(i as pos, xxhash64(concat_ws(' ', slice(w, i, 5))) as gh))"))
        .as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gh").as("gh"))
    // g feeds the dup-gram agg AND the hit join-back
    def spansOf(g: DataFrame): DataFrame = {
      val dup = g.groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("gh"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      g.join(dup, Seq("gh")).select(col("doc_id"), col("pos"))
        .withColumn("grp", col("pos") - row_number().over(win))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + 4).as("span_end"),
          count(lit(1)).as("n_grams"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start") + 1).as("span_len"),
          col("n_grams"))
    }
    if (!transient) spansOf(grams.cache())
    else Leaves.scope(Leaves.land(spansOf(Leaves.land(grams))))
  }

  /** Distinct lowercase whitespace tokens per doc. */
  private def tokens(docs: DataFrame, cap: Option[Int]): DataFrame = {
    val capped = cap.map(c => docs.filter(col("doc_id") < c)).getOrElse(docs)
    // spread: see Tables.spread — the explode below is the CPU stage
    val base = Tables.spread(capped, "doc_id")
    base.select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " "))).as("token"))
      .filter(col("token") =!= "")
  }

  private val nSig = 32   // minhash signature length
  private val nBands = 8  // 8 bands x 4 rows

  /** Engine-portable 60-bit hash: first 15 hex chars of md5 as BIGINT
    * (DuckDB mirror: ('0x' || substr(md5(x), 1, 15))::BIGINT) — the
    * q_embed_text technique, reused so the minhash / simhash outputs
    * can be hash-oracled instead of rows-only (VERDICT r8 #1). */
  private def hv60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** Driver-side twin of hv60 for deriving the fixed permutation
    * constants below (plan-build time only, never on data). */
  private def hv60Const(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** nSig universal-hash permutations h_i(b) = (a_i·b + c_i) mod p over
    * the 30-bit shingle base, p = 2^31−1. All operands stay under 2^60,
    * so the arithmetic is exact BIGINT in BOTH engines (DuckDB raises
    * on 64-bit overflow — this parameterization never triggers it).
    * a_i forced odd (never ≡ 0 mod p); constants are md5-derived at
    * plan-build time and interpolated as literals into the Spark plan
    * AND the oracle SQL, so equality holds by construction. */
  private[operators] val permConsts: IndexedSeq[(Long, Long)] =
    (0 until nSig).map { i =>
      (2L * (hv60Const(s"a_$i") % 536870912L) + 1L,
        hv60Const(s"c_$i") % 1073741824L)
    }

  private val simBits = 60 // md5 yields 60 portable bits (see hv60)

  /** 60-bit simhash per doc: per-bit vote sum over md5-derived token
    * hashes (+1 if bit set, -1 otherwise), sign of the sum is the bit.
    * 60 bits, not 64: DuckDB BIGINT has no wrap-around (1<<63 raises),
    * so the portable width is what 15 md5 hex chars give — recall
    * properties are unchanged (bands become 6×10, pigeonhole below). */
  private def simhashOf(tok: DataFrame): DataFrame = {
    val th = tok.select(col("doc_id"), hv60(col("token")).as("th"))
    val bitCols = (0 until simBits).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$b")
    }
    th.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until simBits).map(b => when(col(s"b$b") > 0, shiftleft(lit(1L), b))
          .otherwise(0L)).reduce((a, c) => a.bitwiseOR(c)).as("simhash"))
  }

  // Sign-LSH over deterministic random hyperplanes (shared by the ANN
  // queries and the bucketed embedding near-dup): 4 tables × ADAPTIVE
  // 8..16 planes (round 10 — the text-LSH adaptive-w lesson applied
  // here: with a FIXED 8-bit bucket the all-pairs dedup variant's
  // same-bucket enumeration carries an n²·L/2^8 term; the width now
  // grows with the corpus so expected occupancy stays ≤ 24 vectors).
  private val annTables = 4
  private val annBits = 8     // minimum width — and the historical one
  private val annMaxBits = 16 // plane-pool cap: shard beyond 24·2^16 vecs

  /** The raw plane constants (float), shared by the Spark plan and —
    * via double-exact literal interpolation — the DuckDB oracle SQL
    * (round 10: the integer-family recipe applied to float sign-LSH).
    * Pool layout preserves history: the first annTables·annBits
    * planes are EXACTLY the pre-adaptive pool (same Random(42)
    * stream prefix) and serve bits 0..7, so any corpus small enough
    * for width 8 buckets bit-identically to every earlier round;
    * bits 8..15 draw from the appended planes via planeIdx. */
  private[operators] val annPlaneVals: IndexedSeq[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    (0 until annTables * annMaxBits).map { _ =>
      (0 until 64).map(_ => rnd.nextGaussian().toFloat).toArray
    }
  }

  /** Plane index for (table, bit): historical stripe for i < 8,
    * appended stripe for the adaptive bits. */
  private[operators] def planeIdx(t: Int, i: Int): Int =
    if (i < annBits) t * annBits + i
    else annTables * annBits + t * (annMaxBits - annBits) + (i - annBits)

  private def annPlanes: IndexedSeq[Column] =
    annPlaneVals.map(typedLit(_))

  /** One-row frame (ab): the smallest width in 8..16 with
    * 24·2^ab ≥ corpus count — selected IN-PLAN (builds stay job-free)
    * by the same integer comparison the oracle SQL runs. */
  private def annBitsSel(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    s.range(annBits, annMaxBits + 1).select(col("id").cast("int").as("abw"))
      .crossJoin(e.agg(count(lit(1)).as("n_vec")))
      .agg(coalesce(min(when(
        expr("shiftleft(cast(1 as bigint), abw)") * 24 >= col("n_vec"),
        col("abw"))), lit(annMaxBits)).as("ab"))
  }

  /** Per-table sign bucket of vector v: bit i = sign(v · plane_i),
    * for i < ab only (the CaseWhen keeps the masked dots unevaluated
    * at runtime, so width 8 costs what it always did). */
  private def signBuckets(v: Column, ab: Column): Column = {
    val planes = annPlanes
    array((0 until annTables).map { t =>
      (0 until annMaxBits).map { i =>
        when(lit(i) < ab,
          when(GraftFunctions.dot_d(v, planes(planeIdx(t, i))) > 0,
            shiftleft(lit(1), i)).otherwise(0)).otherwise(0)
      }.reduce(_ + _)
    }: _*)
  }

  /** vec_id, embedding, ab, nrm, (tbl, bkt) per hash table. */
  private def bucketedEmbeddings(e: DataFrame): DataFrame =
    e.crossJoin(broadcast(annBitsSel(e)))
      .select(col("vec_id"), col("embedding"), col("ab"),
        posexplode(signBuckets(col("embedding"), col("ab"))).as(Seq("tbl", "bkt")),
        sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("nrm"))

  // ---- STANDING embedding-LSH index (round 14) ----------------------
  // The third and last near-dup family moved onto the write-once
  // layout: gram index (round 13), text-LSH signature index (round
  // 14), and now the sign-LSH embedding index. q_dedup_embedding_lsh
  // above still re-signs every vector on every run; here the corpus
  // signs ONCE into two bucketed+sorted managed tables — (corpus_id,
  // tb) signatures bucketed on the packed (table, bucket) key, and
  // (corpus_id, embedding, nrm) vectors bucketed on corpus_id — plus a
  // one-row stat table freezing the adaptive plane width ab, selected
  // from the CORPUS count at build time. A daily batch probe signs
  // only the batch with the frozen width, meets the signatures in a
  // merge join (zero Exchange on the index side — the bucketed scan
  // already carries the join's partitioning), and re-ranks candidates
  // with the exact cosine against the persisted vectors. Freezing ab
  // is what makes absorb correct: appended vectors sign with the SAME
  // planes/width the standing rows used, so the index never holds
  // mixed-width buckets (the text index's frozen-df/stats argument).

  /** Sign `e` against the FROZEN width landed in `statT`; returns
    * (vec_id, tb) with tb = tbl·2^16 + bkt — injective (bkt < 2^ab ≤
    * 2^16), and a single join column keeps the bucketed scan live,
    * exactly the text index's bb packing. */
  private def embSign(s: SparkSession, e: DataFrame, statT: String): DataFrame =
    e.crossJoin(broadcast(graft.engine.Layout.readTable(s, statT)))
      .select(col("vec_id"),
        posexplode(signBuckets(col("embedding"), col("ab"))).as(Seq("tbl", "bkt")))
      .select(col("vec_id"), (col("tbl") * 65536 + col("bkt")).as("tb"))

  private def embVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("nrm"))

  /** Land the three index tables over the vectors `sel` keeps.
    * The frozen stat (ab) lands first; signatures are then produced by
    * the same embSign every batch probe uses — build and probe cannot
    * drift (the gram-index invariant: everything derives from landed
    * bytes). `sel` is a frame transform, not a predicate: the re-freeze
    * path's membership is a LANDED id list (refreezeEmb). */
  private[graft] def buildEmbIndexOn(s: SparkSession, d: String,
      suffix: String, sel: DataFrame => DataFrame): (String, String, String) = {
    GraftFunctions.register(s)
    val bk = graft.engine.Layout.bucketsFor(s"$d/embeddings.parquet")
    val statT = s"graft_embstat_idx$suffix"
    val sigT = s"graft_embsig_idx$suffix"
    val vecT = s"graft_embvec_idx$suffix"
    val corp = sel(Tables.t(s, d, "embeddings"))
    annBitsSel(corp).write.mode("overwrite").format("parquet")
      .saveAsTable(statT)
    graft.engine.Layout.writeBucketed(
      embSign(s, corp, statT).select(col("vec_id").as("corpus_id"), col("tb")),
      sigT, "tb", bk)
    graft.engine.Layout.writeBucketed(
      embVecs(corp).select(col("vec_id").as("corpus_id"), col("embedding"),
        col("nrm")), vecT, "corpus_id", bk)
    (sigT, vecT, statT)
  }

  /** One absorb day for an embedding index: sign the batch with the
    * FROZEN width, append signatures and vectors (one new file per
    * touched bucket). Factored (round 15) so the multi-day soak bench
    * and the throwaway-index lifecycle specs absorb without touching
    * the shared memoized index (ADVICE r14). */
  private[graft] def absorbEmbBatch(s: SparkSession, d: String,
      t: (String, String, String), bk: Int, batch: Column): Unit = {
    val (sigT, vecT, statT) = t
    val day = Tables.t(s, d, "embeddings").filter(batch)
    graft.engine.Layout.appendBucketed(
      embSign(s, day, statT).select(col("vec_id").as("corpus_id"),
        col("tb")), sigT, "tb", bk)
    graft.engine.Layout.appendBucketed(
      embVecs(day).select(col("vec_id").as("corpus_id"),
        col("embedding"), col("nrm")), vecT, "corpus_id", bk)
  }

  /** RE-FREEZE for an embedding index (VERDICT r15 #5 — the emb
    * analogue of Retrieval.refreezeLsh): rebuild the frozen width and
    * re-sign from raw vectors, membership read from the PURGE-AWARE
    * vector table (this family's membership manifest IS the vec table
    * — it holds one row per covered vector and the purge tombstones
    * it, so a re-freeze after an erasure rebuilds over survivors
    * only). Old tables stay untouched under their own suffix —
    * build-new-then-switch, the compactBucketed swap posture at the
    * index level. */
  private[graft] def refreezeEmb(s: SparkSession, d: String,
      suffix: String, t: (String, String, String)): (String, String, String) = {
    val member = graft.engine.Layout.readPurged(s, t._2, "corpus_id")
      .select(col("corpus_id").as("vec_id"))
    buildEmbIndexOn(s, d, suffix, _.join(member, Seq("vec_id"), "left_semi"))
  }

  /** GROWTH/OCCUPANCY drift gauge for an embedding index (the
    * q_dedup_emb_index_drift body, factored round 16 so the
    * maintenance policy reads it over ANY index instance): current
    * corpus size vs the frozen design capacity 24·2^ab, plus actual
    * signature-bucket occupancy (avg and max over the packed tb key —
    * the quantity that multiplies candidate volume). Everything
    * derives from the LANDED tables through purge-aware reads. At
    * scale: one map-side-combinable count over the sig table's bucket
    * layout + two scalars — no vectors move. */
  private[graft] def embDriftGauge(s: SparkSession,
      t: (String, String, String)): DataFrame = {
    val (sigT, vecT, statT) = t
    val occ = graft.engine.Layout.readPurged(s, sigT, "corpus_id")
      .groupBy(col("tb")).agg(count(lit(1)).as("k"))
    val nv = graft.engine.Layout.readPurged(s, vecT, "corpus_id")
      .agg(count(lit(1)).as("n_vec"))
    occ.agg(sum(col("k")).as("sig_rows"), count(lit(1)).as("nb"),
        max(col("k")).as("occ_max"))
      .crossJoin(broadcast(graft.engine.Layout.readTable(s, statT)))
      .crossJoin(broadcast(nv))
      .select(col("n_vec"), col("ab"),
        expr("shiftleft(cast(24 as bigint), ab)").as("cap"),
        round(col("n_vec").cast("double") /
          expr("cast(shiftleft(cast(24 as bigint), ab) as double)"), 6)
          .as("growth"),
        round(col("sig_rows").cast("double") / col("nb"), 6)
          .as("occ_avg"),
        col("occ_max"))
  }

  /** The emb gauge WIRED to the re-freeze (VERDICT r15 #5): when the
    * policy trips (engine.Maintenance.embNeedsRefreeze — ≥4× the
    * frozen design capacity, or a runaway bucket), rebuild under
    * `suffix` from the purge-aware vector-table membership and return
    * the new tables; None while the frozen width is still healthy.
    * SoakBench drives it end-to-end. */
  private[graft] def maybeRefreezeEmb(s: SparkSession, d: String,
      t: (String, String, String), suffix: String,
      growthMax: Double = 4.0, occSkewMax: Double = 64.0)
      : Option[(String, String, String)] = {
    val g = embDriftGauge(s, t).head()
    if (graft.engine.Maintenance.embNeedsRefreeze(
        g.getAs[Double]("growth"), g.getAs[Double]("occ_avg"),
        g.getAs[Long]("occ_max"), growthMax, occSkewMax))
      Some(refreezeEmb(s, d, suffix, t))
    else None
  }

  /** The daily probe: sign the batch with the frozen width, meet the
    * persisted signatures in a tb merge join, distinct the candidate
    * pairs, then exact-cosine re-rank against the persisted vectors
    * (merge on corpus_id; the batch vectors ride Layout.probeSide —
    * broadcast under the 128 MB source-stat gate, sort-merge above it;
    * VERDICT r14 closed the ungated-broadcast nit). Top-50 by cosine
    * with a total tie-break, the family's q_dedup_embedding_lsh
    * output discipline. Takes the batch as a FRAME so the streaming
    * runner can probe each micro-batch through the identical plan
    * (StreamRunner.runEmbProbeIndexed); `srcPath` is the parquet dir
    * the batch derives from — the gate's byte bound. */
  private[graft] def embIndexProbeOn(s: SparkSession,
      tables: (String, String, String), b: DataFrame,
      srcPath: String): DataFrame = {
    GraftFunctions.register(s)
    val (sigT, vecT, statT) = tables
    // purge-aware reads (round 15) — plain reads until a retention
    // purge lands a tombstone sidecar; see Layout.readPurged
    val idxSig = graft.engine.Layout.readPurged(s, sigT, "corpus_id")
    val idxVec = graft.engine.Layout.readPurged(s, vecT, "corpus_id")
    val bKeyed = embSign(s, b, statT)
      .select(col("vec_id").as("batch_id"), col("tb"))
    val bVec = embVecs(b).select(col("vec_id").as("batch_id"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val cand = idxSig.hint("merge").join(bKeyed, Seq("tb"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    cand.join(idxVec.hint("merge"), Seq("corpus_id"))
      .join(graft.engine.Layout.probeSide(bVec, srcPath), Seq("batch_id"))
      .select(col("batch_id"), col("corpus_id"),
        (GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
          (col("nrm") * col("q_nrm"))).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("batch_id"), col("corpus_id"))
      .limit(50)
  }

  private val embProbeSchema = StructType(Seq(
    StructField("batch_id", org.apache.spark.sql.types.LongType),
    StructField("corpus_id", org.apache.spark.sql.types.LongType),
    StructField("cos_sim", org.apache.spark.sql.types.DoubleType)))

  // ---- STANDING IVF index (round 16): the partition-pruning ANN ----
  // family joins the write-once layout. q_similarity_ivf fits its
  // coarse quantizer IN-PLAN on every run; here the portable-geometry
  // fit (scaladoc at that query — every step engine-exact) lands ONCE:
  // a k-row centroid table freezing the quantizer (plus fit_n, the
  // corpus count the cells were sized for), and a bucketed+sorted
  // cells table (corpus_id, cid, embedding, nrm) on the cell id — the
  // IVF "at rest" shape, so probes meet the cells in a merge join with
  // zero index-side Exchange and a real deployment's file pruning
  // falls out of the same layout. Freezing the centroids is what makes
  // absorb correct (appended vectors assign with the SAME quantizer —
  // the frozen-width/frozen-df argument, third time); the staleness it
  // introduces is exactly what ivfDriftGauge measures and
  // maybeReclusterIvf repairs.

  // Round 17 (VERDICT r16 #1): the coarse quantizer SIZES ITSELF from
  // the membership it fits — k = clamp(16, ceil(n / cellTarget), 4096)
  // — the way the emb family re-derives its plane width ab at
  // re-freeze. A fixed k=16 made every recluster repair balance but
  // not capacity: after a growth-13 trip each cell stayed 13× its
  // design occupancy, so probes scanned nprobe/k = a quarter of the
  // corpus at ANY scale. nprobe scales ∝ √k (recall budget grows with
  // the cell count while probe cost n·nprobe/k = n/√k still FALLS as
  // the index grows), floored at the historical 4 so every fixture
  // ≤ 8192 vectors keeps the byte-identical k=16/nprobe=4 plans of
  // rounds 10-16. Both derivations are integer/IEEE-exact and mirrored
  // in the oracle CTE (ivf_kk), so a drifted k is a hash mismatch.
  private val ivfRounds = 2
  private[graft] val ivfCellTarget = 512L // design rows per cell
  private[graft] def ivfKFor(n: Long, target: Long = ivfCellTarget): Int =
    math.min(4096L, math.max(16L, (n + target - 1) / target)).toInt
  private[graft] def ivfNprobeFor(k: Int): Int =
    math.max(4, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** Portable fixed-point view: vec_id, embedding, nrm, qv with
    * q_i = floor(v_i · 2^20) — the engine-exact integer geometry
    * (full argument at q_similarity_ivf). */
  private def ivfQuant(e0: DataFrame): DataFrame =
    e0.select(col("vec_id"), col("embedding"),
      sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("nrm"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(1048576.0)).cast("float")).as("qv"))

  /** Quantized distance rank key vs centroid `cvec`: |c|² − 2·q·c.
    * |qv|² is constant under per-vector argmin — dropped on BOTH
    * engines (constant shift preserves order and ties). */
  private def ivfDQ: Column = GraftFunctions.dot_d(col("cvec"), col("cvec")) -
    lit(2.0) * GraftFunctions.dot_d(col("qv"), col("cvec"))

  /** Nearest-centroid assignment, ties by cell id (min over the
    * (dist, cid) struct ≡ the oracle's row_number ordering). */
  private def ivfAssign(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .groupBy(col("vec_id").as("a_vid"))
      .agg(min(struct(ivfDQ.as("dist"), col("cid"))).as("m"))
      .select(col("a_vid").as("vec_id"), col("m.cid").as("cid"))

  /** The k-means coarse quantizer fit (k derived from the membership
    * via ivfKFor, 2 Lloyd rounds, md5-ranked seeds, floor(sum/count)
    * centroids) over `e` — the q_similarity_ivf fit factored so the
    * standing index freezes the SAME quantizer the in-plan query
    * derives. */
  private def ivfFit(e: DataFrame, k: Int): DataFrame = {
    val hRank =
      conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
    var cents = e.orderBy(hRank, col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cvec"))
    (1 to ivfRounds).foreach { _ =>
      cents = ivfAssign(e, cents)
        .join(e, Seq("vec_id"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"),
          (0 until 64).map(i =>
            sum(element_at(col("qv"), i + 1)).as(s"s$i")): _*)
        .select(col("cid"), array((0 until 64).map(i =>
          floor(col(s"s$i") / col("n")).cast("float")): _*).as("cvec"))
    }
    cents
  }

  /** Land the frozen quantizer (centroids + fit_n + the DERIVED k and
    * the cell_target it was derived with — recluster re-reads the
    * target so capacity re-derivation survives non-default builds) and
    * the bucketed cells table over the vectors `sel` keeps. */
  private[graft] def buildIvfIndexOn(s: SparkSession, d: String,
      suffix: String, sel: DataFrame => DataFrame,
      cellTarget: Long = ivfCellTarget): (String, String) = Leaves.scope {
    GraftFunctions.register(s)
    val bk = graft.engine.Layout.bucketsFor(s"$d/embeddings.parquet")
    val statT = s"graft_ivfcent_idx$suffix"
    val cellsT = s"graft_ivfcell_idx$suffix"
    val corp = Leaves.land(ivfQuant(sel(Tables.t(s, d, "embeddings"))))
    val fitN = corp.count()
    val k = ivfKFor(fitN, cellTarget)
    val cents = Leaves.land(ivfFit(corp, k))
    cents.withColumn("fit_n", lit(fitN))
      .withColumn("k", lit(k))
      .withColumn("cell_target", lit(cellTarget))
      .write.mode("overwrite").format("parquet").saveAsTable(statT)
    graft.engine.Layout.writeBucketed(
      ivfAssign(corp, cents).join(corp, Seq("vec_id"))
        .select(col("vec_id").as("corpus_id"), col("cid"),
          col("embedding"), col("nrm")),
      cellsT, "cid", bk)
    (statT, cellsT)
  }

  /** One absorb day from an ALREADY-MATERIALIZED frame of (vec_id,
    * embedding) rows — the streaming loop's micro-batch shape: assign
    * with the FROZEN centroids, append into the cells table — one new
    * file per touched bucket, the standing rows untouched. */
  private[graft] def absorbIvfFrame(s: SparkSession, t: (String, String),
      bk: Int, day0: DataFrame): Unit = Leaves.scope {
    val (statT, cellsT) = t
    val day = Leaves.land(ivfQuant(day0))
    val cents = graft.engine.Layout.readTable(s, statT)
      .select(col("cid"), col("cvec"))
    graft.engine.Layout.appendBucketed(
      ivfAssign(day, cents).join(day, Seq("vec_id"))
        .select(col("vec_id").as("corpus_id"), col("cid"),
          col("embedding"), col("nrm")),
      cellsT, "cid", bk)
  }

  /** One absorb day by corpus predicate (the batch queries' shape). */
  private[graft] def absorbIvfBatch(s: SparkSession, d: String,
      t: (String, String), bk: Int, batch: Column): Unit =
    absorbIvfFrame(s, t, bk, Tables.t(s, d, "embeddings").filter(batch))

  /** Growth/occupancy drift gauge: current membership vs fit_n (the
    * corpus the quantizer was fit on) and per-cell occupancy — the
    * quantity that multiplies probe candidate volume when cells go
    * stale or hot. Purge-aware reads; one map-side-combinable count
    * over the cells table's bucket layout + scalars. */
  private[graft] def ivfDriftGauge(s: SparkSession,
      t: (String, String)): DataFrame = {
    val (statT, cellsT) = t
    val occ = graft.engine.Layout.readPurged(s, cellsT, "corpus_id")
      .groupBy(col("cid")).agg(count(lit(1)).as("k"))
    val meta = graft.engine.Layout.readTable(s, statT)
      .agg(max(col("fit_n")).as("fit_n"))
    occ.agg(sum(col("k")).as("n_vec"), count(lit(1)).as("n_cells"),
        max(col("k")).as("occ_max"))
      .crossJoin(broadcast(meta))
      .select(col("n_vec"), col("fit_n"),
        round(col("n_vec").cast("double") / col("fit_n"), 6).as("growth"),
        round(col("n_vec").cast("double") / col("n_cells"), 6).as("occ_avg"),
        col("occ_max"))
  }

  /** RE-CLUSTER: refit the quantizer from the purge-aware cells
    * membership (this family's manifest IS its cells table) and
    * re-land under `suffix` — build-new-then-switch. Capacity
    * re-derives too (round 17, VERDICT r16 #1): the rebuild rides
    * buildIvfIndexOn, which sizes k from the SURVIVING membership at
    * the cell_target frozen in the stat table — so a recluster after a
    * growth trip restores design occupancy instead of re-landing the
    * stale k over a grown corpus. */
  private[graft] def reclusterIvf(s: SparkSession, d: String,
      suffix: String, t: (String, String)): (String, String) = {
    val target = graft.engine.Layout.readTable(s, t._1)
      .agg(max(col("cell_target"))).head().getLong(0)
    val member = graft.engine.Layout.readPurged(s, t._2, "corpus_id")
      .select(col("corpus_id").as("vec_id"))
    buildIvfIndexOn(s, d, suffix, _.join(member, Seq("vec_id"), "left_semi"),
      cellTarget = target)
  }

  /** The gauge WIRED to the re-cluster: fires reclusterIvf when
    * engine.Maintenance.ivfNeedsRecluster trips. */
  private[graft] def maybeReclusterIvf(s: SparkSession, d: String,
      t: (String, String), suffix: String, growthMax: Double = 4.0,
      occSkewMax: Double = 8.0): Option[(String, String)] = {
    val g = ivfDriftGauge(s, t).head()
    if (graft.engine.Maintenance.ivfNeedsRecluster(
        g.getAs[Double]("growth"), g.getAs[Double]("occ_avg"),
        g.getAs[Long]("occ_max"), growthMax, occSkewMax))
      Some(reclusterIvf(s, d, suffix, t))
    else None
  }

  /** The daily probe: quantize the batch, rank the FROZEN centroids
    * per batch vector (k-row broadcast; the nprobe nearest — derived
    * from the frozen k via ivfNprobeFor; ties by cell id — the
    * oracle's row_number ordering), meet the cells table in a cid
    * merge join (zero Exchange on the index side — its bucketed scan
    * carries the partitioning), exact float cosine re-rank, top-50
    * with a total tie-break — the embIndexProbeOn output discipline.
    * The probe frame is ~nprobe× the batch rows, each carrying the
    * full embedding, so its broadcast gate rides probeSide with
    * expansion = nprobe (VERDICT r16 #2 — the ADVICE r15
    * exploded-frame rule applied to its last unconverted callsite). */
  private[graft] def ivfIndexProbeOn(s: SparkSession, t: (String, String),
      b: DataFrame, srcPath: String,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    GraftFunctions.register(s)
    val (statT, cellsT) = t
    val stat = graft.engine.Layout.readTable(s, statT)
    val np = ivfNprobeFor(stat.agg(max(col("k"))).head().getInt(0))
    val cents = stat.select(col("cid"), col("cvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
    val probes = ivfQuant(b).crossJoin(broadcast(cents))
      .withColumn("dist", ivfDQ)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= np)
      .select(col("vec_id").as("batch_id"), col("cid"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    // excludeIds: the streaming loop's self-exclusion (a replay after a
    // crashed absorb must not pair the batch against its own absorbed
    // copy — probeAbsorbStep's determinism argument, applied here)
    val cellsRead0 = graft.engine.Layout.readPurged(s, cellsT, "corpus_id")
    val cellsRead = excludeIds.fold(cellsRead0)(ex =>
      cellsRead0.join(graft.engine.Layout.probeSide(
          ex.select(col(ex.columns.head).as("corpus_id")), srcPath),
        Seq("corpus_id"), "left_anti"))
    cellsRead.hint("merge")
      .join(graft.engine.Layout.probeSide(probes, srcPath,
        expansion = np.toDouble), Seq("cid"))
      .select(col("batch_id"), col("corpus_id"),
        (GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
          (col("nrm") * col("q_nrm"))).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("batch_id"), col("corpus_id"))
      .limit(50)
  }

  private val ivfProbeSchema = embProbeSchema // same probe output shape

  /** The full capacity-repair lifecycle as one landed artifact
    * (round 17, VERDICT r16 #1 "done" clause): build the standing
    * index at a deliberately small cell_target (16 rows/cell — at the
    * fixture scale the DEFAULT target clamps k to the 16 floor, which
    * would make a "resize" vacuous), absorb a day on the frozen
    * quantizer, then RECLUSTER — k re-derives from the grown
    * membership (fixture sf0.1: 57 → 60 cells), nprobe from the new k.
    * The day-2 probe against the reclustered index is DuckDB-oracled
    * via a from-scratch fit over corpus ∪ absorbed at the same target
    * (recluster ≡ fresh-fit-over-survivors, the MaintenanceSpec
    * invariant), so a quantizer that failed to re-derive its capacity
    * parameter is a hash mismatch, not a slow probe. */
  private[graft] def ivfIndexReclustered(s: SparkSession,
      d: String): (String, String) = {
    val bk = graft.engine.Layout.bucketsFor(s"$d/embeddings.parquet")
    val h = graft.engine.Layout.indexSuffix(s, d, bk)
    Memo.context(s, "ivfIndexReclustered", h) {
      val t = buildIvfIndexOn(s, d, s"rc_$h",
        _.filter(col("vec_id") % 10 =!= 0), cellTarget = 16L)
      absorbIvfBatch(s, d, t, bk, col("vec_id") % 20 === 0)
      reclusterIvf(s, d, s"rr_$h", t)
    }
  }

  /** doc_id + h0..h{nSig-1} minhash signature columns.
    * Each 3-word shingle is string-hashed ONCE to a 30-bit base; the
    * nSig permutations are multiply-mod integer hashes of that base
    * (permConsts) — cheaper than nSig string hashes AND exactly
    * reproducible in DuckDB, which is what upgrades q_dedup_minhash /
    * q_dedup_cluster / q_graph_pagerank from rows-only to hash-oracled.
    * The 30-bit base space admits rare shingle collisions (~n²/2³¹
    * pairs corpus-wide); a collision merges two shingle identities in
    * BOTH engines identically, and the recall audit
    * (q_audit_minhash_recall) pins that the estimator still surfaces
    * every true j ≥ 0.9 pair at every shipped SF.
    * No distinct() on shingles: min-aggregation is duplicate-idempotent,
    * so the dedup shuffle is pure waste. */
  private def minhashSig(docs: DataFrame): DataFrame = {
    // spread (r17): the shingle explode below is the CPU stage, and the
    // 1-row-group documents scan otherwise serializes it on one task
    // (Tables.spread scaladoc; measured on the minhash consumers)
    val base = Tables.spread(docs, "doc_id")
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("sh"))
      .select(col("doc_id"), (hv60(col("sh")) % 1073741824L).as("b"))
    def h(i: Int): Column =
      (lit(permConsts(i)._1) * col("b") + lit(permConsts(i)._2)) % 2147483647L
    base.groupBy(col("doc_id"))
      .agg(min(h(0)).as("h0"),
        (1 until nSig).map(i => min(h(i)).as(s"h$i")): _*)
  }

  /** Connected components over an undirected pair list (da, db) by
    * iterative min-label propagation: every node repeatedly adopts the
    * smallest label among itself and its neighbors until fixpoint.
    * Deterministic (cluster id = min doc_id reachable); each iteration
    * is one shuffle by node id — the standard large-graph approach when
    * a graph library isn't warranted. Near-dup clusters are almost
    * always shallow (dups of dups), so the first rounds are plain
    * one-hop propagation; a graph still unconverged after a few rounds
    * switches on POINTER DOUBLING (label(v) ← label(label(v))), which
    * compresses label chains geometrically so total rounds scale with
    * log(diameter), not diameter. Exiting via maxIter without a
    * fixpoint THROWS — truncated labels are silently-wrong cluster ids
    * downstream, invisible at production scale where no oracle runs. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // a leaf per round truncates lineage (else planning time grows with
    // the rounds); each round's leaf drops the one before it
    val edges = Leaves.land(pairs.select(col("da").as("a"), col("db").as("b"))
      .unionByName(pairs.select(col("db").as("a"), col("da").as("b"))))
    var labels = Leaves.land(edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")))
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum(col("label"))).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // labels only ever decrease elementwise, so an unchanged sum is an
    // exact fixpoint test — one aggregate instead of a join per round.
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    // r17 optimization note: batching TWO rounds per checkpoint (the
    // pagerank VERDICT r11 #7 shape, with round 1 behind a cache so it
    // computes once) was tried and MEASURED SLOWER in an in-session
    // A/B on the minhash graph (old 0.50 s vs batched 1.04 s warm,
    // 4 reps each, loads matched): the labels frame appears twice per
    // round, so the batch needs an InMemoryRelation materialization
    // whose write-path overhead exceeds the saved checkpoint+sum round
    // trips, and a converged graph always pays a full wasted second
    // round. Left as-is deliberately.
    while (!converged && i < maxIter) {
      val viaNeighbors = edges
        .join(labels, col("b") === col("node"))
        .groupBy(col("a").as("node2"))
        .agg(min(col("label")).as("nlabel"))
      var next = labels.join(viaNeighbors, col("node") === col("node2"), "left")
        .select(col("node"), least(col("label"),
          coalesce(col("nlabel"), col("label"))).as("label"))
      if (i >= 3) {
        // deep chain: compress pointers. label(v) is itself a node id,
        // so joining the label map against itself adopts the label's
        // own (never larger) label — two hops per round, compounding.
        // The checkpoint stops the self-join from computing the
        // neighbor-min subtree twice.
        labels = Leaves.advance(labels, next)
        next = labels.join(
          labels.select(col("node").as("ln"), col("label").as("llabel")),
          col("label") === col("ln"), "left")
          .select(col("node"), least(col("label"),
            coalesce(col("llabel"), col("label"))).as("label"))
      }
      labels = Leaves.advance(labels, next)
      val s = labelSum(labels)
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: no fixpoint after $maxIter rounds (label sum " +
        s"still falling at $prevSum) — component diameter exceeds the " +
        "round budget even with pointer doubling; raise maxIter")
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR edge
    * rewriting — the MapReduce-native CC formulation (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14).
    * Large-star links every LARGER neighbor of a node to the minimum
    * of its neighborhood-and-self; small-star links a node and its
    * SMALLER neighbors to their minimum. Both steps preserve
    * connectivity, only ever attach a node to a smaller one, and the
    * alternation provably converges to min-rooted stars in O(log² n)
    * rounds. The contrast with [[connectedComponents]]: label
    * propagation carries a node→label table through every round and
    * needs pointer doubling for deep chains; star rewriting shrinks
    * the EDGE SET itself — per round each node contributes one min to
    * a partial aggregate and the candidate edges rewrite in a keyed
    * equi-join, so per-key state stays bounded no matter how hot a
    * node is. That is the shape that survives a web-scale dup graph
    * where one boilerplate cluster touches millions of docs.
    *
    * The loop exit is an EXACT structural test, not a checksum: the
    * oriented (big → small) edge set is a min-rooted star forest iff
    * no node is both a source and a target AND every source has
    * exactly one target — and a star forest is a fixpoint of both
    * operations, so the test never exits early. One two-column agg
    * per round ((#targets, max targets-per-source) over the edge
    * set's distinct-key aggregate) instead of a count + exceptAll
    * edge-set diff. Exiting via maxIter without a star THROWS —
    * silently-wrong cluster ids are invisible at production scale,
    * same doctrine as the label propagation twin. */
  def starComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    var edges = Leaves.land(pairs
      .select(greatest(col("da"), col("db")).as("hi"),
        least(col("da"), col("db")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct())
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) ∀ v ∈ Γ(u), v > u
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val lmins = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
      val ls = Leaves.advance(edges, sym.join(lmins, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo")).distinct())
      // small-star on the (big → small)-oriented output: m(u) = min of
      // u's smaller neighbors; connect u AND each smaller neighbor to m
      val smins = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val ss = Leaves.advance(ls, ls.join(smins, "hi")
        .select(col("lo").as("v"), col("m"))
        .unionByName(smins.select(col("hi").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("hi"), col("m").as("lo")).distinct())
      edges = ss
      // star-forest test: sources with >1 target or any source that is
      // also a target ⇒ not converged. Exact (see scaladoc), and the
      // whole test is one keyed agg + one 2-row rollup on the
      // checkpointed edges — no edge-set diff.
      val perSource = edges.groupBy(col("hi"))
        .agg(countDistinct(col("lo")).as("nr"))
      val targets = edges.select(col("lo").as("hi")).distinct()
      val bad = perSource.agg(max(col("nr")).as("maxr")).crossJoin(
        perSource.join(targets, Seq("hi"), "left_semi")
          .agg(count(lit(1)).as("xover"))).head()
      converged = (bad.isNullAt(0) || bad.getLong(0) <= 1L) && bad.getLong(1) == 0L
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"starComponents: not a star forest after $maxIter " +
        "large-star/small-star rounds — raise maxIter")
    val nodes = pairs.select(col("da").as("node"))
      .unionByName(pairs.select(col("db").as("node"))).distinct()
    nodes.join(edges.select(col("hi").as("node"), col("lo").as("root")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("cluster_id"))
  }

  override def queries: Map[String, Q] = Map(
    // Near-dup clustering: minhash candidate pairs -> transitive
    // closure -> cluster id per doc. Rows-only (ground-truthed against
    // a driver-side union-find in DedupSimilaritySpec). The iterative
    // label loop runs inside plans.Deferred — building the DataFrame
    // runs no jobs (LazyBuildSpec); the loop fires at first execution.
    "q_dedup_cluster" -> ((s, d) => {
      val idT = Tables.t(s, d, "documents").schema("doc_id").dataType
      Deferred.df(s, "dedup_cluster", StructType(Seq(
        StructField("doc_id", idT), StructField("cluster_id", idT)))) { () =>
        // localCheckpoint BEFORE the loop (r18, guide §1.2): the CC
        // edge union references `pairs` twice, and without a barrier
        // the whole minhash shingle→sig→band pipeline is PLANNED TWICE
        // and not exchange-reused (task-count witness: q_dedup_cluster
        // 348 tasks/run vs 161 for one pair derivation + 29 for the
        // loop). Same idiom as q_dedup_apply/q_dedup_cascade.
        val pairs = Leaves.land(queries("q_dedup_minhash")(s, d)
          .select(col("da"), col("db")))
        connectedComponents(pairs)
          .select(col("node").as("doc_id"), col("cluster_id"))
          .orderBy(col("doc_id"))
      }
    }),
    // Same closure, different engine: the large-star/small-star
    // edge-rewriting CC (see starComponents) over the same minhash
    // pair graph. Both cluster queries share one oracle (the
    // recursive-CTE closure) — the point of the second one is the
    // bounded-per-key-state algorithm, proven bit-identical to the
    // label-propagation twin on every fixture.
    "q_dedup_cluster_star" -> ((s, d) => {
      val idT = Tables.t(s, d, "documents").schema("doc_id").dataType
      Deferred.df(s, "dedup_cluster_star", StructType(Seq(
        StructField("doc_id", idT), StructField("cluster_id", idT)))) { () =>
        // localCheckpoint BEFORE the loop (r18): starComponents reads
        // `pairs` once for the edge orientation and TWICE more for the
        // final node labeling — un-checkpointed, the minhash pipeline
        // ran 3× per execution (task-count witness: 478 tasks/run vs
        // 161 + 30 for derivation + loop).
        val pairs = Leaves.land(queries("q_dedup_minhash")(s, d)
          .select(col("da"), col("db")))
        starComponents(pairs)
          .select(col("node").as("doc_id"), col("cluster_id"))
          .orderBy(col("doc_id"))
      }
    }),
    // Exact dedup: canonical doc per normalized-text hash (min doc_id
    // wins — deterministic, SURVEY.md §7 hard part 3).
    "q_dedup_exact" -> ((s, d) => {
      Tables.t(s, d, "documents")
        .groupBy(md5(lower(trim(col("text")))).as("norm_hash"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"), col("norm_hash"))
        .orderBy(col("doc_id"))
    }),

    // Dedup keeping the best representative (longest doc wins, doc_id
    // tiebreak) — the policy real corpus dedup uses, vs min-id above.
    // Written in the natural window-dedup form; the RankFilterToAggregate
    // optimizer rule (plans/RankFilterToAggregate.scala) rewrites it to a
    // min_by aggregate — map-side partial aggregation, no window sort —
    // asserted in PlanSpec.
    "q_dedup_keep_best" -> ((s, d) => {
      GraftFunctions.register(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("norm_hash"))
        .orderBy(desc("n_chars"), col("doc_id"))
      Tables.t(s, d, "documents")
        .withColumn("norm_hash", md5(lower(trim(col("text")))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("n_chars"), col("lang"), col("norm_hash"))
        .orderBy(col("doc_id"))
    }),

    // The curation funnel end-to-end: exact dedup (keep-best) →
    // quality gate → per-language doc/token budget. One plan, the
    // whole training-data pipeline in miniature: the window dedup
    // rewrites to min_by (RankFilterToAggregate), the quality gate is
    // a codegen'd scan filter, and the final agg is map-side partial.
    "q_curation_funnel" -> ((s, d) => {
      GraftFunctions.register(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("norm_hash"))
        .orderBy(desc("n_chars"), col("doc_id"))
      val toks = filter(split(lower(col("text")), " "), t => t =!= "")
      val deduped = Tables.t(s, d, "documents")
        .withColumn("norm_hash", md5(lower(trim(col("text")))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      deduped
        .withColumn("n_tokens", size(toks).cast("int"))
        .withColumn("chars_per_token",
          col("n_chars").cast("double") / col("n_tokens"))
        .filter(col("n_tokens") >= 20 && col("chars_per_token").between(3, 8))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(ceil(col("n_chars").cast("double") / 4).cast("long")).as("token_budget"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy(col("lang"))
    }),

    // Deterministic stratified sampling as a query — the training-mix
    // constructor: md5-derived bucket (0-99) per doc key, per-language
    // keep rates. Hash sampling is stable across runs, partitionings
    // and cluster sizes, unlike df.sample (engine/Sample.scala is the
    // faster xxhash64 utility form; md5 here because both engines
    // compute it identically, making the sample oracle-checkable).
    "q_sample_stratified" -> ((s, d) => {
      val bucket = pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long"), lit(100))
      val rate = when(col("lang") === "en", 50)
        .when(col("lang") === "de", 25).otherwise(10)
      Tables.t(s, d, "documents")
        .withColumn("bucket", bucket)
        .filter(col("bucket") < rate)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Per-language corpus statistics (training-mix reporting).
    "q_text_stats_by_lang" -> ((s, d) => {
      Tables.t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"))
    }),

    // Int8 quantization of embeddings (max-abs scaling) — the storage/
    // bandwidth path for billion-vector ANN.
    "q_embed_quantize" -> ((s, d) => {
      val e = col("embedding")
      val mx = greatest(abs(array_max(e)), abs(array_min(e)))
      Tables.t(s, d, "embeddings")
        .select(col("vec_id"), mx.cast("double").as("scale"),
          transform(e, x =>
            round(x.cast("double") / mx.cast("double") * 127, 0).cast("int"))
            .as("q8"))
        .select(col("vec_id"), col("scale"),
          element_at(col("q8"), 1).as("q8_first"),
          aggregate(col("q8"), lit(0L), (a, x) => a + abs(x)).as("q8_l1"))
        .orderBy(col("vec_id"))
    }),

    // Cross-modal join: text metadata ⋈ embeddings (doc_id = vec_id),
    // per-language vector stats. Derived norms are rounded to 6dp and
    // summed as exact decimals — order-independent float aggregation.
    "q_doc_embed_join" -> ((s, d) => {
      GraftFunctions.register(s)
      val nrm = round(sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))), 6)
      Tables.t(s, d, "documents")
        .join(Tables.t(s, d, "embeddings"),
          col("doc_id") === col("vec_id"))
        .withColumn("nrm", nrm)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("nrm").cast("decimal(18,6)")).cast("double").as("sum_norm"),
          (sum(col("nrm").cast("decimal(18,6)")).cast("double") / count(lit(1)))
            .as("avg_norm"),
          max(col("nrm")).as("max_norm"))
        .orderBy(col("lang"))
    }),

    // Word-set Jaccard over an audit slice (ground truth for LSH).
    "q_dedup_ngram" -> ((s, d) => {
      val tok = tokens(Tables.t(s, d, "documents"), Some(100)).cache() // 3 readers
      val cnt = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = tok.as("a").join(tok.as("b"),
          col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("inter_n"))
      val jac = col("inter_n").cast("double") /
        (col("ca.n") + col("cb.n") - col("inter_n"))
      inter.join(cnt.as("ca"), col("da") === col("ca.doc_id"))
        .join(cnt.as("cb"), col("db") === col("cb.doc_id"))
        .select(col("da"), col("db"), col("inter_n"),
          (col("ca.n") + col("cb.n") - col("inter_n")).as("union_n"),
          jac.as("jac"))
        .filter(col("jac") >= 0.5)
        .orderBy(col("da"), col("db"))
    }),

    // EXACT set-similarity self-join via prefix filtering (the
    // AllPairs/PPJoin family) — the deterministic counterpart to
    // minhash: same 3-shingle basis, same jac ≥ 0.9 threshold, but
    // provably NO false negatives, so the full DuckDB exact-pair
    // recomputation oracles it hash-exact. The filter: order each
    // doc's shingles by (global frequency, shingle) — rare first —
    // and index only the first n − ceil(0.9·n) + 1 of them; any pair
    // with jac ≥ 0.9 must collide inside that prefix (Bayardo et al.,
    // AllPairs). Candidates meet in a shingle EQUI-join over prefixes
    // (~10% of the exploded rows), with the jaccard size bound in the
    // join condition; verification intersects the two bounded per-doc
    // shingle arrays (array_intersect — codegen'd, no second corpus
    // join). ceil(0.9·n) is computed in INTEGER arithmetic
    // ((9n+9) div 10): double 0.9·n can land above the true product
    // (10·0.9 → 9.000…002) and ceil away a needed prefix slot — a
    // silent false-negative the oracle would catch as a missing pair.
    // Scale: freq table is vocab-sized; the rank window partitions BY
    // DOC; prefix join scales with duplicates, not pairs.
    "q_dedup_prefix_join" -> ((s, d) => {
      val sh = Tables.spread(Tables.t(s, d, "documents"), "doc_id")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")))
          .as("sh"))
        .cache() // consumed by freq, per-doc counts, prefixes, and sets
      val freq = sh.groupBy(col("sh")).agg(count(lit(1)).as("f"))
      val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("f"), col("sh"))
      val prefix = sh.join(freq, "sh").join(n, "doc_id")
        .withColumn("rk", row_number().over(w))
        // `div`, not `/`: Column./ is double division in Spark
        .filter(col("rk") <= expr("n - (n * 9 + 9) div 10 + 1"))
        .select(col("doc_id"), col("sh"), col("n"))
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
            col("a.n") * 10 >= col("b.n") * 9 &&
            col("b.n") * 10 >= col("a.n") * 9)
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      val sets = sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("sh"))).as("shs"),
          count(lit(1)).as("n"))
      cand
        .join(sets.select(col("doc_id").as("da"), col("shs").as("sa"),
          col("n").as("na")), "da")
        .join(sets.select(col("doc_id").as("db"), col("shs").as("sb"),
          col("n").as("nb")), "db")
        .select(col("da"), col("db"),
          size(array_intersect(col("sa"), col("sb"))).cast("long")
            .as("inter_n"),
          (col("na") + col("nb")).as("sum_n"))
        .withColumn("union_n", col("sum_n") - col("inter_n"))
        .filter(col("inter_n") * 10 >= col("union_n") * 9)
        .select(col("da"), col("db"), col("inter_n"), col("union_n"))
        // cached BELOW the presentation sort: q_dedup_apply consumes
        // this exact pair set as its edge list — the CacheManager
        // matches the unordered fragment, so the whole
        // prefix+candidate+verify pipeline runs once per session, not
        // once per consumer
        .cache()
        .orderBy(col("da"), col("db"))
    }),

    // The dedup END PRODUCT, oracled end-to-end: exact near-dup pairs
    // (q_dedup_prefix_join) → connected components (iterative
    // min-label propagation) → one canonical doc per cluster. Because
    // the pair graph is EXACT (prefix filtering, no sketch), DuckDB
    // can independently recompute the whole thing — transitive
    // closure via a recursive CTE — and the driver hash-checks every
    // doc's cluster id and keep verdict. This is the query a corpus
    // curator actually runs; the sketch paths (minhash/simhash) are
    // its cheaper approximations. Label propagation cannot be one lazy
    // plan, so the loop runs inside plans.Deferred (first execution),
    // keeping the build job-free like every other query.
    "q_dedup_apply" -> ((s, d) => {
      val idT = Tables.t(s, d, "documents").schema("doc_id").dataType
      Deferred.df(s, "dedup_apply", StructType(Seq(
        StructField("doc_id", idT), StructField("cluster_id", idT),
        StructField("is_kept", BooleanType)))) { () =>
        // localCheckpoint the verified pair set ONCE before the
        // component loop: the loop's edge union references the pairs
        // twice, and at 10× scale the cached prefix+verify fragment is
        // big enough to evict mid-loop — a recompute then re-runs the
        // whole shingle join. The checkpoint pins the (tiny — dups are
        // rare) pair list itself, so every loop round reads rows, not
        // the subtree that produced them.
        val pairs = Leaves.land(queries("q_dedup_prefix_join")(s, d)
          .select(col("da"), col("db")))
        val cc = connectedComponents(pairs)
        Tables.t(s, d, "documents").select(col("doc_id"))
          .join(cc, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
          .withColumn("is_kept", col("doc_id") === col("cluster_id"))
          .orderBy(col("doc_id"))
      }
    }),

    // Per-doc dedup DISPOSITION LINEAGE — the cascade a corpus curator
    // actually audits: stage 1 exact dedup (normalized-text hash, keep
    // the longest then lowest id), stage 2 near-dup components over
    // the SURVIVORS (the q_dedup_prefix_join exact jaccard ≥ 0.9 pair
    // set restricted to both-endpoints-survivors — pairwise jaccard
    // doesn't depend on other docs, so restricting the all-docs pair
    // set IS the survivor pair set), each doc labeled with WHICH stage
    // removed it and WHO won. This answers the operational question
    // "why did doc X disappear from the training set" with a
    // hash-checkable audit trail; at 100 TB it is the lineage table a
    // curation run ships alongside the kept corpus. Oracled end-to-end
    // (exact window + the q_dedup_apply recursive-closure CTEs on the
    // survivor slice).
    "q_dedup_cascade" -> ((s, d) => {
      val idT = Tables.t(s, d, "documents").schema("doc_id").dataType
      Deferred.df(s, "dedup_cascade", StructType(Seq(
        StructField("doc_id", idT),
        StructField("stage", org.apache.spark.sql.types.StringType),
        StructField("winner_id", idT),
        StructField("kept_frac", org.apache.spark.sql.types.DoubleType)))) { () =>
        val docs = Tables.t(s, d, "documents")
        // r18 (guide §1.2): `ex` is referenced FOUR times downstream
        // (surv feeds both endpoint restrictions, lin reads it, and
        // lin is itself read twice) — per-stage accounting showed the
        // exact-dedup window subtree executing in identical stage
        // PAIRS (6.2 s + 6.2 s run over 10-task twins). ex is one slim
        // row per doc, so a checkpoint barrier is docs-sized and cuts
        // the window re-runs (interleaved A/B at sf0.1, 4 cores: median
        // 4.48 s with the barriers vs 6.45 s without, 6 of 6 pairs).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("h")).orderBy(desc("n_chars"), col("doc_id"))
        val ex = Leaves.land(docs
          .withColumn("h", md5(lower(trim(col("text")))))
          .select(col("doc_id"), col("h"), col("n_chars"))
          .withColumn("rn", row_number().over(w))
          .withColumn("ex_winner", first(col("doc_id")).over(w))
          .select(col("doc_id"), col("rn"), col("ex_winner")))
        val surv = ex.filter(col("rn") === 1).select(col("doc_id"))
        // both-endpoint survivor restriction of the shared pair set
        // (CacheManager reuses the verified prefix-join fragment);
        // localCheckpoint before the component loop — q_dedup_apply's
        // eviction argument applies verbatim
        val pairs = Leaves.land(queries("q_dedup_prefix_join")(s, d)
          .select(col("da"), col("db"))
          .join(surv.select(col("doc_id").as("da")), Seq("da"))
          .join(surv.select(col("doc_id").as("db")), Seq("db")))
        val cc = connectedComponents(pairs)
        val nearDropped =
          col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id")
        // winners resolve TRANSITIVELY: an exact-dropped doc's
        // hash-group winner can itself fall to stage 2, so the exact
        // branch chases one more hop through the cluster labels —
        // after which every winner is kept (a near winner is its
        // cluster's minimum, which keeps itself). One-hop closure
        // spec'd in DedupSimilaritySpec. `ex` already carries exactly
        // one row per doc (window over the full table) — no join back
        // onto documents; the only corpus-sized shuffles are the hash
        // window and the final doc_id sort, and the cc sides are
        // dup-cluster-sized (broadcast at any realistic dup rate).
        // lin is read twice (survDocs' semi-join and the final attach)
        // — same barrier argument as ex above, one slim row per doc
        val lin = Leaves.land(ex
          .join(cc, col("doc_id") === col("node"), "left")
          .join(cc.select(col("node").as("ex_winner"),
            col("cluster_id").as("wcc")), Seq("ex_winner"), "left")
          .select(col("doc_id"),
            when(col("rn") > 1, lit("exact"))
              .when(nearDropped, lit("near"))
              .otherwise(lit("kept")).as("stage0"),
            when(col("rn") > 1, coalesce(col("wcc"), col("ex_winner")))
              .when(nearDropped, col("cluster_id"))
              .otherwise(col("doc_id")).as("winner_id")))
        // stage 3 (VERDICT r14 #6): the SUBSTRING pass over the
        // post-dedup survivors — a doc that cleared both whole-doc
        // stages can still carry cross-doc verbatim spans the span
        // cutter (q_dedup_span_apply) would trim. Spans are recomputed
        // on the SURVIVOR slice (a dup whose only twin was dropped in
        // stage 1/2 is no longer duplicated text); disposition
        // `trimmed` keeps the doc (winner = itself) and reports
        // kept_frac — the word fraction surviving the cut — the
        // number a curation budget actually tracks. Dropped docs get
        // kept_frac 0, untouched keeps 1. The span pipeline is the
        // factored dupSpans (span_len sums are exact coverage — the
        // gaps-and-islands runs are disjoint by construction).
        val survDocs = Tables.spread(docs, "doc_id")
          .join(lin.filter(col("stage0") === "kept").select(col("doc_id")),
            Seq("doc_id"), "left_semi")
        val cov = dupSpans(survDocs, transient = true)
          .groupBy(col("doc_id")).agg(sum(col("span_len")).as("cov"))
        val nw = docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("nw"))
        lin.join(cov, Seq("doc_id"), "left")
          .join(nw, Seq("doc_id"))
          .select(col("doc_id"),
            when(col("stage0") =!= "kept", col("stage0"))
              .when(col("cov").isNotNull, lit("trimmed"))
              .otherwise(lit("kept")).as("stage"),
            col("winner_id"),
            when(col("stage0") =!= "kept", lit(0.0))
              .when(col("cov").isNotNull,
                round((col("nw") - col("cov")).cast("double") / col("nw"), 6))
              .otherwise(lit(1.0)).as("kept_frac"))
          .orderBy(col("doc_id"))
      }
    }),

    // EXACT duplicated-substring spans (the ExactSubstr pass of
    // "Deduplicating Training Data Makes Language Models Better",
    // Lee et al. 2022, §3.1 generalized to word grams): every maximal
    // run of word positions whose 5-gram also occurs in ANOTHER
    // document — the verbatim cross-document repeats a substring-level
    // dedup pass would cut, with byte offsets a downstream splitter
    // can apply. Shape: positional 5-grams built per-doc with a
    // transform (no window), gram → distinct-doc count (corpus-keyed
    // agg — spread), hits join back on the gram, then a
    // gaps-and-islands merge per doc (pos − row_number is constant
    // within a run; the window partitions BY DOC, so runs merge in
    // parallel across docs — no global sort). Scale: the dup-gram
    // table is linear in *duplicated* text, not corpus size, and both
    // the distinct-doc count and the join-back are keyed by
    // xxhash64(gram), never the raw string — the gram text never
    // crosses the wire (measured 2.2× shuffle cut at 10×; a 64-bit
    // collision merging two distinct grams needs ~2³² distinct grams
    // per partition-sized scope, odds ~1e-9 at 10× test scale — and
    // the oracle, which joins raw strings, would surface one as a
    // hash mismatch).
    "q_dedup_substring" -> ((s, d) =>
      dupSpans(Tables.spread(Tables.t(s, d, "documents"), "doc_id"))
        .orderBy(col("doc_id"), col("span_start"))),

    // The substring pass's APPLY step (Lee et al. 2022 §3.1 — detect
    // THEN CUT): every word position covered by a q_dedup_substring
    // span is removed and the survivors re-join in order, yielding the
    // cleaned text a substring-level dedup actually ships. Shape: the
    // span list aggregates per doc (few spans per doc — duplicated
    // text, not corpus size), joins the doc ONCE on doc_id, and the
    // cut is a pure codegen'd higher-order expression (transform +
    // exists + filter) — no per-word explode, no shuffle beyond the
    // span agg; the CacheManager reuses q_dedup_substring's shared
    // gram fragment. Oracled: DuckDB recomputes spans from raw grams
    // and rebuilds each doc word-by-word — string-exact.
    "q_dedup_span_apply" -> ((s, d) => {
      val spans = queries("q_dedup_substring")(s, d)
        .groupBy(col("doc_id"))
        .agg(expr("sort_array(collect_list(struct(span_start, span_end)))")
          .as("spans"))
      // r17 (guide §4): the cut used to run three interpreted
      // higher-order passes PER WORD (transform→struct, filter→exists
      // over spans, transform→extract) on EVERY doc — ~O(words·spans)
      // interpreted lambda calls corpus-wide, on mostly span-free
      // docs. Spans are disjoint and sorted (dupSpans gaps-and-islands
      // + sort_array), so the kept words are the CONCATENATION OF THE
      // GAPS between spans: one aggregate over the span list —
      // O(spans) lambda calls per doc, each a codegen'd slice — and
      // span-free docs short-circuit through the codegen'd CASE
      // without touching a higher-order function at all. Output
      // string-identical (same words, same order), DuckDB-oracled.
      // greatest(): spans sort by start but a +4-extended span CAN
      // overlap the next island's start (gram-start gap of 2–4), so
      // the fold is a union-merge — gap length clamps at 0 and the
      // cursor never moves backwards; identical to the exists()
      // semantics for overlapping and contained spans alike.
      val kept = expr(
        """case when spans is null then w else
          |  aggregate(spans,
          |    struct(cast(1 as int) as nxt, cast(array() as array<string>) as acc),
          |    (a, sp) -> struct(
          |      greatest(cast(sp.span_end + 1 as int), a.nxt) as nxt,
          |      concat(a.acc, slice(w, a.nxt,
          |        greatest(sp.span_start - a.nxt, 0))) as acc),
          |    a -> concat(a.acc, slice(w, a.nxt, size(w) - a.nxt + 1)))
          |end""".stripMargin)
      Tables.spread(Tables.t(s, d, "documents"), "doc_id")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .join(spans, Seq("doc_id"), "left")
        .withColumn("kept", kept)
        .select(col("doc_id"),
          concat_ws(" ", col("kept")).as("clean_text"),
          size(col("kept")).cast("long").as("n_kept"),
          (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"))
        .orderBy(col("doc_id"))
    }),

    // INCREMENTAL dedup — the shape a daily ingest actually runs: a
    // new batch (doc_id % 10 = 0 stands in for today's crawl) deduped
    // AGAINST the standing corpus without re-pairing the corpus with
    // itself. Exact 3-gram Jaccard, batch×corpus only; the ≥ 0.5
    // threshold is applied in INTEGER arithmetic (3·ix ≥ na+nb ⇔
    // jac ≥ 0.5) so no borderline pair can flip vs the oracle. Scale:
    // this is the query that makes dedup AFFORDABLE at 100 TB — the
    // standing corpus is never self-joined again; the batch gram set
    // (a day's crawl ≪ the corpus) is broadcast, so the corpus side
    // is one scan + hash probe, and corpus gram counts aggregate
    // map-side. The corpus-side self-dedup ran once, historically,
    // via q_dedup_prefix_join/q_dedup_apply.
    "q_dedup_incremental" -> ((s, d) => {
      val src = s"$d/documents.parquet"
      val g = wordGrams3(Tables.spread(Tables.t(s, d, "documents"), "doc_id"))
      val batch = g.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("batch_id"), col("g"))
      val corpus = g.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("corpus_id"), col("g"))
      val nb = batch.groupBy(col("batch_id")).agg(count(lit(1)).as("nb"))
      val nc = corpus.groupBy(col("corpus_id")).agg(count(lit(1)).as("nc"))
      // batch sides ride the probeSide gate (VERDICT r14): broadcast
      // under the cap, sort-merge above — same pairs either way. The
      // gram frame is EXPLODED (~6-8× its source slice, SCALING §4),
      // so its gate carries the gramExpansion factor (ADVICE r15);
      // the row-per-doc nb side keeps the plain 128 MB source bound.
      jaccardVerdicts(corpus.join(graft.engine.Layout.probeSide(batch, src,
          graft.engine.Layout.gramExpansion), Seq("g"))
        .groupBy(col("batch_id"), col("corpus_id"))
        .agg(count(lit(1)).as("inter_n"))
        .join(graft.engine.Layout.probeSide(nb, src), Seq("batch_id"))
        .join(nc, Seq("corpus_id")))
        .orderBy(col("batch_id"), col("corpus_id"))
    }),

    // INCREMENTAL dedup against a STANDING PERSISTED INDEX (VERDICT
    // r12 #6) — the write-once layout (A28, Relational.bucketedBase)
    // extended to the dedup family. q_dedup_incremental above still
    // re-signs the corpus on every run; at 100 TB that re-tokenization
    // dominates the probe. Here the corpus fingerprint (corpus_id, g)
    // and the per-doc gram counts land ONCE as bucketed+sorted managed
    // tables (StandingIndexes.Gram); a daily batch probe then (1)
    // signs only the batch, (2) shuffles the BATCH once onto the
    // index's g-bucket layout — the standing index itself is never
    // exchanged (its
    // bucketed scan already carries the partitioning the merge join
    // needs), (3) aggregates candidate intersections, (4) picks up
    // corpus gram counts from the second bucketed table, again with
    // zero Exchange on the index side. Plan-pinned in PlanSpec;
    // value-identical to q_dedup_incremental (same oracle SQL) — the
    // persisted-index round trip must not change a single pair.
    "q_dedup_index_probe" -> ((s, d) =>
      Deferred.df(s, "dedup_index_probe", gramProbeSchema) { () =>
        StandingIndexes.Gram.probe(s, d, StandingIndexes.Gram.standing(s, d),
          col("doc_id") % 10 === 0)
      }),

    // INDEX MAINTENANCE (round 13): day-1's verdicted batch is
    // ABSORBED into the standing index by bucketed APPEND
    // (StandingIndexes.Gram.absorbed — no rebuild, no re-signing of
    // the standing corpus, write proportional to the day's crawl),
    // then day-2's probe (doc_id % 20 = 10) runs against the UPDATED index through
    // the same zero-index-Exchange plan as q_dedup_index_probe. The
    // oracle recomputes against corpus ∪ absorbed-batch from raw text,
    // so the append round trip — bucket-spec preservation, per-bucket
    // file unions, count-table disjointness — is value-checked.
    "q_dedup_index_absorb" -> ((s, d) =>
      Deferred.df(s, "dedup_index_absorb", gramProbeSchema) { () =>
        StandingIndexes.Gram.probe(s, d, StandingIndexes.Gram.absorbed(s, d),
          col("doc_id") % 20 === 10)
      }),

    // RETENTION PURGE (VERDICT r14 #1 — the last lifecycle gap in the
    // standing-index story: build → probe → absorb → compact existed;
    // DELETE did not). A retention request (here: every corpus doc
    // with doc_id % 30 = 3 — a GDPR erasure or licence-expiry batch)
    // TOMBSTONES the affected ids in both index tables
    // (Layout.tombstone — one tiny append, no rewrite at delete time);
    // the probe reads through Layout.readPurged, whose broadcast
    // anti-join preserves the index scan's bucket partitioning, so the
    // plan stays zero-Exchange on the index side. The next
    // compactBucketed(foldTombstonesOn=...) folds the deletions into
    // its rewrite and drops the sidecar — purge cost amortizes into
    // maintenance the table runs anyway. Oracled: DuckDB recomputes
    // the probe against the SURVIVING corpus from raw text, so a
    // resurrected (or over-deleted) row is a hash mismatch; LayoutSpec
    // additionally pins purge-then-probe ≡ fresh-build-on-survivors
    // and the post-fold lifecycle.
    "q_dedup_index_purge" -> ((s, d) =>
      Deferred.df(s, "dedup_index_purge", gramProbeSchema) { () =>
        StandingIndexes.Gram.probe(s, d, StandingIndexes.Gram.purged(s, d),
          col("doc_id") % 10 === 0)
      }),

    // MinHash + LSH banding: near-dup candidate pairs + estimated
    // jaccard from signature agreement. Deterministic md5-derived
    // seeds (permConsts) make the whole pipeline — signatures, band
    // buckets, est filter — bit-reproducible in DuckDB, so this is
    // hash-oracled end-to-end (was rows-only through round 8).
    "q_dedup_minhash" -> ((s, d) => {
      val sig = minhashSig(Tables.t(s, d, "documents")).cache() // bands + verify
      val bands = sig.select(col("doc_id"), explode(array(
        (0 until nBands).map { j =>
          struct(lit(j).as("band"),
            hv60(concat_ws("_", (Seq(lit((1000 + j).toString)) ++
              (0 until 4).map(r => col(s"h${j * 4 + r}").cast("string"))): _*))
              .as("bucket"))
        }: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .distinct()
      val est = (0 until nSig)
        .map(i => when(col(s"sa.h$i") === col(s"sb.h$i"), 1).otherwise(0))
        .reduce(_ + _).cast("double") / nSig
      cand.join(sig.as("sa"), col("da") === col("sa.doc_id"))
        .join(sig.as("sb"), col("db") === col("sb.doc_id"))
        .select(col("da"), col("db"), est.as("est_jac"))
        .filter(col("est_jac") >= 0.5)
        .orderBy(col("da"), col("db"))
    }),

    // SimHash fingerprint + near-pairs by hamming distance on an audit
    // slice. Deterministic md5-derived token hashes → hash-oracled
    // (the DuckDB mirror recomputes the fingerprints bit-exactly).
    "q_dedup_simhash" -> ((s, d) => {
      // cache: the self-join would otherwise compute the token agg twice
      val sim = simhashOf(tokens(Tables.t(s, d, "documents"), None)).cache()
      sim.as("x").join(sim.as("y"), col("x.doc_id") < col("y.doc_id"))
        .filter(col("x.doc_id") < 100 && col("y.doc_id") < 100)
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
        .filter(col("hamming") <= 4)
        .orderBy(col("da"), col("db"))
    }),

    // Banded simhash over the FULL corpus (no audit cap): the 60-bit
    // fingerprint splits into 6 bands of 10 bits; docs join on exact
    // band equality, then the hamming filter re-checks candidates. By
    // pigeonhole any pair within hamming ≤ 5 agrees on at least one
    // band, so recall vs `hamming <= 4` is exact (superset of the
    // capped all-pairs query on its slice — asserted in tests). At
    // scale this is one shuffle keyed by (band, value) — candidate
    // volume ~ Σ bucket² over near-uniform 1024-way buckets per band,
    // never all-pairs.
    "q_dedup_simhash_lsh" -> ((s, d) => {
      // cache: one token agg feeds both sides of the band self-join
      val sim = simhashOf(tokens(Tables.t(s, d, "documents"), None)).cache()
      val bands = sim.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 6).map(j =>
          shiftright(col("simhash"), j * 10).bitwiseAND(lit(1023L))): _*))
          .as(Seq("band", "bval")))
      // hamming predicate lives IN the join: hot buckets (templated
      // corpora collapse whole bands onto one value — measured 2467
      // docs in one bucket ⇒ ~16M raw candidates at sf0.1) are
      // filtered during pair enumeration, so only true near-pairs ever
      // materialize into the distinct. 5.8s → ~2s at sf0.1.
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
            col("x.doc_id") < col("y.doc_id") &&
            bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= 4)
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
        .distinct()
        .orderBy(col("da"), col("db"))
    }),

    // Embedding near-dup, exact audit slice: all-pairs cosine capped to
    // vec_id < 1000 (same cap in the oracle) — like q_dedup_ngram, the
    // exact form is the ground truth for the bucketed query below, and
    // the cap is what keeps the broadcast nested-loop bounded. The
    // uncapped scale path is q_dedup_embedding_lsh.
    "q_dedup_embedding" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, d, "embeddings")
        .filter(col("vec_id") < 1000)
        .select(col("vec_id"), col("embedding"),
          sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("nrm"))
      val cos = GraftFunctions.dot_d(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm"))
      e.as("a").join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          cos.as("cos_sim"))
        .orderBy(desc("cos_sim"), col("va"), col("vb"))
        .limit(50)
    }),

    // Embedding near-dup over the FULL table via sign-LSH buckets:
    // candidates collide on (table, bucket) — an equi-join shuffle, no
    // nested loop — then exact cosine re-ranks. Top pairs by cosine
    // land in the same bucket in ≥1 of 4 tables with high probability;
    // recall vs the exact slice is measured in DedupSimilaritySpec.
    // Fully DuckDB-oracled since round 10 (annBucketCtes — the same
    // plane mirror as the q_similarity ANN pair).
    "q_dedup_embedding_lsh" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("nrm"))
      val b = bucketedEmbeddings(Tables.t(s, d, "embeddings"))
        .select(col("vec_id"), col("tbl"), col("bkt"))
      val xa = b.select(col("vec_id").as("va"), col("tbl").as("tbl_a"),
        col("bkt").as("bkt_a"))
      val yb = b.select(col("vec_id").as("vb"), col("tbl").as("tbl_b"),
        col("bkt").as("bkt_b"))
      val equi = col("tbl_a") === col("tbl_b") &&
        col("bkt_a") === col("bkt_b") && col("va") < col("vb")
      // Same w ≤ 16 pool cap as the text LSH (SCALING.md §4), same
      // over-cap answer (round 11): beyond ~1.57 M vectors (≈ 250 MB
      // of embeddings parquet at ~160 compressed B/vector) the bucket
      // self-join hash-shards both sides via Retrieval.shardPairJoin —
      // every unordered pair meets in exactly one shard-pair cell, so
      // candidates (and the oracle) are value-identical; the sub-cap
      // plan is untouched. Forced on small data by the shared sys prop.
      val cand = (if (Retrieval.forcedShards.isEmpty &&
          graft.engine.Layout.dirBytes(new java.io.File(s"$d/embeddings.parquet"))
            <= 250L * 1024 * 1024)
          xa.join(yb, equi)
        else {
          val nV = Tables.t(s, d, "embeddings")
            .agg(count(lit(1)).as("nd"))
          Retrieval.shardPairJoin(xa, yb,
            Retrieval.shardCountSel(s, nV), "va", "vb", equi)
        })
        .select(col("va"), col("vb"))
        .distinct()
      val cos = GraftFunctions.dot_d(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm"))
      cand.join(e.as("a"), col("va") === col("a.vec_id"))
        .join(e.as("b"), col("vb") === col("b.vec_id"))
        .select(col("va"), col("vb"), cos.as("cos_sim"))
        .orderBy(desc("cos_sim"), col("va"), col("vb"))
        .limit(50)
    }),

    // Daily embedding near-dup probe against the STANDING sign-LSH
    // index (scaladoc block above embSign): batch = vec_id % 10 = 0,
    // corpus = the persisted rest. The oracle recomputes the frozen-
    // width pipeline from the raw embeddings (absel counts the CORPUS
    // only — the width the build landed), so the persisted round trip
    // — three tables, bucket layouts, packed tb key — must not change
    // a single pair or cosine bit.
    "q_dedup_emb_index_probe" -> ((s, d) =>
      Deferred.df(s, "dedup_emb_index_probe", embProbeSchema) { () =>
        StandingIndexes.EmbLsh.probe(s, d, StandingIndexes.EmbLsh.standing(s, d),
          col("vec_id") % 10 === 0)
      }),

    // Index MAINTENANCE twin: day-1's batch (vec_id % 20 = 0) signs
    // with the FROZEN width and lands by bucketed APPEND; day-2's
    // probe (vec_id % 20 = 10) then runs against the updated index
    // through the same zero-index-Exchange plan. The oracle recomputes
    // against corpus ∪ absorbed batch, width still frozen from the
    // original corpus — the append round trip is value-checked.
    "q_dedup_emb_index_absorb" -> ((s, d) =>
      Deferred.df(s, "dedup_emb_index_absorb", embProbeSchema) { () =>
        StandingIndexes.EmbLsh.probe(s, d, StandingIndexes.EmbLsh.absorbed(s, d),
          col("vec_id") % 20 === 10)
      }),

    // GROWTH/OCCUPANCY drift gauge for the standing embedding index
    // (round 15 — the text family got its frozen-stats drift monitor
    // this round; this is the §6c analogue for the frozen WIDTH): the
    // width ab froze at build against the then-corpus count, and §6c's
    // rebuild policy is stated in occupancy terms ("rebuild at ~4×
    // growth"). This gauge makes that policy measurable per
    // maintenance cycle: current corpus size vs the frozen design
    // capacity 24·2^ab, plus the actual signature-bucket occupancy
    // (avg and max over the packed tb key — the quantity that
    // multiplies candidate volume). Everything derives from the LANDED
    // index tables through purge-aware reads; the oracle recomputes
    // the whole signing pipeline from raw embeddings, so a stale stat
    // row or resurrected signature is a hash mismatch. At scale: one
    // map-side-combinable count over the sig table's bucket layout +
    // two scalars — no vectors move.
    "q_dedup_emb_index_drift" -> ((s, d) =>
      Deferred.df(s, "dedup_emb_index_drift", StructType(Seq(
        StructField("n_vec", org.apache.spark.sql.types.LongType),
        StructField("ab", org.apache.spark.sql.types.IntegerType),
        StructField("cap", org.apache.spark.sql.types.LongType),
        StructField("growth", org.apache.spark.sql.types.DoubleType),
        StructField("occ_avg", org.apache.spark.sql.types.DoubleType),
        StructField("occ_max", org.apache.spark.sql.types.LongType)))) { () =>
        embDriftGauge(s, StandingIndexes.EmbLsh.standing(s, d))
      }),

    // MAINTENANCE DECISION over the standing embedding index (round
    // 16, VERDICT r15 #5 wired end-to-end): the growth/occupancy gauge
    // PLUS the default re-freeze policy — the Spark side routes
    // through the SAME engine.Maintenance.embNeedsRefreeze predicate
    // SoakBench fires, and the oracle recomputes the gauges from raw
    // embeddings and applies the same thresholds, so the POLICY is
    // hash-checked. refreeze is 0/1 INT for cross-engine stability.
    "q_dedup_emb_maint" -> ((s, d) =>
      Deferred.df(s, "dedup_emb_maint", StructType(Seq(
        StructField("n_vec", org.apache.spark.sql.types.LongType),
        StructField("growth", org.apache.spark.sql.types.DoubleType),
        StructField("occ_avg", org.apache.spark.sql.types.DoubleType),
        StructField("occ_max", org.apache.spark.sql.types.LongType),
        StructField("refreeze", org.apache.spark.sql.types.IntegerType)))) { () =>
        val g = embDriftGauge(s, StandingIndexes.EmbLsh.standing(s, d))
        val r = g.head()
        val trip = graft.engine.Maintenance.embNeedsRefreeze(
          r.getAs[Double]("growth"), r.getAs[Double]("occ_avg"),
          r.getAs[Long]("occ_max"))
        g.select(col("n_vec"), col("growth"), col("occ_avg"),
          col("occ_max"), lit(if (trip) 1 else 0).as("refreeze"))
      }),

    // Brute-force cosine top-k vs the vec_id=0 query vector.
    "q_similarity_topk" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"),
          sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("q_nrm"))
      val cos = GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
        (sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))) * col("q_nrm"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), cos.as("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // LSH-bucketed ANN: 4 hash tables × 8 deterministic random
    // hyperplanes → sign buckets; the query side multi-probes its
    // bucket plus all hamming-distance-1 buckets (9 probes/table) —
    // the standard recall fix when neighbors are not near-duplicates.
    // Candidates = union over tables/probes, then exact cosine re-rank.
    // Fully DuckDB-oracled since round 10 (plane constants interpolated
    // into both engines — see annBucketCtes); consistency vs brute
    // force additionally asserted in tests.
    // At scale: the bucket join shuffles by (table, bucket) — candidate
    // volume ~ n·L·(b+1)/2^b, never all-pairs.
    "q_similarity_ann" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = bucketedEmbeddings(Tables.t(s, d, "embeddings"))
      // query probes: exact bucket + each single-bit flip of the
      // ADAPTIVE width (sequence is ab-long, mirrored in the oracle)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("tbl").as("q_tbl"),
          expr("explode(concat(array(bkt), transform(sequence(0, ab - 1), " +
            "i -> bkt ^ shiftleft(1, i))))").as("q_bkt"),
          col("nrm").as("q_nrm"))
      val cos = GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
        (col("nrm") * col("q_nrm"))
      e.join(broadcast(q),
          col("tbl") === col("q_tbl") && col("bkt") === col("q_bkt") &&
            col("vec_id") =!= 0)
        .select(col("vec_id"), cos.as("cos_sim"))
        .distinct()
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // IVF-style ANN: k-means coarse quantizer (k=16 cells, 2 Lloyd
    // rounds) fit in-plan, then the query probes its nprobe=4 nearest
    // cells and candidates arrive through an equi-join on cell id —
    // the partition-pruning ANN family, complementary to the sign-LSH
    // tables above. PORTABLE GEOMETRY since round 10 (upgrades this
    // from rows-only to DuckDB-oracled): vectors quantize to integer
    // fixed point q_i = floor(v_i · 2^20) — the power-of-two multiply
    // is rounding-free in IEEE and floor is engine-identical, so both
    // engines hold the same exact integers (< 2^24, float-exact);
    // every dot/distance in the fit is then an exact-integer-valued
    // double (all magnitudes < 2^53), centroid components are
    // floor(sum/count) (count ≤ 5·10^5 keeps the correctly-rounded
    // double division > 10^4 ulps away from the floor boundary, so
    // both engines floor identically), and seeds are md5-hash-ranked
    // (the hv60 recipe — xxhash64 has no DuckDB twin). Distance ties
    // break by cell id; the final re-rank is exact float cosine on
    // the ORIGINAL vectors (dot_d ≡ list_inner_product). At 100 TB
    // the quantizer would fit on a hash-sample and the corpus would
    // be written bucketed by cell id (Layout.bucketed) so probes
    // prune files; the in-plan fit keeps the query self-contained.
    "q_similarity_ivf" -> ((s, d) => Deferred.df(s, "similarity_ivf",
        StructType(Seq(
          StructField("vec_id", org.apache.spark.sql.types.LongType),
          StructField("cos_sim", org.apache.spark.sql.types.DoubleType)))) { () =>
      GraftFunctions.register(s)
      val e = ivfQuant(Tables.t(s, d, "embeddings")).cache() // read by the result: a leaf lives as long
      // k and nprobe derive from the fit membership (round 17 — the
      // standing family's ivfKFor discipline, mirrored in ivf_kk); the
      // count() is the same one-pass scan the fit's first Lloyd round
      // pays anyway, and it primes the cache for that round. The
      // count is an ACTION, so the whole body rides plans.Deferred —
      // building the DataFrame stays job-free (the lazy-build
      // contract) and the fit runs at first execution.
      val k = ivfKFor(e.count())
      val nprobe = ivfNprobeFor(k)
      def dQ = ivfDQ
      def assign(cents: DataFrame): DataFrame = ivfAssign(e, cents)
      // the k-row centroid table feeds BOTH the corpus assignment and
      // the query-probe ranking — cache it so the 2-round Lloyd
      // subtree (the bulk of this plan) executes once, not twice
      val cents = ivfFit(e, k).cache() // likewise read by the result
      val cells = assign(cents)
      val qCells = e.filter(col("vec_id") === 0).crossJoin(broadcast(cents))
        .orderBy(dQ, col("cid")).limit(nprobe)
        .select(col("cid"))
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val cos = GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
        (col("nrm") * col("q_nrm"))
      e.join(cells, Seq("vec_id"))
        .join(broadcast(qCells), Seq("cid"))
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), cos.as("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // Daily probe against the STANDING IVF index (round 16 — the
    // fourth index family on the write-once layout; module scaladoc at
    // buildIvfIndexOn): batch = vec_id % 10 = 0, corpus = the frozen
    // fit. The oracle recomputes the ENTIRE pipeline — portable fit,
    // assignment, per-batch-vector nprobe ranking, exact cosine — from
    // raw embeddings, so a stale centroid or resurrected cell row is a
    // hash mismatch.
    "q_similarity_ivf_index_probe" -> ((s, d) =>
      Deferred.df(s, "similarity_ivf_index_probe", ivfProbeSchema) { () =>
        StandingIndexes.Ivf.probe(s, d, StandingIndexes.Ivf.standing(s, d),
          col("vec_id") % 10 === 0)
      }),

    // Index MAINTENANCE twin: day-1's batch (vec_id % 20 = 0) assigns
    // with the FROZEN quantizer and lands by bucketed append; day-2's
    // probe (vec_id % 20 = 10) then runs against the updated cells
    // through the same zero-index-Exchange plan. Oracle: cells over
    // corpus ∪ absorbed batch, fit still frozen on the corpus.
    "q_similarity_ivf_index_absorb" -> ((s, d) =>
      Deferred.df(s, "similarity_ivf_index_absorb", ivfProbeSchema) { () =>
        StandingIndexes.Ivf.probe(s, d, StandingIndexes.Ivf.absorbed(s, d),
          col("vec_id") % 20 === 10)
      }),

    // MAINTENANCE DECISION over the standing IVF index: the
    // growth/occupancy gauge PLUS the default re-cluster policy
    // (engine.Maintenance.ivfNeedsRecluster) — the decision itself is
    // oracled, the q_dedup_*_maint discipline.
    "q_similarity_ivf_maint" -> ((s, d) =>
      Deferred.df(s, "similarity_ivf_maint", StructType(Seq(
        StructField("n_vec", org.apache.spark.sql.types.LongType),
        StructField("fit_n", org.apache.spark.sql.types.LongType),
        StructField("growth", org.apache.spark.sql.types.DoubleType),
        StructField("occ_avg", org.apache.spark.sql.types.DoubleType),
        StructField("occ_max", org.apache.spark.sql.types.LongType),
        StructField("refreeze", org.apache.spark.sql.types.IntegerType)))) { () =>
        val g = ivfDriftGauge(s, StandingIndexes.Ivf.standing(s, d))
        val r = g.head()
        val trip = graft.engine.Maintenance.ivfNeedsRecluster(
          r.getAs[Double]("growth"), r.getAs[Double]("occ_avg"),
          r.getAs[Long]("occ_max"))
        g.withColumn("refreeze", lit(if (trip) 1 else 0))
      }),

    // CAPACITY REPAIR end-to-end (round 17): probe day-2 against the
    // RECLUSTERED standing index — k re-derived from the grown
    // membership (see ivfIndexReclustered). The oracle recomputes a
    // from-scratch fit over corpus ∪ absorbed at the same cell_target,
    // so both the recluster≡fresh invariant AND the k/nprobe
    // derivation are hash-checked by the driver.
    "q_similarity_ivf_recluster" -> ((s, d) =>
      Deferred.df(s, "similarity_ivf_recluster", ivfProbeSchema) { () =>
        ivfIndexProbeOn(s, ivfIndexReclustered(s, d),
          Tables.t(s, d, "embeddings").filter(col("vec_id") % 20 === 10),
          s"$d/embeddings.parquet")
      }),

    // Batch similarity scoring, exact: a query TABLE (vec_id < 10)
    // against the corpus (vec_id >= 10), top-3 per query vector. The
    // small query side broadcasts — the corpus never shuffles — and
    // the rank filter plans as WindowGroupLimit (per-partition partial
    // top-k before the final window sort). This is the exact form of
    // the 100 TB retrieval shape; q_similarity_batch_ann below is the
    // bucketed variant for when BOTH sides are large.
    "q_similarity_batch" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("q_nrm"))
      val cos = GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
        (sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))) * col("q_nrm"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(desc("cos_sim"), col("vec_id"))
      e.filter(col("vec_id") >= 10).crossJoin(broadcast(q))
        .select(col("q_id"), col("vec_id"), cos.as("cos_sim"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .orderBy(col("q_id"), col("rnk"))
    }),

    // Batch similarity via LSH buckets on BOTH sides: query vectors
    // multiprobe (bucket + single-bit flips), corpus joins on
    // (table, bucket) — an equi-join shuffle either side can be huge
    // under — then exact cosine re-ranks top-3 per query. Fully
    // DuckDB-oracled since round 10 (annBucketCtes); recall vs
    // q_similarity_batch additionally measured in tests.
    "q_similarity_batch_ann" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = bucketedEmbeddings(Tables.t(s, d, "embeddings"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("tbl").as("q_tbl"),
          expr("explode(concat(array(bkt), transform(sequence(0, ab - 1), " +
            "i -> bkt ^ shiftleft(1, i))))").as("q_bkt"),
          col("nrm").as("q_nrm"))
      val cos = GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
        (col("nrm") * col("q_nrm"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(desc("cos_sim"), col("vec_id"))
      e.filter(col("vec_id") >= 10)
        .join(q, col("tbl") === col("q_tbl") && col("bkt") === col("q_bkt"))
        .select(col("q_id"), col("vec_id"), cos.as("cos_sim"))
        .distinct()
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .orderBy(col("q_id"), col("rnk"))
    }),

    // Contrastive-pair mining for embedding-model training: for each
    // anchor, the hardest POSITIVE (max-cosine same-label vector — the
    // easiest pair to learn last) plus the top-3 hard NEGATIVES
    // (max-cosine different-label vectors — the pairs a contrastive
    // loss learns most from), each with its margin over the positive.
    // Positive margins flag label noise / hard regions — exactly what
    // a curation pass triages before training. Uses the embeddings
    // table's label column as the supervision signal.
    //
    // Scale notes: the anchor batch is the broadcast side, the corpus
    // makes ONE pass (both roles score from the same stream — the
    // per-role split is a filter, not a second scan); both rank
    // filters plan as WindowGroupLimit keyed by anchor, so per-anchor
    // state is the top-k heap, never the corpus; the margin join
    // attaches the one-row-per-anchor positive via broadcast. At
    // 100 TB this is the q_similarity_batch shape plus a label
    // predicate — corpus never shuffles.
    "q_mine_contrastive" -> ((s, d) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, d, "embeddings")
      val a = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
          col("embedding").as("av"),
          sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("a_nrm"))
      val cos = GraftFunctions.dot_d(col("embedding"), col("av")) /
        (sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))) * col("a_nrm"))
      val scored = e.crossJoin(broadcast(a))
        .filter(col("vec_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("a_label"), col("vec_id"), col("label"),
          cos.as("cos_sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("anchor_id")).orderBy(desc("cos_sim"), col("vec_id"))
      val pos = scored.filter(col("label") === col("a_label"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("anchor_id"), lit("pos").as("role"), lit(0).as("rnk"),
          col("vec_id"), col("cos_sim"))
      val neg = scored.filter(col("label") =!= col("a_label"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("anchor_id"), lit("neg").as("role"), col("rn").as("rnk"),
          col("vec_id"), col("cos_sim"))
      // LEFT join (ADVICE r11): an anchor whose label has no second
      // member has no positive row — its hard negatives must survive
      // with a NULL margin rather than silently vanish with the anchor
      pos.unionAll(neg)
        .join(broadcast(pos.select(col("anchor_id"), col("cos_sim").as("pos_cos"))),
          Seq("anchor_id"), "left")
        .select(col("anchor_id"), col("role"), col("rnk"), col("vec_id"),
          col("cos_sim"), (col("cos_sim") - col("pos_cos")).as("margin"))
        .orderBy(col("anchor_id"), col("rnk"))
    }),

    // BPE-ish pre-tokenization (GPT-2-style split, simplified to a
    // lookahead-free pattern Java regex and RE2 agree on): runs of
    // letters / digits / other, each with an optional leading space.
    // The real token-count path for training-mix budgeting — the
    // n_chars/4 estimate in q_text_quality is the cheap proxy.
    "q_token_count" -> ((s, d) => {
      val pat = lit(" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+")
      val toks = regexp_extract_all(col("text"), pat, lit(0))
      Tables.t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), toks.as("toks"))
        .select(col("doc_id"), col("n_chars"),
          size(col("toks")).cast("int").as("n_bpe_tokens"),
          size(array_distinct(col("toks"))).cast("int").as("n_distinct_tokens"))
        // zero-token docs (empty/whitespace text): NULL ratio, not a
        // Spark-ANSI DIVIDE_BY_ZERO crash (NULLIF mirrored in oracle)
        .withColumn("chars_per_token",
          col("n_chars").cast("double") /
            when(col("n_bpe_tokens") === 0, lit(null)).otherwise(col("n_bpe_tokens")))
        .orderBy(col("doc_id"))
    }),

    // Token frequency: tokenize → explode → stopword filter → count.
    "q_text_analysis" -> ((s, d) => {
      Tables.t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "" &&
          !col("token").isin("the", "a", "of", "and", "is"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("token"))
        .limit(20)
    }),

    // Quality scoring: length/stopword/shape heuristics + BPE-ish
    // token estimate (n_chars/4).
    "q_text_quality" -> ((s, d) => {
      val toks = filter(split(lower(col("text")), " "), t => t =!= "")
      val isStop = (t: Column) => t === "the" || t === "a" || t === "of" ||
        t === "and" || t === "is"
      Tables.t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(toks).cast("int").as("n_tokens"),
          size(filter(toks, isStop)).cast("int").as("n_stop"))
        .withColumn("chars_per_token",
          col("n_chars").cast("double") / col("n_tokens"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("token_est",
          ceil(col("n_chars").cast("double") / 4).cast("long"))
        .withColumn("quality",
          when(col("chars_per_token").between(3, 8) && col("n_tokens") >= 20, 1.0)
            .when(col("n_tokens") >= 5, 0.5).otherwise(0.0))
        .orderBy(col("doc_id"))
    }),

    // Language-id: marker-token heuristic vs the labeled lang column.
    "q_lang_id" -> ((s, d) => {
      val t = lower(col("text"))
      def score(m: String): Column =
        when(t.contains(s" $m "), 1).otherwise(0)
      val sEn = score("the") + score("and")
      val sDe = score("der") + score("und")
      val sEs = score("el") + score("los")
      val sFr = score("le") + score("les")
      Tables.t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          when(sDe > sEn, "de").when(sEs > sEn, "es")
            .when(sFr > sEn, "fr").otherwise("en").as("pred_lang"))
        .withColumn("is_match", (col("lang") === col("pred_lang")).cast("int"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprinting: 64-bit-hex content hash + min token
    // signature (rolling-hash family; md5 keeps it oracle-checkable).
    "q_doc_fingerprint" -> ((s, d) => {
      val tokSig = tokens(Tables.t(s, d, "documents"), None)
        .groupBy(col("doc_id")).agg(min(md5(col("token"))).as("min_tok_sig"))
      Tables.t(s, d, "documents")
        .select(col("doc_id"),
          substring(md5(lower(trim(col("text")))), 1, 16).as("fp64"))
        .join(tokSig, Seq("doc_id"), "left")
        .orderBy(col("doc_id"))
    })
  )

  /** DuckDB mirror of minhashSig + banding + est filter, as WITH-body
    * CTEs ending in mh_pairs(da, db, est_jac). The permutation
    * constants are interpolated from the SAME permConsts the Spark
    * plan uses, so both engines run identical integer arithmetic.
    * Shared by the q_dedup_minhash / q_dedup_cluster (Pipeline) and
    * q_graph_pagerank (Curation) oracles. The AS MATERIALIZED hints
    * are pure plan hints (identical results — the edc1b9e lesson):
    * DuckDB re-inlines multiply-referenced CTEs, and the pagerank
    * oracle references this pipeline ~11× transitively — 57 s at
    * sf0.1 un-hinted vs ~1 s materialized. */
  private[operators] val minhashPairsCtes: String = {
    val sigCols = (0 until nSig).map { i =>
      val (a, c) = permConsts(i)
      s"min(($a * b + $c) % 2147483647) AS h$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until nBands).map { j =>
      val hs = (0 until 4).map(r => s"h${j * 4 + r}::VARCHAR").mkString(", ")
      s"SELECT doc_id, $j AS band, concat_ws('_', '${1000 + j}', $hs) AS bs FROM sig"
    }.mkString("\n    UNION ALL ")
    val agree = (0 until nSig)
      .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""mt AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |shg AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |       FROM mt, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) u
       |       WHERE len(w) >= 3),
       |bh AS (SELECT doc_id,
       |         ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1073741824 AS b
       |       FROM shg),
       |sig AS MATERIALIZED (SELECT doc_id,
       |    $sigCols
       |  FROM bh GROUP BY doc_id),
       |bnd AS MATERIALIZED (SELECT doc_id, band,
       |         ('0x' || substr(md5(bs), 1, 15))::BIGINT AS bucket FROM (
       |    $bandSelects)),
       |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |        FROM bnd x JOIN bnd y ON x.band = y.band AND x.bucket = y.bucket
       |         AND x.doc_id < y.doc_id),
       |mh_pairs AS MATERIALIZED (SELECT da, db, CAST($agree AS DOUBLE) / 32 AS est_jac
       |        FROM cand JOIN sig sa ON cand.da = sa.doc_id
       |        JOIN sig sb ON cand.db = sb.doc_id
       |        WHERE ($agree) * 2 >= 32)""".stripMargin
  }

  /** DuckDB mirror of tokens() + simhashOf as WITH-body CTEs ending in
    * sim(doc_id, simhash); cap mirrors the Spark-side audit slice. */
  private def simhashCtes(cap: Option[Int]): String = {
    val capSql = cap.map(c => s" WHERE doc_id < $c").getOrElse("")
    val votes = (0 until simBits)
      .map(b => s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n    ")
    val assemble = (0 until simBits)
      .map(b => s"(CASE WHEN b$b > 0 THEN 1::BIGINT << $b ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""stok AS (SELECT DISTINCT doc_id, token FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
       |    FROM documents$capSql) t
       |  WHERE token <> ''),
       |sth AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
       |       FROM stok),
       |sv AS (SELECT doc_id,
       |    $votes
       |  FROM sth GROUP BY doc_id),
       |sim AS MATERIALIZED (SELECT doc_id, $assemble AS simhash FROM sv)""".stripMargin
  }

  /** DuckDB mirror of bucketedEmbeddings as WITH-body CTEs ending in
    * eb(vec_id, v, nrm, tbl, bkt). The hyperplanes are interpolated
    * from the SAME annPlaneVals the Spark plan uses — each float
    * widened to double and emitted as its shortest round-tripping
    * decimal, so both engines dot the identical IEEE doubles in the
    * identical left-to-right order (dot_d ≡ list_inner_product on
    * DOUBLE lists, the equivalence q_similarity_topk's oracle already
    * proves). Sign buckets are then bit-equal BY CONSTRUCTION — the
    * float-LSH analogue of the integer permConsts recipe. A dot
    * landing EXACTLY on 0.0 falls to `> 0` false in both engines. */
  private def annBucketCtesWith(countWhere: String): String = {
    def planeSql(p: Array[Float]): String =
      p.map(f => f.toDouble.toString).mkString("[", ", ", "]::DOUBLE[]")
    val tableSelects = (0 until annTables).map { t =>
      val bits = (0 until annMaxBits).map { i =>
        s"(CASE WHEN $i < (SELECT ab FROM absel) AND list_inner_product(v, ${planeSql(annPlaneVals(planeIdx(t, i)))}) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("\n      + ")
      s"SELECT vec_id, v, nrm, $t AS tbl,\n      $bits AS bkt FROM en"
    }.mkString("\n    UNION ALL ")
    s"""absel AS (SELECT coalesce(min(CASE WHEN 24 * (1::BIGINT << w.range)
       |            >= (SELECT count(*) FROM embeddings$countWhere) THEN w.range END),
       |            $annMaxBits) AS ab
       |          FROM range($annBits, ${annMaxBits + 1}) w),
       |ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |en AS MATERIALIZED (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm
       |      FROM ev),
       |eb AS MATERIALIZED (
       |    $tableSelects)""".stripMargin
  }

  private val annBucketCtes: String = annBucketCtesWith("")

  /** Multiprobe list for one (tbl, bkt) row: the exact bucket plus
    * every hamming-1 neighbor of the ADAPTIVE width — mirrors the
    * Spark side's explode(concat(array(bkt),
    * transform(sequence(0, ab-1), i -> bkt ^ (1<<i)))). */
  private val annProbesSql: String =
    "[bkt] || list_transform(range(0, (SELECT ab FROM absel)), " +
      "i -> xor(bkt, CAST(1 AS INT) << CAST(i AS INT)))"

  /** DuckDB mirror of the PORTABLE integer quantizer (see
    * q_similarity_ivf's comment for why every step is engine-exact):
    * fixed-point vectors, md5-ranked seeds, two unrolled Lloyd rounds
    * with floor(sum/count) centroids, exact float cosine re-rank.
    * `fitPred` restricts the rows the quantizer FITS on (the standing
    * index's frozen-centroid corpus); `cellPred` restricts the rows
    * the final assignment covers (corpus ∪ absorbed days). Round 17:
    * the ivf_kk CTE mirrors the ivfKFor/ivfNprobeFor capacity
    * derivation — k = clamp(16, ceil(n/target), 4096) in exact integer
    * arithmetic (DuckDB's `//` ≡ Scala's Long division on
    * non-negatives), np = max(4, ceil(sqrt(k))) (IEEE sqrt/ceil are
    * correctly rounded in both engines for k ≤ 4096). Ends in CTEs
    * ivq / ivf_kk / ivf_c2 (the frozen centroids) / ivf_cells. */
  private def ivfCtesFor(fitPred: String, cellPred: String,
      target: Long = ivfCellTarget): String = {
    def assignSql(out: String, cents: String, pred: String) =
      s"""$out AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_inner_product(c.cq, c.cq)
         |      - 2 * list_inner_product(e.q, c.cq), c.cid) AS rn
         |  FROM ivq e CROSS JOIN $cents c WHERE $pred) WHERE rn = 1)""".stripMargin
    def centSql(out: String, asg: String) =
      s"""$out AS MATERIALIZED (SELECT cid, list(m ORDER BY i) AS cq FROM (
         |  SELECT a.cid, u.i, floor(sum(e.q[u.i]) / count(*)) AS m
         |  FROM $asg a JOIN ivq e USING (vec_id),
         |       LATERAL (SELECT unnest(generate_series(1, 64)) AS i) u
         |  GROUP BY a.cid, u.i) GROUP BY cid)""".stripMargin
    s"""ivv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |ivn AS MATERIALIZED (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm
       |      FROM ivv),
       |ivq AS MATERIALIZED (SELECT vec_id, v, nrm,
       |        list_transform(v, x -> floor(x * 1048576.0)) AS q
       |      FROM ivn),
       |ivf_kk AS (SELECT k, greatest(4, CAST(ceil(sqrt(CAST(k AS DOUBLE)))
       |        AS BIGINT)) AS np FROM (
       |      SELECT least(4096, greatest(16,
       |        (count(*) + ${target - 1}) // $target)) AS k
       |      FROM ivq WHERE $fitPred)),
       |ivf_seeds AS (SELECT cid, cq FROM (
       |      SELECT vec_id AS cid, q AS cq, row_number() OVER (
       |        ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
       |          vec_id) AS rn
       |      FROM ivq WHERE $fitPred) WHERE rn <= (SELECT k FROM ivf_kk)),
       |${assignSql("ivf_a1", "ivf_seeds", fitPred)},
       |${centSql("ivf_c1", "ivf_a1")},
       |${assignSql("ivf_a2", "ivf_c1", fitPred)},
       |${centSql("ivf_c2", "ivf_a2")},
       |${assignSql("ivf_cells", "ivf_c2", cellPred)}""".stripMargin
  }

  /** The in-plan q_similarity_ivf shape: fit and cells over the whole
    * table, plus the single-query nprobe-cell probe CTE (np from
    * ivf_kk — the derived-capacity mirror). */
  private val ivfCtes: String =
    s"""${ivfCtesFor("TRUE", "TRUE")},
       |ivf_probes AS (SELECT cid FROM (
       |  SELECT c.cid, row_number() OVER (
       |    ORDER BY list_inner_product(c.cq, c.cq)
       |      - 2 * list_inner_product(q0.q, c.cq), c.cid) AS rn
       |  FROM ivf_c2 c CROSS JOIN (SELECT q FROM ivq WHERE vec_id = 0) q0)
       |  WHERE rn <= (SELECT np FROM ivf_kk))""".stripMargin

  /** Standing-IVF probe recompute: frozen fit over `fitPred` rows,
    * cells over `cellPred`, per-batch-vector nprobe cell ranking
    * (nprobe from ivf_kk), exact cosine, top-50 with the total
    * tie-break. */
  private def ivfIndexProbeSqlFor(fitPred: String, cellPred: String,
      batchPred: String, target: Long = ivfCellTarget): String =
    s"""WITH ${ivfCtesFor(fitPred, cellPred, target)},
       |bprobes AS (SELECT batch_id, cid FROM (
       |  SELECT b.vec_id AS batch_id, c.cid, row_number() OVER (
       |    PARTITION BY b.vec_id
       |    ORDER BY list_inner_product(c.cq, c.cq)
       |      - 2 * list_inner_product(b.q, c.cq), c.cid) AS rn
       |  FROM ivq b CROSS JOIN ivf_c2 c WHERE $batchPred)
       |  WHERE rn <= (SELECT np FROM ivf_kk))
       |SELECT p.batch_id, cl.vec_id AS corpus_id,
       |  list_inner_product(ev.v, bv.v) / (ev.nrm * bv.nrm) AS cos_sim
       |FROM ivf_cells cl JOIN bprobes p USING (cid)
       |  JOIN ivn ev ON ev.vec_id = cl.vec_id
       |  JOIN ivn bv ON bv.vec_id = p.batch_id
       |ORDER BY cos_sim DESC, batch_id, corpus_id LIMIT 50""".stripMargin

  /** Shared by q_dedup_incremental and the whole standing-index family
    * (probe/absorb/purge): the probes read a persisted bucketed index
    * but must compute the SAME pairs the raw-text recompute yields —
    * only the batch/corpus membership predicates differ per lifecycle
    * stage. */
  private def incrementalDedupSqlFor(batchPred: String,
      corpusPred: String): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      |      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) t
      |      WHERE len(w) >= 3),
      |nb AS (SELECT doc_id, count(*) AS nb FROM g
      |       WHERE $batchPred GROUP BY doc_id),
      |nc AS (SELECT doc_id, count(*) AS nc FROM g
      |       WHERE $corpusPred GROUP BY doc_id),
      |inter AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, count(*) AS inter_n
      |          FROM g b JOIN g c USING (g)
      |          WHERE b.doc_id IN (SELECT doc_id FROM nb)
      |            AND c.doc_id IN (SELECT doc_id FROM nc)
      |          GROUP BY 1, 2)
      |SELECT batch_id, corpus_id, inter_n,
      |  CAST(nb.nb + nc.nc - inter_n AS BIGINT) AS union_n,
      |  round(CAST(inter_n AS DOUBLE) / (nb.nb + nc.nc - inter_n), 6) AS jac
      |FROM inter JOIN nb ON batch_id = nb.doc_id JOIN nc ON corpus_id = nc.doc_id
      |WHERE inter_n * 3 >= nb.nb + nc.nc
      |ORDER BY batch_id, corpus_id""".stripMargin

  private val incrementalDedupSql =
    incrementalDedupSqlFor("doc_id % 10 = 0", "doc_id % 10 <> 0")

  /** The growth/occupancy recompute (q_dedup_emb_index_drift's
    * oracle), factored so q_dedup_emb_maint layers the policy
    * thresholds over the identical gauge derivation. */
  private lazy val embDriftOracle =
    s"""WITH ${annBucketCtesWith(" WHERE vec_id % 10 <> 0")},
       |occ AS (SELECT tbl * 65536 + bkt AS tb, count(*) AS k
       |        FROM eb WHERE vec_id % 10 <> 0 GROUP BY 1),
       |agg AS (SELECT sum(k) AS sig_rows, count(*) AS nb,
       |          max(k) AS occ_max FROM occ),
       |nv AS (SELECT count(*) AS n_vec FROM embeddings
       |       WHERE vec_id % 10 <> 0)
       |SELECT CAST(n_vec AS BIGINT) AS n_vec,
       |  CAST((SELECT ab FROM absel) AS INT) AS ab,
       |  CAST(24::BIGINT << (SELECT ab FROM absel) AS BIGINT) AS cap,
       |  round(CAST(n_vec AS DOUBLE) /
       |    CAST(24::BIGINT << (SELECT ab FROM absel) AS DOUBLE), 6) AS growth,
       |  round(CAST(sig_rows AS DOUBLE) / nb, 6) AS occ_avg,
       |  CAST(occ_max AS BIGINT) AS occ_max
       |FROM agg, nv
       |ORDER BY n_vec""".stripMargin

  override def oracle: Map[String, String] = Map(
    // FULL sign-LSH ANN mirrored: plane dots, sign buckets, hamming-1
    // multiprobe, candidate equi-join, exact cosine re-rank (round 10;
    // was rows-only through round 9)
    "q_similarity_ann" ->
      s"""WITH $annBucketCtes,
         |q AS (SELECT tbl AS q_tbl, unnest($annProbesSql) AS q_bkt,
         |        v AS qv, nrm AS q_nrm
         |      FROM eb WHERE vec_id = 0)
         |SELECT DISTINCT e.vec_id,
         |  list_inner_product(e.v, q.qv) / (e.nrm * q.q_nrm) AS cos_sim
         |FROM eb e JOIN q ON e.tbl = q.q_tbl AND e.bkt = q.q_bkt
         |  AND e.vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    // the full portable-quantizer IVF mirrored: fixed-point fit,
    // md5-ranked seeds, 2 Lloyd rounds, 4-probe, exact cosine re-rank
    "q_similarity_ivf" ->
      s"""WITH $ivfCtes
         |SELECT e.vec_id,
         |  list_inner_product(e.v, q0.v) / (e.nrm * q0.nrm) AS cos_sim
         |FROM ivq e JOIN ivf_cells USING (vec_id) JOIN ivf_probes USING (cid)
         |CROSS JOIN (SELECT v, nrm FROM ivn WHERE vec_id = 0) q0
         |WHERE e.vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    // same-bucket pair enumeration + exact cosine re-rank — the
    // uncapped scale twin of q_dedup_embedding's exact slice
    "q_dedup_embedding_lsh" ->
      s"""WITH $annBucketCtes,
         |cand AS (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
         |         FROM eb x JOIN eb y ON x.tbl = y.tbl AND x.bkt = y.bkt
         |          AND x.vec_id < y.vec_id)
         |SELECT va, vb,
         |  list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS cos_sim
         |FROM cand JOIN en a ON va = a.vec_id JOIN en b ON vb = b.vec_id
         |ORDER BY cos_sim DESC, va, vb LIMIT 50""".stripMargin,

    // standing embedding index probe: absel counts the CORPUS only —
    // the frozen build-time width the persisted stat table holds; eb
    // still buckets every vector (the batch signs with the same frozen
    // width), and the candidate join restricts to batch×corpus
    "q_dedup_emb_index_probe" ->
      s"""WITH ${annBucketCtesWith(" WHERE vec_id % 10 <> 0")},
         |cand AS (SELECT DISTINCT b.vec_id AS batch_id, c.vec_id AS corpus_id
         |         FROM eb b JOIN eb c ON b.tbl = c.tbl AND b.bkt = c.bkt
         |         WHERE b.vec_id % 10 = 0 AND c.vec_id % 10 <> 0)
         |SELECT batch_id, corpus_id,
         |  list_inner_product(a.v, q.v) / (a.nrm * q.nrm) AS cos_sim
         |FROM cand JOIN en a ON corpus_id = a.vec_id
         |  JOIN en q ON batch_id = q.vec_id
         |ORDER BY cos_sim DESC, batch_id, corpus_id LIMIT 50""".stripMargin,

    // absorb twin: width STILL frozen from the original corpus (the
    // absorbed rows signed with it); the index side now includes the
    // absorbed day-1 batch (vec_id % 20 = 0), probed by day 2
    "q_dedup_emb_index_absorb" ->
      s"""WITH ${annBucketCtesWith(" WHERE vec_id % 10 <> 0")},
         |cand AS (SELECT DISTINCT b.vec_id AS batch_id, c.vec_id AS corpus_id
         |         FROM eb b JOIN eb c ON b.tbl = c.tbl AND b.bkt = c.bkt
         |         WHERE b.vec_id % 20 = 10
         |           AND (c.vec_id % 10 <> 0 OR c.vec_id % 20 = 0))
         |SELECT batch_id, corpus_id,
         |  list_inner_product(a.v, q.v) / (a.nrm * q.nrm) AS cos_sim
         |FROM cand JOIN en a ON corpus_id = a.vec_id
         |  JOIN en q ON batch_id = q.vec_id
         |ORDER BY cos_sim DESC, batch_id, corpus_id LIMIT 50""".stripMargin,

    // the embedding drift gauge: the full signing pipeline recomputed
    // from raw embeddings over the corpus slice with the frozen width,
    // then occupancy over the packed tb key — a stale stat row or a
    // resurrected signature is a hash mismatch
    "q_dedup_emb_index_drift" -> embDriftOracle,

    // standing IVF family (round 16): the frozen-fit probe, the
    // absorb twin, and the gauge+policy decision — all recomputed
    // from raw embeddings via the portable integer quantizer
    "q_similarity_ivf_index_probe" ->
      ivfIndexProbeSqlFor("vec_id % 10 <> 0", "vec_id % 10 <> 0",
        "vec_id % 10 = 0"),

    "q_similarity_ivf_index_absorb" ->
      ivfIndexProbeSqlFor("vec_id % 10 <> 0",
        "vec_id % 10 <> 0 OR vec_id % 20 = 0", "vec_id % 20 = 10"),

    // capacity repair (round 17): recluster ≡ a from-scratch fit over
    // corpus ∪ absorbed at the frozen cell_target (16 here — small
    // enough that the fixture derives a non-floor k and the resize is
    // actually exercised); k and nprobe re-derive in ivf_kk
    "q_similarity_ivf_recluster" ->
      ivfIndexProbeSqlFor("vec_id % 10 <> 0 OR vec_id % 20 = 0",
        "vec_id % 10 <> 0 OR vec_id % 20 = 0", "vec_id % 20 = 10",
        target = 16L),

    "q_similarity_ivf_maint" ->
      s"""WITH ${ivfCtesFor("vec_id % 10 <> 0", "vec_id % 10 <> 0")},
         |occ AS (SELECT cid, count(*) AS k FROM ivf_cells GROUP BY cid),
         |g AS (SELECT CAST(sum(k) AS BIGINT) AS n_vec,
         |        CAST((SELECT count(*) FROM embeddings
         |              WHERE vec_id % 10 <> 0) AS BIGINT) AS fit_n,
         |        round(CAST(sum(k) AS DOUBLE) /
         |          (SELECT count(*) FROM embeddings
         |           WHERE vec_id % 10 <> 0), 6) AS growth,
         |        round(CAST(sum(k) AS DOUBLE) / count(*), 6) AS occ_avg,
         |        CAST(max(k) AS BIGINT) AS occ_max
         |      FROM occ)
         |SELECT n_vec, fit_n, growth, occ_avg, occ_max,
         |  CAST(CASE WHEN growth >= 4.0 OR
         |         (occ_avg > 0 AND occ_max >= 8 * occ_avg)
         |       THEN 1 ELSE 0 END AS INT) AS refreeze
         |FROM g ORDER BY n_vec""".stripMargin,

    // the drift oracle + the default policy thresholds — DuckDB
    // recomputes the gauges AND the decision (Maintenance scaladoc)
    "q_dedup_emb_maint" ->
      s"""SELECT n_vec, growth, occ_avg, occ_max,
         |  CAST(CASE WHEN growth >= 4.0 OR
         |         (occ_avg > 0 AND occ_max >= 64 * occ_avg)
         |       THEN 1 ELSE 0 END AS INT) AS refreeze
         |FROM ($embDriftOracle)
         |ORDER BY n_vec""".stripMargin,

    "q_similarity_batch_ann" ->
      s"""WITH $annBucketCtes,
         |qb AS (SELECT vec_id AS q_id, tbl AS q_tbl,
         |         unnest($annProbesSql) AS q_bkt, v AS qv, nrm AS q_nrm
         |       FROM eb WHERE vec_id < 10),
         |sc AS (SELECT DISTINCT q_id, e.vec_id,
         |         list_inner_product(e.v, qb.qv) / (e.nrm * qb.q_nrm) AS cos_sim
         |       FROM eb e JOIN qb ON e.tbl = qb.q_tbl AND e.bkt = qb.q_bkt
         |       WHERE e.vec_id >= 10),
         |r AS (SELECT q_id, vec_id, cos_sim, CAST(row_number() OVER (
         |        PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk
         |      FROM sc)
         |SELECT q_id, vec_id, cos_sim, rnk FROM r
         |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    // the FULL minhash pipeline mirrored — 30-bit md5 shingle base,
    // multiply-mod permutations, md5 band buckets, est ≥ 0.5 — shared
    // CTE fragment with the cluster / pagerank oracles
    "q_dedup_minhash" ->
      s"""WITH $minhashPairsCtes
         |SELECT da, db, est_jac FROM mh_pairs ORDER BY da, db""".stripMargin,

    // transitive closure over the minhash pairs (recursive CTE — the
    // q_dedup_apply recipe), min reachable node = cluster label
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS MATERIALIZED (SELECT da AS a, db AS b FROM mh_pairs
         |          UNION ALL SELECT db, da FROM mh_pairs),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lbl AS (SELECT a AS node, least(a, min(b)) AS cluster_id
         |        FROM reach GROUP BY a)
         |SELECT node AS doc_id, cluster_id FROM lbl ORDER BY doc_id""".stripMargin,

    // identical semantics to q_dedup_cluster (the Spark sides differ:
    // label propagation vs large-star/small-star edge rewriting)
    "q_dedup_cluster_star" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |edges AS MATERIALIZED (SELECT da AS a, db AS b FROM mh_pairs
         |          UNION ALL SELECT db, da FROM mh_pairs),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lbl AS (SELECT a AS node, least(a, min(b)) AS cluster_id
         |        FROM reach GROUP BY a)
         |SELECT node AS doc_id, cluster_id FROM lbl ORDER BY doc_id""".stripMargin,

    // 60-bit simhash recomputed bit-exactly; audit slice all-pairs
    "q_dedup_simhash" ->
      s"""WITH ${simhashCtes(Some(100))}
         |SELECT x.doc_id AS da, y.doc_id AS db,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |FROM sim x JOIN sim y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 4
         |ORDER BY da, db""".stripMargin,

    // banded (6×10-bit) simhash over the full corpus
    "q_dedup_simhash_lsh" ->
      s"""WITH ${simhashCtes(None)},
         |bnd6 AS MATERIALIZED (SELECT doc_id, simhash, j AS band,
         |           (simhash >> CAST(j * 10 AS INT)) & 1023 AS bval
         |         FROM sim CROSS JOIN range(6) r(j))
         |SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |FROM bnd6 x JOIN bnd6 y
         |  ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
         | AND bit_count(xor(x.simhash, y.simhash)) <= 4
         |ORDER BY da, db""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies,
        |  md5(lower(trim(text))) AS norm_hash
        |FROM documents GROUP BY md5(lower(trim(text))) ORDER BY doc_id""".stripMargin,

    "q_dedup_keep_best" ->
      """SELECT doc_id, n_chars, lang, norm_hash FROM (
        |  SELECT doc_id, n_chars, lang, md5(lower(trim(text))) AS norm_hash,
        |    ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_curation_funnel" ->
      """WITH dd AS (
        |  SELECT doc_id, lang, n_chars, text FROM (
        |    SELECT doc_id, lang, n_chars, text,
        |      ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
        |        ORDER BY n_chars DESC, doc_id) AS rn
        |    FROM documents) t
        |  WHERE rn = 1),
        |q AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(len(list_filter(str_split(lower(text), ' '), x -> x <> '')) AS INT) AS n_tokens
        |  FROM dd)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(CEIL(CAST(n_chars AS DOUBLE) / 4) AS BIGINT)) AS BIGINT) AS token_budget,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM q
        |WHERE n_tokens >= 20
        |  AND CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 3 AND 8
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_sample_stratified" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < (CASE WHEN lang = 'en' THEN 50
        |                     WHEN lang = 'de' THEN 25 ELSE 10 END)
        |ORDER BY doc_id""".stripMargin,

    "q_text_stats_by_lang" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |  COUNT(DISTINCT source) AS n_sources,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    GREATEST(abs(CAST(list_aggregate(embedding, 'max') AS DOUBLE)),
        |             abs(CAST(list_aggregate(embedding, 'min') AS DOUBLE))) AS scale,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings)
        |SELECT vec_id, scale,
        |  CAST(round(v[1] / scale * 127, 0) AS INT) AS q8_first,
        |  CAST(list_aggregate(list_transform(v, x -> abs(CAST(round(x / scale * 127, 0) AS BIGINT))), 'sum') AS BIGINT) AS q8_l1
        |FROM e ORDER BY vec_id""".stripMargin,

    "q_doc_embed_join" ->
      """WITH j AS (
        |  SELECT d.lang,
        |    round(sqrt(list_inner_product(
        |      list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
        |      list_transform(e.embedding, x -> CAST(x AS DOUBLE)))), 6) AS nrm
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)
        |SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm,
        |  CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_norm,
        |  MAX(nrm) AS max_norm
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,

    "q_dedup_ngram" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
        |    FROM documents WHERE doc_id < 100) t
        |  WHERE token <> ''),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter_n
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, inter_n, ca.n + cb.n - inter_n AS union_n,
        |  CAST(inter_n AS DOUBLE) / (ca.n + cb.n - inter_n) AS jac
        |FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |WHERE CAST(inter_n AS DOUBLE) / (ca.n + cb.n - inter_n) >= 0.5
        |ORDER BY da, db""".stripMargin,

    // the FULL exact recomputation — no prefix filter on this side, so
    // the hash match certifies the engine's prefix pruning loses
    // nothing and invents nothing
    "q_dedup_prefix_join" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) u
        |       WHERE len(w) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter_n
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT da, db, inter_n,
        |  CAST(ca.n + cb.n - inter_n AS BIGINT) AS union_n
        |FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |WHERE inter_n * 10 >= (ca.n + cb.n - inter_n) * 9
        |ORDER BY da, db""".stripMargin,

    // independent recomputation of pairs -> transitive closure
    // (recursive CTE) -> min-reachable cluster label -> keep verdict
    "q_dedup_apply" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) u
        |       WHERE len(w) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter_n
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT da, db
        |  FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |  WHERE inter_n * 10 >= (ca.n + cb.n - inter_n) * 9),
        |edges AS (SELECT da AS a, db AS b FROM pairs
        |          UNION ALL SELECT db, da FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |lbl AS (SELECT a AS node, least(a, min(b)) AS cluster_id
        |        FROM reach GROUP BY a)
        |SELECT d.doc_id,
        |  coalesce(l.cluster_id, d.doc_id) AS cluster_id,
        |  coalesce(l.cluster_id, d.doc_id) = d.doc_id AS is_kept
        |FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node
        |ORDER BY d.doc_id""".stripMargin,

    // the cascade mirror: exact window, then the q_dedup_apply
    // recursive-closure CTEs computed on the SURVIVOR slice
    "q_dedup_cascade" ->
      """WITH RECURSIVE
        |nrm AS (SELECT doc_id, n_chars, md5(lower(trim(text))) AS h FROM documents),
        |ex AS (SELECT doc_id, h,
        |         row_number() OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id) AS rn,
        |         first_value(doc_id) OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id) AS ex_winner
        |       FROM nrm),
        |surv AS (SELECT doc_id FROM ex WHERE rn = 1),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        |      WHERE doc_id IN (SELECT doc_id FROM surv)),
        |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) u
        |       WHERE len(w) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter_n
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT da, db
        |  FROM inter JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
        |  WHERE inter_n * 10 >= (ca.n + cb.n - inter_n) * 9),
        |edges AS (SELECT da AS a, db AS b FROM pairs
        |          UNION ALL SELECT db, da FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |lbl AS (SELECT a AS node, least(a, min(b)) AS cluster_id
        |        FROM reach GROUP BY a),
        |lin0 AS (SELECT d.doc_id,
        |    CASE WHEN e.rn > 1 THEN 'exact'
        |         WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> d.doc_id THEN 'near'
        |         ELSE 'kept' END AS stage0,
        |    CASE WHEN e.rn > 1 THEN coalesce(lw.cluster_id, e.ex_winner)
        |         WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> d.doc_id THEN l.cluster_id
        |         ELSE d.doc_id END AS winner_id
        |  FROM documents d JOIN ex e USING (doc_id)
        |    LEFT JOIN lbl l ON d.doc_id = l.node
        |    LEFT JOIN lbl lw ON e.ex_winner = lw.node),
        |w2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |       WHERE doc_id IN (SELECT doc_id FROM lin0 WHERE stage0 = 'kept')),
        |g2 AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+4], ' ') AS g
        |       FROM w2, LATERAL (SELECT unnest(generate_series(1, len(w)-4)) AS i) t2
        |       WHERE len(w) >= 5),
        |dup2 AS (SELECT g FROM g2 GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |isl2 AS (SELECT doc_id, pos,
        |           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |         FROM (SELECT doc_id, pos FROM g2 JOIN dup2 USING (g))),
        |cov AS (SELECT doc_id, sum(max_pos + 4 - min_pos + 1) AS cov FROM (
        |          SELECT doc_id, grp, min(pos) AS min_pos, max(pos) AS max_pos
        |          FROM isl2 GROUP BY doc_id, grp) GROUP BY doc_id),
        |nw AS (SELECT doc_id, len(string_split(text, ' ')) AS nw FROM documents)
        |SELECT li.doc_id,
        |  CASE WHEN li.stage0 <> 'kept' THEN li.stage0
        |       WHEN c.cov IS NOT NULL THEN 'trimmed' ELSE 'kept' END AS stage,
        |  li.winner_id,
        |  CASE WHEN li.stage0 <> 'kept' THEN CAST(0 AS DOUBLE)
        |       WHEN c.cov IS NOT NULL
        |         THEN round(CAST(nw.nw - c.cov AS DOUBLE) / nw.nw, 6)
        |       ELSE CAST(1 AS DOUBLE) END AS kept_frac
        |FROM lin0 li LEFT JOIN cov c USING (doc_id) JOIN nw USING (doc_id)
        |ORDER BY li.doc_id""".stripMargin,

    // span APPLY mirror: the q_dedup_substring span CTEs, then each
    // doc rebuilt word-by-word skipping covered positions
    "q_dedup_span_apply" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+4], ' ') AS g
        |      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-4)) AS i) t
        |      WHERE len(w) >= 5),
        |dup AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
        |isl AS (SELECT doc_id, pos,
        |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM hit),
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
        |          FROM isl GROUP BY doc_id, grp),
        |tok AS (SELECT doc_id, u.i AS p, w[u.i] AS x
        |        FROM w, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) u),
        |keep AS (SELECT t.doc_id, t.p, t.x FROM tok t
        |         WHERE NOT EXISTS (SELECT 1 FROM spans s
        |           WHERE s.doc_id = t.doc_id AND t.p BETWEEN s.s AND s.e)),
        |clean AS (SELECT doc_id, string_agg(x, ' ' ORDER BY p) AS clean_text,
        |            count(*) AS n_kept
        |          FROM keep GROUP BY doc_id)
        |SELECT w.doc_id,
        |  coalesce(c.clean_text, '') AS clean_text,
        |  coalesce(c.n_kept, 0) AS n_kept,
        |  len(w.w) - coalesce(c.n_kept, 0) AS n_removed
        |FROM w LEFT JOIN clean c USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,

    "q_dedup_substring" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+4], ' ') AS g
        |      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)-4)) AS i) t
        |      WHERE len(w) >= 5),
        |dup AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
        |isl AS (SELECT doc_id, pos,
        |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM hit)
        |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
        |  CAST(max(pos) + 4 AS INT) AS span_end,
        |  CAST(max(pos) - min(pos) + 5 AS INT) AS span_len,
        |  count(*) AS n_grams
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,

    "q_dedup_incremental" -> incrementalDedupSql,

    // the standing-index probe must reproduce the recompute form
    // bit-for-bit — one oracle, two plans
    "q_dedup_index_probe" -> incrementalDedupSql,

    // purge: the probe against the tombstoned index must equal a
    // recompute over the SURVIVING corpus only — a resurrected row is
    // a hash mismatch here
    "q_dedup_index_purge" -> incrementalDedupSqlFor(
      "doc_id % 10 = 0", "doc_id % 10 <> 0 AND doc_id % 30 <> 3"),

    // absorb-then-probe: corpus ∪ day-1 batch (doc_id % 20 = 0)
    // recomputed from raw text vs the appended bucketed index
    "q_dedup_index_absorb" -> incrementalDedupSqlFor(
      "doc_id % 20 = 10", "doc_id % 10 <> 0 OR doc_id % 20 = 0"),

    "q_dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 1000),
        |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e)
        |SELECT a.vec_id AS va, b.vec_id AS vb,
        |  list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS cos_sim
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |ORDER BY cos_sim DESC, va, vb LIMIT 50""".stripMargin,

    "q_similarity_topk" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv, sqrt(list_inner_product(v, v)) AS q_nrm
        |      FROM e WHERE vec_id = 0)
        |SELECT vec_id,
        |  list_inner_product(v, qv) / (sqrt(list_inner_product(v, v)) * q_nrm) AS cos_sim
        |FROM e CROSS JOIN q
        |WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_similarity_batch" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, sqrt(list_inner_product(v, v)) AS q_nrm
        |      FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id,
        |        list_inner_product(v, qv) / (sqrt(list_inner_product(v, v)) * q_nrm) AS cos_sim
        |      FROM e CROSS JOIN q WHERE vec_id >= 10)
        |SELECT q_id, vec_id, cos_sim, rnk FROM (
        |  SELECT q_id, vec_id, cos_sim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk
        |  FROM s) t
        |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    "q_mine_contrastive" ->
      """WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |a AS (SELECT vec_id AS anchor_id, label AS a_label, v AS av,
        |        sqrt(list_inner_product(v, v)) AS a_nrm
        |      FROM e WHERE vec_id < 16),
        |s AS (SELECT anchor_id, a_label, vec_id, label,
        |        list_inner_product(v, av) /
        |          (sqrt(list_inner_product(v, v)) * a_nrm) AS cos_sim
        |      FROM e CROSS JOIN a WHERE vec_id <> anchor_id),
        |pos AS (SELECT anchor_id, 'pos' AS role, CAST(0 AS INT) AS rnk, vec_id,
        |          cos_sim
        |        FROM (SELECT anchor_id, vec_id, cos_sim,
        |                ROW_NUMBER() OVER (PARTITION BY anchor_id
        |                  ORDER BY cos_sim DESC, vec_id) AS rn
        |              FROM s WHERE label = a_label) t WHERE rn = 1),
        |neg AS (SELECT anchor_id, 'neg' AS role, CAST(rn AS INT) AS rnk, vec_id,
        |          cos_sim
        |        FROM (SELECT anchor_id, vec_id, cos_sim,
        |                ROW_NUMBER() OVER (PARTITION BY anchor_id
        |                  ORDER BY cos_sim DESC, vec_id) AS rn
        |              FROM s WHERE label <> a_label) t WHERE rn <= 3)
        |SELECT u.anchor_id, u.role, u.rnk, u.vec_id, u.cos_sim,
        |  u.cos_sim - p.cos_sim AS margin
        |FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg) u
        |LEFT JOIN pos p USING (anchor_id)
        |ORDER BY u.anchor_id, u.rnk""".stripMargin,

    "q_token_count" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+', 0) AS toks
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(len(toks) AS INT) AS n_bpe_tokens,
        |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
        |  CAST(n_chars AS DOUBLE) / NULLIF(len(toks), 0) AS chars_per_token
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_text_analysis" ->
      """SELECT token, COUNT(*) AS cnt FROM (
        |  SELECT unnest(str_split(lower(text), ' ')) AS token FROM documents) t
        |WHERE token <> '' AND token NOT IN ('the', 'a', 'of', 'and', 'is')
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "q_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(len(list_filter(str_split(lower(text), ' '), x -> x <> '')) AS INT) AS n_tokens,
        |    CAST(len(list_filter(str_split(lower(text), ' '),
        |      x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'is')) AS INT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, n_tokens, n_stop,
        |  CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token,
        |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        |  CAST(CEIL(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS token_est,
        |  CAST(CASE WHEN CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 3 AND 8
        |         AND n_tokens >= 20 THEN 1.0
        |       WHEN n_tokens >= 5 THEN 0.5 ELSE 0.0 END AS DOUBLE) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang, lower(text) AS t FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    (CASE WHEN t LIKE '% the %' THEN 1 ELSE 0 END +
        |     CASE WHEN t LIKE '% and %' THEN 1 ELSE 0 END) AS s_en,
        |    (CASE WHEN t LIKE '% der %' THEN 1 ELSE 0 END +
        |     CASE WHEN t LIKE '% und %' THEN 1 ELSE 0 END) AS s_de,
        |    (CASE WHEN t LIKE '% el %' THEN 1 ELSE 0 END +
        |     CASE WHEN t LIKE '% los %' THEN 1 ELSE 0 END) AS s_es,
        |    (CASE WHEN t LIKE '% le %' THEN 1 ELSE 0 END +
        |     CASE WHEN t LIKE '% les %' THEN 1 ELSE 0 END) AS s_fr
        |  FROM s)
        |SELECT doc_id, lang,
        |  CASE WHEN s_de > s_en THEN 'de' WHEN s_es > s_en THEN 'es'
        |       WHEN s_fr > s_en THEN 'fr' ELSE 'en' END AS pred_lang,
        |  CAST(lang = (CASE WHEN s_de > s_en THEN 'de' WHEN s_es > s_en THEN 'es'
        |       WHEN s_fr > s_en THEN 'fr' ELSE 'en' END) AS INT) AS is_match
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q_doc_fingerprint" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token
        |    FROM documents) t
        |  WHERE token <> ''),
        |sig AS (SELECT doc_id, min(md5(token)) AS min_tok_sig FROM tok GROUP BY doc_id)
        |SELECT d.doc_id, substring(md5(lower(trim(d.text))), 1, 16) AS fp64,
        |  sig.min_tok_sig
        |FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id
        |ORDER BY d.doc_id""".stripMargin
  )
}
