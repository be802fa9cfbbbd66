package graft

import org.apache.spark.sql.functions._

/** Ground-truth properties for the retrieval/statistics pack (value
  * parity is the DuckDB oracle gate). */
class RetrievalSpec extends SparkTestBase {

  test("q_tfidf: df bounded by corpus size, scores non-negative") {
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    val rows = q("q_tfidf").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= n)
      assert(r.getDouble(4) >= 0.0, s"negative tfidf: $r")
    }
  }

  test("q_bm25: descending scores, term count bounded by query size") {
    val rows = q("q_bm25").collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse))
    rows.foreach(r => assert(r.getInt(2) >= 1 && r.getInt(2) <= 3))
  }

  test("q_cooccur_pmi: canonical pair order and support threshold") {
    q("q_cooccur_pmi").collect().foreach { r =>
      assert(r.getString(0) < r.getString(1), s"pair not canonical: $r")
      assert(r.getLong(2) >= 5)
    }
  }

  test("q_bigram_lm: probabilities in (0,1], evidence consistent") {
    val rows = q("q_bigram_lm").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), s"c12 > c1: $r")
      val p = r.getDouble(4)
      assert(p > 0 && p <= 1.0)
    }
  }

  test("q_chunk_sliding covers every document exactly") {
    val nWords = graft.engine.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = q("q_chunk_sliding").collect().groupBy(_.getLong(0))
    assert(byDoc.keySet == nWords.keySet)
    byDoc.foreach { case (doc, chunks) =>
      val ordered = chunks.sortBy(_.getInt(1))
      assert(ordered.head.getInt(2) == 1, "first chunk must start at 1")
      val last = ordered.last
      assert(last.getInt(2) + last.getInt(3) - 1 == nWords(doc),
        s"doc $doc tail not covered")
      ordered.foreach(c => assert(c.getInt(3) >= 1 && c.getInt(3) <= 32))
      // stride 24 < size 32: consecutive chunks overlap, no gaps
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getInt(2) - a.getInt(2) == 24)
          assert(b.getInt(2) <= a.getInt(2) + a.getInt(3), s"gap in doc $doc")
        case _ =>
      }
    }
  }

  test("q_source_kl: one row per source, KL non-negative (Gibbs)") {
    val nSources = spark.read.parquet(s"$sf/documents.parquet")
      .select("source").distinct().count()
    val rows = q("q_source_kl").collect()
    assert(rows.length == nSources)
    rows.foreach { r =>
      // rounded at 6dp: allow the rounding epsilon below zero
      assert(r.getDouble(2) >= -1e-6, s"negative KL: $r")
      assert(r.getLong(1) > 0)
    }
  }

  test("q_event_drift: spike flag is binary, ma7 positive, first day has null pct") {
    val rows = q("q_event_drift").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      assert(rs.count(_.isNullAt(4)) == 1, "exactly one first-day null pct per type")
    }
    rows.foreach { r =>
      assert(r.getInt(6) == 0 || r.getInt(6) == 1)
      assert(r.getDouble(5) > 0)
    }
  }

  test("q_perplexity_filter: scores every multi-token doc; keep matches the threshold") {
    val rows = q("q_perplexity_filter").collect()
    val expectedDocs = graft.engine.Tables.t(spark, sf, "documents")
      .selectExpr("size(split(text, ' ')) AS n").where("n >= 2").count()
    assert(rows.length == expectedDocs, s"${rows.length} scored of $expectedDocs eligible")
    // nll of an observed bigram is ln(c1/c12) >= 0, so every mean is >= 0
    rows.foreach(r => assert(r.getDouble(2) >= 0, s"negative nll: $r"))
    // keep is the band test against the corpus mean (recomputed here in
    // exact arithmetic; rows within 1e-9 of the boundary are skipped —
    // the engine's decimal(28,10) path and this check can differ in the
    // final ulp, and the DuckDB oracle already pins exact equality)
    val mean = rows.map(r => BigDecimal(r.getDouble(2))).sum.toDouble /
      rows.length
    val thr = mean + 0.05
    rows.filter(r => math.abs(r.getDouble(2) - thr) > 1e-9).foreach { r =>
      val expectKeep = r.getDouble(2) <= thr
      assert(r.getBoolean(3) == expectKeep, s"keep flag mismatch: $r (thr $thr)")
    }
    // the filter is non-degenerate on this corpus: both verdicts occur
    assert(rows.exists(_.getBoolean(3)) && rows.exists(!_.getBoolean(3)),
      "vacuous: all docs on one side of the threshold")
  }

  test("q_bpe_pair_counts: single-char pairs, merged = c1||c2, descending evidence") {
    val rows = q("q_bpe_pair_counts").collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      assert(r.getString(0).length == 1 && r.getString(1).length == 1, s"$r")
      assert(r.getString(2) == r.getString(0) + r.getString(1))
      assert(r.getLong(3) >= 1)
    }
    val counts = rows.map(_.getLong(3))
    assert(counts.sameElements(counts.sorted.reverse))
  }

  test("q_embed_text: deterministic, sparse-nonzero, and rebuild-stable") {
    val a = q("q_embed_text").collect()
    val b = q("q_embed_text").collect()
    assert(a.nonEmpty && a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    a.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(1) < 64)
      assert(r.getLong(2) != 0L) // v <> 0 filter holds
    }
  }

  test("q_dedup_text_lsh: cosines match a driver-side recomputation of the full pipeline") {
    val embRows = q("q_embed_text").collect()
    val emb = embRows.groupBy(_.getLong(0)).map { case (id, rows) =>
      val m = rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
      id -> (0 until 64).map(j => m.getOrElse(j, 0L)).toArray
    }
    // mirror the query: S_j over ALL embedded docs, N = eligible count
    val eligible = emb.filter(_._2.count(_ != 0L) >= 4)
    val n = eligible.size.toLong
    val sj = (0 until 64).map(j => emb.values.map(_(j)).sum).toArray
    def cvec(v: Array[Long]): Array[Long] =
      (0 until 64).map(j => (v(j) * n - sj(j)) >> 12).toArray
    val got = q("q_dedup_text_lsh").collect()
    assert(got.nonEmpty, "vacuous: no near-dup pairs at test SF")
    got.foreach { r =>
      val (da, db, cos) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(da < db)
      assert(cos >= 0.9 - 1e-9 && cos <= 1.0 + 1e-9, s"($da,$db) cos=$cos")
      val (a, b) = (cvec(eligible(da)), cvec(eligible(db)))
      val dot = (0 until 64).map(j => a(j).toDouble * b(j)).sum
      val exp = dot / math.sqrt(
        a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
      assert(math.abs(exp - cos) < 1e-4, s"($da,$db): got $cos expected $exp")
    }
  }

  test("q_dedup_text_lsh: forced bucketed (non-broadcast) verification is value-identical") {
    // the size switch picks broadcast at test SF; force the shuffle-join
    // path and pin bit-identity — the production shape above the
    // 128 MB corpus threshold must change the PLAN, never the pairs
    val default = q("q_dedup_text_lsh").collect()
    System.setProperty(graft.operators.Retrieval.forceBucketedProp, "true")
    val bucketed =
      try q("q_dedup_text_lsh").collect()
      finally System.clearProperty(graft.operators.Retrieval.forceBucketedProp)
    assert(default.nonEmpty && bucketed.sameElements(default),
      s"bucketed path diverged: ${bucketed.length} vs ${default.length} rows")
  }

  test("q_dedup_text_lsh: forced shard-pair candidates are value-identical (w-cap path)") {
    // the over-cap shape (VERDICT r10 #1): every unordered doc pair
    // meets in exactly one (shard_a, shard_b) cell, so ANY shard count
    // must reproduce the unsharded pairs bit-for-bit — including an S
    // that doesn't divide the corpus evenly and S=1 (the degenerate
    // sharded form). Combined with the forced bucketed verification to
    // cover the full production over-cap plan.
    val default = q("q_dedup_text_lsh").collect()
    def forced(shards: Int, bucketed: Boolean = false) = {
      System.setProperty(graft.operators.Retrieval.forceShardsProp,
        shards.toString)
      if (bucketed)
        System.setProperty(graft.operators.Retrieval.forceBucketedProp, "true")
      try q("q_dedup_text_lsh").collect()
      finally {
        System.clearProperty(graft.operators.Retrieval.forceShardsProp)
        System.clearProperty(graft.operators.Retrieval.forceBucketedProp)
      }
    }
    assert(default.nonEmpty)
    for (s <- Seq(1, 3)) {
      val got = forced(s)
      assert(got.sameElements(default),
        s"shard=$s diverged: ${got.length} vs ${default.length} rows")
    }
    val full = forced(4, bucketed = true)
    assert(full.sameElements(default),
      s"shard=4+bucketed diverged: ${full.length} vs ${default.length} rows")
  }

  test("q_dedup_semantic: verdicts recompute exactly given the cells; deterministic") {
    val rows = q("q_dedup_semantic").collect()
    val again = q("q_dedup_semantic").collect()
    assert(rows.nonEmpty && rows.sameElements(again), "non-deterministic clustering")
    val cellOf = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = rows.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(kept.values.exists(!_), "vacuous: nothing dropped at test SF")
    // rebuild the centered integer vectors exactly as the engine does
    val embRows = q("q_embed_text").collect()
    val emb = embRows.groupBy(_.getLong(0)).map { case (id, rs) =>
      val m = rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
      id -> (0 until 64).map(j => m.getOrElse(j, 0L)).toArray
    }
    val eligible = emb.filter(_._2.count(_ != 0L) >= 4)
    assert(rows.length == eligible.size, "one verdict per eligible doc")
    val n = eligible.size.toLong
    val sj = (0 until 64).map(j => emb.values.map(_(j)).sum).toArray
    val cv = eligible.map { case (id, v) =>
      id -> (0 until 64).map(j => (v(j) * n - sj(j)) >> 12).toArray
    }
    def shadows(a: Long, b: Long): Boolean = { // integer-exact cos ≥ 0.9
      val (x, y) = (cv(a), cv(b))
      val dot = (0 until 64).map(j => BigInt(x(j)) * y(j)).sum
      val (na, nb) = (x.map(v => BigInt(v) * v).sum, y.map(v => BigInt(v) * v).sum)
      dot > 0 && dot * dot * 100 >= na * nb * 81
    }
    // a doc is dropped IFF a lower-id doc in its cell shadows it
    val byCell = cellOf.keys.groupBy(cellOf)
    cellOf.keys.foreach { id =>
      val expected = !byCell(cellOf(id)).exists(o => o < id && shadows(o, id))
      assert(kept(id) == expected, s"doc $id: kept=${kept(id)} expected=$expected")
    }
    // cross-check vs the LSH pair list: same-cell LSH pairs must drop the higher id
    q("q_dedup_text_lsh").collect().foreach { r =>
      val (da, db) = (r.getLong(0), r.getLong(1))
      if (cellOf(da) == cellOf(db)) assert(!kept(db),
        s"pair ($da,$db) shares cell ${cellOf(da)} but $db survived")
    }
  }

  test("q_bpe_apply replays an independent driver-side BPE reference exactly") {
    val got = q("q_bpe_apply").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.length == 10)
    val wc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    graft.engine.Tables.t(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .foreach(_.getString(0).split(" ").filter(_.nonEmpty)
        .foreach(w => wc(w) += 1))
    val ref = RetrievalSpec.bpeReference(wc.toSeq, 10)
    assert(got.toSeq == ref,
      s"engine:\n${got.mkString("\n")}\nreference:\n${ref.mkString("\n")}")
    // consistency: round 1 must equal q_bpe_pair_counts' argmax row
    val top = q("q_bpe_pair_counts").collect()(0)
    assert((got(0)._2, got(0)._3, got(0)._5) ==
      (top.getString(0), top.getString(1), top.getLong(3)))
  }

  test("BpeLearner equals the reference on generated dictionaries") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // few symbols and small counts, so argmax ties are common; 1-, 2-,
    // 3- and 4-byte code points, including a BMP symbol above the
    // surrogates (U+FF21), which UTF-16 order puts after U+1F600 and
    // UTF-8 order before it
    val sym = Gen.oneOf("a", "b", "é", "中", "\uFF21", "\uD83D\uDE00")
    def dict(maxLen: Int): Gen[Seq[(String, Long)]] = Gen.mapOf(for {
      n <- Gen.chooseNum(1, maxLen)
      w <- Gen.listOfN(n, sym)
      c <- Gen.chooseNum(1L, 3L)
    } yield w.mkString -> c).map(_.toSeq)
    // 1 in 5 dictionaries holds only single-symbol words: no pair, no row
    val gen = Gen.frequency(4 -> dict(6), 1 -> dict(1))
    var short = 0
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(gen) { d =>
        val got = graft.functions.BpeLearner.learn(d.iterator, 10)
          .map(m => (m.round, m.s1, m.s2, m.s1 + m.s2, m.cnt))
        if (got.length < 10) short += 1
        got == RetrievalSpec.bpeReference(d, 10)
      })
    assert(res.passed, res.status.toString)
    assert(short > 0, "no generated dictionary ran out of pairs")
    // a count tie that UTF-16 order breaks the other way
    val tie = Seq("\uFF21x" -> 2L, "\uD83D\uDE00x" -> 2L)
    assert(graft.functions.BpeLearner.learn(tie.iterator, 1).map(_.s1) == Seq("\uFF21"))
    assert(RetrievalSpec.bpeReference(tie, 1).map(_._2) == Seq("\uFF21"))
  }

  test("q_bpe_apply learns its merges in at most 3 Spark jobs") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val df = SparkEntry.queries("q_bpe_apply")(spark.newSession(),
      sf.replace("sf0.001", "sf0.01"))
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      val before = jobs.get()
      assert(df.collect().length == 10)
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      assert(jobs.get() - before <= 3, s"${jobs.get() - before} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("BPE fold-rewrite equals string-replace on the |-sentinel encoding " +
      "(property behind the round-9 DuckDB oracle)") {
    // the oracle rewrites '|s1||s2||...|' with one non-overlapping
    // left-to-right replace per round — Java's String.replace has the
    // SAME semantics as DuckDB's replace(), so proving fold ≡ replace
    // here proves the oracle's rewrite step on arbitrary vocabularies,
    // not just the shipped corpus
    def foldMerge(syms: List[String], m1: String, m2: String): List[String] =
      syms.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == m1 && x == m2) acc.init :+ (m1 + m2)
        else acc :+ x
      }
    def encode(syms: List[String]): String = syms.mkString("|", "||", "|")
    def replaceMerge(enc: String, m1: String, m2: String): String =
      enc.replace(s"|$m1||$m2|", s"|$m1$m2|")
    val rnd = new scala.util.Random(9)
    val alphabet = Vector("a", "b", "c")
    (1 to 500).foreach { _ =>
      // random symbol sequence incl. already-merged multi-char symbols
      val syms = List.fill(1 + rnd.nextInt(10))(
        List.fill(1 + rnd.nextInt(3))(alphabet(rnd.nextInt(3))).mkString)
      val m1 = List.fill(1 + rnd.nextInt(2))(alphabet(rnd.nextInt(3))).mkString
      val m2 = List.fill(1 + rnd.nextInt(2))(alphabet(rnd.nextInt(3))).mkString
      val viaFold = encode(foldMerge(syms, m1, m2))
      val viaReplace = replaceMerge(encode(syms), m1, m2)
      assert(viaFold == viaReplace,
        s"syms=$syms merge=($m1,$m2): fold=$viaFold replace=$viaReplace")
    }
  }

  test("q_bigram_kn: exact match against a driver-side Kneser-Ney twin") {
    // full independent recompute from raw text (the corpus is small at
    // sf0.001): bigram counts -> n1p/ncont/nb -> the same scaled
    // integers. Any packing or join mistake in the plan shows by name.
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text")).collect().map(_.getString(0))
    val bi = new scala.collection.mutable.HashMap[(String, String), Long]()
    texts.foreach { t =>
      val w = t.split(" ", -1)
      (0 until w.length - 1).foreach(i =>
        bi((w(i), w(i + 1))) = bi.getOrElse((w(i), w(i + 1)), 0L) + 1)
    }
    val c1 = bi.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val n1p = bi.groupBy(_._1._1).map { case (k, m) => k -> m.size.toLong }
    val ncont = bi.groupBy(_._1._2).map { case (k, m) => k -> m.size.toLong }
    val nb = bi.size.toLong
    val expected = bi.toSeq.map { case ((w1, w2), c12) =>
      val knum = (4 * c12 - 3) * nb + 3 * n1p(w1) * ncont(w2)
      (w1, w2, c12, c1(w1), n1p(w1), ncont(w2), knum, 4 * c1(w1) * nb)
    }.sortBy { case (w1, w2, c12, _, _, _, _, _) => (-c12, w1, w2) }.take(100)
    val got = q("q_bigram_kn").collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
      r.getLong(7)))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"got $g want $e") }
    // p_kn is the single-division-of-the-integers IEEE value
    q("q_bigram_kn").collect().foreach { r =>
      assert(r.getDouble(8) > 0 && r.getDouble(8) < 1)
      assert(math.abs(r.getDouble(8) -
        r.getLong(6).toDouble / r.getLong(7)) < 5.1e-7)
    }
  }

  test("q_rrf_fusion: sparse side matches a driver-side overlap twin; score algebra exact") {
    val rows = q("q_rrf_fusion").collect()
    assert(rows.nonEmpty)
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.keySet == (0L until 8L).toSet, "all 8 queries present")
    val contrib = (1 to 20).map(r => 1000000000000L / (60 + r)).toSet
    rows.foreach { r =>
      val (inD, inS, score) = (r.getInt(2), r.getInt(3), r.getLong(4))
      assert(inD + inS >= 1, "row must come from at least one system")
      if (inD + inS == 1) assert(contrib.contains(score), s"bad 1-system score $r")
      else assert((for (a <- contrib; b <- contrib) yield a + b).contains(score))
      assert(r.getLong(1) >= 8, "query docs must not retrieve themselves")
    }
    perQ.values.foreach { g =>
      assert(g.count(_.getInt(2) == 1) == 20, "dense contributes exactly top-20")
      assert(g.count(_.getInt(3) == 1) <= 20)
    }
    // independent sparse twin for every query: distinct-token overlap,
    // rank by (overlap desc, doc_id), top-20 — pure integer math
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).filter(_.nonEmpty).toSet)
    val queries = toks.filter(_._1 < 8).toMap
    val corpus = toks.filter(_._1 >= 8)
    queries.foreach { case (qid, qt) =>
      val top = corpus.map { case (d, t) => (d, (qt & t).size) }
        .filter(_._2 > 0).sortBy { case (d, ov) => (-ov, d) }.take(20).map(_._1).toSet
      val got = perQ(qid).filter(_.getInt(3) == 1).map(_.getLong(1)).toSet
      assert(got == top, s"sparse top-20 mismatch for query $qid")
    }
  }

  test("standing LSH index: absorb appends exactly the day-1 signatures") {
    // the maintenance contract (round 14): the absorbed index differs
    // from the standing one by PRECISELY the day-1 batch's rows — in
    // both the signature and the vector table — and the standing rows
    // are untouched (append, never rebuild)
    val (sigT, vecT, _, _) = operators.StandingIndexes.TextLsh.standing(spark, sf)
    val (sigU, vecU, _, _) = operators.StandingIndexes.TextLsh.absorbed(spark, sf)
    val day1Sig = spark.table(sigU).filter(col("corpus_id") % 20 === 0)
    assert(day1Sig.count() > 0, "vacuous: no day-1 docs signed at this sf")
    assert(day1Sig.count() ==
      spark.table(sigU).count() - spark.table(sigT).count())
    assert(spark.table(vecU).filter(col("corpus_id") % 20 === 0).count() ==
      spark.table(vecU).count() - spark.table(vecT).count())
    // standing rows bit-identical across the two builds
    val standingU = spark.table(sigU).filter(col("corpus_id") % 20 =!= 0)
    assert(standingU.exceptAll(spark.table(sigT)).isEmpty &&
      spark.table(sigT).exceptAll(standingU).isEmpty)
  }

  test("re-freeze rebuilds from the landed manifest: probe ≡ a from-scratch build over the same membership") {
    // VERDICT r14 #2: lshIndexRefrozen reads WHO the index covers from
    // the persisted membership manifest (old-width signatures are
    // discarded — scaladoc states the contract) and rebuilds df/stats/
    // signatures from raw text. The pin: a day-2 probe against the
    // refrozen index is row-identical to one against an index built
    // directly from the membership PREDICATES — i.e. the manifest
    // round-trips the corpus exactly, absorb included.
    val refr = operators.Retrieval.lshIndexRefrozen(spark, sf)
    val fresh = operators.Retrieval.buildLshIndex(spark, sf, "_freshref",
      _.filter(col("doc_id") % 10 =!= 0 || col("doc_id") % 20 === 0))
    def probe(t: (String, String, String, String)) =
      operators.Retrieval.lshIndexProbe(spark, sf, t,
        col("doc_id") % 20 === 10).collect().map(_.toString).toSeq
    val pr = probe(refr)
    val pf = probe(fresh)
    assert(pr == pf, "refrozen probe diverged from the from-scratch build")
    // the re-freeze REALLY re-froze: day-1's absorbed docs now count
    // in the df table (they were absorbed under the OLD frozen df,
    // which by design never saw them)
    val oldDf = spark.table(operators.StandingIndexes.TextLsh.absorbed(spark, sf)._3)
    val newDf = spark.table(refr._3)
    val oldMass = oldDf.agg(sum(col("df"))).collect()(0).getLong(0)
    val newMass = newDf.agg(sum(col("df"))).collect()(0).getLong(0)
    assert(newMass > oldMass,
      s"refrozen df mass $newMass not above the stale $oldMass — " +
        "day-1 docs did not enter the new featurization")
    // manifest round trip: refrozen membership = old membership
    val oldMem = spark.table(
      operators.Retrieval.lshMemTable(operators.StandingIndexes.TextLsh.absorbed(spark, sf)._1))
    val newMem = spark.table(operators.Retrieval.lshMemTable(refr._1))
    assert(oldMem.exceptAll(newMem).isEmpty && newMem.exceptAll(oldMem).isEmpty)
  }

  test("text-index retention purge: exact pair removal under frozen stats; re-freeze does not resurrect purged docs") {
    // round 15, §6d extended to the text family. Purge contract under
    // FROZEN stats: tombstoning corpus ids removes EXACTLY the pairs
    // against those ids — every other verdict is bit-identical,
    // because candidates and cosines are per-pair functions of the
    // frozen featurization (unlike a fresh build, which would also
    // shift df mass; that shift belongs to the re-freeze, below).
    import graft.engine.{Layout, Tables}
    val bk = Layout.bucketsFor(s"$sf/documents.parquet")
    val t = operators.Retrieval.buildLshIndex(spark, sf, "_prg",
      _.filter(col("doc_id") % 10 =!= 0))
    operators.Retrieval.absorbLshBatch(spark, sf, t, bk,
      _.filter(col("doc_id") % 20 === 0))
    def probe(tt: (String, String, String, String)) =
      operators.Retrieval.lshIndexProbe(spark, sf, tt,
        col("doc_id") % 20 === 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = probe(t)
    assert(before.nonEmpty, "vacuous: no verdicts before the purge")
    val purgeIds = Tables.t(spark, sf, "documents")
      .filter((col("doc_id") % 10 =!= 0 || col("doc_id") % 20 === 0) &&
        col("doc_id") % 30 === 3)
      .select(col("doc_id"))
    assert(purgeIds.count() > 0, "no purgeable docs at this sf")
    // non-vacuity at the table level: some purged ids were really in
    // the vector table, and the purged read drops them
    val vecHad = spark.table(t._2).join(
      purgeIds.select(col("doc_id").as("corpus_id")), Seq("corpus_id"),
      "left_semi").count()
    assert(vecHad > 0, "purge set missed the vector table entirely")
    operators.StandingIndexes.TextLsh.purge(spark, t, purgeIds)
    assert(Layout.readPurged(spark, t._2, "corpus_id")
      .filter(col("corpus_id") % 30 === 3).count() == 0)
    val purgedSet = purgeIds.collect().map(_.getLong(0)).toSet
    val after = probe(t)
    assert(after == before.filterNot(p => purgedSet(p._2)),
      "purge did not remove exactly the purged-corpus pairs")
    // RE-FREEZE after purge: membership comes from the PURGE-AWARE
    // manifest read, so the rebuild covers survivors only — equal to
    // a from-scratch build over the surviving predicate, and no
    // purged doc reappears anywhere (the resurrection pin)
    val refr = operators.Retrieval.refreezeLsh(spark, sf, "_prgr", t)
    val fresh = operators.Retrieval.buildLshIndex(spark, sf, "_prgf",
      _.filter((col("doc_id") % 10 =!= 0 || col("doc_id") % 20 === 0) &&
        col("doc_id") % 30 =!= 3))
    assert(probe(refr) == probe(fresh),
      "post-purge re-freeze diverged from a from-scratch survivor build")
    assert(spark.table(operators.Retrieval.lshMemTable(refr._1))
      .filter(col("doc_id") % 30 === 3).count() == 0,
      "re-freeze resurrected purged docs into the manifest")
    assert(spark.table(refr._2)
      .filter(col("corpus_id") % 30 === 3).count() == 0,
      "re-freeze resurrected purged docs into the vector table")
  }

  test("q_dedup_text_index_drift: gauges stay in their algebraic ranges and reconcile with the frozen vocabulary") {
    val r = q("q_dedup_text_index_drift").collect()
    assert(r.length == 1, "one gauge row per probe")
    val (nTok, nOov, oovRate, dfShift) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getDouble(2), r(0).getDouble(3))
    assert(nTok > 0 && nOov >= 0 && nOov <= nTok)
    assert(math.abs(oovRate - nOov.toDouble / nTok) < 1e-6)
    // L1 distance between two (sub-)distributions is bounded by 2
    assert(dfShift >= 0.0 && dfShift <= 2.0, s"df_shift $dfShift")
    // reconcile n_oov against a direct recompute over the landed df
    val (_, _, dfT, _) = operators.StandingIndexes.TextLsh.standing(spark, sf)
    val frozen = spark.table(dfT).select(col("tok"))
    val oovDirect = graft.engine.Tables
      .t(spark, sf, "documents").filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .join(frozen, Seq("tok"), "left_anti").count()
    assert(oovDirect == nOov, s"direct OOV $oovDirect vs gauge $nOov")
  }
}

object RetrievalSpec {

  /** Spark's string order: unsigned UTF-8 bytes. */
  private val sparkOrder: Ordering[String] = (x, y) =>
    java.util.Arrays.compareUnsigned(x.getBytes("UTF-8"), y.getBytes("UTF-8"))

  /** An independent BPE learner over a word-frequency dictionary:
    * string symbols (one per code point), a string-keyed pair count and
    * the greedy left-to-right fold; argmax by count desc, then s1, then
    * s2 in Spark's order. Rows (round, s1, s2, merged, cnt), stopping
    * early when no pair is left. */
  def bpeReference(dict: Seq[(String, Long)], nMerges: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var vocab = dict.map { case (w, c) =>
      w.codePoints().toArray.toList.map(cp => new String(Character.toChars(cp))) -> c
    }
    val byRank: Ordering[((String, String), Long)] = (x, y) =>
      if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
      else Ordering.Tuple2(sparkOrder, sparkOrder).compare(x._1, y._1)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var done = false
    while (out.length < nMerges && !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      vocab.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach(p => pc(p) += c)
      }
      done = pc.isEmpty
      if (!done) {
        val ((s1, s2), cnt) = pc.toSeq.min(byRank)
        out += ((out.length + 1, s1, s2, s1 + s2, cnt))
        vocab = vocab.map { case (syms, c) =>
          syms.foldLeft(List.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == s1 && x == s2) acc.init :+ (s1 + s2)
            else acc :+ x
          } -> c
        }
      }
    }
    out.toSeq
  }
}
