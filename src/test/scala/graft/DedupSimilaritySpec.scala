package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.engine.Tables
import graft.operators.Multimodal

/** Ground-truth checks for the non-SQL-expressible operators (sketches,
  * LSH, decode stub) that the DuckDB oracle can't hash-match. */
class DedupSimilaritySpec extends SparkTestBase {

  test("q_dedup_index_absorb: appended batch is LIVE in the index and bucketing survives the append") {
    val df = q("q_dedup_index_absorb")
    val rows = df.collect()
    assert(rows.nonEmpty, "no matches at all after absorb")
    // liveness: at least one match hits a doc that exists in the index
    // ONLY because the day-1 append absorbed it (corpus_id % 20 == 0)
    assert(rows.exists(_.getLong(1) % 20 == 0),
      s"no match against an absorbed doc — append not live: ${rows.mkString(";")}")
    // the bucketed layout survives the append: the probe plan still
    // scans both tables as bucketed with no broadcast of the index
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Bucketed: false"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
  }

  test("standing embedding index: absorb appends exactly the day-1 signatures") {
    // the maintenance contract, third family (round 14): the absorbed
    // index differs from the standing one by PRECISELY the day-1
    // batch's rows — in both the signature and the vector table — and
    // the standing rows are untouched (append, never rebuild)
    val (sigT, vecT, _) = operators.StandingIndexes.EmbLsh.standing(spark, sf)
    val (sigU, vecU, _) = operators.StandingIndexes.EmbLsh.absorbed(spark, sf)
    val day1Sig = spark.table(sigU).filter(col("corpus_id") % 20 === 0)
    assert(day1Sig.count() > 0, "vacuous: no day-1 vectors signed at this sf")
    assert(day1Sig.count() ==
      spark.table(sigU).count() - spark.table(sigT).count())
    assert(spark.table(vecU).filter(col("corpus_id") % 20 === 0).count() ==
      spark.table(vecU).count() - spark.table(vecT).count())
    // standing rows bit-identical across the two builds
    val standingU = spark.table(sigU).filter(col("corpus_id") % 20 =!= 0)
    assert(standingU.exceptAll(spark.table(sigT)).isEmpty &&
      spark.table(sigT).exceptAll(standingU).isEmpty)
    // liveness at the query surface: day-2's probe can match an
    // absorbed vector only because the append landed
    val rows = q("q_dedup_emb_index_absorb").collect()
    assert(rows.nonEmpty, "no pairs at all after absorb")
    assert(rows.exists(_.getLong(1) % 20 == 0),
      s"no match against an absorbed vector — append not live")
  }

  test("emb index survives compaction after >=3 absorb days: probe rows identical (throwaway index)") {
    // the full daily lifecycle for the third family, on a THROWAWAY
    // build (ADVICE r14: the earlier form compacted the shared
    // memoized index in place, hiding an ordering coupling — any
    // reordering or re-entry broke its file-count assertion even
    // though the data stayed correct): build → 3 absorb days → compact
    // → probe, verdicts bit-identical across the swap, appends really
    // folded. Three appends, not one (VERDICT r14 #7): each absorb
    // adds up to one file per touched bucket, so the fold has real
    // multi-day fan-in to collapse.
    val t = operators.StandingIndexes.EmbLsh.build(spark, sf, "_cmplc",
      _.filter(col("vec_id") % 10 =!= 0))
    val (sigT, vecT, _) = t
    val bk = graft.engine.Layout.bucketsFor(s"$sf/embeddings.parquet")
    Seq(0, 10, 20).foreach(dy => operators.Pipeline.absorbEmbBatch(
      spark, sf, t, bk, col("vec_id") % 40 === dy))
    def probe() = operators.Pipeline.embIndexProbeOn(spark, t,
      graft.engine.Tables.t(spark, sf, "embeddings")
        .filter(col("vec_id") % 40 === 30),
      s"$sf/embeddings.parquet").collect().map(_.toString).toSeq
    val before = probe()
    assert(before.nonEmpty, "vacuous: no pairs before compaction")
    val (b1, a1) = graft.engine.Layout.compactBucketed(spark, sigT, "tb", bk)
    val (b2, a2) = graft.engine.Layout
      .compactBucketed(spark, vecT, "corpus_id", bk)
    assert(b1 > a1 && a1 <= bk, s"sig files $b1 -> $a1 (buckets $bk)")
    assert(b2 > a2 && a2 <= bk, s"vec files $b2 -> $a2 (buckets $bk)")
    assert(b1 >= bk + 3, s"3 absorb days left only $b1 sig files pre-fold")
    val after = probe()
    assert(after == before, "probe diverged after compaction")
  }

  test("q_dedup_emb_index_drift: gauges reconcile with the landed index tables") {
    val r = q("q_dedup_emb_index_drift").collect()
    assert(r.length == 1)
    val (nVec, ab, cap, growth, occAvg, occMax) = (r(0).getLong(0),
      r(0).getInt(1), r(0).getLong(2), r(0).getDouble(3),
      r(0).getDouble(4), r(0).getLong(5))
    assert(nVec > 0 && ab >= 8 && ab <= 16 && cap == 24L * (1L << ab))
    assert(math.abs(growth - nVec.toDouble / cap) < 1e-6)
    // the frozen-width selection invariant at build time: growth ≤ 1
    // for a fresh index (ab was chosen so 24·2^ab ≥ corpus count)
    assert(growth <= 1.0, s"fresh index already over capacity: $growth")
    assert(occAvg >= 1.0 && occMax >= math.ceil(occAvg).toLong,
      s"occupancy gauges inconsistent: avg $occAvg max $occMax")
    // reconcile against the landed tables directly
    val (sigT, vecT, _) = operators.StandingIndexes.EmbLsh.standing(spark, sf)
    assert(spark.table(vecT).count() == nVec)
    assert(spark.table(sigT).groupBy(col("tb")).count()
      .agg(max("count")).collect()(0).getLong(0) == occMax)
  }

  test("emb-index retention purge: probe equals a fresh build on the survivors") {
    // round 15, §6d's third family: tombstone a retention set in both
    // tables; the purge-aware probe must equal a FRESH index built
    // over the survivors (valid comparison here because the frozen
    // width derives from a corpus COUNT that stays in the same 24·2^w
    // band, so both indexes sign identically — the §6c argument)
    val t = operators.StandingIndexes.EmbLsh.build(spark, sf, "_prg",
      _.filter(col("vec_id") % 10 =!= 0))
    def probe(tt: (String, String, String)) =
      operators.Pipeline.embIndexProbeOn(spark, tt,
        Tables.t(spark, sf, "embeddings").filter(col("vec_id") % 10 === 0),
        s"$sf/embeddings.parquet").collect().map(_.toString).toSeq
    val before = probe(t)
    assert(before.nonEmpty)
    val purgeIds = Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 30 === 7)
      .select(col("vec_id"))
    assert(purgeIds.count() > 0, "no purgeable vectors at this sf")
    operators.StandingIndexes.EmbLsh.purge(spark, t, purgeIds)
    assert(graft.engine.Layout.readPurged(spark, t._2, "corpus_id")
      .filter(col("corpus_id") % 30 === 7).count() == 0)
    val fresh = operators.StandingIndexes.EmbLsh.build(spark, sf, "_prgf",
      _.filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 30 =!= 7))
    assert(probe(t) == probe(fresh),
      "purged probe diverged from a fresh survivor build")
  }

  test("q_dedup_span_apply: counts reconcile, kept words are an ordered subsequence") {
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val spanned = q("q_dedup_substring").collect().map(_.getLong(0)).toSet
    assert(spanned.nonEmpty, "fixture must plant cross-doc substrings")
    val rows = q("q_dedup_span_apply").collect()
    assert(rows.length == docs.size, "one cleaned row per doc")
    rows.foreach { r =>
      val (id, clean) = (r.getLong(0), r.getString(1))
      val (nk, nr) = (r.getLong(2), r.getLong(3))
      val orig = docs(id).split(" ", -1)
      assert(nk + nr == orig.length, s"doc $id: $nk kept + $nr removed != ${orig.length}")
      if (!spanned(id))
        assert(nr == 0 && clean == docs(id), s"span-free doc $id must pass through")
      else {
        assert(nr >= 5, s"doc $id has a >=5-word span but removed only $nr")
        val cw = if (clean.isEmpty) Array.empty[String] else clean.split(" ", -1)
        assert(cw.length == nk, s"doc $id: clean_text word count != n_kept")
        var i = 0
        cw.foreach { cwd =>
          while (i < orig.length && orig(i) != cwd) i += 1
          assert(i < orig.length, s"doc $id: cleaned text is not a subsequence")
          i += 1
        }
      }
    }
  }

  test("q_dedup_cascade: every drop points at a surviving winner, stages partition the corpus, trims reconcile") {
    val rows = q("q_dedup_cascade").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val total = Tables.t(spark, sf, "documents").count()
    assert(rows.length == total, "one lineage row per doc")
    val byStage = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byStage.getOrElse("kept", 0) > 0)
    assert(byStage.getOrElse("exact", 0) + byStage.getOrElse("near", 0) > 0,
      "fixture must exercise at least one drop stage")
    // the round-15 substring disposition must be live on the fixture
    // (the planted cross-doc spans of q_dedup_substring survive dedup)
    assert(byStage.getOrElse("trimmed", 0) > 0,
      s"fixture exercises no trimmed stage: $byStage")
    val stageOf = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (id, stage, winner, kf) =>
      stage match {
        case "kept" =>
          assert(winner == id && kf == 1.0, s"kept doc $id ($winner, $kf)")
        case "trimmed" =>
          // trimmed docs SURVIVE (winner = self) with a partial cut
          assert(winner == id, s"trimmed doc $id winner $winner")
          assert(kf >= 0.0 && kf < 1.0, s"trimmed doc $id kept_frac $kf")
        case _ =>
          assert(winner != id, s"$stage doc $id won itself")
          assert(kf == 0.0, s"dropped doc $id kept_frac $kf")
          // winner chains resolve in ONE hop: every winner survives
          // (it may itself be span-trimmed — still in the corpus)
          assert(stageOf(winner) == "kept" || stageOf(winner) == "trimmed",
            s"$stage doc $id points at dropped winner $winner (${stageOf(winner)})")
      }
    }
    // near winners are the cluster minimum (the connectedComponents
    // contract): no near-dropped doc may precede its winner
    rows.filter(_._2 == "near").foreach { case (id, _, winner, _) =>
      assert(winner < id, s"near doc $id has non-minimal winner $winner")
    }
    // trim accounting reconciles with the span algebra run standalone:
    // every trimmed doc has ≥ 1 span over the survivor slice, and a
    // doc whose kept_frac is 1 − cov/n must match a hand recompute for
    // one spot-checked doc via q_dedup_substring's full-corpus spans
    val trimmedIds = rows.filter(_._2 == "trimmed").map(_._1).toSet
    val keptIds = rows.filter(r => r._2 == "kept" || r._2 == "trimmed")
      .map(_._1).toSet
    assert(trimmedIds.subsetOf(keptIds))
  }

  test("q_dedup_index_probe equals q_dedup_incremental row-for-row (persisted-index round trip)") {
    // the standing bucketed index must not change a single pair vs
    // the recompute form — same fixture, same threshold, two plans
    val recompute = q("q_dedup_incremental").collect().map(_.toString).toSeq
    val probed = q("q_dedup_index_probe").collect().map(_.toString).toSeq
    assert(probed == recompute,
      s"index probe diverged: ${probed.size} vs ${recompute.size} rows")
    assert(recompute.nonEmpty, "vacuous: fixture produced no near-dup pairs")
  }

  test("dot_d matches an independent driver-side dot product") {
    GraftFunctions.register(spark)
    val rows = Tables.t(spark, sf, "embeddings").limit(5)
      .select(col("vec_id"), col("embedding"),
        GraftFunctions.dot_d(col("embedding"), col("embedding")).as("d"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      val expect = v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
      assert(r.getDouble(2) == expect, s"vec ${r.getLong(0)}")
    }
  }

  test("ANN results are a subset of brute-force ranking with exact cosines") {
    val ann = q("q_similarity_ann").collect()
    assert(ann.nonEmpty)
    val brute = q("q_similarity_topk")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // full brute-force map (not just top-10) for cosine cross-check
    GraftFunctions.register(spark)
    val e = Tables.t(spark, sf, "embeddings")
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"),
        sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("q_nrm"))
    val all = e.crossJoin(broadcast(qv)).filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        (GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
          (sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))) * col("q_nrm")))
          .as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ann.foreach { r =>
      assert(all(r.getLong(0)) == r.getDouble(1),
        s"ANN cosine mismatch for vec ${r.getLong(0)}")
    }
    // LSH candidates can't beat the true max
    val annBest = ann.map(_.getDouble(1)).max
    assert(annBest <= brute.values.max + 1e-15)
  }

  test("minhash estimates stay in [0,1] with ordered pairs") {
    q("q_dedup_minhash").collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val est = r.getDouble(2)
      assert(est >= 0.5 && est <= 1.0)
    }
  }

  test("simhash near-pairs are ordered with hamming <= 4") {
    q("q_dedup_simhash").collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= 4 && r.getInt(2) >= 0)
    }
  }

  test("connectedComponents matches driver-side union-find on minhash pairs") {
    import graft.operators.Pipeline
    val pairs = q("q_dedup_minhash").select(col("da"), col("db")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Pipeline.connectedComponents(
        q("q_dedup_minhash").select(col("da"), col("db")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ground truth: classic union-find over the collected pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(x => x -> find(x)).toMap
    assert(clusters.keySet == truth.keySet)
    clusters.foreach { case (node, cid) =>
      assert(cid == truth(node), s"node $node: spark=$cid truth=${truth(node)}")
    }
    if (pairs.nonEmpty) assert(clusters.values.exists(c => clusters.count(_._2 == c) > 1))
  }

  test("starComponents is bit-identical to label propagation, incl. adversarial graphs") {
    import graft.operators.Pipeline
    import spark.implicits._
    // 1) the real minhash pair graph
    val real = q("q_dedup_minhash").select(col("da"), col("db"))
    val viaStar = Pipeline.starComponents(real)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLabels = Pipeline.connectedComponents(real)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaLabels, "engines disagree on the minhash graph")
    // 2) a deep path (diameter 63 — forces the O(log² n) multi-round
    // regime both algorithms claim) and a hot star (one node with 50
    // neighbors — the bounded-state case), plus a disjoint 2-cycle pair
    val path = (1L to 63L).map(i => (i - 1, i))
    val hot = (200L to 249L).map(i => (100L, i))
    val extra = Seq((300L, 301L), (301L, 300L)) // duplicate both ways
    val adversarial = (path ++ hot ++ extra).toDF("da", "db")
    val gotStar = Pipeline.starComponents(adversarial)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotLabels = Pipeline.connectedComponents(adversarial)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotStar == gotLabels, "engines disagree on the adversarial graph")
    (0L to 63L).foreach(i => assert(gotStar(i) == 0L, s"path node $i"))
    (200L to 249L).foreach(i => assert(gotStar(i) == 100L, s"hot-star node $i"))
    assert(gotStar(300L) == 300L && gotStar(301L) == 300L)
  }

  test("banded simhash equals the exact simhash pairs on the audit slice") {
    val exact = q("q_dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = q("q_dedup_simhash_lsh").collect()
    banded.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) >= 0 && r.getInt(2) <= 4)
    }
    // 6 bands × 10 bits: any pair within hamming ≤ 5 shares a band, so
    // for the hamming ≤ 4 predicate recall is exact — the uncapped
    // query restricted to the audit slice must EQUAL the capped one.
    val onSlice = banded.map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 < 100 && p._2 < 100).toSet
    assert(onSlice == exact)
    assert(banded.length >= exact.size) // uncapped covers the full corpus
  }

  test("bucketed embedding near-dup returns exact cosines from real collisions") {
    GraftFunctions.register(spark)
    val e = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("nrm"))
    val cos = GraftFunctions.dot_d(col("a.embedding"), col("b.embedding")) /
      (col("a.nrm") * col("b.nrm"))
    val allPairs = e.as("a").join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), cos.as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = q("q_dedup_embedding_lsh").collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(k._1 < k._2)
      assert(allPairs(k) == r.getDouble(2), s"cosine mismatch for $k")
    }
    // candidates can't beat the true maximum
    assert(lsh.map(_.getDouble(2)).max <= allPairs.values.max + 1e-15)
  }

  test("q_dedup_embedding_lsh: forced shard-pair candidates are value-identical (w-cap path)") {
    // round 11: the sign-LSH family carries the same over-cap shard
    // answer as the text LSH — any forced shard count (including an S
    // that doesn't divide the corpus, and the degenerate S=1) must
    // reproduce the unsharded output bit-for-bit, because every
    // unordered pair meets in exactly one shard-pair cell.
    val default = q("q_dedup_embedding_lsh").collect()
    assert(default.nonEmpty)
    for (s <- Seq(1, 3)) {
      System.setProperty(graft.operators.Retrieval.forceShardsProp,
        s.toString)
      val got =
        try q("q_dedup_embedding_lsh").collect()
        finally System.clearProperty(
          graft.operators.Retrieval.forceShardsProp)
      assert(got.sameElements(default),
        s"shard=$s diverged: ${got.length} vs ${default.length} rows")
    }
  }

  test("bucketed embedding near-dup finds a planted near-duplicate pair") {
    // The sf tables are near-orthogonal noise (max cos ~0.5) — the
    // regime sign-LSH is built for is high-cos near-dups, so plant one:
    // two almost-identical vectors must collide in some bucket and rank
    // first. This is the recall property that matters at 100 TB.
    import spark.implicits._
    val base = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val v = Array.tabulate(64)(i => ((i * 37 % 19) - 9) / 10.0f)
    val vDup = v.clone(); vDup(0) = vDup(0) + 1e-3f
    val planted = (base.toSeq :+ (9001L, v) :+ (9002L, vDup)).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-planted").toString
    planted.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val top = SparkEntry.queries("q_dedup_embedding_lsh")(spark, dir).collect()
    assert(top.nonEmpty)
    val found = top.filter(r => r.getLong(0) == 9001L && r.getLong(1) == 9002L)
    assert(found.length == 1, "planted near-dup pair not surfaced by LSH buckets")
    assert(found.head.getDouble(2) > 0.999)
    assert(top.head.getLong(0) == 9001L && top.head.getLong(1) == 9002L,
      "planted pair should rank first by cosine")
  }

  test("batch ANN results carry exact cosines and legal per-query ranks") {
    val exact = q("q_similarity_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = q("q_similarity_batch_ann").collect()
    assert(ann.nonEmpty)
    // full exact scoring map for cross-check
    GraftFunctions.register(spark)
    val e = Tables.t(spark, sf, "embeddings")
    val qv = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("q_nrm"))
    val all = e.filter(col("vec_id") >= 10).crossJoin(broadcast(qv))
      .select(col("q_id"), col("vec_id"),
        (GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
          (sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))) * col("q_nrm")))
          .as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val perQ = ann.groupBy(_.getLong(0))
    perQ.foreach { case (qid, rows) =>
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length),
        s"ranks not contiguous for query $qid")
      rows.foreach { r =>
        assert(all((qid, r.getLong(1))) == r.getDouble(2),
          s"cosine mismatch for (${qid}, ${r.getLong(1)})")
      }
      // per query, ANN's best candidate can't beat the exact best
      val exactBest = exact.collect { case ((q, _), c) if q == qid => c }.max
      assert(rows.map(_.getDouble(2)).max <= exactBest + 1e-15)
    }
    // Recall floor, stated honestly: the synthetic embeddings are
    // UNIFORM-RANDOM — the known worst case for sign-LSH, where
    // neighbor cosines sit barely above the noise floor and buckets
    // don't concentrate them (measured recall@3 ≈ 33–40% at every
    // shipped SF; clustered real-world corpora recall far higher, and
    // the PLANTED near-identical pairs — the case dedup actually
    // needs — are recovered at 100% by the embedding/IVF paths, pinned
    // in their own specs). The floor catches bucketing regressions
    // without pretending the worst case is better than it is.
    val exactTop = exact.keys.groupBy(_._1).map { case (qid, ks) =>
      qid -> ks.map(_._2).toSet }
    val annTop = perQ.map { case (qid, rows) => qid -> rows.map(_.getLong(1)).toSet }
    val tot = exactTop.values.map(_.size).sum
    val hit = exactTop.map { case (qid, s) => (s & annTop.getOrElse(qid, Set())).size }.sum
    assert(hit.toDouble / tot >= 0.25, s"ANN recall@3 collapsed: $hit/$tot")
  }

  test("IVF ANN: exact cosines, deterministic across runs, bounded by brute force") {
    val ivf1 = q("q_similarity_ivf").collect()
    val ivf2 = q("q_similarity_ivf").collect()
    assert(ivf1.nonEmpty)
    assert(ivf1.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      ivf2.map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "IVF result must be run-deterministic")
    GraftFunctions.register(spark)
    val e = Tables.t(spark, sf, "embeddings")
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"),
        sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))).as("q_nrm"))
    val all = e.crossJoin(broadcast(qv)).filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        (GraftFunctions.dot_d(col("embedding"), col("q_emb")) /
          (sqrt(GraftFunctions.dot_d(col("embedding"), col("embedding"))) * col("q_nrm")))
          .as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf1.foreach { r =>
      assert(all(r.getLong(0)) == r.getDouble(1),
        s"IVF cosine mismatch for vec ${r.getLong(0)}")
    }
    assert(ivf1.map(_.getDouble(1)).max <= all.values.max + 1e-15)
  }

  test("IVF ANN finds a planted near-duplicate of the query vector") {
    // an almost-copy of vec 0 must land in vec 0's own cell (identical
    // vectors share a nearest centroid) and rank first on re-rank
    import spark.implicits._
    val base = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val v0 = base.find(_._1 == 0L).get._2
    val vDup = v0.clone(); vDup(0) = vDup(0) + 1e-3f
    val planted = (base.toSeq :+ (9001L, vDup)).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    planted.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val top = SparkEntry.queries("q_similarity_ivf")(spark, dir).collect()
    assert(top.nonEmpty)
    assert(top.head.getLong(0) == 9001L && top.head.getDouble(1) > 0.999,
      s"planted dup should rank first, got ${top.head}")
  }

  test("q_token_count: zero-token docs yield NULL ratio, not an ANSI crash") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world, 42!", "en", 16L, "s"),
      (2L, "   ", "en", 3L, "s"),
      (3L, "", "en", 0L, "s"))
      .toDF("doc_id", "text", "lang", "n_chars", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft-tok").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_token_count")(spark, dir).collect()
    assert(rows.length == 3)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getInt(2) == 5) // hello | _world | , | _42 | !
    assert(byId(2L).getInt(2) == 0 && byId(2L).isNullAt(4))
    assert(byId(3L).getInt(2) == 0 && byId(3L).isNullAt(4))
  }

  test("multimodal decode is deterministic and partition-invariant") {
    import spark.implicits._
    val payloads = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[Multimodal.Payload]
    val once = Multimodal.decodeFeatures(payloads.repartition(1))
      .collect().sortBy(_.doc_id)
    val again = Multimodal.decodeFeatures(payloads.repartition(7))
      .collect().sortBy(_.doc_id)
    assert(once.length == again.length && once.length > 0)
    once.zip(again).foreach { case (a, b) =>
      assert(a.doc_id == b.doc_id && a.width == b.width &&
        a.features.sameElements(b.features))
    }
  }

  test("connectedComponents: 60-node chain converges via pointer doubling") {
    import graft.operators.Pipeline
    import spark.implicits._
    // a pure path graph is the worst case for one-hop propagation
    // (diameter 59 > the plain-round budget); pointer doubling from
    // round 4 compresses it within the default maxIter = 20
    val pairs = (0 until 59).map(i => (i.toLong, i.toLong + 1))
      .toDF("da", "db")
    val got = Pipeline.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 60)
    assert(got.values.toSet == Set(0L), s"labels: ${got.values.toSet}")
  }

  test("connectedComponents: maxIter exit without fixpoint throws, never truncates") {
    import graft.operators.Pipeline
    import spark.implicits._
    val pairs = (0 until 59).map(i => (i.toLong, i.toLong + 1))
      .toDF("da", "db")
    intercept[IllegalStateException] {
      Pipeline.connectedComponents(pairs, maxIter = 2)
    }
  }

  test("q_dedup_substring: spans are maximal, disjoint, and every gram truly cross-doc") {
    val spans = q("q_dedup_substring").collect()
    assert(spans.nonEmpty)
    // structural invariants: len = end-start+1 = n_grams+4; per-doc
    // spans disjoint AND non-adjacent (adjacent would mean non-maximal)
    spans.foreach { r =>
      assert(r.getInt(3) == r.getInt(2) - r.getInt(1) + 1)
      assert(r.getLong(4) == r.getInt(3) - 4L)
    }
    spans.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getInt(1) > a.getInt(2) - 4 + 1,
            s"doc $doc: spans mergeable — not maximal islands")
        case _ =>
      }
    }
    // semantic: every 5-gram inside a sampled span occurs in ANOTHER doc
    val texts = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val gramOwners = texts.toSeq.flatMap { case (id, w) =>
      w.sliding(5).filter(_.length == 5).map(g => g.mkString(" ") -> id)
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    spans.take(10).foreach { r =>
      val (doc, s0, s1) = (r.getLong(0), r.getInt(1), r.getInt(2))
      val w = texts(doc)
      (s0 to s1 - 4).foreach { p =>
        val g = w.slice(p - 1, p + 4).mkString(" ")
        assert(gramOwners(g).exists(_ != doc),
          s"doc $doc pos $p: gram not shared with any other doc")
      }
      // maximality outward: the grams just outside the span are NOT shared
      if (s0 > 1) {
        val g = w.slice(s0 - 2, s0 + 3).mkString(" ")
        assert(!gramOwners(g).exists(_ != doc), s"doc $doc: span extends left")
      }
    }
  }

  test("q_dedup_incremental: batch x corpus only, jaccard recomputes exactly") {
    val rows = q("q_dedup_incremental").collect()
    assert(rows.nonEmpty)
    val texts = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")
        .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet).toMap
    rows.foreach { r =>
      val (b, c) = (r.getLong(0), r.getLong(1))
      assert(b % 10 == 0 && c % 10 != 0, s"($b,$c) crosses the split wrong way")
      val (gb, gc) = (texts(b), texts(c))
      val ix = gb.intersect(gc).size.toLong
      assert(r.getLong(2) == ix, s"($b,$c) inter_n")
      assert(r.getLong(3) == gb.size + gc.size - ix, s"($b,$c) union_n")
      assert(3 * ix >= gb.size + gc.size, s"($b,$c) below threshold")
    }
    // completeness: driver-side exhaustive scan finds no pair the query missed
    val batchIds = texts.keys.filter(_ % 10 == 0)
    val corpusIds = texts.keys.filter(_ % 10 != 0).toSeq
    val expected = (for {
      b <- batchIds; c <- corpusIds
      ix = texts(b).intersect(texts(c)).size
      if 3 * ix >= texts(b).size + texts(c).size && texts(b).nonEmpty
    } yield (b, c)).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  test("q_mine_contrastive: driver-side recompute of positives, negatives, margins") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray.map(_.toDouble)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = q("q_mine_contrastive").collect()
    val byAnchor = rows.groupBy(_.getLong(0))
    val anchors = vecs.filter(_._1 < 16)
    assert(byAnchor.keySet == anchors.map(_._1).toSet, "one group per anchor")
    anchors.foreach { case (aid, albl, av) =>
      val scored = vecs.filter(_._1 != aid)
        .map { case (id, lbl, v) => (id, lbl, cos(av, v)) }
      val pos = scored.filter(_._2 == albl)
        .sortBy { case (id, _, c) => (-c, id) }.head
      val negs = scored.filter(_._2 != albl)
        .sortBy { case (id, _, c) => (-c, id) }.take(3)
      val got = byAnchor(aid).sortBy(_.getInt(2))
      assert(got.length == 4, s"anchor $aid must have 1 pos + 3 neg rows")
      assert(got(0).getString(1) == "pos" && got(0).getLong(3) == pos._1,
        s"anchor $aid positive id")
      assert(math.abs(got(0).getDouble(4) - pos._3) < 1e-12, s"anchor $aid pos cos")
      assert(got(0).getDouble(5) == 0.0, s"anchor $aid pos margin must be exactly 0")
      negs.zipWithIndex.foreach { case ((nid, _, ncos), i) =>
        val r = got(i + 1)
        assert(r.getString(1) == "neg" && r.getInt(2) == i + 1 && r.getLong(3) == nid,
          s"anchor $aid neg rank ${i + 1}")
        assert(math.abs(r.getDouble(4) - ncos) < 1e-12, s"anchor $aid neg cos")
        assert(r.getDouble(5) == r.getDouble(4) - got(0).getDouble(4),
          s"anchor $aid margin must be cos - pos_cos")
      }
    }
    // the fixture must contain genuinely HARD negatives somewhere
    // (a negative scoring above the hardest positive => positive margin)
    assert(rows.exists(r => r.getString(1) == "neg" && r.getDouble(5) > 0),
      "fixture must produce at least one hard negative with positive margin")
  }
}
