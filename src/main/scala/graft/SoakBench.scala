package graft

import org.apache.spark.sql.functions._

import graft.Harness.{round2, timed}

/** Multi-day absorb→purge→compact soak for the text-LSH and
  * embedding-LSH standing indexes (VERDICT r14 #7 — the gram family
  * has its day-0/day-1/compact cycle timed in CompactBench; this runs
  * the FULL lifecycle for the other two families and times every
  * step): build a throwaway index, absorb three disjoint crawl days
  * (id % 40 = 0 / 10 / 20 — all inside the batch space, disjoint from
  * the % 10 ≠ 0 corpus), snapshot a day-4 probe (% 40 = 30, never
  * absorbed), PURGE a retention slice (% 30 = 3 text / % 30 = 7
  * embedding — tombstone sidecars, round 15), snapshot the purged
  * probe, compact every bucketed table WITH TOMBSTONE FOLDING, and
  * re-probe: the fold must not move a verdict by a bit, the sidecars
  * must be gone, and the purged rows physically absent. One JSON line
  * per family with absorb walls, purge wall, file fan-in folded,
  * fold-compaction wall, and probe row counts before/after purge.
  *
  * Round 16 (VERDICT r15 #5) adds the MAINTENANCE-POLICY sections:
  * gauge → decision → re-freeze at the DEFAULT thresholds, on
  * lifecycles constructed to age the frozen stats for real — the text
  * index freezes its vocabulary on the FIRST HALF of the doc-id space
  * and the gauge batch comes from the second half (on an SfGen-scaled
  * fixture that is a genuine domain shift: replica tokens are
  * disjoint); the embedding index freezes its width on a 1/16th build
  * slice and absorbs three quarter-corpus days on top (≥ 4× the design
  * capacity once the fixture holds > ~25k vectors — pass a factor-30
  * embeddings fixture as SPARK_GRAFT_SOAK_EMB_DIR). When the gauge
  * trips, the re-freeze fires and the row asserts post-refreeze probe
  * ≡ a from-scratch build over the same membership; when it does not
  * (small fixtures), the row records the gauge and decision as-is.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<fixture> runMain graft.SoakBench
  */
object SoakBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val embDir = sys.env.getOrElse("SPARK_GRAFT_SOAK_EMB_DIR", sfDir)
    val spark = Harness.session()
    val days = Seq(0, 10, 20)

    def files(t: String): Long = spark.table(t).inputFiles.length.toLong

    // ---- text-LSH family -------------------------------------------
    locally {
      val bk = graft.engine.Layout.bucketsFor(s"$sfDir/documents.parquet")
      val (t, buildW) = timed(operators.Retrieval.buildLshIndex(
        spark, sfDir, "_soak", _.filter(col("doc_id") % 10 =!= 0)))
      val (sigT, vecT, _, _) = t
      val absorbW = days.map { dy =>
        timed(operators.Retrieval.absorbLshBatch(spark, sfDir, t, bk,
          _.filter(col("doc_id") % 40 === dy)))._2
      }
      def probe() = operators.Retrieval.lshIndexProbe(spark, sfDir, t,
        col("doc_id") % 40 === 30).collect().map(_.toString).toSeq
      val before = probe()
      // retention purge: tombstone sidecars (sig + vec + manifest)
      val purgeIds = graft.engine.Tables.t(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 30 === 3)
        .select(col("doc_id"))
      val (_, purgeW) = timed(
        operators.Retrieval.purgeLshIndex(spark, t, purgeIds))
      val purged = probe()
      val fb = (files(sigT), files(vecT))
      val (folds, compW) = timed(Seq(
        graft.engine.Layout.compactBucketed(spark, sigT, "bb", bk,
          foldTombstonesOn = Some("corpus_id")),
        graft.engine.Layout.compactBucketed(spark, vecT, "corpus_id", bk,
          foldTombstonesOn = Some("corpus_id"))))
      val after = probe()
      require(purged == after,
        s"text probe diverged across the fold: ${purged.size} vs ${after.size}")
      require(!spark.catalog.tableExists(sigT + "_tomb") &&
        spark.table(vecT).filter(col("corpus_id") % 30 === 3).count() == 0,
        "fold left tombstones or purged rows behind")
      println(s"""{"scenario":"soak_text_lsh","sf":"$sfDir","buckets":$bk,""" +
        s""""build_sec":${round2(buildW)},""" +
        s""""absorb_sec":[${absorbW.map(round2).mkString(",")}],""" +
        s""""purge_sec":${round2(purgeW)},""" +
        s""""sig_files":[${fb._1},${folds(0)._2}],""" +
        s""""vec_files":[${fb._2},${folds(1)._2}],""" +
        s""""fold_compact_sec":${round2(compW)},""" +
        s""""probe_rows":[${before.size},${purged.size}],""" +
        s""""post_fold_identical":true}""")
    }

    // ---- embedding-LSH family --------------------------------------
    locally {
      val bk = graft.engine.Layout.bucketsFor(s"$sfDir/embeddings.parquet")
      val (t, buildW) = timed(operators.Pipeline.buildEmbIndex(
        spark, sfDir, "_soak", col("vec_id") % 10 =!= 0))
      val (sigT, vecT, _) = t
      val absorbW = days.map { dy =>
        timed(operators.Pipeline.absorbEmbBatch(spark, sfDir, t, bk,
          col("vec_id") % 40 === dy))._2
      }
      def probe() = operators.Pipeline.embIndexProbeOn(spark, t,
        graft.engine.Tables.t(spark, sfDir, "embeddings")
          .filter(col("vec_id") % 40 === 30),
        s"$sfDir/embeddings.parquet").collect().map(_.toString).toSeq
      val before = probe()
      val purgeIds = graft.engine.Tables.t(spark, sfDir, "embeddings")
        .filter(col("vec_id") % 10 =!= 0 && col("vec_id") % 30 === 7)
        .select(col("vec_id"))
      val (_, purgeW) = timed(
        operators.Pipeline.purgeEmbIndex(spark, t, purgeIds))
      val purged = probe()
      val fb = (files(sigT), files(vecT))
      val (folds, compW) = timed(Seq(
        graft.engine.Layout.compactBucketed(spark, sigT, "tb", bk,
          foldTombstonesOn = Some("corpus_id")),
        graft.engine.Layout.compactBucketed(spark, vecT, "corpus_id", bk,
          foldTombstonesOn = Some("corpus_id"))))
      val after = probe()
      require(purged == after,
        s"emb probe diverged across the fold: ${purged.size} vs ${after.size}")
      require(!spark.catalog.tableExists(sigT + "_tomb") &&
        spark.table(vecT).filter(col("corpus_id") % 30 === 7).count() == 0,
        "fold left tombstones or purged rows behind")
      println(s"""{"scenario":"soak_emb_lsh","sf":"$sfDir","buckets":$bk,""" +
        s""""build_sec":${round2(buildW)},""" +
        s""""absorb_sec":[${absorbW.map(round2).mkString(",")}],""" +
        s""""purge_sec":${round2(purgeW)},""" +
        s""""sig_files":[${fb._1},${folds(0)._2}],""" +
        s""""vec_files":[${fb._2},${folds(1)._2}],""" +
        s""""fold_compact_sec":${round2(compW)},""" +
        s""""probe_rows":[${before.size},${purged.size}],""" +
        s""""post_fold_identical":true}""")
    }

    // ---- maintenance policy: text drift gauge → re-freeze ----------
    locally {
      import graft.engine.{Maintenance, Tables}
      val bk = graft.engine.Layout.bucketsFor(s"$sfDir/documents.parquet")
      val half = Tables.t(spark, sfDir, "documents")
        .agg(max(col("doc_id"))).head().getLong(0) / 2 + 1
      val corpusPred = col("doc_id") < half && col("doc_id") % 10 =!= 0
      val dayPred = col("doc_id") >= half && col("doc_id") % 40 === 0
      val batch = col("doc_id") >= half && col("doc_id") % 40 === 30
      val t = operators.Retrieval.buildLshIndex(spark, sfDir, "_soakpol",
        _.filter(corpusPred))
      operators.Retrieval.absorbLshBatch(spark, sfDir, t, bk,
        _.filter(dayPred))
      val g = operators.Retrieval.lshDriftGauge(spark, sfDir, t, batch)
        .head()
      val (oov, shift) =
        (g.getAs[Double]("oov_rate"), g.getAs[Double]("df_shift"))
      val trip = Maintenance.textNeedsRefreeze(oov, shift) // DEFAULTS
      val (refr, rw) = if (trip)
        timed(Some(operators.Retrieval.refreezeLsh(spark, sfDir,
          "_soakpolr", t)))
      else (None, 0.0)
      val identical = refr.map { rt =>
        val fresh = operators.Retrieval.buildLshIndex(spark, sfDir,
          "_soakpolf", _.filter(corpusPred || dayPred))
        def probe(tt: (String, String, String, String)) =
          operators.Retrieval.lshIndexProbe(spark, sfDir, tt, batch)
            .collect().map(_.toString).toSeq
        val same = probe(rt) == probe(fresh)
        require(same, "post-refreeze probe diverged from fresh build")
        same
      }
      println(s"""{"scenario":"soak_policy_text","sf":"$sfDir",""" +
        s""""oov_rate":$oov,"df_shift":$shift,"refreeze":$trip,""" +
        s""""refreeze_sec":${round2(rw)},""" +
        s""""post_refreeze_identical":${identical.getOrElse(null)}}""")
    }

    // ---- maintenance policy: emb growth gauge → re-freeze ----------
    locally {
      import graft.engine.{Maintenance, Tables}
      val bk = graft.engine.Layout.bucketsFor(s"$embDir/embeddings.parquet")
      val corpusPred = col("vec_id") % 16 === 1
      val dayPreds = Seq(col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 0,
        col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 2,
        col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 3)
      val batch = Tables.t(spark, embDir, "embeddings")
        .filter(col("vec_id") % 16 === 5)
      val t = operators.Pipeline.buildEmbIndex(spark, embDir, "_soakpol",
        corpusPred)
      dayPreds.foreach(p =>
        operators.Pipeline.absorbEmbBatch(spark, embDir, t, bk, p))
      val g = operators.Pipeline.embDriftGauge(spark, t).head()
      val (growth, occAvg, occMax) = (g.getAs[Double]("growth"),
        g.getAs[Double]("occ_avg"), g.getAs[Long]("occ_max"))
      val trip = Maintenance.embNeedsRefreeze(growth, occAvg, occMax)
      val (refr, rw) = if (trip)
        timed(Some(operators.Pipeline.refreezeEmb(spark, embDir,
          "_soakpolr", t)))
      else (None, 0.0)
      val identical = refr.map { rt =>
        val fresh = operators.Pipeline.buildEmbIndex(spark, embDir,
          "_soakpolf", dayPreds.foldLeft(corpusPred)(_ || _))
        def probe(tt: (String, String, String)) =
          operators.Pipeline.embIndexProbeOn(spark, tt, batch,
            s"$embDir/embeddings.parquet")
            .collect().map(_.toString).toSeq
        val same = probe(rt) == probe(fresh)
        require(same, "post-refreeze probe diverged from fresh build")
        same
      }
      println(s"""{"scenario":"soak_policy_emb","sf":"$embDir",""" +
        s""""n_vec":${g.getAs[Long]("n_vec")},"ab":${g.getAs[Int]("ab")},""" +
        s""""growth":$growth,"occ_avg":$occAvg,"occ_max":$occMax,""" +
        s""""refreeze":$trip,"refreeze_sec":${round2(rw)},""" +
        s""""post_refreeze_identical":${identical.getOrElse(null)}}""")
    }

    // ---- maintenance policy: IVF growth gauge → re-cluster ---------
    locally {
      import graft.engine.{Maintenance, Tables}
      val bk = graft.engine.Layout.bucketsFor(s"$embDir/embeddings.parquet")
      val corpusPred = col("vec_id") % 16 === 1
      val dayPreds = Seq(col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 0,
        col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 2,
        col("vec_id") % 16 =!= 1 && col("vec_id") % 4 === 3)
      val batch = Tables.t(spark, embDir, "embeddings")
        .filter(col("vec_id") % 16 === 5)
      val t = operators.Pipeline.buildIvfIndex(spark, embDir, "_soakpolI",
        corpusPred)
      dayPreds.foreach(p =>
        operators.Pipeline.absorbIvfBatch(spark, embDir, t, bk, p))
      val g = operators.Pipeline.ivfDriftGauge(spark, t).head()
      val (growth, occAvg, occMax) = (g.getAs[Double]("growth"),
        g.getAs[Double]("occ_avg"), g.getAs[Long]("occ_max"))
      val trip = Maintenance.ivfNeedsRecluster(growth, occAvg, occMax)
      val (recl, rw) = if (trip)
        timed(Some(operators.Pipeline.reclusterIvf(spark, embDir,
          "_soakpolIR", t)))
      else (None, 0.0)
      val identical = recl.map { rt =>
        val fresh = operators.Pipeline.buildIvfIndex(spark, embDir,
          "_soakpolIF", dayPreds.foldLeft(corpusPred)(_ || _))
        def probe(tt: (String, String)) =
          operators.Pipeline.ivfIndexProbeOn(spark, tt, batch,
            s"$embDir/embeddings.parquet")
            .collect().map(_.toString).toSeq
        val same = probe(rt) == probe(fresh)
        require(same, "post-recluster probe diverged from fresh fit")
        same
      }
      println(s"""{"scenario":"soak_policy_ivf","sf":"$embDir",""" +
        s""""n_vec":${g.getAs[Long]("n_vec")},""" +
        s""""fit_n":${g.getAs[Long]("fit_n")},""" +
        s""""growth":$growth,"occ_avg":$occAvg,"occ_max":$occMax,""" +
        s""""recluster":$trip,"recluster_sec":${round2(rw)},""" +
        s""""post_recluster_identical":${identical.getOrElse(null)}}""")
    }
    spark.stop()
  }
}
