package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Layout, StandingIndex, Tables}

/** The four standing-index families, each declared once through the
  * engine.StandingIndex seam (VERDICT r16 #7): its layout
  * (`idTables`) and its delegations into the family's build, absorb,
  * probe, gauge and repair bodies. Purge, compaction and the query
  * fixtures are the trait's own. StandingIndexSpec drives build →
  * absorb → probe → purge → compact → maybeMaintain through each
  * instance and pins the cross-family invariants (purged ids vanish
  * from probes and from disk after the fold, the fold moves no
  * verdict, a fired repair keeps the purge). */
object StandingIndexes {

  /** Exact 3-gram dedup index: (corpus_id, g) on g, per-doc counts on
    * corpus_id. No frozen stats, so there is no gauge and maybeMaintain
    * is None by construction; compaction is this family's entire
    * upkeep. */
  object Gram extends StandingIndex[(String, String)] {
    val family = "gram"
    val idCol = "doc_id"
    val source = "documents"
    def idTables(t: (String, String)) =
      Seq((t._1, "g", "corpus_id"), (t._2, "corpus_id", "corpus_id"))
    def build(s: SparkSession, d: String, suffix: String,
        sel: DataFrame => DataFrame): (String, String) =
      Pipeline.buildGramIndex(s, d, suffix, sel)
    def absorb(s: SparkSession, d: String, t: (String, String),
        day: Column): Unit =
      Pipeline.absorbGramBatch(s, d, t, buckets(d), _.filter(day))
    def probe(s: SparkSession, d: String, t: (String, String),
        batch: Column): DataFrame =
      Pipeline.gramIndexProbeOn(s, d,
        Layout.readPurged(s, t._1, "corpus_id"),
        Layout.readPurged(s, t._2, "corpus_id"), batch)
    def members(s: SparkSession, d: String, t: (String, String)): DataFrame =
      Layout.readPurged(s, t._2, "corpus_id")
        .select(col("corpus_id").as(idCol))
    def gauge(s: SparkSession, d: String, t: (String, String),
        batch: Column): Option[DataFrame] = None
    def maybeMaintain(s: SparkSession, d: String, t: (String, String),
        batch: Column, suffix: String): Option[(String, String)] = None
  }

  /** Text near-dup sign-LSH index: frozen df/stat tables, banded
    * signatures on bb, vectors on corpus_id, plus the membership
    * manifest the re-freeze rebuilds from (a purge that missed it
    * would resurrect erased docs at the next re-freeze). */
  object TextLsh extends StandingIndex[(String, String, String, String)] {
    val family = "text_lsh"
    val idCol = "doc_id"
    val source = "documents"
    def idTables(t: (String, String, String, String)) =
      Seq((t._1, "bb", "corpus_id"), (t._2, "corpus_id", "corpus_id"),
        (Retrieval.lshMemTable(t._1), "doc_id", "doc_id"))
    def build(s: SparkSession, d: String, suffix: String,
        sel: DataFrame => DataFrame): (String, String, String, String) =
      Retrieval.buildLshIndex(s, d, suffix, sel)
    def absorb(s: SparkSession, d: String,
        t: (String, String, String, String), day: Column): Unit =
      Retrieval.absorbLshBatch(s, d, t, buckets(d), _.filter(day))
    def probe(s: SparkSession, d: String,
        t: (String, String, String, String), batch: Column): DataFrame =
      Retrieval.lshIndexProbe(s, d, t, batch)
    def members(s: SparkSession, d: String,
        t: (String, String, String, String)): DataFrame =
      Layout.readPurged(s, Retrieval.lshMemTable(t._1), "doc_id")
        .select(col("doc_id"))
    def gauge(s: SparkSession, d: String,
        t: (String, String, String, String),
        batch: Column): Option[DataFrame] =
      Some(Retrieval.lshDriftGauge(s, d, t, batch))
    def maybeMaintain(s: SparkSession, d: String,
        t: (String, String, String, String), batch: Column,
        suffix: String): Option[(String, String, String, String)] =
      Retrieval.maybeRefreezeText(s, d, t, batch, suffix)
  }

  /** Embedding near-dup sign-LSH index: frozen plane width,
    * signatures on tb, vectors on corpus_id (the vector table is also
    * its membership manifest). A purge leaves the width as frozen: it
    * derives from a count, and the next re-freeze re-derives it. */
  object EmbLsh extends StandingIndex[(String, String, String)] {
    val family = "emb_lsh"
    val idCol = "vec_id"
    val source = "embeddings"
    def idTables(t: (String, String, String)) =
      Seq((t._1, "tb", "corpus_id"), (t._2, "corpus_id", "corpus_id"))
    def build(s: SparkSession, d: String, suffix: String,
        sel: DataFrame => DataFrame): (String, String, String) =
      Pipeline.buildEmbIndexOn(s, d, suffix, sel)
    def absorb(s: SparkSession, d: String, t: (String, String, String),
        day: Column): Unit =
      Pipeline.absorbEmbBatch(s, d, t, buckets(d), day)
    def probe(s: SparkSession, d: String, t: (String, String, String),
        batch: Column): DataFrame =
      Pipeline.embIndexProbeOn(s, t,
        Tables.t(s, d, "embeddings").filter(batch),
        s"$d/embeddings.parquet")
    def members(s: SparkSession, d: String,
        t: (String, String, String)): DataFrame =
      Layout.readPurged(s, t._2, "corpus_id")
        .select(col("corpus_id").as(idCol))
    def gauge(s: SparkSession, d: String, t: (String, String, String),
        batch: Column): Option[DataFrame] =
      Some(Pipeline.embDriftGauge(s, t))
    def maybeMaintain(s: SparkSession, d: String,
        t: (String, String, String), batch: Column,
        suffix: String): Option[(String, String, String)] =
      Pipeline.maybeRefreezeEmb(s, d, t, suffix)
  }

  /** IVF similarity index: frozen sized coarse quantizer + bucketed
    * cells on cid (the cells are its membership manifest). A purge
    * leaves a deleted vector's mass in the frozen centroids until the
    * next re-cluster — the staleness its gauge reads. */
  object Ivf extends StandingIndex[(String, String)] {
    val family = "ivf"
    val idCol = "vec_id"
    val source = "embeddings"
    def idTables(t: (String, String)) = Seq((t._2, "cid", "corpus_id"))
    def build(s: SparkSession, d: String, suffix: String,
        sel: DataFrame => DataFrame): (String, String) =
      Pipeline.buildIvfIndexOn(s, d, suffix, sel)
    def absorb(s: SparkSession, d: String, t: (String, String),
        day: Column): Unit =
      Pipeline.absorbIvfBatch(s, d, t, buckets(d), day)
    def probe(s: SparkSession, d: String, t: (String, String),
        batch: Column): DataFrame =
      Pipeline.ivfIndexProbeOn(s, t,
        Tables.t(s, d, "embeddings").filter(batch),
        s"$d/embeddings.parquet")
    def members(s: SparkSession, d: String, t: (String, String)): DataFrame =
      Layout.readPurged(s, t._2, "corpus_id")
        .select(col("corpus_id").as(idCol)).distinct()
    def gauge(s: SparkSession, d: String, t: (String, String),
        batch: Column): Option[DataFrame] =
      Some(Pipeline.ivfDriftGauge(s, t))
    def maybeMaintain(s: SparkSession, d: String, t: (String, String),
        batch: Column, suffix: String): Option[(String, String)] =
      Pipeline.maybeReclusterIvf(s, d, t, suffix)
  }

  /** The registry: every standing-index family, through one seam. */
  val families: Seq[StandingIndex[_]] = Seq(Gram, TextLsh, EmbLsh, Ivf)
}
