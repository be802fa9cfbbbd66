package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** THE entry point for a standing index (VERDICT r16 #7): gram (exact
  * 3-gram dedup), text-LSH, embedding-LSH and IVF each land a
  * write-once bucketed layout, probe it with daily batches, absorb,
  * tombstone-purge, compact-with-fold, and consult a drift gauge wired
  * to a repair. Queries, streaming probes, harnesses and specs reach a
  * family only through this trait, so the lifecycle is written once
  * and a fifth family gets all of it by declaring one instance.
  *
  * A family declares its layout ONCE, in [[idTables]]: every bucketed
  * table that names a source row, with its bucket column and the
  * column holding the id. [[purge]] and [[compact]] are derived from
  * that list — no caller writes a per-family table list — and so are
  * the three memoized query fixtures ([[standing]], [[absorbed]],
  * [[purged]]), built over the fixture's own source rows.
  *
  * `T` is the family's landed-table tuple; `d` is the fixture dir the
  * corpus derives from (also the probeSide gate's byte bound). Probes
  * and absorbs take the batch as a Column predicate over the family's
  * source table — the batch-query shape; the streaming paths keep
  * their frame-shaped entry points (a micro-batch has no predicate).
  *
  * Lifecycle contracts every instance keeps: probes read ONLY through
  * Layout.readPurged; absorb appends with the frozen stats (never
  * refits); purge is a tombstone append, physical removal is
  * `compact`'s fold; `maybeMaintain` is build-new-then-switch — the
  * repaired instance lands completely before the caller flips its
  * reference (the SoakBench / runIvfProbeAbsorbLoop swap posture). */
trait StandingIndex[T] {

  /** Family name (diagnostics, memo keys). */
  def family: String

  /** Natural id column of the family's source rows (doc_id / vec_id)
    * — the column `purge`'s ids frame must carry. */
  def idCol: String

  /** Source table of the family's rows: "documents" or "embeddings". */
  def source: String

  /** The layout declaration: (table, bucket column, id column) for
    * every bucketed table of `t` that names a source row. */
  def idTables(t: T): Seq[(String, String, String)]

  /** Land a throwaway instance over the source rows `sel` keeps. */
  def build(s: SparkSession, d: String, suffix: String,
      sel: DataFrame => DataFrame): T

  /** Append one day's batch with the frozen stats / quantizer. */
  def absorb(s: SparkSession, d: String, t: T, day: Column): Unit

  /** Daily batch probe: the index side rides its bucket layout (zero
    * Exchange), batch sides ride the Layout.probeSide gate. */
  def probe(s: SparkSession, d: String, t: T, batch: Column): DataFrame

  /** PURGE-AWARE membership: one `idCol` row per covered source row,
    * read from the family's landed manifest (the same read its
    * re-freeze rebuilds from — a purge is invisible here the moment
    * the tombstone lands, which is why a repair can never resurrect
    * erased rows). */
  def members(s: SparkSession, d: String, t: T): DataFrame

  /** The frozen-stats drift gauge for a batch (one row), or None for a
    * family with no frozen stats to age. */
  def gauge(s: SparkSession, d: String, t: T, batch: Column): Option[DataFrame]

  /** Gauge → engine.Maintenance decision → repair at the DEFAULT
    * thresholds: Some(new tables) when the policy fired (the caller
    * swaps its reference — the old instance stays landed under its own
    * suffix), None while the frozen stats are healthy — or when the
    * family has none to age. */
  def maybeMaintain(s: SparkSession, d: String, t: T, batch: Column,
      suffix: String): Option[T]

  /** Bucket count of every table of the family. */
  final def buckets(d: String): Int = Layout.bucketsFor(s"$d/$source.parquet")

  /** Retention purge: tombstone every [[idTables]] entry with the ids
    * (single-column frame named `idCol`). Readers exclude them at
    * once; rows leave the disk at the next [[compact]]. */
  final def purge(s: SparkSession, t: T, ids: DataFrame): Unit =
    idTables(t).foreach { case (table, _, id) =>
      Layout.tombstone(table, ids.select(col(idCol).as(id)), id)
    }

  /** Fold tombstones + append fan-in on every [[idTables]] entry — the
    * family's periodic upkeep (and, for the exact gram family, its
    * ONLY maintenance). Returns each table's (files before, after). */
  final def compact(s: SparkSession, d: String, t: T): Seq[(Long, Long)] =
    idTables(t).map { case (table, key, id) =>
      Layout.compactBucketed(s, table, key, buckets(d),
        foldTombstonesOn = Some(id))
    }

  /** The standing index over the corpus (id % 10 ≠ 0), built once per
    * (context, fixture, bucket count). */
  final def standing(s: SparkSession, d: String): T =
    fixture(s, d, "standing")(h => corpus(s, d, s"_$h"))

  /** The standing corpus under its own tables plus an ABSORBED day-1
    * batch (id % 20 = 0, disjoint from the corpus). */
  final def absorbed(s: SparkSession, d: String): T =
    fixture(s, d, "absorbed") { h =>
      val t = corpus(s, d, s"u_$h")
      absorb(s, d, t, col(idCol) % 20 === 0)
      t
    }

  /** The standing corpus under its own tables with a retention purge
    * of every member with id % 30 = 3 applied (tombstones only — the
    * data files stay until a fold). The id list lands before the
    * purge: `members` reads through the tombstones being written. */
  final def purged(s: SparkSession, d: String): T =
    fixture(s, d, "purged") { h =>
      val t = corpus(s, d, s"p_$h")
      purge(s, t, members(s, d, t).filter(col(idCol) % 30 === 3)
        .localCheckpoint())
      t
    }

  private def corpus(s: SparkSession, d: String, suffix: String): T =
    build(s, d, suffix, _.filter(col(idCol) % 10 =!= 0))

  // own tables per stage: the lifecycle fixtures mutate theirs, and a
  // shared index would couple unrelated queries to that mutation
  private def fixture(s: SparkSession, d: String, stage: String)(
      body: String => T): T = {
    val h = Layout.indexSuffix(s, d, buckets(d))
    Memo.context(s, s"$family.$stage", h)(body(h))
  }
}
