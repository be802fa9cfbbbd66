package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The engine's one build-once registry: every artifact that is built
  * once and reused — table relations, landed index tables, landed
  * holdings/snapshot/media trees, the semantic fit — goes through here.
  *
  * Lifetime = the SparkContext. Each context owns one table of
  * entries, created together with one `onApplicationEnd` listener that
  * drops the table, so a stopped context's frames (and the
  * localCheckpoint blocks they reference) never outlive it. A lookup
  * through a stopped context throws [[Memo.ContextStopped]] before
  * anything is inserted. Scoping to the context is what keys the
  * landed artifacts correctly: managed tables live in the context's
  * catalog under its warehouse dir, so a new context — possibly with
  * a different warehouse — rebuilds instead of being served table
  * names its catalog never saw.
  *
  * What an entry holds: a landed leaf (a localCheckpoint scan, a
  * managed table) or a name — never an executed plan or a cache. An
  * entry lives as long as its context, so everything it reaches stays
  * on the heap past `clearCache()`: a memoized cache() keeps its whole
  * cached query, and a memoized Deferred frame keeps the executed
  * inner plan its body returned, with every broadcast table and
  * nested cache that plan reaches. So a build, and a memoized Deferred
  * body, lands its result as a leaf (the text basis, q_dedup_semantic's
  * verdicts, the decoded media embeddings); both run in a [[Leaves]]
  * scope, which drops the intermediates their result does not read.
  * Entries must be small, not merely unreachable with their session:
  * Spark's `shuffle-exchange-*` and `broadcast-exchange-*` pool
  * threads inherit the active session through an InheritableThreadLocal
  * and keep a dead session — and anything keyed on it — reachable
  * until the idle thread retires, up to 60 s later.
  *
  * Keys: `kind` names the call site; [[context]] entries are shared by
  * every session of the context (landed artifacts), [[session]]
  * entries also key on the session (analyzed frames are bound to
  * theirs).
  *
  * Each entry is a once-cell: the first caller builds under the CELL's
  * monitor, concurrent callers of the same key wait for it, and a build
  * that throws leaves the cell empty so the next call retries. The
  * build runs outside the table's bin lock — index builds call
  * `Tables.t` (another entry of the same table) from inside their
  * build, which a shared `computeIfAbsent` would reject as a recursive
  * update. Caveat: a memoized relation caches its file listing — a
  * source dir rewritten in place serves stale files until the context
  * stops (testdata dirs are immutable; a rewriter must regenerate into
  * a new path). */
object Memo {

  /** A memo lookup through a session whose SparkContext has stopped. */
  final class ContextStopped(sc: SparkContext) extends IllegalStateException(
    s"graft memo: SparkContext ${sc.applicationId} is stopped")

  private final class Cell {
    private var value: Option[Any] = None
    def get(build: => Any): Any = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    }
  }

  private val tables =
    new ConcurrentHashMap[SparkContext, ConcurrentHashMap[Any, Cell]]()

  private def table(sc: SparkContext): ConcurrentHashMap[Any, Cell] = {
    if (sc.isStopped) throw new ContextStopped(sc)
    val t = tables.computeIfAbsent(sc, _ => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          tables.remove(sc)
      })
      new ConcurrentHashMap[Any, Cell]()
    })
    // stop() flips isStopped before it posts application end: a stop
    // that began after the first check may have posted the event before
    // the listener above existed, so drop the table here instead
    if (sc.isStopped) { tables.remove(sc); throw new ContextStopped(sc) }
    t
  }

  private def lookup[V](s: SparkSession, key: Seq[Any], build: => V): V =
    table(s.sparkContext).computeIfAbsent(key, _ => new Cell)
      .get(Leaves.scope(build)).asInstanceOf[V]

  /** Build-once value shared by every session of `s`'s context. */
  def context[V](s: SparkSession, kind: String, parts: Any*)(build: => V): V =
    lookup(s, kind +: parts, build)

  /** Build-once value bound to the session `s` itself. */
  def session[V](s: SparkSession, kind: String, parts: Any*)(build: => V): V =
    lookup(s, kind +: s +: parts, build)

  /** Live entry count of `sc`'s table; None when it has none (never
    * looked up, or stopped). */
  private[graft] def entries(sc: SparkContext): Option[Int] =
    Option(tables.get(sc)).map(_.size)
}
