package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of checkpointed intermediates ("leaves"). [[land]]
  * checkpoints a frame and records it in the innermost [[scope]] open
  * on this thread; outside any scope the caller owns it. Every
  * `plans.Deferred` body, [[Memo]] build and `StreamRunner.drain`
  * micro-batch step runs in a scope, so query code only calls [[land]]
  * and, in a loop, [[advance]].
  *
  * When a scope's body returns, the scope drops every leaf landed
  * directly in it that the returned value does not read: whose
  * `LogicalRDD` is absent from the ANALYZED plan, subqueries included,
  * of the value or of the Datasets among a Product value's fields (a
  * leaf that `s.sql` reads through a temp view appears only after
  * analysis). A kept leaf belongs to the value: it is never handed to
  * an enclosing scope, and the ContextCleaner frees it with the value.
  * So a memo entry keeps exactly the leaves it reads, and a memo build
  * inside a Deferred body never loses its leaf to that body's scope. A
  * body that throws drops everything it landed.
  *
  * A drop is `rdd.unpersist()` on the leaf's RDD, the engine's only
  * unpersist: unlike a Dataset cache's, it takes no CacheManager lock,
  * so a Deferred body may drop while a consumer's cache over that body
  * is being built (the deadlock at Retrieval.semanticVerdicts). Scopes
  * live in a plain ThreadLocal: Spark's exchange pool threads would
  * inherit an inheritable one's scope, so a Deferred body that runs on
  * a pool thread opens its own there. */
object Leaves {

  private val open = new ThreadLocal[List[ArrayBuffer[RDD[_]]]] {
    override def initialValue(): List[ArrayBuffer[RDD[_]]] = Nil
  }

  /** `df.localCheckpoint()`, owned by the innermost open scope. */
  def land(df: DataFrame): DataFrame = {
    val leaf = df.localCheckpoint()
    open.get.headOption.foreach(_ ++= leaf.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd
    })
    leaf
  }

  /** [[land]]s `df`, then drops `prev` if it is a leaf: a loop's round
    * i-1 once round i has landed and nothing live reads it, so a loop
    * holds at most two round leaves. */
  def advance(prev: DataFrame, df: DataFrame): DataFrame = {
    val leaf = land(df)
    prev.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist()
      case _ =>
    }
    leaf
  }

  /** `body` in a new scope (the rule above). */
  def scope[T](body: => T): T = {
    val landed = ArrayBuffer.empty[RDD[_]]
    val outer = open.get
    open.set(landed :: outer)
    val value =
      try body
      catch { case t: Throwable => landed.foreach(_.unpersist()); throw t }
      finally open.set(outer)
    lazy val read = reads(value) // analyzes nothing when nothing landed
    landed.filterNot(r => read(r.id)).foreach(_.unpersist())
    value
  }

  /** Ids of the RDDs the analyzed plans of `value`'s frames scan. */
  private def reads(value: Any): Set[Int] = (value match {
    case ds: Dataset[_] => Seq(ds)
    case p: Product => p.productIterator.collect { case ds: Dataset[_] => ds }.toSeq
    case _ => Nil
  }).flatMap(_.queryExecution.analyzed.collectWithSubqueries {
    case r: LogicalRDD => r.rdd.id
  }).toSet
}
