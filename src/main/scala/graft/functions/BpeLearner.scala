package graft.functions

import scala.collection.mutable

import org.apache.spark.unsafe.types.UTF8String

/** BPE merge learning (Sennrich et al. 2016) over a word-frequency
  * dictionary: each round counts the adjacent symbol pairs weighted by
  * word count, takes the argmax and rewrites every word by the greedy
  * left-to-right merge of that pair (the merged symbol never fuses
  * again in its round). It stops after `nMerges` rounds or when no pair
  * is left. Spark's semantics, which the DuckDB oracle mirrors: symbols
  * are code points (`length`/`substring`), and ties order by count
  * desc, then s1, then s2 in UTF-8 byte order (`UTF8String.compareTo`).
  * Compact intermediates (MorphStore, PAPERS.md): symbols are interned
  * to ints and a pair packs into one `Long` key, so a round's recount
  * hashes no strings. */
object BpeLearner {

  final case class Merge(round: Int, s1: String, s2: String, cnt: Long) // rounds from 1

  def learn(words: Iterator[(String, Long)], nMerges: Int): Seq[Merge] = {
    val syms = mutable.ArrayBuffer.empty[UTF8String]
    val ids = mutable.HashMap.empty[UTF8String, Int]
    def intern(sym: UTF8String): Int =
      ids.getOrElseUpdate(sym, { syms += sym; syms.length - 1 })
    val (ws, wcs) = words.map { case (w, wc) =>
      w.codePoints().toArray.map(cp =>
        intern(UTF8String.fromString(new String(Character.toChars(cp))))) -> wc
    }.toArray.unzip
    def rank(p: Long, c: Long, q: Long, d: Long): Boolean = c > d || c == d && {
      val o = syms(first(p)).compareTo(syms(first(q)))
      o < 0 || o == 0 && syms(second(p)).compareTo(syms(second(q))) < 0
    }
    val merges = mutable.ArrayBuffer.empty[Merge]
    val counts = mutable.LongMap.empty[Long]
    var more = true
    while (more && merges.length < nMerges) {
      counts.clear()
      for (k <- ws.indices; i <- 1 until ws(k).length) {
        val p = (ws(k)(i - 1).toLong << 32) | ws(k)(i)
        counts(p) = counts.getOrElse(p, 0L) + wcs(k)
      }
      more = counts.nonEmpty
      if (more) {
        val (p, cnt) = counts.reduce((x, y) => if (rank(y._1, y._2, x._1, x._2)) y else x)
        val (a, b) = (first(p), second(p))
        merges += Merge(merges.length + 1, syms(a).toString, syms(b).toString, cnt)
        val m = intern(UTF8String.concat(syms(a), syms(b)))
        for (k <- ws.indices) ws(k) = rewrite(ws(k), a, b, m)
      }
    }
    merges.toSeq
  }

  private def first(p: Long): Int = (p >>> 32).toInt
  private def second(p: Long): Int = p.toInt

  /** `w` with each (a, b) replaced by `m`, left to right without overlap. */
  private def rewrite(w: Array[Int], a: Int, b: Int, m: Int): Array[Int] = {
    val out = mutable.ArrayBuilder.make[Int]
    var i = 0
    while (i < w.length) {
      if (i + 1 < w.length && w(i) == a && w(i + 1) == b) { out += m; i += 2 }
      else { out += w(i); i += 1 }
    }
    out.result()
  }
}
