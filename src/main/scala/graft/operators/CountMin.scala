package graft.operators

import graft.functions.H60
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable Count-Min sketch — the fixed-size point-frequency
  * companion to [[MisraGriesAgg]]. Misra-Gries keeps the top-k items
  * but forgets everything else; Count-Min answers "how often did THIS
  * item occur" for any item, from a `depth × width` grid of counters
  * that never grows with the vocabulary. At 100 TB the sketch is the
  * only way to expose per-item counts without shuffling the vocabulary:
  * each task folds its partition into one grid, and only grids
  * (depth·width longs) cross the shuffle — partial + final aggregation
  * of an associative, commutative elementwise sum (Cormode &
  * Muthukrishnan '05; mergeable in the PODS'12 sense by construction).
  *
  * Estimates are `min` over the item's `depth` cells; every cell
  * overcounts (collisions only add), so `est ≥ true` always and
  * `est ≤ true + (n − true)` trivially; with random rows,
  * `P[est > true + e·n/width] < (1/e)^depth`.
  *
  * Unlike most sketches, the whole structure is DETERMINISTIC given
  * the hash family — a cell is literally `count(*) WHERE
  * h60(word#cms_r) % width = b` — so the DuckDB oracle reconstructs
  * the exact grid in SQL over [[graft.llm.PortableHash]] and the
  * estimates hash-compare, not bound-compare (`q_llm_cms_counts`).
  *
  * The reference's reduce surface (worker.go:51) admits this as a
  * user `reducef` over pre-hashed keys; here it is a first-class
  * mergeable aggregate.
  */
case class CountMinAgg(depth: Int, width: Int)(implicit
    bufEnc: Encoder[Array[Long]],
    outEnc: Encoder[Array[Long]])
    extends Aggregator[String, Array[Long], Array[Long]] {
  require(depth > 0 && width > 0, s"bad grid ${depth}x$width")

  override def zero: Array[Long] = new Array[Long](depth * width)

  override def reduce(b: Array[Long], w: String): Array[Long] = {
    var r = 0
    while (r < depth) { b(CountMinAgg.cell(w, r, width)) += 1L; r += 1 }
    b
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] = bufEnc
  override def outputEncoder: Encoder[Array[Long]] = outEnc
}

object CountMinAgg {

  /** Grid index of `w`'s row-r cell: the salted portable hash, mod
    * width. Must agree bit-for-bit with the DataFrame/SQL mirrors in
    * [[graft.llm.TextAnalysis.cmsCounts]] — it hashes `w + "#cms" + r`
    * through the same [[graft.functions.H60.hash]] that
    * `PortableHash.h60(col, salt)` applies to `concat(c, "#", salt)`.
    */
  private[graft] def cell(w: String, r: Int, width: Int): Int =
    r * width + (H60.hash(UTF8String.fromString(w + "#cms" + r)) % width).toInt

  /** Point estimate from a finished grid. */
  def estimate(cells: Array[Long], depth: Int, width: Int, w: String): Long = {
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = cells(cell(w, r, width))
      if (c < best) best = c
      r += 1
    }
    best
  }
}
