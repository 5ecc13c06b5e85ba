package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable Misra-Gries heavy-hitters summary — the one-pass
  * approximate top-k-frequent-items primitive a 100 TB corpus needs
  * when the exact wordcount's |vocab|-sized shuffle is itself the
  * bottleneck (URL/host tallies, token stats over web-scale text).
  *
  * Shape: a typed `Aggregator[String, Map[String,Long], ...]` whose
  * buffer merges associatively, so Spark plans partial + final
  * aggregation: each task keeps one ≤k-entry map, only summaries cross
  * the shuffle. Both `reduce` and `merge` are the MG operations from
  * Agarwal et al., "Mergeable Summaries" (PODS'12): merge = pointwise
  * sum, then subtract the (k+1)-th largest count from every entry and
  * drop the non-positives.
  *
  * Guarantee (held by BOTH paths, and preserved under merge): for
  * every item, `est ≤ true` and `(true − est)·(k+1) ≤ n − S`, where
  * n = stream length and S = Σ stored counts. Any item with
  * `true·(k+1) > n − S` is guaranteed present. Verification uses the
  * integer form — no floating division.
  *
  * The reference's reduce surface (worker.go:51) admits this as a
  * user `reducef`; here it is a first-class mergeable aggregate.
  */
case class MisraGriesAgg(k: Int)(implicit
    bufEnc: Encoder[Map[String, Long]],
    outEnc: Encoder[Map[String, Long]])
    extends Aggregator[String, Map[String, Long], Map[String, Long]] {
  require(k > 0, s"capacity must be positive, got $k")

  override def zero: Map[String, Long] = Map.empty

  override def reduce(b: Map[String, Long], w: String): Map[String, Long] =
    b.get(w) match {
      case Some(c) => b.updated(w, c + 1L)
      case None if b.size < k => b.updated(w, 1L)
      case None =>
        // classic MG step: all counters pay 1, zeros vacate; the new
        // item is NOT inserted (its single occurrence is the payment)
        b.flatMap { case (key, c) =>
          if (c > 1L) Some(key -> (c - 1L)) else None
        }
    }

  override def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] = {
    val m = b2.foldLeft(b1) { case (acc, (w, c)) =>
      acc.updated(w, acc.getOrElse(w, 0L) + c)
    }
    if (m.size <= k) m
    else {
      val d = m.valuesIterator.toArray.sortInPlace()(Ordering[Long].reverse).apply(k)
      m.flatMap { case (w, c) => if (c > d) Some(w -> (c - d)) else None }
    }
  }

  override def finish(b: Map[String, Long]): Map[String, Long] = b
  override def bufferEncoder: Encoder[Map[String, Long]] = bufEnc
  override def outputEncoder: Encoder[Map[String, Long]] = outEnc
}
