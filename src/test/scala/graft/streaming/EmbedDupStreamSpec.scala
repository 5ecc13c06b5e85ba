package graft.streaming

import graft.SparkSpec
import graft.streaming.EmbeddingStreams._

/** Direct unit coverage of the near-dup stream's bucket-state
  * transition ([[EmbeddingStreams.collapsedStep]]): the
  * O(distinct-vectors) state bound under a planted duplicate cohort
  * is asserted on the DATA STRUCTURE itself (one representative
  * array, m entries — the VERDICT r10 item 2 probe), and the
  * full-microsecond ttl gate is pinned at the exact ±1 µs boundary
  * where the retired ms-truncated arithmetic misclassified.
  */
class EmbedDupStreamSpec extends SparkSpec {

  private val dim = graft.llm.Similarity.Dim
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(dim)(i => math.sin(seed * 97 + i).toFloat)
  private def tsUs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000L))
    t.setNanos(math.floorMod(us, 1000000L).toInt * 1000)
    t
  }
  private val base = 1700000000000000L // epoch µs, ms-aligned
  private def row(id: Long, e: Array[Float], us: Long,
      exact: Boolean = true): TimedProbeRow =
    TimedProbeRow(0L, id, exact, e, tsUs(us))

  test("collapsedStep: m=100 identical vectors hold ONE group, m entries, emit C(m,2) pairs") {
    val m = 100
    val e = vec(1)
    val rows = (1 to m).map(k => row(k.toLong, e.clone(), base + k))
    val (groups, pairs) =
      collapsedStep(rows, Nil, wmMs = 0L, ttlUs = 3600000000L)
    // the planted duplicate-heavy probe: state is O(distinct), i.e.
    // exactly one representative array for the whole cohort
    assert(groups.length == 1, s"expected 1 collapsed group, got ${groups.length}")
    assert(groups.head.size == m)
    assert(java.util.Arrays.equals(groups.head.emb, e))
    // emission expands the cohort exactly: every unordered id pair once
    val ids = pairs.map(p => (p.vec_a, p.vec_b)).toSet
    assert(pairs.length == m * (m - 1) / 2)
    assert(ids == (for (a <- 1 to m; b <- a + 1 to m)
      yield (a.toLong, b.toLong)).toSet)
    assert(pairs.forall(_.cos >= 0.35))
  }

  test("collapsedStep: distinct vectors stay distinct groups; probe-probe contacts skipped") {
    val (e1, e2) = (vec(1), vec(2))
    val cos12 = graft.functions.CosineSim.score(e1, e2)
    val rows = Seq(row(1L, e1, base + 1), row(2L, e2, base + 2))
    val (groups, pairs) =
      collapsedStep(rows, Nil, wmMs = 0L, ttlUs = 3600000000L)
    assert(groups.length == 2)
    // pair emission follows the batch cosine gate exactly
    assert(pairs.nonEmpty == (cos12 >= 0.35))
    // probe-probe: neither registration exact -> never a candidate,
    // even for identical vectors
    val probeRows = Seq(row(3L, e1, base + 3, exact = false),
      row(4L, e1.clone(), base + 4, exact = false))
    val (g2, p2) = collapsedStep(probeRows, Nil, 0L, 3600000000L)
    assert(g2.length == 1 && g2.head.size == 2)
    assert(p2.isEmpty, "probe-probe contact must not emit")
  }

  test("collapsedStep: ttl gate is exact at ±1 µs; eviction GCs at full micros") {
    val e = vec(3)
    val ttlUs = 100000000L // 100 s
    // gap ttl+1µs: ms truncation sees exactly ttl ms and would pair
    val (_, over) = collapsedStep(
      Seq(row(1L, e, base), row(2L, e.clone(), base + ttlUs + 1)),
      Nil, 0L, ttlUs)
    assert(over.isEmpty, "gap = ttl + 1µs must NOT pair")
    val (_, at) = collapsedStep(
      Seq(row(3L, e.clone(), base), row(4L, e.clone(), base + ttlUs)),
      Nil, 0L, ttlUs)
    assert(at.map(p => (p.vec_a, p.vec_b)) == List((3L, 4L)),
      "gap = ttl exactly must pair")
    // eviction: wm µs bound (wmMs·1000) just past an entry's expiry
    // drops it; one µs earlier keeps it
    val st = collapsedStep(Seq(row(5L, e.clone(), base)), Nil, 0L, ttlUs)._1
    val expiryUs = base + ttlUs
    val keepWmMs = math.floorDiv(expiryUs, 1000L)      // wmUs = expiry floor(ms)
    val dropWmMs = math.floorDiv(expiryUs, 1000L) + 1L // wmUs > expiry
    assert(collapsedStep(Nil, st, keepWmMs, ttlUs)._1.nonEmpty)
    assert(collapsedStep(Nil, st, dropWmMs, ttlUs)._1.isEmpty)
  }
}
