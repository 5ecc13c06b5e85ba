package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** MARGIN-AWARE multiprobe buckets: for each of `bands` bands, the
  * exact r-bit bucket followed by the `t` one-bit-flip neighbor
  * buckets at the SMALLEST |dot| margins (ties by bit index) — the
  * classic multiprobe-LSH probe sequence (Panigrahy 2006 /
  * Lv et al. 2007): a near-duplicate pair's differing sign bit has,
  * by construction, a near-zero margin on both sides, so probing the
  * few lowest-margin flips captures most Hamming-distance-1
  * collisions at probe factor t+1 instead of r+1. The r10 ×1000
  * probe measured the difference: ALL-bit probing shuffles
  * n·B·(r+1) ≈ 1.4B probe rows at 2M vectors (spill death); t = 1
  * is 2× the exact index mass.
  *
  * Output layout: array<int> of length bands·(t+1); position
  * b·(t+1) is band b's exact bucket, b·(t+1)+k its k-th flip probe —
  * `posexplode` with `pos div (t+1)` recovers the band.
  *
  * t = 0 is the band signature: `bands` exact buckets, band b's the
  * r-bit integer whose bit j is `dot(v, g_{b·r+j}) >= 0`, over the
  * deterministic coefficient family g(p,i) = (h60("hp<p>_<i>") % 2001
  * − 1000)/1000 that [[graft.llm.Similarity]]'s per-plane HOF
  * formulation and its DuckDB mirror share
  * ([[graft.llm.Similarity.bandSignatureCols]] and
  * [[graft.llm.Similarity.signatureCol]] are this call). At t = 0 no
  * margin is kept, so the per-row work is the dots alone.
  *
  * Each dot accumulates STRICTLY sequentially in index order in
  * double precision, so buckets bitwise-match the HOF formulation
  * (`Similarity.bandSignatureColsHof`, spec-pinned), margins are
  * bitwise-equal to the oracle's ordered `list_reduce` dots, and the
  * margin ordering (abs(dot), bit) is cross-engine deterministic —
  * the PqCodes IEEE-sequence-parity discipline.
  *
  * A vector whose length differs from `dim`, or that holds a null
  * element, yields NULL (surfacing bad data, the [[CosineSim]]
  * convention).
  */
case class HyperplaneProbes(child: Expression, bands: Int, r: Int,
    dim: Int, t: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  // config validated here, NOT inside compute(): a bad (bands, r, t)
  // must fail at analysis time as one plan error, not as per-row
  // executor task failures at eval time (ADVICE r10)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) =>
      if (bands < 1) TypeCheckResult.TypeCheckFailure(
        s"hyperplane_probes: bands must be >= 1, got $bands")
      // r <= 31 keeps the r-bit bucket a non-negative Int (bit r-1 is
      // the highest set); the dial respects this ceiling —
      // nearDupRepPlanesFor clamps at 31
      else if (r < 1 || r > 31) TypeCheckResult.TypeCheckFailure(
        s"hyperplane_probes: r must be in [1, 31], got $r")
      else if (dim < 1) TypeCheckResult.TypeCheckFailure(
        s"hyperplane_probes: dim must be >= 1, got $dim")
      else if (t < 0 || t > r) TypeCheckResult.TypeCheckFailure(
        s"hyperplane_probes: probe count $t outside [0, $r]")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_probes requires array<float>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneProbes.compute(input.asInstanceOf[ArrayData], bands, r, dim, t)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // freshName (not a hardcoded local): two instances fused into one
    // codegen scope would declare duplicate locals, fail Janino, and
    // silently fall back to interpreted eval (ADVICE r15, Sq8Gate)
    val res = ctx.freshName("res")
    nullSafeCodeGen(ctx, ev, c => s"""
      |Object $res = graft.functions.HyperplaneProbes.compute($c, $bands, $r, $dim, $t);
      |if ($res == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $res; }
    """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneProbes =
    copy(child = newChild)
}

object HyperplaneProbes {

  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  /** Flat (planes × dim) coefficient table, computed once per config
    * per JVM — identical values to Similarity.planeCol / the oracle's
    * bplanes CTE by construction (same h60 of the same plane names).
    */
  private def coeffs(planes: Int, dim: Int): Array[Double] =
    tables.computeIfAbsent((planes, dim), { case (p, d) =>
      val g = new Array[Double](p * d)
      var j = 0
      while (j < p) {
        var i = 0
        while (i < d) {
          val h = H60.hash(UTF8String.fromString(s"hp${j}_$i"))
          g(j * d + i) = (h % 2001 - 1000) / 1000.0
          i += 1
        }
        j += 1
      }
      g
    })

  /** One pass over the vector per plane, sequential double adds; for
    * t > 0, then a t-step selection of the lowest-|margin| bits per
    * band.
    */
  def compute(v: ArrayData, bands: Int, r: Int, dim: Int, t: Int): ArrayData = {
    if (v.numElements() != dim) return null
    require(t >= 0 && t <= r, s"probe count $t outside [0, $r]")
    var n = 0
    while (n < dim) { if (v.isNullAt(n)) return null; n += 1 }
    val g = coeffs(bands * r, dim)
    val out = new Array[Int](bands * (t + 1))
    val margins = if (t > 0) new Array[Double](r) else null
    val taken = if (t > 0) new Array[Boolean](r) else null
    var b = 0
    while (b < bands) {
      var bucket = 0
      var j = 0
      while (j < r) {
        val base = (b * r + j) * dim
        var dot = 0.0
        var i = 0
        while (i < dim) {
          dot += v.getFloat(i).toDouble * g(base + i)
          i += 1
        }
        // SQL comparison order: NaN is greatest, so NaN >= 0 holds in
        // the HOF formulation and in DuckDB alike
        if (dot >= 0 || dot.isNaN) bucket |= 1 << j
        if (t > 0) {
          margins(j) = math.abs(dot)
          taken(j) = false
        }
        j += 1
      }
      out(b * (t + 1)) = bucket
      var k = 1
      while (k <= t) {
        var best = -1
        var j2 = 0
        while (j2 < r) {
          // NaN margins sort LAST (matching SQL ORDER BY, where NaN
          // is greatest): a plain `<` would keep a NaN seed forever
          if (!taken(j2) && (best < 0
              || margins(j2) < margins(best)
              || (margins(best).isNaN && !margins(j2).isNaN))) best = j2
          j2 += 1
        }
        taken(best) = true
        out(b * (t + 1) + k) = bucket ^ (1 << best)
        k += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Column API: `hyperplane_probes($"embedding", bands, r, dim, t)`. */
  def hyperplane_probes(emb: Column, bands: Int, r: Int, dim: Int,
      t: Int): Column =
    Bridge.column(HyperplaneProbes(Bridge.expression(emb), bands, r, dim, t))
}
