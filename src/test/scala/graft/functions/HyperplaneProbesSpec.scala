package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HyperplaneProbesSpec extends SparkSpec {

  private val (bands, r, dim, t) = (16, 8, 64, 2)

  test("exact positions ARE the hyperplane_sigs buckets; flips differ by one bit") {
    val df = graft.Tables.embeddings(spark, sf001)
      .select(
        graft.llm.Similarity.bandSignatureColsHof(col("embedding"), bands, r)
          .as("sigs"),
        HyperplaneProbes.hyperplane_probes(col("embedding"), bands, r, dim, t)
          .as("probes"))
    df.collect().foreach { row =>
      val sigs = row.getSeq[Int](0)
      val probes = row.getSeq[Int](1)
      assert(probes.length == bands * (t + 1))
      (0 until bands).foreach { b =>
        val exact = probes(b * (t + 1))
        assert(exact == sigs(b), s"band $b exact probe != signature bucket")
        val flips = (1 to t).map(k => probes(b * (t + 1) + k))
        flips.foreach { f =>
          assert(Integer.bitCount(f ^ exact) == 1,
            s"band $b probe $f is not a one-bit flip of $exact")
          assert((f ^ exact) < (1 << r), "flipped bit outside the r-bit range")
        }
        assert(flips.distinct.length == t, s"band $b probes repeat a flip")
      }
    }
  }

  test("flip order follows the (abs(dot), bit) margin order of the HOF dots") {
    // recompute every plane dot the slow way (same coefficient family,
    // same sequential order) and assert the chosen flip bits are the
    // t smallest |dot| bits, ties to the lower bit
    val rows = graft.Tables.embeddings(spark, sf001).limit(100)
      .select(col("embedding"),
        HyperplaneProbes.hyperplane_probes(col("embedding"), bands, r, dim, t)
          .as("probes"))
      .collect()
    def h60(s: String): Long =
      H60.hash(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    rows.foreach { row =>
      val v = row.getSeq[Float](0)
      val probes = row.getSeq[Int](1)
      (0 until bands).foreach { b =>
        val dots = (0 until r).map { j =>
          val p = b * r + j
          var dot = 0.0
          (0 until dim).foreach { i =>
            dot += v(i).toDouble * ((h60(s"hp${p}_$i") % 2001 - 1000) / 1000.0)
          }
          dot
        }
        val expectBits = (0 until r)
          .sortBy(j => (math.abs(dots(j)), j)).take(t)
        val exact = probes(b * (t + 1))
        val gotBits = (1 to t).map { k =>
          Integer.numberOfTrailingZeros(probes(b * (t + 1) + k) ^ exact)
        }
        assert(gotBits == expectBits,
          s"band $b flip order $gotBits != margin order $expectBits")
      }
    }
    assert(rows.nonEmpty)
  }

  test("NaN margins sort last, matching SQL ORDER BY: flips stay deterministic") {
    // one NaN component poisons every dot: all margins NaN, so the
    // (abs(dot), bit) order degenerates to the bit order — flips must
    // be bits 0..t-1, the same rows DuckDB's NaN-last sort ranks first
    val v = Array.fill(dim)(0.5f)
    v(3) = Float.NaN
    val probes = HyperplaneProbes.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(v),
      bands, r, dim, t).toIntArray()
    (0 until bands).foreach { b =>
      val exact = probes(b * (t + 1))
      val gotBits = (1 to t).map(k =>
        Integer.numberOfTrailingZeros(probes(b * (t + 1) + k) ^ exact))
      assert(gotBits == (0 until t), s"band $b NaN flip order $gotBits")
    }
  }

  test("interpreted eval agrees with codegen; wrong-length vectors yield null") {
    import spark.implicits._
    val real = graft.Tables.embeddings(spark, sf001).limit(50)
    val codegen = real
      .select(HyperplaneProbes.hyperplane_probes(col("embedding"), bands, r, dim, t))
      .collect().map(_.getSeq[Int](0))
    val interpreted = real.collect().map { row =>
      val v = row.getSeq[Float](row.fieldIndex("embedding"))
      HyperplaneProbes.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray),
        bands, r, dim, t).toIntArray().toSeq
    }
    assert(codegen.map(_.toSeq).toSeq == interpreted.map(_.toSeq).toSeq)
    val bad = Seq((1L, Seq.fill(63)(0.5f)), (2L, Seq.empty[Float]))
      .toDF("id", "v")
      .select(HyperplaneProbes.hyperplane_probes(col("v"), bands, r, dim, t))
      .collect()
    assert(bad.forall(_.isNullAt(0)),
      "length-mismatched vectors must surface as null")
  }
}
