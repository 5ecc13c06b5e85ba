package graft.functions

import graft.SparkSpec
import graft.llm.Similarity
import org.apache.spark.sql.functions._

/** The band signature: [[HyperplaneProbes]] with no flip probes, as
  * `Similarity.bandSignatureCols` and `Similarity.signatureCol` call it.
  */
class HyperplaneSigsSpec extends SparkSpec {

  test("native hyperplane_sigs equals the HOF formulation on real embeddings") {
    import spark.implicits._
    val real = graft.Tables.embeddings(spark, sf001).select(col("embedding"))
    val df = real.select(
      Similarity.bandSignatureCols(col("embedding"), 16, 8).as("native"),
      Similarity.bandSignatureColsHof(col("embedding"), 16, 8).as("hof"))
    assert(df.filter(not(col("native") === col("hof"))).count() == 0)
    assert(df.count() > 0)
    // the one-band bucket of the ANN and hybrid queries, over the real
    // rows plus a null, a short, an empty, a long, a null-element and
    // a NaN-element embedding: bad data lands where the HOF puts it
    val half = java.lang.Float.valueOf(0.5f)
    val edge = Seq[Option[Seq[java.lang.Float]]](
      None,
      Some(Seq.fill(63)(half)),
      Some(Seq.empty),
      Some(Seq.fill(65)(half)),
      Some(Seq.fill(63)(half) :+ null),
      Some(Seq.fill(63)(half) :+ java.lang.Float.valueOf(Float.NaN)))
      .toDF("e").select(col("e").cast("array<float>").as("embedding"))
    val one = real.unionByName(edge).select(
      Similarity.signatureCol(col("embedding")).as("native"),
      element_at(Similarity.bandSignatureColsHof(
        col("embedding"), 1, Similarity.NumPlanes), 1).as("hof"))
    assert(one.filter(not(col("native") <=> col("hof"))).count() == 0)
    assert(one.count() == real.count() + 6)
  }

  test("interpreted eval agrees with codegen") {
    val df = graft.Tables.embeddings(spark, sf001).limit(50)
    val codegen = df
      .select(Similarity.bandSignatureCols(col("embedding"), 4, 8))
      .collect().map(_.getSeq[Int](0))
    val interpreted = df.collect().map { r =>
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      HyperplaneProbes.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray),
        4, 8, 64, 0).toIntArray().toSeq
    }
    assert(codegen.map(_.toSeq).toSeq == interpreted.map(_.toSeq).toSeq)
  }

  test("band independence and bit range; wrong-length vectors yield null") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq.fill(64)(0.5f)),
      (2L, Seq.fill(63)(0.5f)),
      (3L, Seq.empty[Float]))
      .toDF("id", "v")
      .select(col("id"),
        Similarity.bandSignatureCols(col("v"), 16, 8).as("sigs"))
    val rows = df.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getSeq[Int](1)))).toMap
    assert(rows(2L).isEmpty && rows(3L).isEmpty,
      "length-mismatched vectors must surface as null, not a sentinel bucket")
    val sigs = rows(1L).get
    assert(sigs.length == 16)
    assert(sigs.forall(b => b >= 0 && b < 256))
    // 16 independent 8-bit shots of a fixed vector should not all
    // land in one bucket value (they share the vector, not the planes)
    assert(sigs.distinct.length > 1)
  }
}
