package graft.functions

import graft.SparkSpec
import graft.functions.DeflateCheck.deflate_check
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** DeflateCheck is the one native expression whose output can't be
  * recomputed by a SQL oracle (DEFLATE bytes are library-defined), so
  * its own invariants carry the correctness story: round-trip truth,
  * the zlib worst-case bound, the `n_comp / n` ratio the extras dump
  * emits, and an independent Java-zlib recompute of the exact byte
  * count.
  */
class DeflateCheckSpec extends SparkSpec {

  private val textGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.listOfN(200, Gen.alphaNumStr).map(_.mkString(" ")),
    Gen.const("spam spam spam " * 500),              // highly compressible
    Gen.const("héllo wörld 中文 ñ " * 40),            // multi-byte UTF-8
    Gen.listOfN(2000, Gen.choose(33.toChar, 126.toChar)).map(_.mkString),
    Gen.const("x" * 20000))                          // crosses the 16383 block

  private def samples(n: Int): Seq[String] =
    (0 until n).flatMap(i => textGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Independent reference: a fresh Deflater per call (no shared
    * thread-local machinery with the expression under test). */
  private def refCompressedLen(s: String): Long = {
    val raw = s.getBytes("UTF-8")
    val d = new java.util.zip.Deflater(6, true)
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](8192)
    var n = 0L
    while (!d.finished()) n += d.deflate(buf)
    d.end()
    n
  }

  test("round-trip and worst-case bound hold on randomized strings") {
    import spark.implicits._
    val input = samples(60).filter(_.nonEmpty)
    val rows = input.toDF("s")
      .select(octet_length(col("s")).cast("long").as("n"),
        deflate_check(col("s")).as("dc"))
      .select(col("n"), col("dc.n_comp"), col("dc.roundtrip"))
      .collect()
    assert(rows.length == input.length)
    rows.foreach { r =>
      val (n, nComp, ok) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
      assert(ok, s"roundtrip failed for n=$n")
      val bound = n + 5L * (n / 16383 + 1) + 6L
      assert(nComp >= 1L && nComp <= bound, s"n_comp=$nComp outside [1,$bound]")
    }
  }

  test("empty and null input yield null; whitespace-only does not") {
    import spark.implicits._
    val rows = Seq(Some(""), None, Some(" ")).toDF("s")
      .select(deflate_check(col("s"))).collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
    assert(!rows(2).isNullAt(0))
  }

  test("interpreted eval agrees with codegen") {
    import spark.implicits._
    val input = samples(25).filter(_.nonEmpty)
    def run(codegen: String): Seq[(Long, Boolean)] = {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      spark.conf.set("spark.sql.codegen.wholeStage", (codegen == "CODEGEN_ONLY").toString)
      try input.toDF("s")
        .select(deflate_check(col("s")).as("dc"))
        .select(col("dc.n_comp"), col("dc.roundtrip"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    assert(run("CODEGEN_ONLY") == run("NO_CODEGEN"))
  }

  test("n_comp equals DeflateRatio's count and an independent recompute") {
    import spark.implicits._
    val input = samples(40).filter(_.nonEmpty)
    val rows = input.toDF("s")
      .select(col("s"), octet_length(col("s")).cast("long").as("n"),
        deflate_check(col("s")).as("dc"))
      // the ratio exactly as TextAnalysis.compressionRatio emits it
      .select(col("s"), col("n"), col("dc.n_comp"),
        (col("dc.n_comp") / col("n")).as("r"))
      .collect()
    rows.foreach { r =>
      val (s, n, nComp, ratio) = (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      // the ratio is n_comp/n as one IEEE division — exact equality
      assert(ratio == nComp.toDouble / n, s"ratio mismatch for n=$n")
      assert(nComp == refCompressedLen(s), s"n_comp != independent Deflater for n=$n")
    }
  }
}
