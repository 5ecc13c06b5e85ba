package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  test("data card: per-source rows partition the corpus; sane stats") {
    val docs = graft.Tables.documents(spark, sf001)
    val rows = TextAnalysis.dataCard(spark, sf001).collect()
    assert(rows.map(_.getLong(1)).sum == docs.count())
    val tokTotal = docs
      .select(org.apache.spark.sql.functions.size(TextAnalysis.tokensCol)
        .cast("long").as("n")).agg(org.apache.spark.sql.functions.sum("n"))
      .collect()(0).getLong(0)
    assert(rows.map(_.getLong(4)).sum == tokTotal)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // distinct texts <= docs
      assert(r.getLong(5) <= r.getLong(1)) // scored <= docs
      if (!r.isNullAt(6)) {
        val q = r.getDouble(6)
        assert(q >= 0.0 && q <= 1.0, s"mean quality $q out of range")
      }
    }
  }

  test("repetition: invariants over the corpus; short docs are never repetitive") {
    val rows = TextAnalysis.repetition(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nGrams = r.getInt(1); val nDistinct = r.getInt(2)
      assert(nDistinct <= nGrams && nDistinct >= 0)
      if (nGrams > 0) {
        val frac = r.getDouble(3)
        assert(frac >= 0.0 && frac <= 1.0)
        assert(r.getBoolean(4) == frac > 0.2)
      } else {
        assert(r.isNullAt(3), "0-gram docs must have null dup_frac")
        assert(!r.getBoolean(4), "0-gram docs are not repetitive")
      }
    }
  }

  test("repetition: a stuffed document scores high, unique text scores 0") {
    import spark.implicits._
    // route handcrafted text through the same column logic by renaming
    val df = Seq(
      (1L, ("buy now " * 50).trim),          // one 3-gram repeated
      (2L, (1 to 40).mkString(" ")))         // all 3-grams unique
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.tokensCol.as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n"),
        size(array_distinct(
          transform(sequence(lit(1), size(col("ws")) - 2),
            i => concat_ws(" ", slice(col("ws"), i, lit(3)))))).as("nd"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // "buy now buy now ..." has only 2 distinct 3-grams over 98 total
    assert(got(1L)._2 <= 3 && got(1L)._1 == 100)
    assert(got(2L)._2 == got(2L)._1 - 2, "unique text: every 3-gram distinct")
  }

  test("compression signal: repetitive text compresses far below varied text") {
    import spark.implicits._
    import graft.functions.DeflateCheck.deflate_check
    val df = Seq(
      (1L, "spam spam spam " * 100),                       // ~low ratio
      (2L, (1 to 300).map(i => s"w${i * 7919}").mkString(" ")), // varied
      (3L, ""))                                            // empty -> null
      .toDF("id", "text")
      .select(col("id"),
        (deflate_check(col("text")).getField("n_comp") / octet_length(col("text")))
          .as("r"))
    val got = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).get < 0.1, s"repetitive ratio ${got(1L)}")
    assert(got(2L).get > 0.3, s"varied ratio ${got(2L)}")
    assert(got(1L).get < got(2L).get)
    assert(got(3L).isEmpty)
    // deterministic across evaluations
    val again = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(again == got)
  }

  test("compression signal over the corpus: invariants TRUE, ratio gate consistent") {
    // driver-gate form: both compressor invariants hold on every doc
    val sig = TextAnalysis.compressionSignal(spark, sf001).collect()
    assert(sig.nonEmpty)
    sig.foreach { r =>
      assert(r.getBoolean(2), s"bound_ok false: $r")
      assert(r.getBoolean(3), s"roundtrip_ok false: $r")
    }
    // extras form: ratio magnitudes in range, low-entropy gate consistent
    val rows = TextAnalysis.compressionRatio(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (r.isNullAt(2)) assert(!r.getBoolean(3), s"null ratio must not gate: $r")
      else {
        val ratio = r.getDouble(2)
        assert(ratio > 0.0 && ratio < 1.2, s"ratio out of range: $r")
        assert(r.getBoolean(3) == (ratio < 0.3 && r.getInt(1) >= 200))
      }
    }
  }

  test("tfidf + commonness: hand-computed values on a planted 3-doc corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tfidf").toString
    Seq(
      (0L, "common common rare0"),
      (1L, "common rare1"),
      (2L, "common rare1 rare1"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("web").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // df(common)=3, df(rare0)=1, df(rare1)=2, N=3
    val tfidf = TextAnalysis.tfidfTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getDouble(5))).toMap
    assert(tfidf((0L, 1L)) == ("rare0", 3.0))   // 1*3/1
    assert(tfidf((0L, 2L)) == ("common", 2.0))  // 2*3/3
    assert(tfidf((1L, 1L)) == ("rare1", 1.5))   // 1*3/2
    assert(tfidf((2L, 1L)) == ("rare1", 3.0))   // 2*3/2
    assert(tfidf((2L, 2L)) == ("common", 1.0))

    // c(common)=4, c(rare0)=1, c(rare1)=3, T=8
    val com = TextAnalysis.commonness(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(com(0L) == ((3L, 9L, 9.0 / 24)))
    assert(com(1L) == ((2L, 7L, 7.0 / 16)))
    assert(com(2L) == ((3L, 10L, 10.0 / 24)))
  }

  test("commonness over the corpus: scores in (0,1], rare-heavy below stopword prose") {
    val rows = TextAnalysis.commonness(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getDouble(3)
      assert(c > 0.0 && c <= 1.0, s"commonness out of range: $r")
    }
  }

  test("vocabulary: top-k rows, counts non-increasing, ties broken by token") {
    val rows = TextAnalysis.vocabulary(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // the sf0.001 corpus has a small closed vocabulary (< 100 tokens)
    assert(rows.length > 0 && rows.length <= 100)
    rows.sliding(2).foreach { case Array((t1, c1), (t2, c2)) =>
      assert(c1 > c2 || (c1 == c2 && t1 < t2), s"order violated at ($t1,$c1) ($t2,$c2)")
    }
  }

  test("oov rate: bounded, consistent, and sensitive to vocabulary membership") {
    val rows = TextAnalysis.oovRate(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nt, noov, rate) =>
      assert(noov >= 0 && noov <= nt)
      assert(rate >= 0.0 && rate <= 1.0)
      assert(math.abs(rate - noov.toDouble / nt) < 1e-12)
    }
    // the top-20 cut leaves real OOV mass on this corpus (the signal
    // is non-degenerate) while head-vocabulary prose scores low
    assert(rows.exists(_._4 > 0.0) && rows.exists(_._4 < 1.0))
  }

  test("oov rate: a zero-token document emits n_tokens = 0 and NULL oov_rate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "web", "alpha beta alpha"),
      (2L, "web", ""),
      (3L, "web", "   ")) // whitespace-only also tokenizes to zero
      .toDF("doc_id", "source", "text")
    val byId = TextAnalysis.oovRateOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(2) == 3L && !byId(1L).isNullAt(4))
    Seq(2L, 3L).foreach { id =>
      assert(byId(id).getLong(2) == 0L, s"doc $id n_tokens")
      assert(byId(id).isNullAt(4), s"doc $id oov_rate must be NULL, not 0.0")
    }
  }

  test("calibrated quality: per-language percent_rank is a total order over [0,1]") {
    val rows = TextAnalysis.qualityCalibrated(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).values.foreach { rs =>
      val ranks = rs.map(_.getDouble(3))
      assert(ranks.forall(r => r >= 0.0 && r <= 1.0))
      if (rs.length > 1) assert(ranks.min == 0.0 && ranks.max == 1.0)
      // the doc_id tiebreak totalizes the order: no two docs share a rank
      assert(ranks.distinct.length == rs.length)
    }
  }

  test("collocations: PMI ratios and top-100 ranking match a driver-side brute force") {
    val docs = graft.Tables.documents(spark, sf001)
      .select(TextAnalysis.tokensCol.as("toks"))
      .collect().map(_.getSeq[String](0))
    val uni = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val bi = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    docs.foreach { ts =>
      ts.foreach(w => uni(w) += 1)
      ts.zip(ts.drop(1)).foreach(p => bi(p) += 1)
    }
    val nTok = uni.values.sum.toDouble
    val nBi = bi.values.sum.toDouble
    val expect = bi.toSeq.collect { case ((a, b), nab) if nab >= 5 =>
      // same op sequence as the query: ((nab·N)/na)/nb · (N/M)
      (a, b, nab, uni(a), uni(b), nab.toDouble * nTok / uni(a) / uni(b) * (nTok / nBi))
    }.sortBy { case (a, b, _, _, _, r) => (-r, a, b) }.take(100)
    val got = TextAnalysis.collocations(spark, sf001).collect().map { r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))
    }.toSeq
    assert(got.nonEmpty)
    assert(got == expect, s"first diff: ${got.zip(expect).find(p => p._1 != p._2)}")
  }
}
