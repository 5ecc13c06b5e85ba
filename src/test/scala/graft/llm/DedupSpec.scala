package graft.llm

import graft.SparkSpec

/** Behavioral tests for dedup on a corpus with KNOWN duplicates (the
  * driver's synthetic tables contain none, so we write a small fake
  * `documents` table with exact dups, near-dups, and unrelated docs).
  */
class DedupSpec extends SparkSpec {

  private lazy val dupDir: String = {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val other = "completely different content about spark query engines and shuffles here"
    val rows = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src1", base.length.toLong),               // exact dup of 0
      (2L, "  " + base.toUpperCase + "  ", "en", "src2", 0L),     // dup modulo normalization
      (3L, near, "en", "src3", near.length.toLong),               // near-dup of 0
      (4L, other, "en", "src4", other.length.toLong))
    val dir = java.nio.file.Files.createTempDirectory("dedupdocs").toString
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups normalized duplicates under min doc_id") {
    val got = Dedup.exact(spark, dupDir).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet  // (keep_doc, n_dups)
    // docs 0,1,2 collapse (2 via lower+trim+ws-normalize); 3 and 4 stand alone
    assert(got == Set((0L, 3L), (3L, 1L), (4L, 1L)))
  }

  test("identical docs have identical minhash signatures; near-dups mostly agree") {
    val sigs = Dedup.minhashSignatures(spark, dupDir).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(sigs(0L) == sigs(1L))
    val agree03 = sigs(0L).zip(sigs(3L)).count { case (a, b) => a == b }
    val agree04 = sigs(0L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agree03 > agree04, s"near-dup agreement $agree03 should beat unrelated $agree04")
    assert(agree03 >= 8, s"near-dup should agree on most of 16 minhashes, got $agree03")
  }

  test("LSH pairs surface the near dup; exact dups are pre-collapsed") {
    val pairs = Dedup.minhashLshPairs(spark, dupDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // doc 1 is byte-identical to doc 0: identical token stream, so it
    // collapses under representative 0 BEFORE banding — no (0,1) pair
    // (the pair would be one cell of the m² band-bucket blowup the
    // collapse exists to prevent)
    assert(!pairs.contains((0L, 1L)))
    assert(!pairs.keySet.exists { case (a, b) => a == 1L || b == 1L })
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) > 0.4)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("cluster stats weight collapsed groups back to true corpus counts") {
    val rows = Dedup.dedupClusterStats(spark, dupDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // cluster 0 = {0, 1 (exact dup, collapsed), 3 (near dup)}:
    // 2 representatives, 3 physical docs, chars of all three
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    assert(rows(0L) == ((2L, 3L, 2 * base.length + near.length)))
    // docs 2 and 4 are singleton clusters of one physical doc each
    assert(rows(2L)._1 == 1L && rows(2L)._2 == 1L)
    assert(rows(4L)._1 == 1L && rows(4L)._2 == 1L)
    assert(rows.keySet == Set(0L, 2L, 4L))
  }

  test("simhash: identical docs equal; near-dup hamming < unrelated hamming") {
    val sh = Dedup.simhash(spark, dupDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(3L)) < hamming(sh(0L), sh(4L)))
  }

  test("dedup clusters: exact+near dups of 0 cluster together; others alone") {
    val got = Dedup.dedupClusters(spark, dupDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(0L) == (0L, false))
    assert(got(1L) == (0L, true))   // byte-identical
    assert(got(3L) == (0L, true))   // near-dup (one word changed)
    // doc 2 is the UPPERCASED variant: MinHash shingles are
    // case-sensitive, so it does NOT cluster here (exact dedup with
    // normalization catches it instead — see the first test)
    assert(got(2L) == (2L, false))
    assert(got(4L) == (4L, false))
  }

  test("simhash pigeonhole pairs = exactly the rep pairs within 120-bit hamming 3") {
    import org.apache.spark.sql.functions._
    // both salted 60-bit halves of the 120-bit pair fingerprint
    val sh = graft.Tables.documents(spark, dupDir)
      .select(col("doc_id"),
        graft.functions.Simhash.simhash(TextAnalysis.tokensCol).as("s0"),
        graft.functions.Simhash.simhash(TextAnalysis.tokensCol, "#sim2").as("s1"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // identical token streams must agree on BOTH salted halves
    assert(sh(0L) == sh(1L))
    // representatives: doc 1 collapses into 0 (identical token stream)
    val reps = Seq(0L, 2L, 3L, 4L)
    val expected = (for {
      a <- reps; b <- reps if a < b
      h = java.lang.Long.bitCount(sh(a)._1 ^ sh(b)._1) +
        java.lang.Long.bitCount(sh(a)._2 ^ sh(b)._2)
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simhashPairs(spark, dupDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, s"got $got, want $expected")
    assert(!got.exists(p => p._1 == 1L || p._2 == 1L), "doc 1 must be collapsed away")
  }

  test("simhash pigeonhole finds a planted sub-threshold pair (non-vacuous capture)") {
    // a one-token edit in a LONG doc flips few fingerprint bits (the
    // vote sums are dominated by the other tokens); pick the first
    // replacement whose true 120-bit hamming is in (0, 3] by
    // computing fingerprints in-process with the expression itself
    def fp(tokens: Seq[String]): (Long, Long) = {
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        tokens.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
      (graft.functions.Simhash.compute(arr, "#sim"),
        graft.functions.Simhash.compute(arr, "#sim2"))
    }
    val base = (0 until 2000).map(i => s"tok$i")
    val (b0, b1) = fp(base)
    val cand = (0 until 200).map(i => s"swap$i").find { w =>
      val (c0, c1) = fp(base.dropRight(1) :+ w)
      val h = java.lang.Long.bitCount(b0 ^ c0) + java.lang.Long.bitCount(b1 ^ c1)
      h > 0 && h <= 3
    }
    assert(cand.isDefined, "no replacement token within hamming 3 in 200 tries")
    val edited = base.dropRight(1) :+ cand.get
    val (c0, c1) = fp(edited)
    val wantH = (java.lang.Long.bitCount(b0 ^ c0)
      + java.lang.Long.bitCount(b1 ^ c1)).toLong
    val dir = java.nio.file.Files.createTempDirectory("simhashpair").toString
    import spark.implicits._
    Seq((0L, base.mkString(" "), "en", "srcA", 1L),
      (1L, edited.mkString(" "), "en", "srcB", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.simhashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 1L, wantH)),
      s"planted pair (hamming $wantH) not captured: $got")
  }

  test("band-bucket stats: per-band membership covers every representative") {
    val rows = Dedup.bandBucketStats(spark, dupDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 4 representatives (doc 1 collapsed into 0): every band's buckets
    // partition them, so sizes x counts sum to 4 per band
    (0 until 8).foreach { b =>
      val inBand = rows.filter(_._1 == b)
      assert(inBand.map(r => r._2 * r._3).sum == 4L, s"band $b: $inBand")
    }
    // est_pairs is the candidate-join cost: n_buckets * size*(size-1)/2
    rows.foreach { case (_, size, n, est) =>
      assert(est == n * size * (size - 1) / 2)
    }
  }

  test("containment: a truncated copy scores ~1.0 despite low jaccard") {
    import spark.implicits._
    // 40-token original; the clip keeps the first 14 tokens (12 of 38
    // shingles -> jaccard ~0.3, under the 0.5 near-dup bar)
    val full = (1 to 40).map(i => s"tok${i * 13}").mkString(" ")
    val clip = (1 to 14).map(i => s"tok${i * 13}").mkString(" ")
    val other = "completely unrelated text about engines and plans and shuffles again"
    val dir = java.nio.file.Files.createTempDirectory("contain").toString
    Seq(
      (0L, full, "en", "web", full.length.toLong),
      (1L, clip, "en", "web", clip.length.toLong),
      (2L, other, "en", "web", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.containmentPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    // the min-shingle probe GUARANTEES a fully-contained doc pairs
    // with its container: (contained=1, container=0)
    assert(got.contains((1L, 0L)), s"truncation pair missing: ${got.keySet}")
    val (cont, jac) = got((1L, 0L))
    assert(cont == 1.0, s"clip side must be fully contained: $cont")
    assert(jac < 0.5, s"jaccard alone must miss this: $jac")
    assert(!got.keySet.exists(p => p._1 == 2L || p._2 == 2L),
      "unrelated doc must not pair")
  }

  test("cross-corpus dedup: exact, near, and keep verdicts on a planted batch") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val near = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val fresh = "entirely new content never seen in the reference corpus at all today ok"
    val other = "completely different content about spark query engines and shuffles here"
    val dir = java.nio.file.Files.createTempDirectory("crossdocs").toString
    Seq(
      (0L, base, "en", "src0", base.length.toLong),   // exact dup of ref 10
      (1L, near, "en", "src0", near.length.toLong),   // near dup of base
      (2L, fresh, "en", "src0", fresh.length.toLong), // genuinely new
      (10L, base, "en", "src1", base.length.toLong),
      (11L, other, "en", "src1", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.crossCorpusDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(4)))).toMap
    assert(got.keySet == Set(0L, 1L, 2L), "one verdict per batch doc")
    assert(got(0L)._1 && got(0L)._3, s"doc 0 must be an exact cross-dup: ${got(0L)}")
    assert(!got(1L)._1 && got(1L)._2 == Some(0L) && got(1L)._3,
      s"doc 1 must near-match the base group's rep: ${got(1L)}")
    assert(got(2L) == ((false, None, false)), s"doc 2 must be kept: ${got(2L)}")
  }

  test("adjacent jaccard: dup pair = 1.0, case-variant and unrelated = 0.0") {
    val j = Dedup.jaccardAdjacent(spark, dupDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(j((0L, 1L)) == 1.0)   // byte-identical docs
    assert(j((1L, 2L)) == 0.0)   // shingles are case-sensitive
    assert(j((2L, 3L)) == 0.0)   // uppercase vs lowercase near-text
    assert(j((3L, 4L)) == 0.0)   // genuinely unrelated
  }

  test("pair-score histogram partitions the candidate-pair set into valid deciles") {
    val hist = Dedup.pairScoreHistogram(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist.keys.forall(d => d >= 0 && d <= 10))
    val nPairs = Dedup.minhashLshPairs(spark, sf001).count()
    assert(hist.values.sum == nPairs,
      s"histogram mass ${hist.values.sum} must equal the pair count $nPairs")
  }

  test("takedown: affected groups re-elect; invariants hold against brute force") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("source"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expect = docs.groupBy(_._3).flatMap { case (h, rows) =>
      val removed = rows.filter(_._2 == "src7")
      if (removed.isEmpty) None else {
        val survivors = rows.filter(_._2 != "src7")
        val oldRep = rows.map(_._1).min
        val newRep = if (survivors.isEmpty) None else Some(survivors.map(_._1).min)
        Some(h -> ((oldRep, rows.length.toLong, removed.length.toLong,
          newRep, newRep.exists(_ != oldRep))))
      }
    }
    val got = Dedup.takedown(spark, sf001).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
    }.toMap
    assert(got.nonEmpty)
    assert(got == expect)
    // semantic invariants: a fully-removed group has no new rep; a
    // partially-removed group always re-elects one
    got.values.foreach { case (_, nBefore, nRemoved, newRep, _) =>
      assert(nRemoved > 0 && nRemoved <= nBefore)
      assert(newRep.isEmpty == (nRemoved == nBefore))
    }
  }

  test("takedown: planted group re-elects the next doc when its rep's source is removed") {
    val rows = Dedup.takedown(spark, dupDir, source = "src0").collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5))))
      .toMap
    // exactly one affected group: {0, 1, 2} (docs 3 and 4 carry other
    // sources); its rep 0 (src0) is removed, doc 1 takes over
    assert(rows == Map(0L -> ((3L, 1L, Some(1L), true))))
    // removing a source that only held a singleton kills the group
    val gone = Dedup.takedown(spark, dupDir, source = "src4").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(gone.toSeq == Seq((4L, None)))
  }
}
