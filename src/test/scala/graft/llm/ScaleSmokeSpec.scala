package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** 10× scale smoke with planted ground truth: the sf0.1 corpus (5k
  * docs) replicated 10 times — each replica carries a per-replica
  * marker token so copies are NEAR-dups (one-token delta), not exact
  * ones — giving a 50k-document corpus, an order of magnitude past
  * the bench scale, whose near-dup cluster structure is KNOWN. The
  * full LSH → candidate-pair → connected-components pipeline must
  * put all 10 replicas of a base document in one cluster. This is
  * the linear-scaling evidence the 100 TB claim rests on: per-doc
  * signature work is map-only, candidates stay Σ bucket², and the
  * edge set stays O(real duplicates), so 10× input is 10× work — the
  * test completing at all (single local JVM, seconds) is the point.
  */
class ScaleSmokeSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.1"
  private val Replicas = 10

  test("dedup clusters group every replica set in a 50k-doc corpus") {
    val base = graft.Tables.documents(spark, sf01)
    val n = base.count()
    val dir = Files.createTempDirectory("scale10x").toString
    val replicated = (0 until Replicas).map { i =>
      base.select(
        (col("doc_id") + lit(i * n)).as("doc_id"),
        concat(col("text"), lit(s" replicamarker$i")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
    replicated.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val clusters = Dedup.dedupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == Replicas * n, "every document must be clustered")

    // ground truth: for each base doc, its 10 replica ids agree on a
    // cluster (cross-base merges are fine — agreement is what's known)
    val disagreements = (0L until n).count { b =>
      val ids = (0 until Replicas).map(i => clusters(b + i * n))
      ids.distinct.length != 1
    }
    val frac = disagreements.toDouble / n
    info(f"replica sets split across clusters: $disagreements of $n ($frac%.4f)")
    // MinHash at est_jaccard >= 0.5 over a one-token delta misses a
    // pair with non-zero probability; allow a tiny tail, never more
    assert(frac <= 0.01,
      s"$disagreements replica sets were not clustered together")
  }

  test("hybrid sparse channel: a corpus-wide common token generates ZERO candidates") {
    // the sparse-channel scale property: candidate pairs are Σ df²
    // over RARE terms only. A token in every document (df = corpus)
    // would alone emit |corpus|² pairs if it joined; the df <= MaxDf
    // filter must drop it, leaving only bucket-mates reachable. The
    // shared token sits in every doc's text, so if it leaked into the
    // join this test would also visibly hang (4M pairs at 2k vecs).
    val e = graft.Tables.embeddings(spark, sf01)
      .select(col("vec_id"), col("embedding"))
    val docs = e.select(col("vec_id").as("doc_id"),
      concat(lit("common7token "), col("vec_id").cast("string"),
        lit("uniq")).as("text"))
    val buckets = e
      .select(col("vec_id"), Similarity.signatureCol(col("embedding")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Hybrid.hybridTopKOf(e, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val crossBucket = rows.filterNot { case (q, n) => buckets(q) == buckets(n) }
    assert(crossBucket.isEmpty,
      s"common token leaked into the sparse join: $crossBucket")
  }

  test("a 10^4-member identical group yields O(group) work, not O(group^2) pairs") {
    // the classic LSH skew failure: byte-identical docs share all 16
    // minhash values, so without exact-dup pre-collapse every band
    // collides and this corpus emits 10^4*(10^4-1)/2 ≈ 5*10^7
    // candidate pairs from ONE bucket. With the collapse the group is
    // one representative and the pair count stays O(distinct contents).
    val m = 10000L
    val boiler = "standard boilerplate terms of service text repeated verbatim " +
      "across the entire corpus on every single page without any variation at all"
    val distinctTail = (0 until 50).map { i =>
      (m + i, s"genuinely distinct document number $i about topic${i} with its own words ${i * 37}")
    }
    val dir = Files.createTempDirectory("planted10k").toString
    import spark.implicits._
    val group = spark.range(m).select(
      col("id").as("doc_id"), lit(boiler).as("text"),
      lit("en").as("lang"), lit("web").as("source"),
      lit(boiler.length.toLong).as("n_chars"))
    val tail = distinctTail.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("web").as("source"), length(col("text")).cast("long").as("n_chars"))
    group.unionAll(tail).repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val t0 = System.nanoTime()
    val nPairs = Dedup.minhashLshPairs(spark, dir).count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"candidate pairs: $nPairs, in $secs%.1f s")
    assert(nPairs < 1000,
      s"pre-collapse failed: $nPairs candidate pairs from a corpus of one " +
        "identical group + 50 distinct docs")

    // membership still expands through the group: every copy clusters
    // under the min doc_id, and the weighted stats see all 10^4 docs
    val stats = Dedup.dedupClusterStats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats(0L)._2 == m, s"cluster 0 should weight $m docs, got ${stats(0L)}")
    assert(stats(0L)._1 == 1L, "the identical group is ONE representative")

    // the simhash chunk join shares the pre-collapse: identical docs
    // share the simhash bit-for-bit, so without it the group fills all
    // four 8-bit chunk buckets and emits the same 5*10^7 pairs (every
    // pair at hamming 0 passes the <= 3 filter — the filter is no
    // guard). With the collapse, candidates stay O(distinct contents).
    val t1 = System.nanoTime()
    val nSimPairs = Dedup.simhashPairs(spark, dir).count()
    val simSecs = (System.nanoTime() - t1) / 1e9
    info(f"simhash pigeonhole pairs: $nSimPairs, in $simSecs%.1f s")
    assert(nSimPairs < 1000,
      s"simhash pre-collapse failed: $nSimPairs pairs from one identical " +
        "group + 50 distinct docs")
  }

  test("triangles: a 10^4-spoke hub generates zero wedges under degree orientation") {
    // the hub failure mode degree orientation exists for: orienting
    // edges low-id -> high-id, a star hub at id 0 with 10^4 spokes
    // would generate C(10^4, 2) = 5*10^7 wedge pairs from ONE join
    // key. Under (degree, id) orientation every spoke (degree 1)
    // points AT the hub, the hub has out-degree 0, and the star
    // contributes zero wedges. The planted triangle off to the side
    // must still be found.
    import spark.implicits._
    val hub = spark.range(1, 10001).select(
      lit(0).cast("int").as("src"), (col("id") + 10).cast("int").as("dst"))
    val tri = Seq((1, 2), (2, 3), (3, 1)).toDF("src", "dst")
    val t0 = System.nanoTime()
    val r = graft.queries.Graph.triangleCountOf(hub.unionByName(tri))
      .collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"star+triangle counted in $secs%.1f s")
    assert(r.getLong(2) == 1L, s"expected exactly the planted triangle, got $r")
    assert(r.getLong(0) == 10004L && r.getLong(1) == 10003L)
  }

  test("semantic dedup: a 10^4-member identical-embedding cluster stays O(distinct)") {
    // SemDeDup's skew failure mode mirrors LSH's: byte-identical
    // embeddings (exact-duplicate docs embed identically) would emit
    // m(m-1)/2 ≈ 5*10^7 scored pairs from ONE cluster self-join at
    // m = 10^4. The exact-content pre-collapse pairs representatives
    // only (51 reps here -> <= 1275 scored pairs); members expand
    // back linearly. Uncollapsed, this test would evaluate 5*10^7
    // 64-dim cosines — its completing in seconds is the point.
    val m = 10000L
    val dim = Similarity.Dim
    val ident = Array.tabulate(dim)(i => (i % 7 + 1).toFloat)
    val group = spark.range(m).select(col("id").as("vec_id"),
      typedLit(ident).as("embedding"), lit(0).as("label"))
    val tail = spark.range(m, m + 50).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        j => (j + col("id")).cast("float")).as("embedding"),
      lit(0).as("label"))
    val t0 = System.nanoTime()
    val removed = Similarity.semanticDedupOf(group.unionByName(tail)).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"removed ${removed.length} of ${m + 50} in $secs%.1f s")
    val members = removed.filter(_.getLong(0) < m)
    assert(members.length == (m - 1).toInt,
      "every non-representative identical member must be removed")
    assert(members.forall(_.getLong(2) == 0L),
      "identical members must collapse onto representative 0")
    assert(removed.length <= (m - 1 + 50).toInt)
  }
}
