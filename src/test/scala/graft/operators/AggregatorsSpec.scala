package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AggregatorsSpec extends SparkSpec {

  test("Misra-Gries: bounds + guaranteed capture when vocab >> k, across partitions") {
    import spark.implicits._
    // planted skew: 4 heavy items drown 200 light ones; k far below vocab
    val k = 16
    val rng = new scala.util.Random(42)
    val heavy = Seq.fill(3000)(s"h${rng.nextInt(4)}")
    val light = Seq.fill(2000)(s"l${rng.nextInt(200)}")
    val stream = rng.shuffle(heavy ++ light)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    // 7 partitions forces real partial summaries through merge()
    val sketch = stream.toDS().repartition(7)
      .select(MisraGriesAgg(k).toColumn.name("sk")).head()
    val s = sketch.valuesIterator.sum
    assert(sketch.size <= k, "summary must not exceed capacity")
    sketch.foreach { case (w, est) =>
      val t = exact(w)
      assert(est <= t, s"$w: est $est overestimates true $t")
      assert((t - est) * (k + 1) <= n - s,
        s"$w: error ${t - est} breaks the (n-S)/(k+1) bound")
    }
    // every item heavier than the error budget MUST be captured
    exact.foreach { case (w, t) =>
      if (t * (k + 1) > n - s)
        assert(sketch.contains(w), s"heavy item $w (count $t) missing")
    }
    assert(Seq("h0", "h1", "h2", "h3").forall(sketch.contains), "planted heavies missing")
  }

  test("Misra-Gries: exact when k >= vocab, merge-order independent") {
    import spark.implicits._
    val words = Seq.fill(500)(s"w${scala.util.Random.nextInt(20)}")
    val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 3, 13)) {
      val got = words.toDS().repartition(parts)
        .select(MisraGriesAgg(32).toColumn.name("sk")).head()
      assert(got == exact, s"k>=vocab must be exact at $parts partitions")
    }
  }

  test("Count-Min: no underestimates, mass conserved per row, grid partition-invariant") {
    import spark.implicits._
    // narrow grid (2x8) over a 60-word vocab: collisions are certain,
    // so this exercises the overestimate path the oracle query's
    // 4x256 grid (vocab ~31) never hits
    val depth = 2
    val width = 8
    val rng = new scala.util.Random(7)
    val stream = Seq.fill(4000)(s"w${rng.nextInt(60)}")
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    val grids = Seq(1, 3, 13).map { parts =>
      stream.toDS().repartition(parts)
        .select(CountMinAgg(depth, width).toColumn.name("g")).head()
    }
    // merge is elementwise sum — the grid must not depend on partitioning
    assert(grids.forall(_.sameElements(grids.head)),
      "grid must be partition-invariant")
    val g = grids.head
    (0 until depth).foreach { r =>
      assert((r * width until (r + 1) * width).map(g).sum == n,
        s"row $r must conserve total mass $n")
    }
    exact.foreach { case (w, t) =>
      val est = CountMinAgg.estimate(g, depth, width, w)
      assert(est >= t, s"$w: CMS must never underestimate ($est < $t)")
      assert(est <= n, s"$w: estimate above stream length")
    }
  }

  test("Count-Min: JVM h60 mirror matches the Catalyst H60 expression") {
    import spark.implicits._
    // the sketch's JVM-side cell (H60.hash of `w#cms<r>`) against the
    // Catalyst salted hash cmsCounts looks its estimates up with
    val words = Seq("name", "", "a", "hash join", "päivää", "日本語", "w#cms0")
    val (depth, width) = (4, 256)
    (0 until depth).foreach { r =>
      val viaSpark = words.toDF("w")
        .select(col("w"), (graft.llm.PortableHash.h60(col("w"), lit("cms" + r))
          % width + r * width).cast("int").as("c"))
        .collect().map(row => row.getString(0) -> row.getInt(1)).toMap
      words.foreach { w =>
        assert(CountMinAgg.cell(w, r, width) == viaSpark(w),
          s"row-$r cell mismatch for '$w'")
      }
    }
  }

  test("GraftExtensions: fnv1a and cosine_sim callable from SQL") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT fnv1a('name') AS h, cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
      .head()
    // FNV-1a("name") = 1721423025 (computed by the Go reference's ihash)
    def fnv(s: String): Int = {
      var h = 0x811c9dc5
      s.getBytes("UTF-8").foreach { b => h ^= (b & 0xff); h *= 0x01000193 }
      h & 0x7fffffff
    }
    assert(r.getInt(0) == fnv("name"))
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-15)
  }

  test("tokens in SQL: 1 row in, N token rows out via explode") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    Seq((1L, "Hello,  my name"), (2L, ""), (3L, "one"))
      .toDF("id", "text").createOrReplaceTempView("tok_docs")
    val got = spark.sql(
      "SELECT id, t.token FROM tok_docs LATERAL VIEW explode(tokens(text)) t AS token")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "Hello,"), (1L, "my"), (1L, "name"), (3L, "one")))
  }
}
