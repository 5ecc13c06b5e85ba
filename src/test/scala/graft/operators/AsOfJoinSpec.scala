package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class AsOfJoinSpec extends SparkSpec {

  test("asof: latest at-or-before match, inclusive ties, null when none") {
    import spark.implicits._
    val left = Seq((1, 10, "L10"), (1, 20, "L20"), (1, 5, "L5"), (2, 15, "L15"))
      .toDF("k", "t", "lv")
    val right = Seq((1, 7, "R7"), (1, 20, "R20"), (2, 99, "R99"))
      .toDF("k", "rt", "rv")
    val got = AsOfJoin.asof(left, right, "k", "t", "rt").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getInt(3),
        if (r.isNullAt(4)) null else r.getString(4))).toSet
    assert(got == Set(
      (1, 5, "L5", null, null),          // nothing at or before t=5
      (1, 10, "L10", 7, "R7"),           // latest <= 10 is 7
      (1, 20, "L20", 20, "R20"),         // tie at t=20 is inclusive
      (2, 15, "L15", null, null)))       // right row is after
  }

  test("asof result matches left row count exactly") {
    import spark.implicits._
    val left = Seq((1, 1, "a"), (1, 2, "b"), (1, 3, "c")).toDF("k", "t", "lv")
    val right = Seq((1, 1, "x"), (1, 1, "y")).toDF("k", "rt", "rv")
    // duplicate right timestamps: exactly one row per left row survives
    assert(AsOfJoin.asof(left, right, "k", "t", "rt").count() == 3)
  }

  test("asofForward: earliest at-or-after match, inclusive ties, null when none") {
    import spark.implicits._
    val left = Seq((1, 10, "L10"), (1, 20, "L20"), (1, 25, "L25"), (2, 15, "L15"))
      .toDF("k", "t", "lv")
    val right = Seq((1, 12, "R12"), (1, 20, "R20"), (2, 3, "R3"))
      .toDF("k", "rt", "rv")
    val got = AsOfJoin.asofForward(left, right, "k", "t", "rt").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getInt(3),
        if (r.isNullAt(4)) null else r.getString(4))).toSet
    assert(got == Set(
      (1, 10, "L10", 12, "R12"),         // earliest >= 10 is 12, not 20
      (1, 20, "L20", 20, "R20"),         // tie at t=20 is inclusive
      (1, 25, "L25", null, null),        // nothing at or after t=25
      (2, 15, "L15", null, null)))       // right row is before
  }

  test("asof tolerance: stale matches beyond the horizon are nulled, not shifted") {
    import spark.implicits._
    // int times cast to timestamps as SECONDS; tolerance is micros
    val left = Seq((1, 20, "a"), (1, 100, "b")).toDF("k", "t", "lv")
    val right = Seq((1, 14, "old")).toDF("k", "rt", "rv")
    val got = AsOfJoin.asof(left, right, "k", "t", "rt",
        toleranceMicros = 10L * 1000000)  // 10 seconds
      .collect()
      .map(r => (r.getInt(1), if (r.isNullAt(4)) null else r.getString(4))).toSet
    // t=20 -> rt=14 is 6s stale (inside); t=100 -> 86s stale: NULL
    assert(got == Set((20, "old"), (100, null)))
  }

  test("asofSalted: row-identical to asof under a planted hot key, which genuinely splits") {
    import spark.implicits._
    val hotN = 2000
    val nSalts = 16
    // one key holds 50% of the left side — the skew shape that
    // serializes the unsalted window into a single task
    val left = ((1 to hotN).map(i => (7L, i * 10, s"hot$i")) ++
      (1 to hotN).map(i => ((100 + i % 50).toLong, i * 10, s"cold$i")))
      .toDF("k", "t", "lv")
    val right = ((0 to 200).map(b => (7L, b * 97, s"r7-$b")) ++
      (100 to 149).map(k => (k.toLong, 5000, s"r$k")))
      .toDF("k", "rt", "rv")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) null else r.getString(4))
    val plain = AsOfJoin.asof(left, right, "k", "t", "rt")
      .collect().map(key).toSet
    val salted = AsOfJoin.asofSalted(left, right, "k", "t", "rt",
      nSalts = nSalts).collect().map(key).toSet
    assert(salted == plain,
      s"salted-only: ${(salted -- plain).take(3)}; plain-only: ${(plain -- salted).take(3)}")
    // the physical claim: the hot key's left rows spread across salts,
    // so no (key, salt) window partition holds more than ~2/nSalts of
    // the hot key — the per-task work bound salting exists to buy
    val buckets = left.withColumn("_s", AsOfJoin.saltCol(left, nSalts))
      .groupBy(col("k"), col("_s")).count().collect()
    val hotBuckets = buckets.filter(_.getLong(0) == 7L)
    assert(hotBuckets.length >= nSalts / 2,
      s"hot key landed in only ${hotBuckets.length} of $nSalts salts")
    val maxHot = hotBuckets.map(_.getLong(2)).max
    assert(maxHot <= 2L * hotN / nSalts,
      s"largest hot (key,salt) bucket $maxHot exceeds 2x the even share ${hotN / nSalts}")
  }

  test("asofSalted: tolerance and null-match behavior survive the salted path") {
    import spark.implicits._
    val left = Seq((1, 5, "early"), (1, 20, "a"), (1, 100, "b")).toDF("k", "t", "lv")
    val right = Seq((1, 14, "old"), (2, 1, "other")).toDF("k", "rt", "rv")
    val got = AsOfJoin.asofSalted(left, right, "k", "t", "rt",
        toleranceMicros = 10L * 1000000, nSalts = 4)
      .collect()
      .map(r => (r.getInt(1), if (r.isNullAt(4)) null else r.getString(4))).toSet
    assert(got == Set((5, null), (20, "old"), (100, null)))
  }

  test("asofNearest: closer direction wins, backward wins ties, exact time matches") {
    import spark.implicits._
    val left = Seq(
      (1, 10, "back-closer"),   // back at 8 (gap 2) vs fwd at 15 (gap 5)
      (1, 30, "fwd-closer"),    // back at 15 (gap 15) vs fwd at 33 (gap 3)
      (1, 24, "tie"),           // back at 15 (gap 9) vs fwd at 33 (gap 9)
      (1, 33, "exact"),         // right row at the same instant
      (2, 50, "none")           // no right rows for this key
    ).toDF("k", "t", "lv")
    val right = Seq((1, 8, "R8"), (1, 15, "R15"), (1, 33, "R33"))
      .toDF("k", "rt", "rv")
    val got = AsOfJoin.asofNearest(left, right, "k", "t", "rt").collect()
      .map(r => (r.getString(2), if (r.isNullAt(4)) null else r.getString(4)))
      .toMap
    assert(got == Map(
      "back-closer" -> "R8",
      "fwd-closer" -> "R33",
      "tie" -> "R15",           // equal gaps: backward wins
      "exact" -> "R33",         // gap 0 via the inclusive backward leg
      "none" -> null))
    assert(AsOfJoin.asofNearest(left, right, "k", "t", "rt").count() == 5)
  }

  test("asofNearest tolerance: the chosen (nearer) match beyond the horizon is nulled") {
    import spark.implicits._
    // int times cast to timestamps as SECONDS; tolerance is micros
    val left = Seq((1, 10, "a"), (1, 60, "b")).toDF("k", "t", "lv")
    val right = Seq((1, 14, "R14"), (1, 200, "R200")).toDF("k", "rt", "rv")
    val got = AsOfJoin.asofNearest(left, right, "k", "t", "rt",
        toleranceMicros = 5L * 1000000)
      .collect()
      .map(r => (r.getInt(1), if (r.isNullAt(4)) null else r.getString(4))).toSet
    // t=10: nearest is R14 (gap 4s, inside); t=60: nearest is R14
    // (gap 46s) — beyond 5s, so NULL, never replaced by R200
    assert(got == Set((10, "R14"), (60, null)))
  }

  test("asofForward tolerance: matches beyond the horizon are nulled, not shifted") {
    import spark.implicits._
    // int times cast to timestamps as SECONDS; tolerance is micros
    val left = Seq((1, 10, "a"), (1, 95, "b")).toDF("k", "t", "lv")
    val right = Seq((1, 14, "near"), (1, 200, "far")).toDF("k", "rt", "rv")
    val got = AsOfJoin.asofForward(left, right, "k", "t", "rt",
        toleranceMicros = 5L * 1000000)  // 5 seconds
      .collect()
      .map(r => (r.getInt(1), if (r.isNullAt(4)) null else r.getString(4))).toSet
    // t=10 -> rt=14 within 5s; t=95 -> nearest is rt=200, 105s away:
    // NULL (the far row must not be replaced by an earlier one)
    assert(got == Set((10, "near"), (95, null)))
    // left row count preserved
    assert(AsOfJoin.asofForward(left, right, "k", "t", "rt").count() == 2)
  }
}
