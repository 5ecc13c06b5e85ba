package graft.operators

import graft.SparkSpec

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  // points: (key, p); intervals: (key, lo, hi). binWidth 10.
  private lazy val points = Seq(
    ("a", 5L), ("a", 10L), ("a", 19L), ("a", 25L),
    ("b", 5L), ("c", 99L)).toDF("k", "p")
  private lazy val intervals = Seq(
    ("a", 0L, 9L),    // single bin
    ("a", 8L, 22L),   // spans bins 0,1,2 — catches 10 and 19
    ("a", 19L, 19L),  // degenerate single-point interval
    ("b", 6L, 7L),    // same bin as b's point but misses it
    ("d", 0L, 100L)). // key with no points
    toDF("k", "lo", "hi")

  private lazy val result =
    RangeJoin.pointInInterval(points, intervals, "k", "p", "lo", "hi", 10L)
      .select("k", "p", "lo", "hi").as[(String, Long, Long, Long)]
      .collect().toList

  test("finds exactly the containing intervals, bounds inclusive") {
    assert(result.toSet == Set(
      ("a", 5L, 0L, 9L),
      ("a", 10L, 8L, 22L),
      ("a", 19L, 8L, 22L),
      ("a", 19L, 19L, 19L)))
  }

  test("no duplicate pairs from multi-bin intervals (point in one bin)") {
    assert(result.size == result.toSet.size)
  }

  test("physical plan is a real join, not a nested loop") {
    val phys = RangeJoin.pointInInterval(
      points, intervals, "k", "p", "lo", "hi", 10L)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"))
  }

  // overlap sides: long intervals spanning several bins, touching
  // endpoints, disjoint gaps, and a key with no partner
  private lazy val aSide = Seq(
    ("a", 0L, 9L, "a1"), ("a", 15L, 40L, "a2"), ("a", 41L, 41L, "a3"),
    ("b", 0L, 100L, "b1"), ("e", 5L, 6L, "e1"))
    .toDF("k", "alo", "ahi", "aid")
  private lazy val bSide = Seq(
    ("a", 9L, 16L, "x"),   // touches a1 at 9 AND a2 at 15-16
    ("a", 35L, 60L, "y"),  // overlaps a2 (shares bins 3,4) and a3
    ("a", 10L, 14L, "z"),  // gap: between a1 and a2, overlaps neither
    ("b", 50L, 55L, "w"),  // inside the long b interval
    ("f", 0L, 99L, "v"))   // key with no a rows
    .toDF("k", "blo", "bhi", "bid")

  test("intervalOverlap: exactly the brute-force pairs, each exactly once") {
    val got = RangeJoin.intervalOverlap(
        aSide, bSide, "k", "alo", "ahi", "blo", "bhi", 10L)
      .select("aid", "bid").as[(String, String)].collect().toList
    val brute = aSide.join(bSide, "k")
      .filter($"alo" <= $"bhi" && $"blo" <= $"ahi")
      .select("aid", "bid").as[(String, String)].collect().toSet
    assert(brute == Set(("a1", "x"), ("a2", "x"), ("a2", "y"),
      ("a3", "y"), ("b1", "w")))  // pin the fixture itself
    assert(got.toSet == brute)
    assert(got.size == got.toSet.size,
      "a pair sharing several bins must appear exactly once")
  }

  test("intervalOverlap physical plan is a real join, not a nested loop") {
    val phys = RangeJoin.intervalOverlap(
        aSide, bSide, "k", "alo", "ahi", "blo", "bhi", 10L)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"))
  }
}
