package graft.operators

import graft.SparkSpec

class SkewSpec extends SparkSpec {

  test("saltedCount == plain groupBy count on skewed data") {
    import spark.implicits._
    val df = (Seq.fill(1000)("hot") ++ Seq("a", "b", "c")).toDF("k")
    val salted = Skew.saltedCount(df, "k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == Map("hot" -> 1000L, "a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("AQE splits a skewed sort-merge-join partition at runtime") {
    // Manual salting (above) is the portable fix; AQE's skew-join is
    // the runtime one — it detects an oversized shuffle partition
    // during execution and splits it into parallel sub-joins. Verify
    // the mechanism fires: thresholds are lowered so a hot key whose
    // partition is ~100x the median trips the detector in local mode.
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      // force a sort-merge join (skew-split only applies to SMJ/SHJ)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val big = ((1 to 50000).map(_ => ("hot", "x" * 64)) ++
        (1 to 100).map(i => (s"k$i", "y"))).toDF("k", "payload")
      val right = (Seq("hot") ++ (1 to 100).map(i => s"k$i"))
        .map(k => (k, k.length)).toDF("k", "klen")
      val joined = big.join(right, "k")
      // execute THIS QueryExecution (count() would spawn its own) so
      // the adaptive plan is final when inspected
      assert(joined.collect().length == 50100)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE should have marked the hot partition skewed:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
