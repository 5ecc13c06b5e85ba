package graft.examples

/** Drives the Structured Streaming pipeline end-to-end over the real
  * events parquet: readStream → watermark → windowed agg → parquet
  * sink with AvailableNow (incremental run-to-completion).
  * `runMain graft.examples.StreamDemo [sfDir] [outDir]`
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/streamdemo-out"
    val spark = graft.GraftSession.local()
    graft.streaming.EventStreams.runFileStream(spark, sfDir, outDir)
    val out = spark.read.parquet(outDir)
    println(s"STREAMDEMO rows=${out.count()} windows, sample:")
    out.orderBy("window_start", "event_type").show(5, truncate = false)
    spark.stop()
  }
}
