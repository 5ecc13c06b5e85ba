package graft.examples

import graft.operators.MRJob
import graft.sources.KVText

/** Runnable end-to-end demo of the MRJob surface — the library
  * consumed exactly as a reference user would consume the original
  * (plugin mapf/reducef + text files in, `mr-out`-style text files
  * out). `runMain graft.examples.MRDemo <inputGlob> <outDir>`.
  */
object MRDemo {
  def main(args: Array[String]): Unit = {
    val inputGlob = if (args.length > 0) args(0) else "/root/repo/src/test/resources/mr/*.txt"
    val outDir = if (args.length > 1) args(1) else "/tmp/mrdemo-out"
    val spark = graft.GraftSession.local()
    import spark.implicits._

    // wordcount, README.MD:25-53 semantics
    val job = MRJob[String, Int, Int](
      (_, contents) => "[A-Za-z]+".r.findAllIn(contents).map(w => (w, 1)).toSeq,
      (_, vs) => vs.sum,
      nReduce = 2)
    val out = job.run(spark, inputGlob)
    job.writeTextOutput(out, outDir)
    val lines = new java.io.File(outDir).listFiles()
      .filter(_.getName.startsWith("part-"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).sorted.toSeq
    println("MRDEMO OUTPUT: " + lines.mkString(" | "))

    // bucketed tab-separated intermediate, worker.go:112-118 layout
    KVText.writeBucketed(out.toDF("key", "value"), s"$outDir-kv", nBuckets = 4)
    val back = KVText.readKV(spark, s"$outDir-kv/bucket=*").collect()
    println("MRDEMO KV READBACK: " + back.sortBy(_.getString(0)).mkString(","))
    spark.stop()
  }
}
