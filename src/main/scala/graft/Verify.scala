package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // normalize via java.nio: "out/" must not put the extras SIBLING
    // dir ("$outDir-extras") back inside outDir as "out/-extras", and
    // a degenerate outDir ("/", "") has no sibling name at all —
    // reject it instead of writing a relative "-extras"
    val sfDir = args(0)
    val outPath = Paths.get(args(1).replaceAll("/+$", "")).normalize
    require(outPath.getFileName != null &&
      outPath.getFileName.toString.nonEmpty,
      s"outDir '${args(1)}' has no usable directory name")
    val outDir = outPath.toString
    val extrasDir = outPath.resolveSibling(
      outPath.getFileName.toString + "-extras").toString
    // optional 3rd arg: comma-separated query names, for fast local
    // iteration on a subset (driver always runs the full 2-arg form)
    val only = args.lift(2).map(_.split(',').toSet)
    def selected[V](m: Map[String, V]): Map[String, V] =
      only.fold(m)(names => m.filter { case (k, _) => names(k) })
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    selected(SparkEntry.queries).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // extras: python-oracle-checked dumps, written to a SIBLING of
    // outDir (not inside it — the driver scans every outDir entry and
    // would report a bogus no_oracle row); tools/check.py reads the
    // "<outDir>-extras" path explicitly
    selected(SparkEntry.extras).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$extrasDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] extra $name failed: ${e.getMessage}")
      }
    }
    // JSON strings through Bench.jsonEscape: backslash, quote, and ALL
    // control chars (<0x20) — a tab or CR in an oracle's SQL would
    // otherwise make the compare step's json.load fail.
    val json = selected(SparkEntry.oracleSql)
      .map { case (k, v) => "\"" + Bench.jsonEscape(k) + "\": \"" + Bench.jsonEscape(v) + "\"" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of ALL registered queries, so the compare step can flag
    // crashed queries (no output dir) instead of silently skipping them
    val manifest = selected(SparkEntry.queries).keys.toSeq.sorted
      .map(k => "\"" + Bench.jsonEscape(k) + "\"").mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), manifest)
    spark.stop()
  }
}
