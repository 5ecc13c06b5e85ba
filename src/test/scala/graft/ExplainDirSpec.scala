package graft

import java.nio.file.Files
import graft.examples.Explain
import scala.jdk.CollectionConverters._

/** `Explain --dir`: one plan file per requested query, nothing else. */
class ExplainDirSpec extends SparkSpec {

  // expression ids (`#123`) and exchange plan ids differ between two
  // plannings of one query
  private def maskIds(plan: String): String =
    plan.replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")

  test("--dir writes exactly one non-empty <q>.txt per query, holding its plan") {
    val out = Files.createTempDirectory("graft-explain-dir")
    val names = Seq("mr_wordcount", "q6_forecast_revenue")
    Explain.run(spark, Seq("--dir", out.toString, names.mkString(","), sf001))
    val written = Files.list(out)
    val files = try written.iterator().asScala.map(_.getFileName.toString).toSet
      finally written.close()
    assert(files == names.map(_ + ".txt").toSet)
    names.foreach { q =>
      val got = Files.readString(out.resolve(s"$q.txt"))
      assert(got.startsWith("== Physical Plan =="), s"$q.txt is not a formatted plan")
      assert(maskIds(got) == maskIds(Explain.planOf(spark, q, sf001)), s"$q.txt")
    }
  }
}
