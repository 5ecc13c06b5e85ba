package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The `spark.graft.*` session options are the settings a deployment
  * chooses. An option that only a test or one instrument sets is an
  * argument instead, so a new key fails here until it is added to
  * the list with its reason. Scans the main sources the way
  * [[SessionFrontDoorSpec]] does.
  */
class OptionSurfaceSpec extends AnyFunSuite {

  test("src/main names exactly the two deployment options") {
    val files = Files.walk(Paths.get("src/main"))
    val sources =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(Files.readString).toList
      finally files.close()
    assert(sources.size > 50, "scan found too few sources: wrong working directory?")
    val key = "\"spark\\.graft\\.([A-Za-z0-9_.]+)".r
    val found = sources.flatMap(key.findAllMatchIn(_).map(_.group(1))).toSet
    assert(found == Set(
      // the fact-size threshold of a plan-time join selection: specs
      // set it to test both sides (PlanAuditSpec, ScaleHintsSpec)
      "join.shjFactMinBytes",
      // where the plugin corpus is rendered: mrbench sets it
      "plugin.corpusDir"))
  }
}
