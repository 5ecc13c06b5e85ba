package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main gets its session from [[GraftSession.local]], so the
  * engine's session settings and its core-count default live in one
  * place. Scans the main sources the way BenchLivenessSpec reads
  * `tools/runmain.sh`.
  */
class SessionFrontDoorSpec extends AnyFunSuite {

  private def mainSourcesExceptFrontDoor: Seq[(Path, String)] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala")
      .map(p => (p, Files.readString(p))).toList
    finally files.close()
  }

  test("src/main builds SparkSessions only in GraftSession.scala") {
    val sources = mainSourcesExceptFrontDoor
    assert(sources.size > 50, "scan found too few sources: wrong working directory?")
    val offenders = sources.collect {
      case (p, text) if text.contains("SparkSession.builder") => p.toString
    }
    assert(offenders.isEmpty,
      s"build the session with GraftSession.local instead: ${offenders.mkString(", ")}")
  }

  test("only GraftSession reads SPARK_GRAFT_CPUS") {
    val readers = mainSourcesExceptFrontDoor.collect {
      case (p, text) if text.contains("SPARK_GRAFT_CPUS") => p.toString
    }
    assert(readers.isEmpty, s"core-count default copied into ${readers.mkString(", ")}")
  }
}
