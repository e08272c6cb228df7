package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint keeping ONE session factory: under `src/`, a Spark
  * session may be constructed only in `GraftSession.scala`, so
  * Bench, Verify, PlanDump and the test session cannot drift back to
  * hand-copied configs. Same shape as [[PersistSiteLintSpec]]. The
  * pattern is assembled from parts so this file does not match itself.
  */
class SessionSiteLintSpec extends AnyFunSuite {

  private val sessionCall = ("SparkSession" + """\s*\.\s*""" + "builder").r

  private def sources: Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    } finally s.close()
  }

  test("a Spark session is constructed only in GraftSession.scala") {
    val offenders = sources.filter { p =>
      p.getFileName.toString != "GraftSession.scala" &&
        sessionCall.findFirstIn(new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)).isDefined
    }.map(_.toString).sorted
    assert(offenders.isEmpty,
      "create sessions with GraftSession.local, not a hand-copied " +
        s"config:\n  ${offenders.mkString("\n  ")}")
  }
}
