package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint keeping ONE one-shot streaming runner: outside
  * `OneShot.scala`, no `src/main` code line may name the AvailableNow
  * trigger, open a memory sink, or start a streaming query (a start
  * call in a file that builds a stream writer). The one allowlisted
  * start is `EventStream.upsertSink`, a library sink whose caller picks
  * the trigger; stale or miscounted entries fail, so the list never
  * drifts from the code. Same shape as [[SessionSiteLintSpec]]. The
  * patterns are assembled from parts so this file does not match
  * itself.
  */
class StreamSiteLintSpec extends AnyFunSuite {

  private val availableNow = "Trigger." + "AvailableNow"
  private val memorySink = "format(\"" + "memory\")"
  private val start = "." + "start()"
  private val writer = "write" + "Stream"

  /** (source file basename, trimmed line) -> (multiplicity, reason). */
  private val allow: Map[(String, String), (Int, String)] = Map(
    ("EventStream.scala", start) ->
      (1, "EventStream.upsertSink: a library sink returning its running " +
        "query; the caller picks the trigger"))

  private def mainSources: Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    } finally s.close()
  }

  test("one-shot triggers, memory sinks and streaming starts appear only " +
      "in OneShot.scala, and no allowlist entry is stale") {
    val found = scala.collection.mutable.Map
      .empty[(String, String), Int].withDefaultValue(0)
    mainSources.filter(_.getFileName.toString != "OneShot.scala").foreach { p =>
      val name = p.getFileName.toString
      val code = java.nio.file.Files.readAllLines(p).toArray(Array.empty[String])
        .map(_.trim)
        .filterNot(t => t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      val streams = code.exists(_.contains(writer))
      code.foreach { t =>
        if (t.contains(availableNow) || t.contains(memorySink)
            || (streams && t.contains(start)))
          found((name, t)) += 1
      }
    }
    val offenders = found.toSeq.collect {
      case (k, n) if !allow.get(k).exists(_._1 == n) =>
        s"${k._1}: ${k._2} (x$n)"
    }.sorted
    val stale = allow.toSeq.collect {
      case (k, (n, _)) if found(k) != n =>
        s"${k._1}: ${k._2} (allowlisted x$n, found x${found(k)})"
    }.sorted
    assert(offenders.isEmpty,
      "run one-shot streams through graft.streaming.OneShot, not a " +
        s"hand-copied trigger/sink/start:\n  ${offenders.mkString("\n  ")}")
    assert(stale.isEmpty, s"stale allowlist entries:\n  ${stale.mkString("\n  ")}")
  }
}
