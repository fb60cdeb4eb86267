package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards against regrowth of hand-rolled driver-thread overlaps and
  * stream skeletons in `src/main`: every overlap goes through
  * `graft.operators.Overlap`, and every AvailableNow stream starts in
  * `StreamingPipeline.drain`.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: no ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try
      walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> new String(Files.readAllBytes(p), "UTF-8"))
        .toSeq
        .sortBy(_._1)
    finally walk.close()
  }

  test("no driver-thread Future or global execution context outside Overlap") {
    val banned = Seq("ExecutionContext.global" -> "ExecutionContext\\.global".r, "Future {" -> "\\bFuture\\s*\\{".r)
    val hits = for {
      (file, text) <- sources if file != "graft/operators/Overlap.scala"
      (name, pat) <- banned if pat.findFirstIn(text).isDefined
    } yield s"$file: $name"
    assert(hits.isEmpty, s"overlap driver work with graft.operators.Overlap instead:\n${hits.mkString("\n")}")
  }

  test("Trigger.AvailableNow streams start only in StreamingPipeline.drain") {
    val trigger = "\\.trigger\\(\\s*Trigger\\.AvailableNow\\(\\)\\s*\\)".r
    val hits = for {
      (file, text) <- sources
      m <- trigger.findAllMatchIn(text)
    } yield file -> m.start
    val streaming = "graft/streaming/StreamingPipeline.scala"
    assert(hits.map(_._1) == Seq(streaming), s"route AvailableNow arms through drain: $hits")
    val text = sources.toMap.apply(streaming)
    val drainStart = text.indexOf("private def drain(")
    val drainEnd = text.indexOf("\n\n", drainStart)
    assert(drainStart >= 0 && hits.head._2 > drainStart && hits.head._2 < drainEnd,
      "the one AvailableNow trigger must sit inside drain")
  }
}
