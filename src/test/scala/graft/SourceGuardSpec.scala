package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards against regrowth of hand-rolled driver-thread overlaps,
  * stream skeletons and flag parsing in `src/main`: every overlap goes
  * through `graft.operators.Overlap`, every AvailableNow stream starts
  * in `StreamingPipeline.drain`, every command-line flag is parsed
  * by `graft.pipeline.Cli`, every session is built on
  * `GraftSession`'s production conf, every native function is
  * installed by `GraftExtensions`, every CLI read schema is
  * declared in `graft.schemas.Schemas`, every durable state root
  * takes its writer lease and reader heal through
  * `graft.operators.DurableRoot`, every parquet read that declares
  * no schema resolves it through `graft.sources.Parquet`, and every
  * star-schema transform step is one projection.
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
    val banned = Seq(
      "ExecutionContext.global" -> "ExecutionContext\\.global".r,
      "Future {" -> "\\bFuture\\s*\\{".r,
      "Executors." -> "\\bExecutors\\.".r,
      "new Thread(" -> "\\bnew\\s+Thread\\s*\\(".r
    )
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

  test("command-line flags are parsed only by Cli") {
    val getOrElse = "opts\\s*\\.getOrElse".r
    val pairs = "\\.(sliding\\(\\s*2\\s*,\\s*2\\s*\\)|grouped\\(\\s*2\\s*\\))".r
    val hits = sources.collect {
      case (file, text) if getOrElse.findFirstIn(text).isDefined => s"$file: opts.getOrElse"
      case (file, text) if file != "graft/pipeline/Cli.scala" && pairs.findFirstIn(text).isDefined =>
        s"$file: pair parsing"
    }
    assert(hits.isEmpty, s"declare flags on the verb and read them through Cli.Args:\n${hits.mkString("\n")}")
  }

  test("SparkSession.builder() is called only by GraftSession and Bench") {
    val builder = "SparkSession\\s*\\.\\s*builder\\b".r
    val callers = sources.collect { case (file, text) if builder.findFirstIn(text).isDefined => file }
    // Bench's session is the benchmark harness; every other session
    // starts from GraftSession.builder.
    val allowed = Seq("graft/Bench.scala", "graft/GraftSession.scala")
    assert(callers.contains("graft/GraftSession.scala"), s"the pattern no longer finds GraftSession's builder: $callers")
    assert(callers.forall(allowed.contains), s"build sessions with graft.GraftSession instead:\n${callers.diff(allowed).mkString("\n")}")
  }

  test("native functions are installed only by GraftExtensions, never registered per call") {
    val banned = Seq(
      "GraftFunctions.register" -> "GraftFunctions\\s*\\.\\s*register\\b".r,
      "createOrReplaceTempFunction" -> "\\bcreateOrReplaceTempFunction\\b".r
    )
    val hits = for {
      (file, text) <- sources
      (name, pat) <- banned if pat.findFirstIn(text).isDefined
    } yield s"$file: $name"
    assert(hits.isEmpty, s"list the function in GraftExtensions; GraftSession installs it:\n${hits.mkString("\n")}")
  }

  test("the writer lease and the reader heal live only in DurableRoot") {
    val durable = "graft/operators/DurableRoot.scala"
    assert(sources.toMap.apply(durable).contains(".__writer"), s"$durable no longer names the lease file")
    val lease = sources.collect { case (file, text) if file != durable && text.contains(".__writer") => s"$file: .__writer" }
    val retired = "\\b(healWholeSwapForRead|healCompactForRead|healSpanStateForRead|withWriterLease)\\b".r
    val names = sources.flatMap { case (file, text) => retired.findAllIn(text).map(n => s"$file: $n") }
    assert(lease.isEmpty && names.isEmpty, s"declare the state family in DurableRoot and call write/healForRead:\n${(lease ++ names).mkString("\n")}")
  }

  test("PipelineRunner's verbs declare no inline StructType; read schemas live in Schemas") {
    val pipeline = "graft/pipeline/Pipeline.scala"
    val text = sources.toMap.apply(pipeline)
    val hits = "\\bStructType\\s*\\(".r.findAllMatchIn(text).map(m => text.take(m.start).count(_ == '\n') + 1).toSeq
    assert(hits.isEmpty, s"declare the schema in graft.schemas.Schemas: $pipeline lines ${hits.mkString(", ")}")
  }

  test("the star-schema transforms build each step as one projection, with no withColumn") {
    val transforms = "graft/transforms/Transforms.scala"
    val text = sources.toMap.apply(transforms)
    val hits = "\\.\\s*withColumn\\s*\\(".r.findAllMatchIn(text).map(m => text.take(m.start).count(_ == '\n') + 1).toSeq
    // each withColumn re-analyses the whole plan under it
    assert(hits.isEmpty, s"fold the column into the step's select: $transforms lines ${hits.mkString(", ")}")
  }

  test("a parquet read with no schema goes through graft.sources.Parquet") {
    // `read`, then any `.option(...)`/`.schema(...)` steps, then `.parquet(`.
    val chain = "\\bread((?:\\s*\\.\\s*\\w+\\((?:[^()]|\\([^()]*\\))*\\))*?)\\s*\\.\\s*parquet\\(".r
    def args(text: String, open: Int): String = {
      var depth = 1
      var i = open
      while (depth > 0) {
        if (text(i) == '(') depth += 1 else if (text(i) == ')') depth -= 1
        i += 1
      }
      text.substring(open, i - 1)
    }
    def topLevelComma(s: String): Boolean =
      s.foldLeft((0, false)) { case ((d, hit), c) =>
        (if (c == '(') d + 1 else if (c == ')') d - 1 else d, hit || (c == ',' && d == 0))
      }._2
    // Reads that need Spark's own resolution: a declared schema, the
    // union of every footer, a base path, or several paths.
    def declared(steps: String, paths: String): Boolean =
      steps.contains("schema(") || steps.contains("\"mergeSchema\"") || steps.contains("\"basePath\"") ||
        paths.contains(": _*") || topLevelComma(paths)
    val reader = "graft/sources/Parquet.scala"
    val plain = for {
      (file, text) <- sources
      m <- chain.findAllMatchIn(text) if !declared(m.group(1), args(text, m.end))
    } yield file -> (text.take(m.start).count(_ == '\n') + 1)
    assert(plain.count(_._1 == reader) == 1, s"$reader must hold the one plain read: $plain")
    val hits = plain.filterNot(_._1 == reader)
    assert(hits.isEmpty, s"read parquet with graft.sources.Parquet.read:\n${hits.map { case (f, l) => s"$f:$l" }.mkString("\n")}")
  }
}
