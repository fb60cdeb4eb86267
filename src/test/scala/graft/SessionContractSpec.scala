package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.functions.GraftFunctions
import graft.plans.RangeJoinRewrite
import graft.streaming.StreamingPipeline
import org.apache.spark.SparkConf
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{array, lit, size}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The session contract: every session the engine runs on carries the
  * native functions and the range-join rule from `GraftSession`, with no
  * registration call anywhere, and the command-line entry point runs on
  * the master spark-submit chose.
  */
class SessionContractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-session-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  /** `graft_dot` and `graft_shingles` resolve in SQL and through the Column API. */
  private def assertNativeFunctions(s: SparkSession): Unit = {
    val viaSql = s
      .sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "size(graft_shingles(array('a', 'b', 'c', 'a', 'b', 'c'))) AS n")
      .head()
    assert(viaSql.getDouble(0) == 11.0 && viaSql.getInt(1) == 3, s"SQL: $viaSql")
    val viaColumns = s
      .range(1)
      .select(
        GraftFunctions.graft_dot(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))),
        size(GraftFunctions.graft_shingles(array(Seq("a", "b", "c", "a", "b", "c").map(lit): _*)))
      )
      .head()
    assert(viaColumns.getDouble(0) == 11.0 && viaColumns.getInt(1) == 3, s"Column API: $viaColumns")
  }

  test("native functions resolve in a GraftSession session and its newSession()") {
    assertNativeFunctions(spark)
    assertNativeFunctions(spark.newSession())
  }

  test("native functions resolve in a session built fresh after clearing the active and default sessions") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = GraftSession.builder("graft-session-fresh", "local[4]").getOrCreate()
      assert(fresh ne prev, "the builder must construct a new session")
      assertNativeFunctions(fresh)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("native functions resolve in the micro-batch session of a StreamingPipeline drain") {
    // A stream runs each micro-batch on a clone of its session; the
    // listener (copied into the clone at stream start) hands it out.
    val stream = spark.newSession()
    val seen = new ConcurrentLinkedQueue[SparkSession]()
    stream.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.sparkSession)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    val root = Files.createTempDirectory("graft-session-stream").toString
    val raw = s"$root/raw"
    new java.io.File(raw).mkdirs()
    Files.writeString(
      Paths.get(s"$raw/f1.json"),
      """{"artist":"A","auth":"Logged In","firstName":"F","gender":"F","itemInSession":1,"lastName":"L","length":100.0,"level":"paid","location":"X","method":"PUT","page":"NextSong","registration":1.5E12,"sessionId":1,"song":"S","status":200,"ts":1542241826796.0,"userAgent":"M","userId":"7"}"""
    )
    val q = StreamingPipeline.incrementalTables(stream, raw, s"$root/out", s"$root/ckpt")
    assert(q.awaitTermination(60000), "the drain did not finish")
    assert(q.exception.isEmpty, s"drain failed: ${q.exception}")
    // Listener events arrive asynchronously.
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    def batchSession = seen.asScala.find(_ ne stream)
    while (batchSession.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(batchSession.isDefined, "no query ran on the micro-batch session")
    assertNativeFunctions(batchSession.get)
  }

  test("RangeJoinRewrite fires in a plain GraftSession session when only its width is set") {
    val s = spark.newSession()
    import s.implicits._
    val intervals = Seq((1L, 10L, 20L), (2L, 50L, 90L)).toDF("lid", "lo", "hi")
    val values = Seq(9L, 15L, 60L, 91L).toDF("v")
    def joined: DataFrame = values.join(intervals, $"v" >= $"lo" && $"v" <= $"hi")
    s.conf.set(RangeJoinRewrite.WidthConf, "16")
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_bucket"), s"the installed rule should have bucketed the join:\n$plan")
    assert(
      joined.select("lid", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 15L), (2L, 60L)))
  }

  test("RangeJoinRewrite leaves the optimized plan unchanged when its width is unset") {
    val s = spark.newSession()
    import s.implicits._
    val intervals = Seq((1L, 10L, 20L), (2L, 50L, 90L)).toDF("lid", "lo", "hi")
    val values = Seq(9L, 15L, 60L, 91L).toDF("v")
    def optimized = values.join(intervals, $"v" >= $"lo" && $"v" <= $"hi").queryExecution.optimizedPlan
    val installed = optimized
    s.conf.set("spark.sql.optimizer.excludedRules", RangeJoinRewrite.ruleName)
    val excluded = optimized
    assert(!installed.toString.contains("__graft_bucket"), s"rewritten without a width:\n$installed")
    assert(installed == excluded, s"with the rule:\n$installed\nwithout it:\n$excluded")
  }

  test("PipelineRunner.main runs on the master spark-submit sets, not local[SPARK_GRAFT_CPUS]") {
    // spark-submit hands its --master to the application as the
    // spark.master system property; the entry point runs in a child JVM
    // so its session is the first of its process.
    val dir = Files.createTempDirectory("graft-submit-master")
    val probe = dir.resolve("probe.txt")
    val log = dir.resolve("child.log")
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++ jvmArgs ++ Seq(
      "-Xmx1g",
      "-Dspark.master=local[3]",
      s"-Dspark.extraListeners=${classOf[SubmitMasterProbe].getName}",
      s"-D${SubmitMasterProbe.OutProp}=$probe",
      "-cp",
      sys.props("java.class.path"),
      "graft.pipeline.PipelineRunner",
      "--maintenance",
      "lease_report",
      "--state",
      dir.resolve("state").toString
    )
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val child = pb.start()
    if (!child.waitFor(180, TimeUnit.SECONDS)) child.destroyForcibly().waitFor()
    def childLog = new String(Files.readAllBytes(log), "UTF-8").linesIterator.toSeq.takeRight(40).mkString("\n")
    assert(child.exitValue() == 0, s"the entry point failed:\n$childLog")
    // The listing-slot cap and both shuffle widths follow the chosen
    // master, not SPARK_GRAFT_CPUS.
    assert(Files.readString(probe) == "local[3] 3 3 24", s"session conf of the entry point:\n$childLog")
  }
}

/** Writes the master, listing-slot cap, shuffle partitions and AQE
  * initial partition count its `SparkContext` starts with to the file
  * named by the [[SubmitMasterProbe.OutProp]] property (installed
  * through `spark.extraListeners`).
  */
class SubmitMasterProbe(conf: SparkConf) extends SparkListener {
  Files.writeString(
    Paths.get(sys.props(SubmitMasterProbe.OutProp)),
    Seq(
      "spark.master",
      "spark.sql.sources.parallelPartitionDiscovery.parallelism",
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ).map(conf.get).mkString(" ")
  )
}

object SubmitMasterProbe {
  val OutProp = "graft.test.masterProbe"
}
