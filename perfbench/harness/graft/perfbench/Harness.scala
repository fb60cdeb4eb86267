package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.GraftSession
import graft.pipeline.Pipeline
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

/** One benchmark process: builds the production session, warms up, runs
  * one workload as a closed loop with one client, and writes every
  * operation's record as JSON. Input generation, percentiles and output
  * checks live in `perfbench/run.py`.
  *
  * Usage: Harness --workload W --data DIR --warm DIR --out DIR
  *                --seconds S --trace 0|1 --cores N --order a,b,c --result FILE
  *
  * With `--trace 1` every operation runs twice, once untraced and once
  * with the listeners of [[Tracer]] registered, so the tracing overhead
  * is measured in the same process.
  */
object Harness {

  final case class Op(name: String, body: () => Boolean)

  /** A workload is an endless sequence of operations over fixed inputs. */
  trait Workload {
    def warmUp(): Unit
    def op(i: Int, tag: String): Op
    /** The dirs operation `i` declares as its output; a write elsewhere is durable state. */
    def outputs(i: Int, tag: String): Seq[String]
    /** Outside the timed window, after operation `i`: checks, snapshots, isolation. */
    def after(i: Int, tag: String, ok: Boolean): Map[String, Any] = Map.empty
    /** Whether the timed window may end before operation `i`. */
    def boundary(i: Int): Boolean = true
    /** Facts about the workload the checks need. */
    def info: Map[String, Any] = Map.empty
  }

  final class Args(argv: Array[String]) {
    private val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    val workload: String = apply("workload")
    val data: String = apply("data")
    val warm: String = apply("warm")
    val out: String = apply("out")
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val cores: Int = apply("cores").toInt
    val order: IndexedSeq[String] = apply("order").split(',').filter(_.nonEmpty).toIndexedSeq
    val result: String = apply("result")
  }

  def main(argv: Array[String]): Unit = {
    val bootMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val a = new Args(argv)
    val spark = GraftSession.builder(appName = "perfbench", master = s"local[${a.cores}]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val built = System.nanoTime()
    val w = workload(a, spark)
    w.warmUp()
    val warm = System.nanoTime()
    val setup = Map(
      "boot_s" -> (mainMs - bootMs) / 1e3,
      "build_s" -> (built - t0) / 1e9,
      "warmup_s" -> (warm - built) / 1e9,
      "setup_s" -> ((mainMs - bootMs) / 1e3 + (warm - t0) / 1e9))

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val records = loop(spark, w, tracer, (n, s) => s >= a.seconds && w.boundary(n))
    val global = tracer.map { t =>
      Json.writeLines(Paths.get(a.out, "spans.jsonl"), t.spans.toSeq)
      Map("unattributed_tasks" -> t.globalCounter("unattributed_tasks"))
    }.getOrElse(Map.empty)
    val conf = (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .filter { case (k, _) => !Ephemeral.exists(k.startsWith) }
    val result = Map(
      "setup" -> setup,
      "conf" -> conf,
      "records" -> records.toSeq,
      "global" -> global,
      "info" -> w.info,
      "peak_rss_kb" -> vmHwmKb(),
      "heap_committed_kb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1024)
    Files.writeString(Paths.get(a.result), Json.write(result))
    spark.stop()
  }

  /** Settings that differ between any two runs of the same code. */
  private val Ephemeral = Seq("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.driver.host", "spark.driver.port", "spark.executor.id", "spark.graft.sessionId",
    "spark.local.dir", "spark.sql.warehouse.dir", "spark.hadoop.hadoop.tmp.dir",
    "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")

  /** Runs operations until `done(count, measuredSeconds)`. Only the
    * operation itself is timed. Outside the timed window, the persisted
    * RDDs left at the operation's end are counted on every workload, a
    * full GC measures the live heap with those pins still held, and then
    * the workload's `after` step runs.
    *
    * With a tracer, every operation runs twice in a row, once untraced
    * and once traced with the listeners registered only for that run.
    * The order alternates, because the second run of a pair profits
    * from the first. The pairs measure the tracing overhead, and the
    * untraced halves alone make up the measured time.
    */
  private def loop(spark: SparkSession, w: Workload, tracer: Option[Tracer],
                   done: (Int, Double) => Boolean): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    def once(i: Int, phase: String, t: Option[Tracer]): Double = {
      val tag = s"$phase-$i"
      val op = w.op(i, tag)
      t.foreach { t =>
        t.start(tag, w.outputs(i, tag))
        sc.setLocalProperty(Tracer.OpKey, tag)
      }
      val start = System.nanoTime()
      val (ok, error) =
        try (op.body(), "")
        catch { case NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val seconds = (System.nanoTime() - start) / 1e9
      sc.setLocalProperty(Tracer.OpKey, null)
      t.foreach(_.stop())
      val pins = sc.getPersistentRDDs.size
      val pinned = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      System.gc()
      val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val extra = w.after(i, tag, ok)
      out += Map("i" -> i, "tag" -> tag, "phase" -> phase, "name" -> op.name, "seconds" -> seconds,
        "ok" -> ok, "error" -> error, "extra" -> extra,
        "pins" -> pins, "pinned_bytes" -> pinned, "heap_live_kb" -> heapLive / 1024,
        "counters" -> t.map(_.counters(tag)).getOrElse(Map.empty))
      seconds
    }
    var measured = 0.0
    var i = 0
    while (!done(i, measured)) {
      if (tracer.isEmpty) measured += once(i, "timed", None)
      else if (i % 2 == 0) {
        measured += once(i, "untraced", None)
        once(i, "traced", tracer)
      } else {
        once(i, "traced", tracer)
        measured += once(i, "untraced", None)
      }
      i += 1
    }
    out.toSeq
  }

  private def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "etl_batch"       => new EtlBatch(a, spark)
    case "etl_incremental" => new EtlIncremental(a, spark)
    case "catalog"         => new Catalog(a, spark)
    case other             => sys.error(s"unknown workload $other")
  }

  /** EP1: repeated full reloads of the same input into fresh output dirs. */
  final class EtlBatch(a: Args, spark: SparkSession) extends Workload {
    /** The cold first reload runs on the small warm-up input, then two
      * reloads of the real input take the steepest part of the JIT curve
      * out of the timed window.
      */
    def warmUp(): Unit = {
      Pipeline.runFullBatch(spark, s"${a.warm}/", s"${a.out}/warm/")
      for (k <- 1 to 2) Pipeline.runFullBatch(spark, s"${a.data}/", s"${a.out}/warm-data-$k/")
    }
    def op(i: Int, tag: String): Op = Op("reload", () => {
      Pipeline.runFullBatch(spark, s"${a.data}/", s"${output(tag)}/")
      true
    })
    private def output(tag: String) = s"${a.out}/reloads/$tag"
    def outputs(i: Int, tag: String): Seq[String] = Seq(output(tag))
    override def after(i: Int, tag: String, ok: Boolean): Map[String, Any] =
      Map("output" -> output(tag))
  }

  /** EP2: one daily file per operation through the quarantining run,
    * with the reference DAG's defaults (`coalesce(1)`, static overwrite)
    * and fail-fast reads. A quarantined file is put back after its
    * operation, so a repeat of the operation sees the same input.
    *
    * An operation named `stream:<file>` instead drains that one file
    * through the streaming ingest (`StreamingPipeline.incrementalTables`,
    * an AvailableNow `foreachBatch` that writes the same users and time
    * tables) with a fresh checkpoint. Its input dir, holding only a copy
    * of the file, is made before the timed window opens.
    */
  final class EtlIncremental(a: Args, spark: SparkSession) extends Workload {
    private def run(bucket: String, file: String): Boolean =
      Pipeline.runIncrementalQuarantined(spark, s"$bucket/", file, singleFileOutput = true,
        partitionTimeByMonth = false, dynamicPartitionOverwrite = false, failFast = true)

    private def stream(bucket: String, file: String, tag: String): Op = {
      val in = Paths.get(a.out, "stream-in", tag)
      Files.createDirectories(in)
      Files.copy(Paths.get(bucket, "raw", file), in.resolve(file), StandardCopyOption.REPLACE_EXISTING)
      Op(s"$Stream$file", () => {
        StreamingPipeline.incrementalTables(spark, in.toString, streamOut(tag), s"${a.out}/checkpoints/$tag")
          .awaitTermination()
        true
      })
    }
    private def streamOut(tag: String) = s"${a.out}/stream/$tag"

    /** Every warm-up file through EP2, then one streaming drain. */
    def warmUp(): Unit = {
      val files = listRaw(a.warm)
      files.foreach(f => run(a.warm, f))
      restore(a.warm)
      stream(a.warm, files.head, "warm").body()
    }
    private def name(i: Int) = a.order(i % a.order.size)
    def op(i: Int, tag: String): Op = name(i) match {
      case n if n.startsWith(Stream) => stream(a.data, n.stripPrefix(Stream), tag)
      case f                         => Op(f, () => run(a.data, f))
    }
    def outputs(i: Int, tag: String): Seq[String] =
      if (name(i).startsWith(Stream)) Seq(streamOut(tag))
      else Seq("users_table.parquet", "time_table.parquet").map(t => s"${a.data}/transformed/$t")
    override def after(i: Int, tag: String, ok: Boolean): Map[String, Any] = name(i) match {
      case n if n.startsWith(Stream) => Map("snapshot" -> streamOut(tag))
      case f =>
        val snap = Paths.get(a.out, "snap", tag)
        if (ok) Seq("users_table.parquet", "time_table.parquet").foreach { t =>
          copyTree(Paths.get(a.data, "transformed", t), snap.resolve(t))
        }
        val extra = Map[String, Any](
          "in_failed" -> Files.exists(Paths.get(a.data, "failed", f)),
          "in_raw" -> Files.exists(Paths.get(a.data, "raw", f)),
          "snapshot" -> (if (ok) snap.toString else ""))
        restore(a.data)
        extra
    }
    /** Runs end on whole passes, so every run has the same mix of operations. */
    override def boundary(i: Int): Boolean = i % a.order.size == 0

    private def listRaw(bucket: String): Seq[String] =
      list(Paths.get(bucket, "raw")).map(_.getFileName.toString).sorted

    private def restore(bucket: String): Unit = {
      val failed = Paths.get(bucket, "failed")
      if (Files.isDirectory(failed)) list(failed).foreach { p =>
        if (!p.getFileName.toString.startsWith("."))
          Files.move(p, Paths.get(bucket, "raw", p.getFileName.toString), StandardCopyOption.REPLACE_EXISTING)
        else Files.delete(p)
      }
    }
  }
  private val Stream = "stream:"

  /** The `SparkEntry` catalog: each operation runs one query and writes
    * its result as parquet. Between queries, and outside the timed
    * window, the feature memo is cleared and every persisted RDD is
    * unpersisted with blocking, as `graft.Bench` does; the loop counts
    * the pins left at query end first.
    */
  final class Catalog(a: Args, spark: SparkSession) extends Workload {
    private def run(q: String, path: String): Unit =
      graft.SparkEntry.queries(q)(spark, a.data).write.mode("overwrite").parquet(path)

    def warmUp(): Unit = a.order.foreach { q =>
      run(q, s"${a.out}/warm/$q")
      isolate()
    }
    def op(i: Int, tag: String): Op = {
      val q = a.order(i % a.order.size)
      Op(q, () => { run(q, result(q, tag)); true })
    }
    private def result(q: String, tag: String) = s"${a.out}/results/$q/$tag"
    def outputs(i: Int, tag: String): Seq[String] = Seq(result(a.order(i % a.order.size), tag))

    override def after(i: Int, tag: String, ok: Boolean): Map[String, Any] = {
      isolate()
      Map("output" -> result(a.order(i % a.order.size), tag))
    }

    /** Runs end on whole passes, so every run times the same queries. */
    override def boundary(i: Int): Boolean = i % a.order.size == 0
    override def info: Map[String, Any] = Map(
      "oracle_sql" -> a.order.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "composition" -> a.order.filter(graft.SparkEntry.compositionQueries))

    private def isolate(): Unit = {
      graft.queries.TextQueries.clearFeatureMemo()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  private def list(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toList)

  private def copyTree(src: Path, dst: Path): Unit =
    if (Files.exists(src)) Using.resource(Files.walk(src))(_.iterator().asScala.toList).foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(0L)
}

/** Just enough JSON for the result file. */
private object Json {
  def write(v: Any): String = v match {
    case null               => "null"
    case s: String          => quote(s)
    case b: Boolean         => b.toString
    case d: Double          => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int             => n.toString
    case n: Long            => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_]     => s.map(write).mkString("[", ",", "]")
    case other              => quote(other.toString)
  }

  def writeLines(path: Path, rows: Seq[Any]): Unit =
    Files.writeString(path, rows.map(write).mkString("", "\n", "\n"))

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
