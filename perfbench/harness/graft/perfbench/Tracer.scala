package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The traced run's listeners, registered from outside the program.
  *
  * Every job carries the operation tag ([[Tracer.OpKey]]) as a local
  * property; task, stage and job metrics are summed onto the tagged
  * operation. Jobs without the tag count as unattributed (for example,
  * work started on a pool thread that did not inherit the tag). A query
  * execution is attributed through the tag of its jobs, or to the
  * running operation when it launched none. Spans stay in memory and are
  * written out when the run ends.
  *
  * A write outside the running operation's declared outputs counts as
  * durable state. Each completed stage's wall time is summed by kind: a
  * stage that writes output is a write stage, else one that reads input
  * files is a scan stage, else one that reads shuffle blocks is a
  * shuffle stage.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val perOp = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val stageOp = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (Long, Option[String], String)]
  private val listingStages = mutable.Set.empty[Int]
  private val execOp = mutable.Map.empty[Long, String]
  private val global = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile private var currentOp: String = ""
  @volatile private var declared: Seq[String] = Nil

  private def add(op: String, key: String, v: Double): Unit =
    perOp.getOrElseUpdate(op, mutable.Map.empty[String, Double].withDefaultValue(0.0))(key) += v

  def counters(op: String): Map[String, Double] =
    synchronized(perOp.get(op).map(_.toMap).getOrElse(Map.empty).withDefaultValue(0.0))

  def globalCounter(key: String): Double = synchronized(global(key))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpKey)))
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).foreach { id =>
        op.foreach(o => execOp(id.toLong) = o)
      }
      jobStart(e.jobId) = (e.time, op, desc)
      e.stageIds.foreach(s => stageOp(s) = op.getOrElse(""))
      if (desc.startsWith(ListingJob)) listingStages ++= e.stageIds
      op.foreach(add(_, "jobs", 1))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, op, desc) =>
        val ms = (e.time - t0).toDouble
        if (desc.startsWith(ListingJob)) op.foreach(add(_, "listing_ms", ms))
        spans += Map("kind" -> "job", "parent" -> op.getOrElse(""), "job" -> e.jobId,
          "start_ms" -> t0, "end_ms" -> e.time, "description" -> desc.takeWhile(_ != '<'))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = e.stageInfo
      val op = stageOp.getOrElse(s.stageId, "")
      for {
        m <- Option(s.taskMetrics)
        t0 <- s.submissionTime
        t1 <- s.completionTime
        if op.nonEmpty && !listingStages.contains(s.stageId)
      } {
        val kind =
          if (m.outputMetrics.bytesWritten > 0 || m.outputMetrics.recordsWritten > 0) "write"
          else if (m.inputMetrics.bytesRead > 0) "scan"
          else if (m.shuffleReadMetrics.totalBytesRead > 0) "shuffle"
          else "other"
        add(op, s"stage_${kind}_ms", (t1 - t0).toDouble)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val op = stageOp.getOrElse(e.stageId, "")
      if (op.isEmpty) global("unattributed_tasks") += 1
      else {
        add(op, "tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          val info = e.taskInfo
          add(op, "run_ms", m.executorRunTime.toDouble)
          add(op, "cpu_ns", m.executorCpuTime.toDouble)
          add(op, "gc_ms", m.jvmGCTime.toDouble)
          val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime +
            info.gettingResultTime
          add(op, "sched_ms", math.max(0L, info.duration - busy).toDouble)
          add(op, "shuffle_write", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(op, "shuffle_read", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(op, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add(op, "spill", m.diskBytesSpilled.toDouble)
          add(op, "bytes_read", m.inputMetrics.bytesRead.toDouble)
          add(op, "records_read", m.inputMetrics.recordsRead.toDouble)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs / 1e9, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0.0, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, seconds: Double, ok: Boolean): Unit =
    synchronized {
      val op = execOp.getOrElse(qe.id, currentOp)
      add(op, "actions", 1)
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      Seq("analysis", "optimization", "planning").foreach(p => add(op, s"${p}_ms", phases.getOrElse(p, 0.0)))
      val plan: SparkPlan = try qe.executedPlan catch { case _: Throwable => null }
      val writes = if (plan == null) Nil else PlanWalk.all(plan) { case w: DataWritingCommandExec => w }
      writes.foreach { w =>
        val m = w.cmd.metrics
        def metric(k: String) = m.get(k).map(_.value.toDouble).getOrElse(0.0)
        add(op, "commit_ms", metric("taskCommitTime") + metric("jobCommitTime"))
        add(op, "files_written", metric("numFiles"))
        add(op, "bytes_written", metric("numOutputBytes"))
        w.cmd match {
          case c: InsertIntoHadoopFsRelationCommand =>
            val path = c.outputPath.toUri.getPath
            val name = path.split('/').last
            Transforms.find(t => name == s"${t}_table.parquet").foreach { t =>
              add(op, s"transforms.$t.s", seconds)
              add(op, s"transforms.$t.rows", metric("numOutputRows"))
            }
            if (!declared.exists(d => path == d || path.startsWith(d + "/")))
              add(op, "state_bytes", metric("numOutputBytes"))
          case _ =>
        }
      }
      if (plan != null) PlanWalk.all(plan) { case s: FileSourceScanExec => s }.foreach { s =>
        def metric(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        add(op, "scan_files", metric("numFiles"))
        add(op, "listing_ms", metric("metadataTime"))
      }
      spans += Map("kind" -> "action", "parent" -> op, "execution" -> qe.id, "func" -> funcName,
        "ok" -> ok, "seconds" -> seconds, "phases_ms" -> phases, "writes" -> writes.size)
    }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val op = currentOp
      add(op, "stream_batches", 1)
      add(op, "stream_batch_ms", e.progress.batchDuration.toDouble)
      add(op, "stream_rows", e.progress.numInputRows.toDouble)
    }
  }

  /** Registers the listeners for operation `op`, which declares `outputs` as its output dirs. */
  def start(op: String, outputs: Seq[String]): Unit = {
    currentOp = op
    declared = outputs.map(d => java.nio.file.Paths.get(d).normalize.toString)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Unregisters once every event posted so far has reached the listeners. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    currentOp = ""
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  /** Benchmark-only local property that tags every job with its operation. */
  val OpKey = "perfbench.op"
  private val ListingJob = "Listing leaf files"
  val Transforms = Seq("songs", "artists", "users", "time", "songplays")
}

/** Walks adaptive plans and their query stages as well as plain ones. */
private object PlanWalk extends AdaptiveSparkPlanHelper {
  def all[B](plan: SparkPlan)(pf: PartialFunction[SparkPlan, B]): Seq[B] =
    collectWithSubqueries(plan)(pf)
}
