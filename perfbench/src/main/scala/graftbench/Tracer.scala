package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.SparkInternals

/** Layer attribution from outside graft. A traced run keeps three span
  * levels in memory and writes them out at the end:
  *
  *  1. one span per call into a graft module ([[span]]), whose Spark job
  *     group carries the request id;
  *  2. one span per SQL execution, with Catalyst's phase times
  *     (`QueryExecution.tracker`) and the executed plan's scan and
  *     generator metrics, read from the QueryExecution that Spark's
  *     execution-end event carries (a QueryExecutionListener callback
  *     would not say which execution id, and so which jobs, it belongs to);
  *  3. one span per Spark job and per stage, with task metrics.
  *
  * It also snapshots Hadoop's local-filesystem statistics (plus the
  * [[CountingLocalFileSystem]] call counters) and the files under the
  * collection root around each level-1 span. Nothing here touches graft's
  * code: it only registers listeners Spark already offers.
  */
final class Tracer(spark: SparkSession) {
  private val nextId = new AtomicLong(0)
  val calls = ArrayBuffer[Map[String, Any]]()
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val taskTimes = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  /** Directory whose files are diffed around each span (the collection
    * root), when set. */
  var watchDir: Option[java.nio.file.Path] = None
  /** Run phase the next spans belong to (setup, warmup, loop, verify). */
  var phase = "setup"

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall-clock milliseconds (the clock of Spark's event times) with
    * sub-millisecond resolution. */
  private def epochMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      events.add(Map("type" -> "job_start", "job" -> e.jobId, "t" -> e.time,
        "group" -> p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull,
        "exec" -> p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).orNull,
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(Map("type" -> "job_end", "job" -> e.jobId, "t" -> e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val base = Map[String, Any]("type" -> "stage", "stage" -> s.stageId,
        "attempt" -> s.attemptNumber(), "tasks" -> s.numTasks,
        "t0" -> s.submissionTime.getOrElse(0L), "t1" -> s.completionTime.getOrElse(0L))
      events.add(if (m == null) base else base ++ Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "output_bytes" -> m.outputMetrics.bytesWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        events.add(Map("type" -> "sql_start", "exec" -> s.executionId, "t" -> s.time))
      case s: SparkListenerSQLExecutionEnd =>
        events.add(Map("type" -> "sql_end", "exec" -> s.executionId, "t" -> s.time))
        val qe = SparkInternals.queryExecution(s)
        if (qe != null) record(qe, s.executionId)
      case _ =>
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  private def record(qe: QueryExecution, execId: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val plan = nodes(qe.executedPlan)
    val scans = plan.collect {
      case s: FileSourceScanExec => Map[String, Any](
        "paths" -> s.relation.location.rootPaths.map(_.toString),
        "bytes" -> metric(s, "filesSize"), "rows" -> metric(s, "numOutputRows"),
        "files" -> metric(s, "numFiles"))
      case b: BatchScanExec => Map[String, Any](
        "paths" -> Seq(b.scan.description()), "bytes" -> 0L,
        "rows" -> metric(b, "numOutputRows"), "files" -> 0L)
    }
    val verifyRows = plan.collect {
      case g: GenerateExec if g.generator.getClass.getSimpleName == "BucketJaccardPairs" =>
        metric(g, "numOutputRows")
    }.sum
    events.add(Map("type" -> "qe", "exec" -> execId,
      "phases" -> phases, "scans" -> scans, "verify_rows" -> verifyRows))
  }

  spark.sparkContext.addSparkListener(sparkListener)

  private def fsStats(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    val hadoop = if (st == null) Map.empty[String, Long]
      else st.getLongStatistics.asScala.map(s => s.getName -> s.getValue).toMap
    hadoop ++ CountingLocalFileSystem.snapshot()
  }

  private def files(): Map[String, Long] = watchDir match {
    case Some(d) if java.nio.file.Files.exists(d) =>
      val w = java.nio.file.Files.walk(d)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      catch { case _: java.io.UncheckedIOException => Map.empty }
      finally w.close()
    case _ => Map.empty
  }

  /** Run `body` as one level-1 span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val id = s"req-${nextId.incrementAndGet()}"
    val sc = spark.sparkContext
    val before = fsStats()
    val filesBefore = files()
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = epochMs
    var ok = true
    try body
    catch { case e: Throwable => ok = false; throw e }
    finally {
      val t1 = epochMs
      sc.clearJobGroup()
      val after = fsStats()
      val filesAfter = files()
      val fresh = filesAfter.filter { case (p, sz) => !filesBefore.get(p).contains(sz) }
      calls += Map("id" -> id, "name" -> name, "phase" -> phase, "t0" -> t0, "t1" -> t1, "ok" -> ok,
        "fs" -> after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
          .filter(_._2 != 0L),
        "files_written" -> fresh.size, "bytes_written" -> fresh.values.sum)
    }
  }

  /** Drain Spark's listener bus and return everything recorded. */
  def dump(): Map[String, Any] = {
    SparkInternals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    Map("calls" -> calls.toSeq, "events" -> events.asScala.toSeq,
      "task_ms" -> taskTimes.asScala.map { case (s, q) => s.toString -> q.asScala.toSeq }.toMap)
  }
}
