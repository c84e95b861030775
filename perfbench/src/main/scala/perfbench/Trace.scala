package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer's public function. Times are epoch ms, the
  * clock Spark stamps its events with. */
final case class OpRec(id: Int, name: String, layer: String, t0: Long,
                       t1: Long, gcMs: Long)

/** A span in the in-memory trace tree: one root per op, with build /
  * execute children recorded by the client and SQL-execution / job
  * children recovered from Spark's events by op interval. */
final case class Span(op: Int, kind: String, name: String, t0: Long,
                      t1: Long, attrs: Map[String, Any] = Map.empty)

/** The common counter set every layer boundary records. */
final class Counters {
  var jobs, stages, tasks = 0L
  var planMs, jobBusyMs, driverGapMs, taskWaitMs, taskCpuMs = 0.0
  var scanRows, scanBytes, shuffleWrite, shuffleRead, spill, gcMs = 0.0
  var selfMs, writeBytes = 0.0

  def values: Seq[(String, Double, String)] = Seq(
    ("jobs", jobs.toDouble, "count"), ("stages", stages.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"), ("plan_ms", planMs, "ms"),
    ("job_busy_ms", jobBusyMs, "ms"), ("driver_gap_ms", driverGapMs, "ms"),
    ("task_wait_ms", taskWaitMs, "ms"), ("task_cpu_ms", taskCpuMs, "ms"),
    ("scan_rows", scanRows, "count"), ("scan_bytes", scanBytes, "bytes"),
    ("shuffle_write_bytes", shuffleWrite, "bytes"),
    ("shuffle_read_bytes", shuffleRead, "bytes"),
    ("spill_bytes", spill, "bytes"), ("gc_ms", gcMs, "ms"),
    ("self_ms", selfMs, "ms"))
}

/** Records Spark's job, stage, task and SQL-execution events plus
  * query-execution phase times, and attributes them to client ops by time
  * interval. With one client thread every job that starts inside an op's
  * interval belongs to it, side threads of the op included. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val plans = mutable.ArrayBuffer.empty[Plan]

  private def execOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.time, execOf(e.properties))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.t1 = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis)
      stages(e.stageInfo.stageId) =
        new Stage(e.stageInfo.stageId, t, execOf(e.properties))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.waitMs += math.max(0L, e.taskInfo.launchTime - s.t0)
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.inRows += m.inputMetrics.recordsRead
        s.inBytes += m.inputMetrics.bytesRead
        s.shW += m.shuffleWriteMetrics.bytesWritten
        s.shR += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val plan = Option(s.sparkPlanInfo)
      execs(s.executionId) = Exec(s.executionId, s.time, s.time,
        plan.map(_.nodeName).getOrElse(""), plan.exists(writes))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.t1 = s.time)
    }
    case _ =>
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      plans += Plan(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum.toDouble)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** A plan that writes files anywhere in its tree (with AQE the write
    * command sits below the adaptive root). */
  private def writes(p: SparkPlanInfo): Boolean = {
    val n = p.nodeName
    n.contains("InsertInto") || n.contains("WriteFiles") ||
      n.contains("SaveIntoDataSource") || n.contains("CreateDataSourceTable") ||
      p.children.exists(writes)
  }

  /** A SQL execution that writes files: its jobs count as state writes. */
  def isWrite(exec: Long): Boolean = synchronized {
    execs.get(exec).exists(_.write)
  }

  /** Per-layer counters summed over `ops`. `layerOf(op, exec)` names the
    * layer that owns an event: ops of one layer map every event to it,
    * the ingest op splits writes from decisions. */
  def attribute(ops: Seq[OpRec], layerOf: (OpRec, Long) => String)
      : Map[String, Counters] = synchronized {
    val out = mutable.Map.empty[String, Counters]
    def c(l: String) = out.getOrElseUpdate(l, new Counters)
    def within(op: OpRec, t: Long) = t >= op.t0 && t <= op.t1
    ops.foreach { op =>
      val opJobs = jobs.filter(j => within(op, j.t0))
      val byLayer = opJobs.groupBy(j => layerOf(op, j.exec))
      // wall per layer: write executions own their interval, the rest of
      // the op belongs to its main layer
      val execWall = execs.values.filter(x => within(op, x.t0))
        .groupBy(x => layerOf(op, x.id))
        .map { case (l, xs) => l -> union(xs.map(x => (x.t0, x.t1)).toSeq) }
      val main = layerOf(op, -1L)
      val wall = (op.t1 - op.t0).toDouble
      val sideWall = execWall.collect { case (l, w) if l != main => w }.sum
      val selfOf = (l: String) =>
        if (l == main) wall - sideWall else execWall.getOrElse(l, 0.0)
      (byLayer.keySet ++ execWall.keySet + main).foreach { l =>
        val k = c(l)
        val js = byLayer.getOrElse(l, Seq())
        val busy = union(js.map(j => (j.t0, j.t1)).toSeq)
        k.jobs += js.size
        k.jobBusyMs += busy
        k.selfMs += selfOf(l)
        k.driverGapMs += math.max(0.0, selfOf(l) - busy)
        k.gcMs += (if (wall > 0) op.gcMs * selfOf(l) / wall else 0.0)
      }
      stages.values.filter(s => within(op, s.t0)).foreach { s =>
        val k = c(layerOf(op, s.exec))
        k.stages += 1; k.tasks += s.tasks
        k.taskWaitMs += s.waitMs; k.taskCpuMs += s.cpuNs / 1e6
        k.scanRows += s.inRows; k.scanBytes += s.inBytes
        k.shuffleWrite += s.shW; k.shuffleRead += s.shR
        k.spill += s.spill; k.writeBytes += s.outBytes
      }
      plans.filter(p => within(op, p.t0)).foreach { p =>
        val x = execs.values.find(e => within(op, e.t0) && e.t0 >= p.t0)
        c(layerOf(op, x.filter(e => isWrite(e.id)).map(_.id).getOrElse(-1L)))
          .planMs += p.ms
      }
    }
    out.toMap
  }

  /** SQL-execution and job spans of each op, children of its root span. */
  def eventSpans(ops: Seq[OpRec]): Seq[Span] = synchronized {
    ops.flatMap { op =>
      def within(t: Long) = t >= op.t0 && t <= op.t1
      execs.values.filter(x => within(x.t0)).map(x =>
        Span(op.id, "sql", x.root, x.t0, x.t1, Map("execution" -> x.id))) ++
        jobs.filter(j => within(j.t0)).map(j =>
          Span(op.id, "job", s"job ${j.id}", j.t0, j.t1,
            Map("execution" -> j.exec)))
    }
  }

  /** Listener view of one op for the event-log cross-check. */
  def countsFor(op: OpRec): Map[String, Long] = synchronized {
    def within(t: Long) = t >= op.t0 && t <= op.t1
    val js = jobs.filter(j => within(j.t0))
    val ss = stages.values.filter(s => within(s.t0))
    Map("jobs" -> js.size.toLong, "stages" -> ss.size.toLong,
      "tasks" -> ss.map(_.tasks).sum,
      "shuffle_write_bytes" -> ss.map(_.shW).sum,
      "shuffle_read_bytes" -> ss.map(_.shR).sum)
  }

  def jobIdsFor(op: OpRec): Set[Int] = synchronized {
    jobs.filter(j => j.t0 >= op.t0 && j.t0 <= op.t1).map(_.id).toSet
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total.toDouble
  }
}

object Tracer {
  final case class Job(id: Int, t0: Long, var t1: Long, exec: Long)
  final class Stage(val id: Int, val t0: Long, val exec: Long) {
    var tasks, cpuNs, waitMs, inRows, inBytes, shW, shR, spill, outBytes = 0L
  }
  final case class Exec(id: Long, t0: Long, var t1: Long, root: String,
                        write: Boolean)
  final case class Plan(t0: Long, ms: Double)

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
