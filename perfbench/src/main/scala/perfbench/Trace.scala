package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The engine's modules, as the benchmark names its layers. A Spark job
  * belongs to the layer of the innermost `graft.*` frame of its call
  * site; `other` takes graft frames outside these modules and jobs
  * with no graft frame at all. */
object Layers {
  val All: Seq[String] = Seq("sources", "etl", "sinks", "streaming.incremental",
    "streaming.curate", "streaming.semantic", "analytics", "ops", "other")

  def ofClass(cls: String): Option[String] = {
    val c = cls.takeWhile(_ != '$')
    if (!c.startsWith("graft.")) None
    else Some(
      if (c.startsWith("graft.sources.")) "sources"
      else if (c.startsWith("graft.etl.")) "etl"
      else if (c.startsWith("graft.sinks.")) "sinks"
      else if (c == "graft.streaming.Incremental" || c == "graft.streaming.Stream")
        "streaming.incremental"
      else if (c == "graft.streaming.CurateStream" || c == "graft.streaming.KeySketch")
        "streaming.curate"
      else if (c == "graft.streaming.SemanticStream" || c == "graft.streaming.SlotPolicy")
        "streaming.semantic"
      else if (c.startsWith("graft.analytics.")) "analytics"
      else if (c.startsWith("graft.ops.")) "ops"
      else "other")
  }

  /** The frame a job is attributed to, and its layer, from a call-site
    * long form (one stack frame per line, innermost first).
    * `Sessions.labeled` only wraps the real caller, so it is skipped like
    * the benchmark's own frames. With no graft frame, the first frame. */
  def attribute(details: String): (String, String) = {
    val frames = details.split('\n').map(_.trim.stripPrefix("at ")).filter(_.nonEmpty)
    val graftFrames = frames.iterator
      .filterNot(_.startsWith("graft.Sessions"))
      .flatMap(f => ofClass(f.takeWhile(_ != '(')).map(l => (f, l)))
      .toSeq
    // a shared helper outside the named modules (PairGuard, Temps, …)
    // defers to the nearest caller inside one
    graftFrames.find(_._2 != "other").orElse(graftFrames.headOption)
      .getOrElse((frames.headOption.getOrElse(""), "other"))
  }

  /** A SQL execution whose physical plan runs a function defined in
    * `graft.sources` (Rpc's fetch `mapPartitions`) does that layer's
    * work, whichever module's action materialises it: the class that
    * defined the function, or None. */
  def sourcesFetch(plan: String): Option[String] =
    """graft\.sources\.[A-Za-z0-9_]+""".r.findFirstIn(plan)
}

/** One Spark job as the listener saw it. */
final case class JobRec(id: Int, layer: String, frame: String, start: Long, var end: Long,
    var tasks: Long = 0, var taskFailures: Long = 0, var shuffleBytes: Long = 0,
    var spillBytes: Long = 0, var outputBytes: Long = 0)

/** One timed operation of a workload (the parent span of its jobs).
  * `layer` is the module whose entry point the operation calls: a job
  * the benchmark's own action starts (collecting a served frame) has no
  * graft frame and belongs there. */
final case class OpSpan(id: Int, name: String, layer: String, start: Long, end: Long)

/** Job-level tracer: a SparkListener that attributes every job to a
  * layer and accumulates its task metrics. Times are epoch millis, the
  * clock Spark stamps its events with. Registered only for traced runs;
  * everything is kept in memory and written out when the run ends.
  *
  * A job's call site is its result stage's `details`. Jobs that a SQL
  * action submits from helper threads (broadcast builds, adaptive
  * shuffle stages) carry no caller frames there, so a job inside a SQL
  * execution takes the call site the execution recorded when the
  * action was called. */
final class JobTracer extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val executions = new ConcurrentHashMap[Long, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      val own = Layers.sourcesFetch(x.physicalPlanDescription)
        .map(f => (f, "sources")).getOrElse(Layers.attribute(x.details))
      val attributed =
        if (own._2 != "other") own
        else x.rootExecutionId.flatMap(r => Option(executions.get(r))).getOrElse(own)
      executions.put(x.executionId, attributed)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val own = result.map(s => Layers.attribute(s.details)).getOrElse(("", "other"))
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executions.get(id.toLong)))
    val (frame, layer) = execution.filter(_._2 != "other").getOrElse(own)
    e.stageInfos.foreach(s => stageToJob.put(s.stageId, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, layer, frame, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.end = e.time })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.reason != Success) j.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  /** Wait (bounded) until every started job has ended: listener events
    * arrive asynchronously, after the action that caused them returned. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task-end events of the last jobs
  }

  def snapshot: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Per-layer and per-operation figures derived from the tracer's jobs
  * and the workload's operation spans. */
object TraceReport {

  /** Jobs started inside a timed operation, each with its parent op id. */
  def jobsInOps(jobs: Seq[JobRec], ops: Seq[OpSpan]): Seq[(JobRec, Int)] =
    jobs.flatMap { j =>
      ops.find(o => j.start >= o.start && j.start < o.end).map { o =>
        val owned = if (j.frame.startsWith("graft.")) j else j.copy(layer = o.layer)
        (owned, o.id)
      }
    }

  def layerMetrics(jobs: Seq[JobRec], ops: Seq[OpSpan]): mutable.LinkedHashMap[String, (Double, String)] = {
    val inOps = jobsInOps(jobs, ops).map(_._1)
    val windows = ops.map(o => (o.start, o.end))
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    Layers.All.foreach { layer =>
      val js = inOps.filter(_.layer == layer)
      val busyMs = Stats.unionLength(Stats.clip(js.map(j => (j.start, math.max(j.end, j.start))), windows))
      out(s"$layer.jobs") = (js.size.toDouble, "count")
      out(s"$layer.busy_s") = (busyMs / 1000.0, "s")
      out(s"$layer.tasks") = (js.map(_.tasks).sum.toDouble, "count")
      out(s"$layer.shuffle_bytes") = (js.map(_.shuffleBytes).sum.toDouble, "bytes")
      out(s"$layer.spill_bytes") = (js.map(_.spillBytes).sum.toDouble, "bytes")
      out(s"$layer.output_bytes") = (js.map(_.outputBytes).sum.toDouble, "bytes")
      out(s"$layer.task_failures") = (js.map(_.taskFailures).sum.toDouble, "count")
    }
    val opMs = ops.map(o => o.end - o.start).sum
    val jobMs = Stats.unionLength(Stats.clip(inOps.map(j => (j.start, math.max(j.end, j.start))), windows))
    out("driver_gap_s") = ((opMs - jobMs) / 1000.0, "s")
    out
  }

  /** Spans as JSON lines: every op, then every job as its child. */
  def spanLines(jobs: Seq[JobRec], ops: Seq[OpSpan]): Seq[String] =
    ops.map(o => Main.Json.writeValueAsString(Map("kind" -> "op", "op_id" -> o.id,
      "name" -> o.name, "layer" -> o.layer, "start_ms" -> o.start, "end_ms" -> o.end))) ++
      jobsInOps(jobs, ops).map { case (j, opId) =>
        Main.Json.writeValueAsString(Map("kind" -> "job", "op_id" -> opId, "job_id" -> j.id,
          "layer" -> j.layer, "frame" -> j.frame, "start_ms" -> j.start, "end_ms" -> j.end,
          "tasks" -> j.tasks, "task_failures" -> j.taskFailures,
          "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
          "output_bytes" -> j.outputBytes))
      }
}
