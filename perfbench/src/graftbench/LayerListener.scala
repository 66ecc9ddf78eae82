package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Task-metric totals of one layer. Times in ms, sizes in bytes. */
case class Counters(jobs: Long = 0, jobMs: Long = 0, tasks: Long = 0, runMs: Long = 0,
    gcMs: Long = 0, shuffleWrite: Long = 0, spill: Long = 0, input: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, jobMs + o.jobMs, tasks + o.tasks,
    runMs + o.runMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite, spill + o.spill,
    input + o.input)
  def -(o: Counters): Counters = Counters(jobs - o.jobs, jobMs - o.jobMs, tasks - o.tasks,
    runMs - o.runMs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite, spill - o.spill,
    input - o.input)
  def toMap: Map[String, Long] = Map("jobs" -> jobs, "job_ms" -> jobMs, "tasks" -> tasks,
    "executor_run_ms" -> runMs, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "input_bytes" -> input)
}

/** Attributes every job and stage to a program layer by the first
  * `graft.*` frame of its call site, and sums task metrics per layer.
  * Registered only in traced runs.
  */
class LayerListener extends SparkListener {
  private var stageLayer = Map.empty[Int, String]
  private var jobStart = Map.empty[Int, (String, Long)]
  private var totals = Map.empty[String, Counters]
  /** Call sites of jobs no layer claimed (a few, for the artifact). */
  var unattributed = Set.empty[String]

  private def add(layer: String, c: Counters): Unit =
    totals = totals.updated(layer, totals.getOrElse(layer, Counters()) + c)

  /** Layer of each SQL execution, from the call site that started it. */
  private var execLayer = Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execLayer += x.executionId -> LayerListener.layerOf(x.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the job's own call site is its result stage's, the last one
    // created; stages that adaptive execution submits from its own
    // threads have no program frames, so they take their SQL
    // execution's layer
    val own = e.stageInfos.sortBy(_.stageId).lastOption
      .map(s => LayerListener.layerOf(s.details)).getOrElse("other")
    val layer = if (own != "other") own else Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execLayer.get(id.toLong)).getOrElse(own)
    add(layer, Counters(jobs = 1))
    if (layer == "other" && unattributed.size < 20)
      unattributed += e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.details.split('\n').take(4).mkString(" | ")).getOrElse("(no stages)")
    jobStart += e.jobId -> (layer, e.time)
    e.stageIds.foreach(id => if (!stageLayer.contains(id)) stageLayer += id -> layer)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.get(e.jobId).foreach { case (layer, t0) =>
      add(layer, Counters(jobMs = e.time - t0))
      jobStart -= e.jobId
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) add(stageLayer.getOrElse(e.stageId, "other"), Counters(
      tasks = 1, runMs = m.executorRunTime, gcMs = m.jvmGCTime,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled,
      input = m.inputMetrics.bytesRead))
  }

  /** Per-layer totals so far, after all queued events are delivered. */
  def snapshot(sc: SparkContext): Map[String, Counters] = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(totals)
  }
}

object LayerListener {
  /** Layer of a long call site: the package (or, in `graft.pipeline`,
    * the object) of its first `graft.*` frame; "bench" when the
    * benchmark's own code calls Spark directly.
    */
  def layerOf(callSite: String): String =
    callSite.split('\n').map(_.trim).find(_.startsWith("graft")) match {
      case Some(f) if f.startsWith("graftbench.") => "bench"
      case Some(f) if !f.startsWith("graft.") => "other"
      case Some(f) if f.startsWith("graft.pipeline.Analyze") => "analyze"
      case Some(f) if f.startsWith("graft.pipeline.") => "pipeline"
      case Some(f) => f.split('.')(1) match {
        case "functions" => "operators"
        case pkg if pkg.headOption.exists(_.isLower) => pkg
        case _ => "other"
      }
      case None => "other"
    }

  def diff(a: Map[String, Counters], b: Map[String, Counters]): Map[String, Counters] =
    a.map { case (k, v) => k -> (v - b.getOrElse(k, Counters())) }

  def total(m: Map[String, Counters]): Counters = m.values.foldLeft(Counters())(_ + _)
}
