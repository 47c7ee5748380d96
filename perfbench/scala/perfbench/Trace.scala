package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Bench-side tracing: spans recorded around each call into an engine
  * layer, plus a SparkListener (jobs, stages, task metrics) and a
  * QueryExecutionListener (Catalyst phase times, optimized-plan size).
  * Everything stays in memory and is written out once, when the run ends.
  * Times are seconds since the tracer was created, on one clock: listener
  * events carry wall-clock milliseconds, which are mapped onto it. */
final class Tracer(spark: SparkSession) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - originNs) / 1e9
  private def fromMs(ms: Long): Double = (ms - originMs) / 1e3

  final case class Span(id: Int, name: String, parent: Int, start: Double, var end: Double)
  final case class Job(id: Int, start: Double, var end: Double, stages: Int, tasks: Int,
      var run: Double = 0, var cpu: Double = 0, var gc: Double = 0,
      var shuffleRead: Long = 0, var shuffleWrite: Long = 0, var spill: Long = 0,
      var input: Long = 0, var output: Long = 0, var stagesDone: Int = 0, var tasksDone: Int = 0)
  final case class Plan(func: String, start: Double, planS: Double, nodes: Int)

  private val spans = ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var active = false
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stageJob = scala.collection.mutable.HashMap[Int, Int]()
  private val plans = ArrayBuffer[Plan]()

  /** Times `body` as a span under the innermost open span; free when off. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), now, Double.NaN)
      spans += s
      open = s :: open
      try body
      finally { s.end = now; open = open.tail }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      e.stageIds.foreach(stageJob(_) = e.jobId)
      jobs(e.jobId) = Job(e.jobId, fromMs(e.time), Double.NaN, e.stageInfos.size,
        e.stageInfos.map(_.numTasks).sum)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = fromMs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(j => j.stagesDone += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageJob.get(e.stageId).flatMap(jobs.get).foreach(j => j.tasksDone += 1)
      if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.run += m.executorRunTime / 1e3
        j.cpu += m.executorCpuTime / 1e9
        j.gc += m.jvmGCTime / 1e3
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe)
    private def record(func: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      val start = phases.values.map(_.startTimeMs).minOption.map(fromMs).getOrElse(now)
      val nodes = try Tracer.nodes(qe.optimizedPlan) catch { case _: Throwable => 0 }
      Tracer.this.synchronized { plans += Plan(func, start, planMs / 1e3, nodes) }
    }
  }

  /** Attach the listeners; spans are recorded only while on. */
  def on(): Unit = if (!active) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    active = true
  }

  /** Detach after every event posted so far has been delivered. */
  def off(): Unit = if (active) {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    active = false
  }

  def toJson: Harness.Obj = synchronized {
    Harness.obj(
      "spans" -> spans.map(s => Harness.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start" -> s.start, "end" -> s.end)).toSeq,
      "jobs" -> jobs.values.map(j => Harness.obj(
        "id" -> j.id, "start" -> j.start, "end" -> j.end, "stages" -> j.stages,
        "stages_done" -> j.stagesDone, "tasks" -> j.tasks, "tasks_done" -> j.tasksDone, "run_s" -> j.run, "cpu_s" -> j.cpu,
        "gc_s" -> j.gc, "shuffle_read_b" -> j.shuffleRead, "shuffle_write_b" -> j.shuffleWrite,
        "spill_b" -> j.spill, "input_b" -> j.input, "output_b" -> j.output)).toSeq,
      "plans" -> plans.map(p => Harness.obj(
        "func" -> p.func, "start" -> p.start, "plan_s" -> p.planS, "nodes" -> p.nodes)).toSeq)
  }
}

object Tracer {
  /** Node count of a logical plan, subqueries included. */
  def nodes(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    plan.collectWithSubqueries { case p => p }.size
}
