package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer: `name` is `<layer>.<function>`, `op` the
  * id of the batch, read or gate call it belongs to, times in epoch ms. */
final case class Span(id: Int, name: String, parent: Int, op: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Span recorder for the benchmark's single client thread. Spans stay in
  * memory and are written out when the run ends; with `on = false` a span
  * is a plain call. */
final class Tracer {
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds at nanosecond resolution, on the same clock as
    * Spark's listener event times. */
  def now: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var next = 1

  def span[A](name: String, op: String = null)(body: => A): A =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val opId = Option(op).orElse(stack.headOption.map(_._2)).getOrElse("")
      stack = (id, opId) :: stack
      val t0 = now
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, opId, t0, now)
      }
    }
}

final case class JobRec(id: Int, start: Long, end: Long)
final case class StageRec(done: Long, tasks: Int, runMs: Long, cpuNs: Long,
                          gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
                          spill: Long)

/** What Spark reports about the work a batch caused: jobs, stages and
  * their task metrics from the scheduler, SQL executions, and the
  * Catalyst phase times of every finished query execution. */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  private val jobStarts = mutable.Map.empty[Int, Long]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val sqlStarts = ArrayBuffer.empty[Long]
  /** (phase name, start ms, end ms) */
  val phases = ArrayBuffer.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += JobRec(e.jobId, s, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages += StageRec(i.completionTime.getOrElse(0L), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStarts += s.time }
    case _ =>
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (n, p) => phases += ((n, p.startTimeMs, p.endTimeMs)) }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfBenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Turns spans and listener records into the per-layer figures. */
object Derive {
  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Spark jobs as spans, each parented to the deepest benchmark span that
    * was open when it started (jobs run on the client thread, so that span
    * is the call that caused them). */
  def jobSpans(spans: Seq[Span], rec: SparkRecorder): Seq[Span] = {
    var id = spans.map(_.id).maxOption.getOrElse(0)
    rec.jobs.toSeq.sortBy(_.start).map { j =>
      val owner = spans.filter(s => s.start - 1 <= j.start && j.start <= s.end + 1)
        .minByOption(_.ms)
      id += 1
      Span(id, "spark.job", owner.map(_.id).getOrElse(0),
        owner.map(_.op).getOrElse(""), j.start.toDouble, j.end.toDouble)
    }
  }

  /** Self time of every span: its length minus what its children cover. */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      s.id -> (s.ms - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
        s.start, s.end))
    }.toMap
  }

  /** Spark-side figures for the work inside one unit span. */
  def sparkStats(u: Span, rec: SparkRecorder): Map[String, Double] = {
    def in(t: Double) = t >= u.start - 1 && t <= u.end + 1
    val js = rec.jobs.filter(j => in(j.start.toDouble))
    val ss = rec.stages.filter(s => in(s.done.toDouble))
    val ph = rec.phases.filter(p => in(p._2.toDouble))
    def phase(n: String) = ph.filter(_._1 == n).map(p => (p._3 - p._2).toDouble).sum
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.sql_executions" -> rec.sqlStarts.count(t => in(t.toDouble)).toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.analysis_ms" -> phase("analysis"),
      "spark.optimization_ms" -> phase("optimization"),
      "spark.planning_ms" -> phase("planning"),
      "spark.driver_gap_ms" ->
        (u.ms - covered(js.map(j => (j.start.toDouble, j.end.toDouble)).toSeq, u.start, u.end)),
      "spark.executor_run_ms" -> ss.map(_.runMs).sum.toDouble,
      "spark.executor_cpu_ms" -> ss.map(_.cpuNs).sum / 1e6,
      "spark.gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "spark.shuffle_read_mb" -> ss.map(_.shuffleRead).sum / mb,
      "spark.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / mb,
      "spark.spill_mb" -> ss.map(_.spill).sum / mb)
  }
}
