package perfbench

import scala.collection.mutable

import org.apache.spark.{ListenerBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Spark-layer work counters, summed over every job, stage and task that
  * finished while the tracer was attached. `minus` turns two snapshots into
  * the work of whatever ran between them.
  */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    jobMs: Double = 0, taskMs: Double = 0, taskCpuMs: Double = 0, gcMs: Double = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    outputBytes: Long = 0) {

  def minus(o: Work): Work = Work(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    jobMs - o.jobMs, taskMs - o.taskMs, taskCpuMs - o.taskCpuMs, gcMs - o.gcMs,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, outputBytes - o.outputBytes)

  def plus(o: Work): Work = Work(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    jobMs + o.jobMs, taskMs + o.taskMs, taskCpuMs + o.taskCpuMs, gcMs + o.gcMs,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, outputBytes + o.outputBytes)
}

/** One timed call into a layer: its name, the family it belongs to, its wall
  * time and the Spark work it caused.
  */
final case class Span(name: String, family: String, wallMs: Double, work: Work)

/** The traced run's instruments: a SparkListener that sums job, stage and
  * task metrics, a StreamingQueryListener that keeps every progress report,
  * and an in-memory span list. Nothing is written until the run ends.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile private var acc = Work()
  private val jobStart = mutable.Map.empty[Int, Long]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer.empty

  private def add(w: Work): Unit = synchronized { acc = acc.plus(w) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = synchronized(jobStart.remove(e.jobId)).getOrElse(e.time)
    add(Work(jobs = 1, jobMs = (e.time - t0).toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(Work(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) add(Work(
      tasks = 1,
      taskMs = m.executorRunTime.toDouble,
      taskCpuMs = m.executorCpuTime / 1e6,
      gcMs = m.jvmGCTime.toDouble,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      outputBytes = m.outputMetrics.bytesWritten))
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e.progress)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Work so far, after every queued listener event has been delivered. */
  def snapshot(): Work = {
    ListenerBus.drain(sc)
    synchronized(acc)
  }

  /** Time `body` as one span of `family`, recording the Spark work it ran. */
  def span[T](name: String, family: String)(body: => T): T = {
    val w0 = snapshot()
    val t0 = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - t0) / 1e6
    spans += Span(name, family, ms, snapshot().minus(w0))
    out
  }
}

object Tracer {
  /** Attach a tracer to the session's Spark context and streaming manager. */
  def attach(spark: org.apache.spark.sql.SparkSession): Tracer = {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.streaming)
    t
  }

  def reattach(spark: org.apache.spark.sql.SparkSession, t: Tracer): Unit = {
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.streaming)
  }

  def detach(spark: org.apache.spark.sql.SparkSession, t: Tracer): Unit = {
    spark.sparkContext.removeSparkListener(t)
    spark.streams.removeListener(t.streaming)
  }
}

/** The per-layer metric set every workload reports from its traced ops:
  * averages per op of the Spark work each op caused, the op time that no
  * Spark job covers (construction, planning, commits), and how busy the
  * cores were.
  */
object Layers {
  def perOp(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val n    = math.max(1, spans.size).toDouble
    val w    = spans.map(_.work).foldLeft(Work())(_ plus _)
    val wall = spans.map(_.wallMs).sum
    Map(
      "trace.ops" -> spans.size.toDouble,
      "spark.non_job_ms_per_op" -> spans.map(s => math.max(0.0, s.wallMs - s.work.jobMs)).sum / n,
      "spark.jobs_per_op" -> w.jobs / n,
      "spark.stages_per_op" -> w.stages / n,
      "spark.tasks_per_op" -> w.tasks / n,
      "spark.job_ms_per_op" -> w.jobMs / n,
      "spark.task_ms_per_op" -> w.taskMs / n,
      "spark.task_cpu_ms_per_op" -> w.taskCpuMs / n,
      "spark.gc_ms_per_op" -> w.gcMs / n,
      "spark.shuffle_read_bytes_per_op" -> w.shuffleReadBytes / n,
      "spark.shuffle_write_bytes_per_op" -> w.shuffleWriteBytes / n,
      "spark.spill_bytes_per_op" -> w.spillBytes / n,
      "spark.output_bytes_per_op" -> w.outputBytes / n,
      "spark.busy_frac" -> (if (wall > 0) w.taskMs / (wall * cores) else 0.0))
  }

  /** The same figures for one family of spans, keyed `<prefix>.<metric>`. */
  def family(prefix: String, spans: Seq[Span], cores: Int): Map[String, Double] =
    if (spans.isEmpty) Map.empty
    else {
      val m = perOp(spans, cores)
      Map(
        s"$prefix.ms" -> spans.map(_.wallMs).sum / spans.size,
        s"$prefix.jobs" -> m("spark.jobs_per_op"),
        s"$prefix.task_cpu_ms" -> m("spark.task_cpu_ms_per_op"),
        s"$prefix.gc_ms" -> m("spark.gc_ms_per_op"),
        s"$prefix.shuffle_read_bytes" -> m("spark.shuffle_read_bytes_per_op"),
        s"$prefix.shuffle_write_bytes" -> m("spark.shuffle_write_bytes_per_op"),
        s"$prefix.spill_bytes" -> m("spark.spill_bytes_per_op"),
        s"$prefix.busy_frac" -> m("spark.busy_frac"))
    }
}
