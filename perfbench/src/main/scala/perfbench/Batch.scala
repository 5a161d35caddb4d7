package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.queries.Registry

/** Registry queries run by one client into the noop sink.
  *
  * The set spans the query families: the RainStorm operator parity queries
  * (f*, u*), grep (g*), the headline joins and windows (h*), the as-of joins
  * (h7*), and x_theil_sen, the one compute-bound query. h33_bucketed_join is
  * left out because it writes a bucketed table to a fixed path outside the
  * run's directory.
  *
  * The gate pass is untimed. It writes every result to parquet for the
  * DuckDB oracle compare that the launcher runs after the JVM exits, and
  * warms the session. The seed rotates the query order.
  */
final class Queries(ctx: Ctx, r: Runner, samples: Samples) {
  import Queries._
  private val spark = ctx.spark
  private val order = {
    val byName = Registry.all.map(q => q.name -> q).toMap
    val qs  = QuerySet.map(byName)
    val rot = java.lang.Math.floorMod(ctx.seed, qs.size.toLong).toInt
    qs.drop(rot) ++ qs.take(rot)
  }
  private var gated = order
  /** Per traced query run: construction, planning and execution ms. */
  private val split = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val jobs  = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]

  def gatePass(): Unit = {
    val dir = ctx.work.resolve("results")
    gated = order.filter { q =>
      r.op(q.name, "gate") {
        q.run(spark, ctx.tables).coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve(q.name).toString)
      }.isDefined
    }
    Files.write(dir.resolve("oracle_sql.json"), Json(
      gated.flatMap(q => q.oracle.map(q.name -> _)).toMap).getBytes(StandardCharsets.UTF_8))
  }

  /** One timed pass. Traced passes split each query into construction
    * (inside Q.run), planning (forcing the executed plan) and execution
    * (the noop write), and record its job count.
    */
  def pass(): Unit = gated.foreach { q =>
    val traced = r.tracer
    r.op(q.name, family(q.name)) {
      val t0 = System.nanoTime()
      val df = q.run(spark, ctx.tables)
      val t1 = System.nanoTime()
      if (traced.isDefined) df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      if (traced.isDefined)
        split += (((t1 - t0) / 1e6, (t2 - t1) / 1e6, (System.nanoTime() - t2) / 1e6))
    }.foreach { case (_, ms) =>
      samples.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += ms
      traced.foreach(t => jobs.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += t.spans.last.work.jobs)
    }
  }

  /** Traced figures: the per-family split and the job counts per query. */
  def traceDetail(spans: Seq[Span]): Map[String, Any] = {
    val querySpans = spans.filter(s => jobs.contains(s.name))
    querySpans.groupBy(_.family).flatMap { case (f, s) => Layers.family(f, s, ctx.cores) } ++ Map(
      "queries.construct_ms" -> split.map(_._1).sum / math.max(1, split.size),
      "spark.plan_ms" -> split.map(_._2).sum / math.max(1, split.size),
      "spark.exec_ms" -> split.map(_._3).sum / math.max(1, split.size),
      "counts.jobs_per_query" -> jobs.map { case (k, v) => k -> v.mkString("/") },
      "counts.repeat_mismatches" -> jobs.count { case (_, v) => v.distinct.size > 1 })
  }
}

object Queries {
  val QuerySet: Seq[String] = Seq(
    "f4_dedup_exactly_once", "u2_wordcount", "g1_grep_per_file", "g5_grep_word_count",
    "h1_pricing_summary", "h2_join_topk_revenue", "h7_asof_join", "x_theil_sen")

  /** The layer a query mostly exercises, for the traced per-family figures. */
  def family(name: String): String =
    if (name.startsWith("g")) "operators.grep"
    else if (name.startsWith("f") || name.startsWith("u")) "operators.rainstorm"
    else if (name.startsWith("h7")) "plans.asof"
    else if (name == "x_theil_sen") "functions.theil_sen"
    else "queries.headline"
}

/** `batch_serve`: one client, closed loop. It runs the registry queries
  * (`Queries`) and the serving lifecycle (`Lifecycle`) in one session. Untimed
  * warm-up: the query gate pass and the serving warm-ups, side by side on
  * their own threads so that a run stays within its time budget. Timed, on
  * this thread alone: the three index builds, then cycles of one query pass
  * and one lifecycle round.
  * The cycle count is fixed from the time budget, so the rounds, and with
  * them the reference the serving gate compares against, are known up front.
  */
object ClosedLoop {
  val CycleSeconds = 20.0

  def run(ctx: Ctx, r: Runner): Result = {
    val cycles  = math.max(1, math.round(ctx.seconds / CycleSeconds).toInt)
    val samples = new Samples
    val queries = new Queries(ctx, r, samples)
    val serve   = new Lifecycle(ctx, r, samples, cycles)
    val phases  = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(s"phase.${name}_s") = (System.nanoTime() - t0) / 1e9
    }
    val genS = (0 until 3).map(_ => serve.writeInputs())
    phase("warmup") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val lanes = (Seq(() => queries.gatePass()) ++ serve.warmUps)
          .map(lane => Future(lane()))
        lanes.foreach(Await.result(_, Duration.Inf))
      } finally pool.shutdown()
    }
    val metrics = mutable.LinkedHashMap[String, Double]("setup_gen_s" -> Stats.median(genS))
    val detail  = mutable.LinkedHashMap[String, Any]("setup.gen_s" -> genS)
    if (ctx.trace) {
      // Untraced and traced query passes in the order u, t, u, so that
      // neither side gains from warming; the ratio of their summed
      // per-query medians is the tracing overhead. Then trace all.
      def passSum(): Double = {
        samples.clear()
        queries.pass()
        samples.values.map(v => Stats.median(v.toSeq)).sum
      }
      r.startTrace(ctx.spark)
      val (u, t) = phase("overhead_passes") {
        val u1 = r.untraced(ctx.spark)(passSum())
        val t1 = passSum()
        val u2 = r.untraced(ctx.spark)(passSum())
        ((u1 + u2) / 2, t1)
      }
      metrics("trace.overhead_frac") = t / u - 1.0
      samples.clear()
      r.tracer.foreach(_.spans.clear())
    }
    phase("serve_build")(serve.build())
    phase("cycles")((0 until cycles).foreach { _ => queries.pass(); serve.round() })
    r.tracer.foreach { t =>
      val spans = t.spans.toSeq
      metrics ++= Layers.perOp(spans, ctx.cores)
      detail ++= queries.traceDetail(spans) ++ serve.traceDetail(spans)
    }
    val fresh = phase("serve_gate")(serve.gate())
    Result(metrics = metrics.toMap, samples = samples.map { case (k, v) => k -> v.toSeq }.toMap,
      detail = (detail ++ phases).toMap, checks = Map("fresh_build_equal" -> fresh))
  }
}
