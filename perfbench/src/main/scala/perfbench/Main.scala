package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload hands back: raw samples and checks. The launcher
  * (`run.py`) turns them into the metrics line.
  *
  *  - `metrics`: finished values, keyed by metric name.
  *  - `samples`: per-op wall times in ms, keyed by op name, in run order.
  *  - `detail`: workload-specific named figures, printed beside the metrics.
  *  - `checks`: correctness gates; any false fails the run.
  */
final case class Result(
    metrics: Map[String, Double] = Map.empty,
    samples: Map[String, Seq[Double]] = Map.empty,
    detail: Map[String, Any] = Map.empty,
    checks: Map[String, Boolean] = Map.empty)

/** Runs ops, counts attempts and failures, and times each op. An op that
  * throws is recorded by name with its message and yields no sample.
  */
final class Runner {
  var tracer: Option[Tracer] = None
  var attempted = 0

  /** Attach the tracer: ops from here on are traced spans. */
  def startTrace(spark: SparkSession): Tracer = {
    val t = Tracer.attach(spark)
    tracer = Some(t)
    t
  }

  /** Run `body` with the tracer detached, then attach it again. */
  def untraced[T](spark: SparkSession)(body: => T): T = {
    val t = tracer
    t.foreach(Tracer.detach(spark, _))
    tracer = None
    try body finally t.foreach { x => Tracer.reattach(spark, x); tracer = Some(x) }
  }
  val failures: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  /** Thread-safe while no tracer is attached. */
  def op[T](name: String, family: String)(body: => T): Option[(T, Double)] = {
    val n = synchronized { attempted += 1; attempted }
    try {
      val t0  = System.nanoTime()
      val out = tracer.fold(body)(_.span(name, family)(body))
      val ms  = tracer.fold((System.nanoTime() - t0) / 1e6)(_.spans.last.wallMs)
      Console.err.println(f"[perfbench] op $name: $ms%.0f ms")
      Some((out, ms))
    } catch {
      case NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" ")
        synchronized { failures(s"$name#$n") = msg }
        Console.err.println(s"[perfbench] op $name failed: $msg")
        None
    }
  }
}

/** Per-op wall times in ms, keyed by op name. */
final class Samples extends mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]

final case class Ctx(
    spark: SparkSession, seed: Long, seconds: Double, trace: Boolean, work: Path,
    tables: String, cores: Int)

object Main {
  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$key" => v }

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    status.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload").getOrElse(sys.error("--workload is required"))
    val work     = Paths.get(arg(args, "work").getOrElse(sys.error("--work is required"))).toAbsolutePath
    val cores    = sys.env.getOrElse("SPARK_GRAFT_CPUS", "1").toInt
    Files.createDirectories(work)
    // The shipped session (GraftExtensions, AQE, graft defaults), with every
    // piece of state it writes kept under this run's private directory.
    val spark = graft.GraftSession.builder("perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark,
      seed = arg(args, "seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0),
      trace = arg(args, "trace").contains("1"),
      work = work,
      tables = arg(args, "tables").getOrElse(""),
      cores = cores)
    val sessionReadyEpochMs = System.currentTimeMillis()
    val runner = new Runner
    val result = workload match {
      case "batch_serve"      => ClosedLoop.run(ctx, runner)
      case "stream_rainstorm" => Stream.run(ctx, runner)
      case other              => sys.error(s"unknown workload $other")
    }
    runner.tracer.foreach(Tracer.detach(spark, _))
    val out = Map(
      "session_ready_epoch_ms" -> sessionReadyEpochMs,
      "attempted" -> runner.attempted,
      "failures" -> runner.failures.toMap,
      "peak_rss_mb" -> peakRssMb(),
      "metrics" -> result.metrics,
      "samples" -> result.samples,
      "detail" -> result.detail,
      "checks" -> result.checks)
    Files.write(work.resolve("result.json"), Json(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal JSON rendering for maps, sequences, strings, numbers, booleans. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null                    => "null"
    case s: String               => str(s)
    case b: Boolean              => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double               => java.lang.Double.toString(d)
    case n: Int                  => n.toString
    case n: Long                 => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]          => s.map(apply).mkString("[", ",", "]")
    case other                   => str(other.toString)
  }
}

/** Order statistics over samples. */
object Stats {
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo  = math.floor(pos).toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
