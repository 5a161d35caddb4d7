package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.operators.RainStormOps
import graft.sources.CommitLog
import graft.streaming.RainStorm

/** Seeded Lichess-shaped game records: the CSV layout of the Lichess games
  * export (id, rated, created_at, last_move_at, turns, victory_status,
  * winner, increment_code, white_id, white_rating, black_id, black_rating,
  * moves, opening_eco, opening_name, opening_ply). Player ids are Zipf over
  * `Players` keys. One opening name in eight is quoted and holds a comma, so
  * a naive comma split shifts its last field, as on the real export.
  */
final class GameGen(seed: Long) {
  private val Players = 200000
  private val ZipfS   = 1.05
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Players)(k => 1.0 / math.pow(k + 1.0, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private val Victory  = Array("mate", "resign", "outoftime", "draw")
  private val Winner   = Array("white", "black", "draw")
  private val Clock    = Array("10+0", "15+15", "5+8", "20+0", "3+2")
  private val Moves    = Array("e4 e5 Nf3 Nc6", "d4 d5 c4", "e4 c5 Nf3 d6", "c4 e5", "Nf3 d5 g3")
  private val Openings = Array("Queen's Pawn Game", "\"Sicilian Defense, Najdorf Variation\"",
    "Italian Game", "English Opening", "Caro-Kann Defense", "French Defense",
    "Scandinavian Defense", "Ruy Lopez")

  private def player(r: java.util.SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    "p" + (if (i >= 0) i else math.min(-i - 1, Players - 1))
  }

  /** Record `i`, a pure function of (seed, i). */
  def line(i: Long): String = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    val created = 1504210000000L + i * 37
    val sb = new java.lang.StringBuilder(128)
    sb.append('g').append(java.lang.Long.toString(i, 36)).append(',')
      .append(if (r.nextInt(4) == 0) "FALSE" else "TRUE").append(',')
      .append(created).append(',').append(created + r.nextInt(900000)).append(',')
      .append(1 + r.nextInt(200)).append(',')
      .append(Victory(r.nextInt(Victory.length))).append(',')
      .append(Winner(r.nextInt(Winner.length))).append(',')
      .append(Clock(r.nextInt(Clock.length))).append(',')
      .append(player(r)).append(',').append(800 + r.nextInt(1900)).append(',')
      .append(player(r)).append(',').append(800 + r.nextInt(1900)).append(',')
      .append(Moves(r.nextInt(Moves.length))).append(',')
      .append(('A' + r.nextInt(5)).toChar).append(r.nextInt(100)).append(',')
      .append(Openings(r.nextInt(Openings.length))).append(',')
      .append(1 + r.nextInt(12))
      .toString
  }

  /** Append records [from, until) to the topic's partition files; record i
    * goes to partition i mod `parts`, so each file holds its records in order.
    */
  def append(topic: Path, parts: Int, from: Long, until: Long): Unit = {
    val byPart = Array.fill(parts)(mutable.ArrayBuffer.empty[String])
    var i = from
    while (i < until) { byPart((i % parts).toInt) += line(i); i += 1 }
    byPart.zipWithIndex.foreach { case (ls, p) =>
      if (ls.nonEmpty) CommitLog.append(topic.resolve(f"p$p%02d.log").toString, ls.toSeq)
    }
  }
}

/** `stream_rainstorm`: the paper's three-stage dataflow over a 4-partition
  * CommitLogTopic. Stage 1 parses with a naive comma split and keeps games
  * of at least four opening plies (`filteredTransform`), stage 2 keeps a
  * running count per white player in update mode, and the sink is
  * `RainStorm.idempotentParquetSink`.
  *
  *  - Catch-up: drain a pre-written backlog of `Backlog` records under a
  *    fixed maxLinesPerTrigger, on a fresh query. `WarmDrains` identical
  *    backlogs are drained first, untimed, so that JIT compilation and code
  *    generation have settled: all but the last side by side, the last
  *    alone. The rate is measured on the next one.
  *  - Open loop: one generator thread appends at `OpenRate` records/s on a
  *    ProcessingTime(0) trigger for 30% of the run's seconds, after `OpenWarmS`
  *    seconds of warm-up. Latency is a record's due time to the sink commit
  *    of the micro-batch that holds its offset.
  *  - Exactly once: the sink's `quantify` must equal a batch count of the
  *    same pipeline over the whole written log.
  */
object Stream {
  val Parts        = 4
  val MaxLines     = 50000L
  val Backlog      = 200000L
  val WarmDrains   = 3
  val OpenRate     = 10000.0
  val OpenWarmS    = 1.0
  val SingleCoreBacklog = 150000L

  private def stage1: RainStormOps.Op =
    RainStormOps.filteredTransform(element_at(col("f"), 16).try_cast("int") >= 4)(
      element_at(col("f"), 9).as("word"))

  private def stage2: RainStormOps.Op = RainStormOps.countByKey(col("word"))

  def pipeline(lines: DataFrame): DataFrame =
    stage2(stage1(lines.select(split(col("value"), ",").as("f"))))

  /** One running query: per-batch sink commit times, and the per-partition
    * end offsets each batch planned (read back from the offset WAL).
    */
  final class Running(spark: SparkSession, topic: Path, ckpt: Path, sink: Path,
                      trigger: Trigger, onCommit: Long => Unit) {
    val commits = TrieMap.empty[Long, Long]
    private val write = RainStorm.idempotentParquetSink(sink.toString)
    val query: StreamingQuery =
      pipeline(graft.sources.CommitLogTopic.readStream(spark, topic.toString, Some(MaxLines)))
        .writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt.toString)
        .trigger(trigger)
        .foreachBatch { (b: DataFrame, id: Long) =>
          write(b, id)
          commits(id) = System.nanoTime()
          onCommit(id)
        }
        .start()

    def endOffsets(id: Long): Map[String, Long] = {
      val lines = Files.readAllLines(ckpt.resolve("offsets").resolve(id.toString),
        StandardCharsets.UTF_8).asScala
      "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(lines.last)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }
  }

  private def total(offs: Map[String, Long]): Long = offs.values.sum

  /** Records committed per second over the backlog past `warm`: the
    * records of the median micro-batch over its commit-to-commit interval,
    * so one batch stalled by a GC pause does not swing the rate.
    */
  private def catchUpRps(run: Running, warm: Long): Double = {
    val ends  = run.commits.keys.toSeq.sorted.map(id => id -> total(run.endOffsets(id)))
    val timed = ends.dropWhile(_._2 <= warm)
    val rates = ends.filter(_._2 <= warm).lastOption.toSeq.++(timed).sliding(2).collect {
      case Seq((a, ea), (b, eb)) => (eb - ea) / ((run.commits(b) - run.commits(a)) / 1e9)
    }.toSeq
    Stats.median(rates)
  }

  def run(ctx: Ctx, r: Runner): Result = {
    val spark = ctx.spark
    val gen   = new GameGen(ctx.seed)

    // Set-up: write the backlog into one fresh topic per drain; the median
    // write is the set-up's input-generation time.
    val topics = (0 to WarmDrains).map(k => ctx.work.resolve(s"topic$k"))
    val genS = topics.map { t =>
      Files.createDirectories(t)
      val t0 = System.nanoTime()
      gen.append(t, Parts, 0, Backlog)
      (System.nanoTime() - t0) / 1e9
    }
    val topic = topics.last
    val ckpt  = ctx.work.resolve("ckpt")
    val sink  = ctx.work.resolve("sink")
    val detail = mutable.LinkedHashMap.empty[String, Any]

    // Catch-up: the warm drains, all but the last side by side and the last
    // alone, since a drain right after a concurrent phase still ran slow;
    // then the timed one, whose query state goes on into the open loop.
    r.op("catchup_warmup", "streaming") {
      def start(k: Int) = new Running(spark, topics(k), ctx.work.resolve(s"ckpt$k"),
        ctx.work.resolve(s"sink$k"), Trigger.ProcessingTime(0), _ => ())
      def finish(run: Running): Unit = { run.query.processAllAvailable(); run.query.stop() }
      (0 until WarmDrains - 1).map(start).foreach(finish)
      finish(start(WarmDrains - 1))
    }
    val catchUp = r.op("catchup", "streaming") {
      val run = new Running(spark, topic, ckpt, sink, Trigger.ProcessingTime(0), _ => ())
      run.query.processAllAvailable()
      run.query.stop()
      catchUpRps(run, MaxLines)
    }.map(_._1).getOrElse(Double.NaN)
    detail("stream_catchup_rps") = catchUp

    val tracer = if (ctx.trace) Some(r.startTrace(spark)) else None
    val batchWork = TrieMap.empty[Long, Work]
    def onCommit(id: Long): Unit = r.tracer.foreach(t => batchWork(id) = t.snapshot())
    var written = Backlog
    // Traced runs drain three more backlogs, untraced, traced and untraced;
    // the rate ratio is the tracing overhead.
    def catchUpMore(traced: Boolean): Double = {
      gen.append(topic, Parts, written, written + Backlog)
      val base = written
      written += Backlog
      def drain(): Double = {
        val run = new Running(spark, topic, ckpt, sink, Trigger.ProcessingTime(0), onCommit)
        run.query.processAllAvailable()
        run.query.stop()
        catchUpRps(run, base + MaxLines)
      }
      r.op(if (traced) "catchup_traced" else "catchup_untraced", "streaming") {
        if (traced) drain() else r.untraced(spark)(drain())
      }.map(_._1).getOrElse(Double.NaN)
    }
    val overhead = if (!ctx.trace) Double.NaN else {
      val u1 = catchUpMore(traced = false)
      val t  = catchUpMore(traced = true)
      val u2 = catchUpMore(traced = false)
      detail("stream_catchup_rps_traced") = t
      (u1 + u2) / 2 / t - 1.0
    }

    // Open loop at a fixed rate.
    val openS   = ctx.seconds * 0.3
    val nOpen   = ((OpenWarmS + openS) * OpenRate).toLong
    val base    = written / Parts
    val lateMs  = mutable.ArrayBuffer.empty[Double]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    var batchMs  = Seq.empty[Double]
    val open = r.op("open_loop", "streaming") {
      val run = new Running(spark, topic, ckpt, sink, Trigger.ProcessingTime(0), onCommit)
      val ready = System.nanoTime()
      while (!run.query.status.message.startsWith("Waiting") && System.nanoTime() - ready < 10e9)
        Thread.sleep(5)
      val t0 = System.nanoTime()
      var sent = 0L
      while (sent < nOpen) {
        val due = math.min(nOpen, ((System.nanoTime() - t0) / 1e9 * OpenRate).toLong)
        if (due > sent) {
          val a0 = System.nanoTime()
          gen.append(topic, Parts, written + sent, written + due)
          val a1 = System.nanoTime()
          appendMs += (a1 - a0) / 1e6
          lateMs += (a1 - (t0 + sent * 1e9 / OpenRate)) / 1e6
          sent = due
        } else Thread.sleep(1)
      }
      run.query.processAllAvailable()
      run.query.stop()
      // Latency of every record due after the warm-up: the commit time of
      // the batch that planned its offset, minus its due time.
      val warmIdx = (OpenWarmS * OpenRate).toLong
      val ids = run.commits.keys.toSeq.sorted
      val lat = mutable.ArrayBuffer.empty[Double]
      val batchOf = mutable.ArrayBuffer.empty[Long]
      var prev: Map[String, Long] = Map.empty
      ids.foreach { id =>
        val end = run.endOffsets(id)
        end.toSeq.sorted.foreach { case (file, e) =>
          val p = file.stripPrefix("p").stripSuffix(".log").toInt
          var o = math.max(prev.getOrElse(file, base), base)
          while (o < e) {
            val i = (o - base) * Parts + p
            if (i >= warmIdx) {
              lat += (run.commits(id) - (t0 + i * 1e9 / OpenRate)) / 1e6
              batchOf += id
            }
            o += 1
          }
        }
        prev = end
      }
      require(lat.size == nOpen - warmIdx,
        s"open loop: ${lat.size} timed records committed, expected ${nOpen - warmIdx}")
      val p90 = Stats.pct(lat.toSeq, 0.9)
      val timedIds = batchOf.distinct
      batchMs = timedIds.zip(timedIds.drop(1)).map { case (a, b) => (run.commits(b) - run.commits(a)) / 1e6 }.toSeq
      detail("stream.batches") = ids.size
      detail("stream.batches_beyond_p90") =
        lat.indices.filter(k => lat(k) > p90).map(batchOf).distinct.size
      lat.toSeq
    }.map(_._1)
    written += nOpen
    detail("gen.late_ms") = Stats.median(lateMs.toSeq)
    detail("sources.append_ms") = Stats.median(appendMs.toSeq)
    detail("sources.backlog_records") = Backlog
    detail("setup.gen_s") = genS

    // Exactly once: the streamed counts equal a batch count of the same log.
    val exact = r.op("exactly_once_check", "check") {
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted
      val streamed = rows(RainStorm.quantify(spark, sink.toString))
      detail("sink.keys") = streamed.length
      streamed.sameElements(rows(pipeline(spark.read.text(s"$topic/*.log"))))
    }.exists(_._1)

    val lat = open.getOrElse(Seq.empty)
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_gen_s" -> Stats.median(genS),
      "throughput_per_s" -> catchUp,
      "latency_p50_ms" -> Stats.pct(lat, 0.5),
      "latency_p90_ms" -> Stats.pct(lat, 0.9),
      "op_geomean_ms" -> Stats.geomean(batchMs))
    detail("stream_latency_p50_ms") = metrics("latency_p50_ms")
    detail("stream_latency_p90_ms") = metrics("latency_p90_ms")

    tracer.foreach { t =>
      Tracer.detach(spark, t)
      r.tracer = None
      val progress = t.progress.toSeq
      def dur(k: String) = Stats.median(progress.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
      Seq("latestOffset" -> "sources.latest_offset_ms", "getBatch" -> "sources.get_batch_ms",
        "queryPlanning" -> "streaming.query_planning_ms", "walCommit" -> "streaming.wal_commit_ms",
        "commitOffsets" -> "streaming.commit_offsets_ms", "addBatch" -> "streaming.add_batch_ms",
        "triggerExecution" -> "streaming.trigger_ms").foreach { case (k, n) => detail(n) = dur(k) }
      val state = progress.flatMap(_.stateOperators.headOption)
      detail("state.commit_ms") = Stats.median(state.map(_.commitTimeMs.toDouble))
      detail("state.update_ms") = Stats.median(state.map(_.allUpdatesTimeMs.toDouble))
      detail("state.rows_total") = state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      detail("state.memory_bytes") = state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
      detail("streaming.rows_in") = progress.map(_.numInputRows).sum
      detail("sink.rows_out") = state.map(_.numRowsUpdated).sum
      // Micro-batches are the ops: wall time from the progress report, work
      // from the tracer snapshots taken at consecutive sink commits.
      val ids = batchWork.keys.toSeq.sorted
      val spans = ids.zip(ids.drop(1)).flatMap { case (a, b) =>
        progress.find(_.batchId == b).map { p =>
          Span(s"batch$b", "streaming", p.durationMs.get("triggerExecution").toDouble,
            batchWork(b).minus(batchWork(a)))
        }
      }
      metrics ++= Layers.perOp(spans, ctx.cores)
      metrics("trace.overhead_frac") = overhead
      detail("stream.catchup_rps_1core") = singleCoreCatchUp(ctx, gen)
    }
    Result(metrics = metrics.toMap, detail = detail.toMap,
      checks = Map("exactly_once" -> exact))
  }

  /** The single-thread baseline: the same catch-up on a `local[1]` session. */
  private def singleCoreCatchUp(ctx: Ctx, gen: GameGen): Double = {
    val conf  = ctx.spark.sparkContext.getConf
    ctx.spark.stop()
    val spark = graft.GraftSession.builder("perfbench-1core")
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.warehouse.dir", conf.get("spark.sql.warehouse.dir"))
      .config("spark.local.dir", conf.get("spark.local.dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val topic = ctx.work.resolve("topic-1core")
    Files.createDirectories(topic)
    gen.append(topic, Parts, 0, SingleCoreBacklog)
    val run = new Running(spark, topic, ctx.work.resolve("ckpt-1core"), ctx.work.resolve("sink-1core"),
      Trigger.ProcessingTime(0), _ => ())
    run.query.processAllAvailable()
    run.query.stop()
    try catchUpRps(run, MaxLines) finally spark.stop()
  }
}
