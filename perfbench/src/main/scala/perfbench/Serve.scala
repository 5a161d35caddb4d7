package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{AnnIndex, KmvSketch, NativeFns, SketchStore, TextIndex}

/** Seeded serving inputs: a Zipf-worded document corpus, 64-d vectors drawn
  * around `Clusters` centres, and (segment, key) rows for the sketch store.
  * Every item is a pure function of (seed, id), so appends in later rounds
  * reproduce exactly.
  */
final class ServeGen(seed: Long) {
  val Vocab    = 4000
  val Dim      = 64
  val Clusters = 16
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(k => 1.0 / (k + 1.0))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private def rnd(kind: Long, id: Long) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + kind * 0x632BE59BD9B4E019L + id)

  def word(rank: Int): String = "w" + Integer.toString(rank, 36)

  private def zipfWord(r: java.util.SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    word(if (i >= 0) i else math.min(-i - 1, Vocab - 1))
  }

  def doc(id: Long): String = {
    val r = rnd(1, id)
    Seq.fill(20 + r.nextInt(60))(zipfWord(r)).mkString(" ")
  }

  private val centres: Array[Array[Float]] = Array.tabulate(Clusters) { c =>
    val r = rnd(2, c)
    Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat)
  }

  def vec(id: Long): Array[Float] = {
    val r = rnd(3, id)
    val c = centres(r.nextInt(Clusters))
    Array.tabulate(Dim)(j => c(j) + ((r.nextDouble() - 0.5) * 0.3).toFloat)
  }

  /** Keys of sketch segment `seg`: `n` Zipf-ish keys from a 50k space. */
  def segmentKeys(seg: Long, n: Int): Seq[Long] = {
    val r = rnd(4, seg)
    Seq.fill(n)((50000 * math.pow(r.nextDouble(), 2.0)).toLong)
  }

  /** A probe's terms: head, middle and tail words of the vocabulary. */
  def terms(round: Int): Seq[String] = {
    val r = rnd(5, round)
    Seq(word(r.nextInt(10)), word(50 + r.nextInt(400)), word(1000 + r.nextInt(2000)))
  }
}

/** The serving lifecycle: one client builds the three persisted serving
  * indexes (TextIndex, the IVF-PQ AnnIndex and SketchStore), then runs rounds
  * of append, probes, delete, live probes and compact. Each verb is one op,
  * sampled under its `<index>.<verb>` name. Untimed warm-ups first run the
  * builds and the first round on indexes of their own, so that no timed
  * verb is the first of its kind in the JVM.
  *
  * Gate: after the last compaction, the text and sketch probes must return
  * exactly what the same probes return on indexes freshly built from the
  * surviving inputs. IVF-PQ appends encode against the frozen codebooks, so
  * a fresh build (which retrains them) is not its reference; its probe after
  * compaction must instead equal its live probe before compaction.
  */
final class Lifecycle(ctx: Ctx, r: Runner, samples: Samples, rounds: Int) {
  import Lifecycle._
  private val spark = ctx.spark
  import spark.implicits._
  private val gen    = new ServeGen(ctx.seed)
  private val idx    = ctx.work.resolve("index")
  private val fresh  = ctx.work.resolve("fresh")
  private val input  = ctx.work.resolve("input")

  /** The three index paths under one root. */
  private final class Indexes(root: Path) {
    val text   = root.resolve("text").toString
    val ann    = root.resolve("ann").toString
    val sketch = root.resolve("sketch").toString
  }
  private val timed = new Indexes(idx)

  private def docsDf(ids: Seq[Long]): DataFrame = ids.map(i => (i, gen.doc(i))).toDF("doc_id", "text")
  private def vecsDf(ids: Seq[Long]): DataFrame = ids.map(i => (i, gen.vec(i))).toDF("vec_id", "embedding")
  private def segRows(segs: Seq[Long]): DataFrame =
    hashed(segs.flatMap(s => gen.segmentKeys(s, SegmentRows).map(k => (s, k))).toDF("seg", "key"))
  private def hashed(segKeys: DataFrame): DataFrame =
    segKeys.select(col("seg"), NativeFns.hash61(col("key"), KmvSketch.A, KmvSketch.B).as("hv"))
  private def buildAnn(vecs: DataFrame, path: String): Unit =
    AnnIndex.buildIvfPq(vecs, "vec_id", "embedding",
      dim = gen.Dim, nCells = 8, m = 4, ksub = 8, iters = 2, indexPath = path)

  /** What each round appends and deletes, fixed up front from the seed. */
  private val plans: IndexedSeq[Plan] = {
    val live = mutable.LinkedHashSet.empty[Long] ++= (0L until InitialDocs)
    (0 until rounds).map { k =>
      val rnd  = new java.util.SplittableRandom(ctx.seed * 31 + k)
      val docs = (InitialDocs + k * AppendDocs).toLong until (InitialDocs + (k + 1) * AppendDocs)
      val vecs = (InitialVecs + k * AppendVecs).toLong until (InitialVecs + (k + 1) * AppendVecs)
      live ++= docs
      val pool = live.toIndexedSeq
      val delDocs = Seq.fill(DeleteDocs)(pool(rnd.nextInt(pool.size))).distinct
      live --= delDocs
      Plan(docs, vecs,
        (InitialSegments + k * AppendSegments).toLong until (InitialSegments + (k + 1) * AppendSegments),
        delDocs, vecs.filter(_ => rnd.nextInt(2) == 0).take(DeleteVecs))
    }
  }
  private val allSegs = InitialSegments.toLong + rounds * AppendSegments

  private val storage = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  private var userBytes = 0L
  private val queries   = vecsDf((0 until 5).map(q => 1000000000L + q)).cache()
  private var done      = 0
  private var annLive   = Seq.empty[Row]

  /** One verb as an op. Verbs on the warm-up indexes are neither sampled
    * nor measured for storage. */
  private def verb[T](ix: Indexes, name: String, userInput: Long = 0L)(body: => T): Option[T] = {
    if (ix ne timed) return r.op(s"warmup.$name", "warmup")(body).map(_._1)
    val since = System.currentTimeMillis() - 1000
    val out = r.op(name, "functions." + name.takeWhile(_ != '.'))(body)
    out.foreach { case (_, ms) =>
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
      if (r.tracer.isDefined) {
        userBytes += userInput
        storage.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
          dirStats(idx.resolve(name.takeWhile(_ != '.')), since)._3
      }
    }
    out.map(_._1)
  }
  private def textBytes(ids: Seq[Long]): Long = ids.map(i => gen.doc(i).length.toLong).sum

  /** Write the initial inputs as JSON lines, which the builds read; returns
    * the write time in s. */
  def writeInputs(): Double = {
    val t0 = System.nanoTime()
    def write(name: String, lines: Seq[String]): Unit = {
      Files.createDirectories(input)
      Files.write(input.resolve(name), lines.asJava)
    }
    write("docs.json", (0L until InitialDocs).map(i => s"""{"doc_id":$i,"text":"${gen.doc(i)}"}"""))
    write("vecs.json", (0L until InitialVecs).map(i =>
      s"""{"vec_id":$i,"embedding":[${gen.vec(i).mkString(",")}]}"""))
    write("segs.json", (0L until InitialSegments).flatMap(s =>
      gen.segmentKeys(s, SegmentRows).map(k => s"""{"seg":$s,"key":$k}""")))
    (System.nanoTime() - t0) / 1e9
  }
  private def readInput(name: String, schema: String): DataFrame =
    spark.read.schema(schema).json(input.resolve(name).toString)

  /** Untimed: the text and sketch reference indexes the gate compares
    * against, built from the inputs that survive every planned round. */
  private def buildReference(): Unit = {
    val deleted = plans.flatMap(_.delDocs).toSet
    TextIndex.build(docsDf((0L until InitialDocs + rounds * AppendDocs).filterNot(deleted)),
      "doc_id", "text", s"$fresh/text")
    SketchStore.build(segRows(0L until allSegs), SketchK, s"$fresh/sketch")
  }

  /** Untimed warm-ups that touch disjoint indexes, so they may run side by
    * side: one per index, each building it under `warmup/` and running the
    * first planned round on it; the last also builds the reference indexes. */
  def warmUps: Seq[() => Unit] = {
    val ix = new Indexes(ctx.work.resolve("warmup"))
    Seq(() => { buildText(ix); textRound(ix, 0) },
      () => { buildAnnIndex(ix); annRound(ix, 0) },
      () => { buildSketch(ix); sketchRound(ix, 0); buildReference() })
  }

  def build(): Unit = { buildText(timed); buildAnnIndex(timed); buildSketch(timed) }

  private def buildText(ix: Indexes): Unit =
    verb(ix, "text.build", textBytes(0L until InitialDocs)) {
      TextIndex.build(readInput("docs.json", "doc_id BIGINT, text STRING"), "doc_id", "text", ix.text)
    }
  private def buildAnnIndex(ix: Indexes): Unit =
    verb(ix, "ann.build", InitialVecs.toLong * gen.Dim * 4) {
      buildAnn(readInput("vecs.json", "vec_id BIGINT, embedding ARRAY<FLOAT>"), ix.ann)
    }
  private def buildSketch(ix: Indexes): Unit =
    verb(ix, "sketch.build", InitialSegments.toLong * SegmentRows * 16) {
      SketchStore.build(hashed(readInput("segs.json", "seg BIGINT, key BIGINT")), SketchK, ix.sketch)
    }

  private def probeText(path: String, k: Int, live: Boolean): Seq[Row] =
    (if (live) TextIndex.probeBm25Live(spark, path, gen.terms(k), topK = 20)
     else TextIndex.probeBm25(spark, path, gen.terms(k), topK = 20)).collect().toSeq
  private def probeAnn(path: String): Seq[Row] =
    AnnIndex.probeIvfPq(spark, path, queries, "vec_id", "embedding", nProbe = 2, k = 10).collect().toSeq
  private def probeSketch(path: String, hi: Long): Seq[Row] =
    SketchStore.probeRange(spark, path, 0L, hi).collect().toSeq

  /** The next planned round on the timed indexes: per index, append,
    * probes, delete, live probes and compact, as far as the index has them. */
  def round(): Unit = {
    textRound(timed, done)
    annRound(timed, done)
    sketchRound(timed, done)
    done += 1
  }

  private def textRound(ix: Indexes, k: Int): Unit = {
    val p = plans(k)
    verb(ix, "text.append", textBytes(p.docs)) {
      TextIndex.append(docsDf(p.docs), "doc_id", "text", ix.text)
    }
    verb(ix, "text.probe")(probeText(ix.text, k, live = false))
    verb(ix, "text.delete") { TextIndex.deleteDocs(spark, ix.text, p.delDocs.toDF("doc_id")) }
    verb(ix, "text.probe_live")(probeText(ix.text, k, live = true))
    verb(ix, "text.compact") { TextIndex.compact(spark, ix.text) }
  }

  private def annRound(ix: Indexes, k: Int): Unit = {
    val p = plans(k)
    verb(ix, "ann.append", p.vecs.size.toLong * gen.Dim * 4) {
      AnnIndex.appendIvfPq(spark, ix.ann, vecsDf(p.vecs), "vec_id", "embedding")
    }
    verb(ix, "ann.probe")(probeAnn(ix.ann))
    verb(ix, "ann.delete") { AnnIndex.deleteVecs(spark, ix.ann, p.delVecs.toDF("vec_id")) }
    val live = verb(ix, "ann.probe_live")(probeAnn(ix.ann)).getOrElse(Nil)
    if (ix eq timed) annLive = live
    verb(ix, "ann.compact") { AnnIndex.compactIvfPq(spark, ix.ann) }
  }

  private def sketchRound(ix: Indexes, k: Int): Unit = {
    val p = plans(k)
    verb(ix, "sketch.append", p.segs.size.toLong * SegmentRows * 16) {
      SketchStore.appendSegments(segRows(p.segs), ix.sketch)
    }
    verb(ix, "sketch.probe")(probeSketch(ix.sketch, p.segs.last))
  }

  /** After every planned round: probes on the compacted indexes equal the
    * same probes on the reference indexes (text, sketch), and the IVF-PQ
    * probe equals the last live probe before compaction. */
  def gate(): Boolean = r.op("fresh_build_check", "check") {
    require(done == rounds, s"ran $done of $rounds planned rounds")
    val k = rounds - 1
    val bad = Seq(
      "text" -> (probeText(timed.text, k, live = false) -> probeText(s"$fresh/text", k, live = false)),
      "ann" -> (probeAnn(timed.ann) -> annLive),
      "sketch" -> (probeSketch(timed.sketch, allSegs) -> probeSketch(s"$fresh/sketch", allSegs))
    ).collect { case (name, (got, want)) if got.map(_.toString).sorted != want.map(_.toString).sorted => name }
    if (bad.nonEmpty) Console.err.println(s"[perfbench] fresh-build mismatch: ${bad.mkString(", ")}")
    bad.isEmpty
  }.exists(_._1)

  /** Traced figures: per-verb time and jobs, and the storage the verbs left. */
  def traceDetail(spans: Seq[Span]): Map[String, Any] = {
    val perVerb = spans.filter(_.name.contains('.')).groupBy(_.name).flatMap { case (name, s) =>
      val (index, v) = name.span(_ != '.')
      Map(s"functions.${index}_${v.drop(1)}_ms" -> Stats.median(s.map(_.wallMs)),
        s"spark.jobs_per_${index}_${v.drop(1)}" -> s.map(_.work.jobs).distinct.mkString("/"))
    }
    perVerb ++ Map(
      "storage.bytes_written_per_user_byte" ->
        storage.values.flatten.sum.toDouble / math.max(1L, userBytes),
      "storage.files" -> Seq("text", "ann", "sketch").map(i => dirStats(idx.resolve(i), 0L)._1).sum,
      "counts.bytes_written_per_verb" -> storage.map { case (k, v) => k -> v.mkString("/") })
  }
}

object Lifecycle {
  final case class Plan(docs: Seq[Long], vecs: Seq[Long], segs: Seq[Long],
                        delDocs: Seq[Long], delVecs: Seq[Long])

  val InitialDocs     = 2000
  val InitialVecs     = 2000
  val InitialSegments = 16
  val SegmentRows     = 1000
  val SketchK         = 256
  val AppendDocs      = 200
  val AppendVecs      = 200
  val AppendSegments  = 4
  val DeleteDocs      = 100
  val DeleteVecs      = 100

  /** (files, bytes, bytes in files modified since `since`) under `p`. */
  def dirStats(p: Path, since: Long): (Long, Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L, 0L)
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val written = files.filter(f => Files.getLastModifiedTime(f).toMillis >= since)
        .map(Files.size).sum
      (files.size.toLong, files.map(Files.size).sum, written)
    } finally s.close()
  }
}
