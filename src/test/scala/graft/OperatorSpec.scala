package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin
import graft.functions.{DedupOps, TextAnalysis, TextHash, RollingHash, VectorOps}
import graft.sources.Storage
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.Files

class OperatorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.Row

  test("asof join matches naive join+max oracle") {
    val events = Tables.events(spark, TestSpark.sf0001)
    val orders = Tables.orders(spark, TestSpark.sf0001)
    val got = AsOfJoin
      .lookback(events, col("user_id"), col("ts"), orders, col("o_custkey"), col("o_orderdate"),
        col("o_orderdate"), "asof_orderdate")
      .select(col("event_id"), col("asof_orderdate"))
    val naive = events.as("e")
      .join(orders.as("o"), col("e.user_id") === col("o.o_custkey") && col("o.o_orderdate") <= col("e.ts"), "left")
      .groupBy(col("e.event_id"))
      .agg(max(col("o.o_orderdate")).as("asof_orderdate"))
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("asof join: mixed-width numeric keys widen; null keys/times never match") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val left = Seq(
      (Some(1), "2020-01-10"), // int key
      (Some(2), "2020-01-10"), // key with only null-time right rows
      (None: Option[Int], "2020-01-10") // null key
    ).toDF("k", "t").withColumn("t", col("t").cast("timestamp"))
    val right = Seq(
      (Some(1L), Some("2020-01-05"), "early"),
      (Some(1L), Some("2020-01-08"), "late"),
      (Some(2L), None: Option[String], "null_time"),
      (None: Option[Long], Some("2020-01-01"), "null_key")
    ).toDF("rk", "rt", "v").withColumn("rt", col("rt").cast("timestamp"))
    val out = AsOfJoin
      .lookback(left, col("k"), col("t"), right, col("rk"), col("rt"), col("v"), "asof_v")
      .collect().map(r => (if (r.isNullAt(0)) -1 else r.getInt(0)) -> Option(r.getString(2)).orNull).toMap
    assert(out == Map(1 -> "late", 2 -> null, -1 -> null))
    // long-left / int-right widens too (reverse direction)
    val l2 = Seq((4294967297L, "2020-01-10")).toDF("k", "t").withColumn("t", col("t").cast("timestamp"))
    val r2 = Seq((1, "2020-01-01", "x")).toDF("rk", "rt", "v").withColumn("rt", col("rt").cast("timestamp"))
    val o2 = AsOfJoin.lookback(l2, col("k"), col("t"), r2, col("rk"), col("rt"), col("v"), "asof_v").collect()
    assert(o2.length == 1 && o2(0).isNullAt(2), "key 2^32+1 must NOT wrap to match int key 1")
    // incompatible types rejected up front
    val ls = Seq(("a", "2020-01-10")).toDF("k", "t").withColumn("t", col("t").cast("timestamp"))
    intercept[IllegalArgumentException](
      AsOfJoin.lookback(ls, col("k"), col("t"), r2, col("rk"), col("rt"), col("v"), "asof_v")
    )
  }

  test("rolling hash: expression output equals direct computation") {
    val s = "hello graft"
    val expected = TextHash.hash(UTF8String.fromString(s))
    val got = spark.range(1)
      .select(RollingHash.rolling_hash(lit(s)).as("h"))
      .collect()(0).getLong(0)
    assert(got == expected)
    // prefix-composability: rolling property
    var h = 0L
    for (b <- s.getBytes("UTF-8")) h = h * 1000003L + (b & 0xff)
    assert(expected == h)
  }

  test("simhash is deterministic and identical for identical text") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "the quick brown fox", "totally different words here").toDF("text")
    val hs = df.select(TextAnalysis.simHash64(col("text"))).collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
  }

  test("c4_line_clean applies every C4 rule, counts kept/dropped, stays map-side") {
    import spark.implicits._
    val page = Seq(
      "A good long sentence that survives cleaning.",   // kept
      "Ends with a bang!",                              // kept (terminal !)
      "no terminal punctuation here",                   // dropped: no punct
      "Too short.",                                     // dropped: < 3 words
      "This page has Lorem Ipsum filler text inside.",  // dropped: lorem ipsum (case-insensitive)
      "Please enable JavaScript to view this page.",    // dropped: javascript
      "function f() { return 1; } is code.",            // dropped: brace
      "He said \"this is quoted\"",                     // kept (terminal quote)
      "Is this kept? Yes it ends well?"                 // kept (terminal ?)
    ).mkString("\n")
    val df  = Seq(page).toDF("t")
      .select(graft.functions.NativeFns.c4_line_clean(col("t")).as("c"))
      .select(col("c.clean"), col("c.n_kept"), col("c.n_dropped"))
    val r = df.head()
    assert(r.getInt(1) == 4 && r.getInt(2) == 5, r.toString)
    assert(r.getString(0) == Seq(
      "A good long sentence that survives cleaning.",
      "Ends with a bang!",
      "He said \"this is quoted\"",
      "Is this kept? Yes it ends well?").mkString("\n"))
    // empty document: one empty line, dropped; clean is "" not null
    val e = Seq("").toDF("t").select(graft.functions.NativeFns.c4_line_clean(col("t")).as("c")).head()
    assert(e.getStruct(0).getString(0) == "" && e.getStruct(0).getInt(2) == 1)
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "line cleaning must be a pure projection")
  }

  test("dedupSpans: first span occurrence wins, bridges survive, whole-doc dup empties") {
    import spark.implicits._
    import graft.functions.DedupOps
    val a = "alpha line one x.\nbeta line two y.\ngamma line three z."
    val docs = Seq(
      (1L, a),                                        // first occurrence — keeps all 3
      (2L, "prefix line p.\nprefix line q.\n" + a),   // loses a's 3 lines, keeps its 2
      (3L, "totally unrelated r.\nanother unique s."),// < 3 lines — no spans, untouched
      (4L, a)                                         // whole-doc duplicate — emptied
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupSpans(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((a, 3L, 0L)))
    assert(got(2L) == (("prefix line p.\nprefix line q.", 2L, 3L)),
      "bridge spans are unique so the prefix lines must survive")
    assert(got(3L) == (("totally unrelated r.\nanother unique s.", 2L, 0L)))
    assert(got(4L) == (("", 0L, 3L)))
  }

  test("dedupSpansAgainstCorpus: corpus-seen spans removed, fresh spans kept, verify beats fpp") {
    import spark.implicits._
    import graft.functions.DedupOps
    val shared = "shared boiler one x.\nshared boiler two y.\nshared boiler three z."
    val corpus = Seq((100L, "corpus filler line a.\n" + shared)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "fresh opening line p.\nfresh second line q.\n" + shared), // loses shared 3
      (2L, "all original here r.\nnothing shared here s.\nthird unique line t."), // untouched
      (3L, shared)                                                   // emptied
    ).toDF("doc_id", "text")
    // fpp = 0.5 floods the probe with false positives; exact verify must
    // still leave fresh spans untouched.
    val got = DedupOps.dedupSpansAgainstCorpus(corpus, batch, "doc_id", "text", fpp = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("fresh opening line p.\nfresh second line q.", 2L, 3L)))
    assert(got(2L)._2 == 3L && got(2L)._3 == 0L, s"fresh doc must be untouched: ${got(2L)}")
    assert(got(3L) == (("", 0L, 3L)))
  }

  test("dedupTokenSpans: duplicated token runs lose all but first occurrence") {
    import spark.implicits._
    import graft.functions.DedupOps
    // A 4-token boilerplate run duplicated across docs at spanTokens=3: a
    // run of length 4 is covered by its 2 windows in every later occurrence.
    val boiler = "subscribe to newsletter now"
    val docs = Seq(
      (1L, "alpha beta gamma " + boiler),        // first occurrence — keeps all
      (2L, "delta epsilon " + boiler + " zeta"), // loses the 4 boiler tokens only
      (3L, "one two"),                           // < 3 tokens — no windows, untouched
      (4L, boiler)                               // nothing but the duplicated run — emptied
    ).toDF("doc_id", "text")
    val got = DedupOps.dedupTokenSpans(docs, "doc_id", "text", spanTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("alpha beta gamma " + boiler, 7L, 0L)))
    assert(got(2L) == (("delta epsilon zeta", 3L, 4L)),
      "only the duplicated run's tokens go; unique neighbors survive")
    assert(got(3L) == (("one two", 2L, 0L)))
    assert(got(4L) == (("", 0L, 4L)))
  }

  test("dedupTokenSpansAgainstCorpus: corpus-seen runs removed, fresh kept, verify beats fpp") {
    import spark.implicits._
    import graft.functions.DedupOps
    val shared = "shared boiler one two"
    val corpus = Seq((100L, "corpus filler words here " + shared)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "fresh opening words " + shared),        // loses the 4 shared tokens
      (2L, "all original content nothing shared"),  // untouched
      (3L, shared)                                  // emptied
    ).toDF("doc_id", "text")
    val got = DedupOps
      .dedupTokenSpansAgainstCorpus(corpus, batch, "doc_id", "text", spanTokens = 3, fpp = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("fresh opening words", 3L, 4L)))
    assert(got(2L) == (("all original content nothing shared", 5L, 0L)),
      "fpp=0.5 floods the probe; exact verify must keep fresh text whole")
    assert(got(3L) == (("", 0L, 4L)))
  }

  test("minhashNearDupsAgainstCorpus: planted cross near-dup found, within-side pairs absent") {
    import spark.implicits._
    import graft.functions.DedupOps
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (100L, base + " alpha"),
      (101L, "totally different corpus text with nothing shared at all here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, base + " beta"),   // near-dup of corpus 100
      (2L, base + " gamma"),  // ALSO near-dup of corpus 100 (and of batch 1 — must NOT pair)
      (3L, "unrelated batch text entirely its own words throughout")
    ).toDF("doc_id", "text")
    val got = DedupOps
      .minhashNearDupsAgainstCorpus(corpus, batch, "doc_id", "text",
        shingleN = 3, k = 64, bands = 16, threshold = 0.7)
      .select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L), (2L, 100L)),
      s"cross pairs only — batch-batch and corpus-corpus must not appear: $got")
  }

  test("dedup_lines: within-doc repeats drop, first occurrences keep order, map-side") {
    import spark.implicits._
    val df = Seq("a.\nb.\na.\nc.\nb.", "x.\nx.\nx.", "solo line").toDF("t")
      .select(graft.functions.NativeFns.dedup_lines(col("t")).as("r"))
    val got = df.collect().map(r => (r.getStruct(0).getString(0), r.getStruct(0).getLong(1), r.getStruct(0).getLong(2)))
    assert(got(0) == (("a.\nb.\nc.", 3L, 2L)))
    assert(got(1) == (("x.", 1L, 2L)))
    assert(got(2) == (("solo line", 1L, 0L)))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "within-doc line dedup must be a pure projection")
  }

  test("token_span_hashes is positional: index = starting token, equal windows collide") {
    import spark.implicits._
    val r = Seq("a b c d a b c").toDF("t")
      .select(graft.functions.NativeFns.token_span_hashes(col("t"), 3).as("h"))
      .head().getSeq[Long](0)
    assert(r.length == 5) // 7 tokens -> 5 windows
    assert(r(0) == r(4), "window (a,b,c) at tokens 0 and 4 must hash equal")
    assert(r.distinct.length == 4, "the other four windows are distinct")
    val e = Seq("only two").toDF("t")
      .select(graft.functions.NativeFns.token_span_hashes(col("t"), 3).as("h"))
      .head().getSeq[Long](0)
    assert(e.isEmpty, "fewer tokens than the window width -> no windows")
  }

  test("line_span_hashes is positional: index = starting line, equal spans collide") {
    import spark.implicits._
    val r = Seq("a.\nb.\nc.\nd.\na.\nb.\nc.").toDF("t")
      .select(graft.functions.NativeFns.line_span_hashes(col("t"), 3).as("h"))
      .head().getSeq[Long](0)
    assert(r.length == 5) // 7 lines -> 5 spans
    assert(r(0) == r(4), "span (a,b,c) at lines 0 and 4 must hash equal")
    assert(r.distinct.length == 4, "the other four spans are distinct")
    // fewer lines than the span width -> no spans
    val e = Seq("only.\ntwo.").toDF("t")
      .select(graft.functions.NativeFns.line_span_hashes(col("t"), 3).as("h"))
      .head().getSeq[Long](0)
    assert(e.isEmpty)
  }

  test("langId picks english for english stopwords") {
    import spark.implicits._
    val out = Seq("the cat sat on a mat of dust", "xyzzy plugh").toDF("text")
      .select(TextAnalysis.langId(col("text"))).collect().map(_.getString(0))
    assert(out(0) == "en")
    assert(out(1) == "und")
  }

  test("langId kernel matches the declarative argmax on every document (semantic pin)") {
    import spark.implicits._
    // The kernel replaced a when()-fold for performance; this pins that its
    // semantics (DISTINCT-token hits, argmax, list-precedence ties, 'und' on
    // zero) still equal the declarative form it replaced.
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text").limit(200)
    val declared = docs.select(
      col("doc_id"), {
        val scores = TextAnalysis.langStopwords.map { case (lang, words) =>
          lang -> size(array_intersect(array_distinct(TextAnalysis.tokens(col("text"))), lit(words.toArray)))
        }
        val best = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
          case ((bl, bs), (lang, sc)) =>
            (when(sc > bs, lit(lang)).otherwise(bl), when(sc > bs, sc).otherwise(bs))
        }
        when(best._2 === 0, lit("und")).otherwise(best._1).as("lang")
      })
    val kernel = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
    val d = declared.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val k = kernel.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == k)
  }

  test("deflate_ratio separates repetitive from high-entropy text and matches java.util.zip") {
    import spark.implicits._
    val rep  = "spam " * 200
    val rng  = new scala.util.Random(13)
    val rand = Array.fill(1000)((33 + rng.nextInt(90)).toChar).mkString
    val got = Seq((1L, rep), (2L, rand), (3L, "")).toDF("id", "text")
      .select(col("id"), graft.functions.NativeFns.deflate_ratio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) < 0.1, s"repetitive text must compress hard, got ${got(1L)}")
    assert(got(2L) > 0.5, s"high-entropy text must not, got ${got(2L)}")
    assert(got(3L) == 1.0)
    def ref(s: String): Double = {
      val raw = s.getBytes("UTF-8")
      val d   = new java.util.zip.Deflater(6, false)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](8192); var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end(); n.toDouble / raw.length
    }
    assert(got(1L) == ref(rep) && got(2L) == ref(rand))
  }

  test("cosine of identical vectors is 1") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val c = df.select(VectorOps.cosine(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("minhash near-dups finds planted duplicate") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val docs = Seq(
      (1L, base),
      (2L, base + " omicron"), // near-dup of 1
      (3L, "completely different content with other words entirely unrelated stuff")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("id_pairs kernel emits every i<j pair") {
    import spark.implicits._
    import graft.functions.NativeFns
    val out = Seq(Seq(1L, 2L, 3L)).toDF("ids")
      .select(explode(NativeFns.id_pairs(col("ids"))).as("p"))
      .select("p.id_a", "p.id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val empty = Seq(Seq(9L)).toDF("ids")
      .select(NativeFns.id_pairs(col("ids")).as("p")).collect()(0).getSeq[Any](0)
    assert(empty.isEmpty)
  }

  test("heavy-hitters Aggregator: every true heavy hitter is found, counts within n/k") {
    import spark.implicits._
    import graft.functions.HeavyHitters
    // 10k tokens: 'hot' 40%, 'warm' 25%, long tail of uniques.
    val n     = 10000
    val words = (0 until n).map(i =>
      if (i % 5 < 2) "hot" else if (i % 4 == 0) "warm" else s"tail$i")
    val ds  = spark.createDataset(words).repartition(8)
    val agg = HeavyHitters.sketch(k = 10).toColumn
    val out = ds.select(agg).collect()(0).toMap
    val trueCounts = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // MG guarantee: freq > n/k  ⇒ present; reported count in [true - n/k, true].
    for ((w, c) <- trueCounts if c > n / 10) {
      assert(out.contains(w), s"heavy hitter $w (count $c) missing from $out")
      assert(out(w) <= c && out(w) >= c - n / 10, s"$w reported ${out(w)}, true $c")
    }
  }

  test("exact jaccard math") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(DedupOps.jaccard(col("x"), col("y"))).collect()(0).getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("approx distinct sketch is within rsd of exact") {
    val r = graft.queries.Extensions.approxDistinct.run(spark, TestSpark.sf0001).collect()(0)
    assert(r.getAs[Long]("exact_parts") > 0L)
    assert(r.getAs[Long]("within_3rsd") === 1L,
      "HLL++ estimate strayed past 3x rsd of the exact distinct count")
  }

  test("multiappend: concurrent writers compose, then merge + quantify (HyDFS verbs)") {
    import spark.implicits._
    val path = Files.createTempDirectory("hydfs").toString + "/m"
    Storage.create(Seq(0).toDF("v"), path)
    // 4 concurrent writers, 2 rows each — the reference's multiappend
    // launches appends from several VMs in parallel (core_process_hydfs.go:656-701).
    val writers = (1 to 4).map(i => Seq(i * 10, i * 10 + 1).toDF("v"))
    Storage.multiAppend(writers, path)
    assert(Storage.get(spark, path).count() == 9)
    Storage.merge(spark, path, numFiles = 1)
    assert(Storage.quantify(spark, path) == 9)
    val members = Storage.listMembers(path)
    assert(members.count(_._1.endsWith(".parquet")) == 1, s"merged to one data file: $members")
    assert(members.forall(_._2 > 0))
    val part = members.map(_._1).find(_.endsWith(".parquet")).get
    assert(Storage.getFromReplica(spark, path, part).count() == 9)
  }

  test("source formats: jsonl and csv round-trip the documents table losslessly") {
    // The engine must ingest the formats a corpus actually arrives in —
    // JSON-lines and CSV — not just parquet. Round-trip through each format
    // and compare against the parquet original (explicit schema on read: at
    // 100 TB schema inference is a full extra pass and is never the plan).
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text", "lang")
    val base = Files.createTempDirectory("fmt").toString

    docs.write.mode("overwrite").json(s"$base/jsonl")
    val fromJson = spark.read.schema(docs.schema).json(s"$base/jsonl")
    assert(fromJson.count() == docs.count())
    assert(fromJson.exceptAll(docs).isEmpty && docs.exceptAll(fromJson).isEmpty)

    // CSV needs quoting/escaping to survive commas and quotes in text.
    docs.write.mode("overwrite")
      .option("header", "true").option("quote", "\"").option("escape", "\"")
      .csv(s"$base/csv")
    val fromCsv = spark.read.schema(docs.schema)
      .option("header", "true").option("quote", "\"").option("escape", "\"")
      .csv(s"$base/csv")
    assert(fromCsv.count() == docs.count())
    assert(fromCsv.exceptAll(docs).isEmpty && docs.exceptAll(fromCsv).isEmpty)

    docs.write.mode("overwrite").orc(s"$base/orc")
    val fromOrc = spark.read.schema(docs.schema).orc(s"$base/orc")
    assert(fromOrc.count() == docs.count())
    assert(fromOrc.exceptAll(docs).isEmpty && docs.exceptAll(fromOrc).isEmpty)
  }

  test("from_json PERMISSIVE path: malformed documents null the struct and are counted, not fatal") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("{\"k\": 7}", "{broken", "", "{\"k\": null}", "{\"other\": 1}")
      .toDF("props")
      .select(from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).as("p"))
      .select(col("p").getField("k").as("k"), col("p").isNull.cast("int").as("bad"))
    val rows = df.agg(sum(col("bad")).as("n_bad"), sum(col("k")).as("sum_k"), count(lit(1)).as("n")).collect()(0)
    assert(rows.getLong(2) == 5)
    assert(rows.getLong(1) == 7)          // only the well-formed k contributes
    assert(rows.getLong(0) >= 1,          // the malformed docs surface in the counter
      "parse failures must be countable, not silently absorbed")
  }

  test("storage facade verbs: create/append/get/merge/quantify/ls") {
    import spark.implicits._
    val path = Files.createTempDirectory("hydfs").toString + "/t"
    val df1 = Seq(1, 2, 3).toDF("v")
    Storage.create(df1, path)
    intercept[Exception](Storage.create(df1, path)) // create-once
    Storage.append(Seq(3, 4).toDF("v"), path)
    assert(Storage.get(spark, path).count() == 5)
    assert(Storage.quantify(spark, path) == 4) // distinct records
    Storage.merge(spark, path, numFiles = 1)
    assert(Storage.get(spark, path).count() == 5)
    assert(Storage.ls(path).count(_.endsWith(".parquet")) == 1)
  }

  test("commit record: a stray temp sibling is never read as committed, commit leaves no temp") {
    val path = Files.createTempDirectory("record").toString
    // a crash after writing the temp sibling but before the rename
    Files.write(java.nio.file.Paths.get(path, "manifest.__commit_tmp"), "n=1\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException](Storage.committed(path, "index"))
    Storage.commit(path, Map("n" -> 2L, "k" -> 7L))
    assert(Storage.committed(path, "index") == Map("n" -> 2L, "k" -> 7L))
    assert(Storage.ls(path) == Seq("manifest"), "commit must leave only the record")
    Storage.invalidate(path)
    val e = intercept[IllegalArgumentException](Storage.committed(path, "index"))
    assert(e.getMessage.contains("no commit manifest"))
    assert(Storage.ls(path).isEmpty)
  }

  test("x_mmr_diversify: picks are more spread than the plain top-k it re-ranks") {
    import org.apache.spark.sql.functions._
    def qvec(c: org.apache.spark.sql.Column) =
      transform(c, x => floor(x.cast("double") * lit(1e6)))
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), qvec(col("embedding")).as("qv"))
    val q = e.filter(col("vec_id") === 0).select(col("qv").as("qqv"))
    val byDist = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), col("qv"),
        graft.functions.NativeFns.l2_dist2(col("qv"), col("qqv")).as("dq"))
      .orderBy("dq", "vec_id").limit(12).collect()
    def minPairD2(ids: Set[Long]): Long = {
      val vs = byDist.filter(r => ids(r.getLong(0))).map(_.getSeq[Long](1).toArray)
      (for (i <- vs.indices; j <- i + 1 until vs.length) yield
        vs(i).zip(vs(j)).map { case (a, b) => (a - b) * (a - b) }.sum).min
    }
    val plainTop4 = byDist.take(4).map(_.getLong(0)).toSet
    val mmr = graft.queries.Indexing.mmrDiversify.run(spark, TestSpark.sf0001)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(mmr.size == 4)
    assert(minPairD2(mmr) >= minPairD2(plainTop4),
      s"MMR must not be LESS diverse than the relevance-only top-4: " +
        s"mmr=${minPairD2(mmr)} plain=${minPairD2(plainTop4)}")
    // The most relevant candidate is always selected first.
    assert(mmr.contains(byDist.head.getLong(0)))
  }
}
