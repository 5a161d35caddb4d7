package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ReferenceWorkloads
import scala.io.Source
import scala.util.Try

/** The reference's four benchmark workloads over fixture CSVs shaped like
  * its own (`src/test/resources/reference/`, written by the seeded
  * `tools/gen_reference_fixtures.py`), checked against an independent
  * plain-Scala oracle (the analog of the reference's batch verifier
  * `misc/operator_lichess.go`). Also reports output-tuples/sec for
  * comparison against BASELINE.md (reference: 87-145 t/s; its own Spark
  * Streaming comparison: 145-445 t/s).
  */
class ReferenceWorkloadsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fixture(name: String) = getClass.getResource(s"/reference/$name").getPath
  private val lichessPath = fixture("lichess.txt")
  private val parkingPath = fixture("parking_meters.txt")

  private def lines(p: String): Seq[Array[String]] = {
    // Parking fixture has non-UTF-8 bytes; all predicate/projection fields are
    // ASCII, so a lenient single-byte charset keeps the oracle comparable.
    val src = Source.fromFile(p, "ISO-8859-1")
    try src.getLines().map(_.split(",", -1)).toList
    finally src.close()
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  test("L-simple matches plain-Scala oracle") {
    val oracle = lines(lichessPath).filter(f => f.length > 6 && f(6) == "white" && f(5) == "mate").map(_(0))
    val (got, secs) = timed(
      ReferenceWorkloads.lichessSimple(ReferenceWorkloads.loadNaiveCsv(spark, lichessPath))
        .collect().map(_.getString(0))
    )
    assert(got.sorted.toSeq == oracle.sorted)
    info(f"L-simple: ${got.length} tuples in $secs%.2f s = ${got.length / secs}%.0f t/s (reference: ~145 t/s)")
  }

  test("L-complex matches plain-Scala oracle") {
    val openings = Set("Scandinavian Defense", "Sicilian Defense", "Indian Game",
      "Caro-Kann Defense", "Italian Game")
    val oracle = lines(lichessPath)
      .filter(f => f.length > 14 && f(6) == "white" &&
        Try(f(4).toDouble).toOption.exists(_ > 40) &&
        Set("mate", "resign", "outoftime")(f(5)) && openings(f(14)))
      .groupBy(f => f(14).split(" ").take(2).mkString("_"))
      .view.mapValues(_.size.toLong).toMap
    val (got, secs) = timed(
      ReferenceWorkloads.lichessComplex(ReferenceWorkloads.loadNaiveCsv(spark, lichessPath))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    )
    assert(got == oracle)
    info(f"L-complex: ${oracle.values.sum} tuples in $secs%.2f s (reference: ~65 t/s output rate)")
  }

  test("P-simple matches plain-Scala oracle") {
    val oracle = lines(parkingPath).filter(f => f.length > 13 && f(12) == "No" && f(13) == "1000").map(_(2))
    val got = ReferenceWorkloads.parkingSimple(ReferenceWorkloads.loadNaiveCsv(spark, parkingPath))
      .collect().map(_.getString(0))
    assert(got.sorted.toSeq == oracle.sorted)
  }

  private val trafficPath = fixture("traffic_signs.txt")

  /** Minimal RFC4180 parser for the in-test oracle (quote-aware, "" escape). */
  private def parseCsvLine(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb  = new StringBuilder
    var inQ = false; var i = 0
    while (i < line.length) {
      val ch = line(i)
      if (inQ) {
        if (ch == '"' && i + 1 < line.length && line(i + 1) == '"') { sb += '"'; i += 1 }
        else if (ch == '"') inQ = false
        else sb += ch
      } else ch match {
        case '"' => inQ = true
        case ',' => out += sb.toString; sb.clear()
        case c2  => sb += c2
      }
      i += 1
    }
    out += sb.toString
    out.toArray
  }

  test("Traffic demo apps (quoted CSV) match RFC4180 oracle") {
    val rows = {
      val src = Source.fromFile(trafficPath, "ISO-8859-1")
      try src.getLines().map(parseCsvLine).toList finally src.close()
    }
    val signs = ReferenceWorkloads.loadQuotedCsv(spark, trafficPath)

    val o1 = rows.filter(f => f.length > 8 && f(8).contains("Warning")).map(f => (f(2), f(3))).sorted
    val g1 = ReferenceWorkloads.trafficFilterContains(signs, "Warning")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(g1 == o1)

    val o2 = rows.filter(f => f.length > 8 && f(6) == "Punched Telespar").map(_(8)).sorted
    val g2 = ReferenceWorkloads.trafficPostTypeCategory(signs, "Punched Telespar")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(g2 == o2)

    assert(ReferenceWorkloads.trafficProject(signs).count() == rows.length)
  }

  test("P-complex matches plain-Scala oracle") {
    val oracle = lines(parkingPath)
      .filter(f => f.length > 8 && Try(f(5).toDouble).toOption.exists(_ <= 0.5))
      .groupBy(_(8)).view.mapValues(_.size.toLong).toMap
    val got = ReferenceWorkloads.parkingComplex(ReferenceWorkloads.loadNaiveCsv(spark, parkingPath))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == oracle)
  }
}
