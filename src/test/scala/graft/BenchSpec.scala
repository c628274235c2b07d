package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout record: its reader keeps only the last ~2000
  * chars, so the line must fit that and stay valid JSON whatever the
  * run produced. */
class BenchSpec extends AnyFunSuite {
  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def record(rows: Seq[(String, Double)], errors: Int,
                     contended: Seq[String] = Nil): Bench.Record =
    Bench.Record(
      wall = 123.456,
      results = rows.map { case (n, v) => (n, v, None) } ++
        (1 to errors).map(i => (s"failing_query_$i", 0.0,
          // quotes, a tab and a newline: all must come out escaped
          Some(("boom \"x\"\t\n" * 30).take(300)))),
      transients = Map("flaky_query" -> "y" * 300),
      contended = contended,
      attempts = contended.map(_ -> (1.0, 4.0)).toMap,
      rerun = Map.empty,
      gcSec = Map.empty,
      envJson = """{"loadavg_start":"1.00,1.00,1.00","gc_total_sec":1.000}""",
      load1 = 1.0,
      only = None,
      sfDir = "testdata/sf0.1")

  private def stdout(r: Bench.Record): (String, Seq[String]) = {
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    (Bench.stdoutLine(r, logged += _), logged.toSeq)
  }

  test("40 rows plus 20 errors of 300 chars give a line of at most 2000 " +
    "chars that parses as JSON") {
    val rows = (1 to 40).map(i => (f"dedup_semantic_approx_query_$i%03d", 1.0 + i))
    val (line, _) = stdout(record(rows, errors = 20))
    assert(line.length <= Bench.StdoutMax, line.length)
    val j = json.readTree(line)
    assert(j.get("errors_n").asInt == 20)
    assert(j.get("transient_errors_n").asInt == 1)
    assert(j.get("queries").size + j.path("queries_dropped").asInt(0) == 40)
  }

  test("the 40-row floor holds when the rows fit; error texts stay in the " +
    "full record") {
    val rows = (1 to 60).map(i => (f"q$i%02d_pricing", 0.5 + i))
    val r = record(rows, errors = 20)
    val (line, logged) = stdout(r)
    val j = json.readTree(line)
    assert(j.get("queries").size >= Bench.StdoutFloor, line)
    assert(logged.isEmpty, logged)
    // slowest first: the slowest row is always kept
    assert(j.get("queries").has("q60_pricing"))
    val full = json.readTree(Bench.fullLine(r))
    assert(full.get("queries").size == 60)
    assert(full.get("errors").size == 20)
    assert(full.get("errors").get("failing_query_1").asText.startsWith("boom \"x\"\t\n"))
  }

  test("rows that overflow the cap are dropped and logged; an envelope " +
    "that alone overflows degrades to the headline") {
    val longRows = (1 to 40).map(i => ("r" * 60 + i, i.toDouble))
    val (line, logged) = stdout(record(longRows, errors = 0))
    assert(line.length <= Bench.StdoutMax)
    assert(json.readTree(line).get("queries").size < 40)
    assert(logged.exists(_.contains("dropped")), logged)

    val contended = (1 to 200).map(i => s"contended_query_$i")
    val (bare, logged2) = stdout(record(longRows, errors = 0, contended))
    assert(bare.length <= Bench.StdoutMax)
    val j = json.readTree(bare)
    assert(j.get("queries_total").asInt == 40 && j.has("value_seq"), bare)
    assert(logged2.exists(_.contains("headline")), logged2)
  }
}
