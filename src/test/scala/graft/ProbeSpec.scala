package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Each [[Probe]] mode run once at sf0.001: every JSON line it prints
  * parses, and carries the mode's numbers. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Everything a mode emits, and its JSON lines parsed. */
  private def run(mode: (String => Unit) => Unit): (Seq[String], Seq[JsonNode]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    mode(out += _)
    (out.toSeq, out.toSeq.filter(_.startsWith("{")).map(json.readTree))
  }

  private def kind(rows: Seq[JsonNode], probe: String): Seq[JsonNode] =
    rows.filter(_.path("probe").asText == probe)

  test("jobs: seconds and listener counters per query; an unknown query " +
    "records its error and the run goes on") {
    val (_, rows) = run(Probe.jobs(spark, sf,
      Seq("no_such_query", "q1_pricing_summary"), runs = 1, detail = false, _))
    val Seq(bad, q1) = kind(rows, "jobs")
    assert(bad.get("error").asText.contains("unknown query"), bad)
    assert(!q1.has("error"), q1)
    assert(q1.get("jobs").asLong > 0L, q1)
    assert(q1.get("stages").asLong > 0L && q1.get("tasks").asLong > 0L, q1)
    assert(q1.get("sec").asDouble > 0.0, q1)
    val Seq(summary) = kind(rows, "jobs_summary")
    assert(summary.get("sec").has("q1_pricing_summary"), summary)
    assert(summary.get("errors").has("no_such_query"), summary)
  }

  test("plan: the printed plan is AQE's final plan, initial plan included") {
    val (out, rows) = run(Probe.plan(spark, sf, Seq("q1_pricing_summary"), _))
    val Seq(r) = kind(rows, "plan")
    assert(r.get("final").asBoolean, r)
    val text = out.mkString("\n")
    assert(text.contains("isFinalPlan=true"), text)
    assert(text.contains("Initial Plan"), text)
  }

  test("stream: every progress line carries the registered row's name") {
    val (_, rows) = run(Probe.stream(spark, sf, Seq("st_windowed_counts"),
      tickMs = 10, _))
    val Seq(r) = kind(rows, "stream")
    assert(!r.has("error"), r)
    val progress = kind(rows, "stream_progress")
    assert(progress.nonEmpty)
    assert(r.get("n_progress").asInt == progress.size, r)
    assert(progress.forall(_.get("name").asText == "st_windowed_counts"))
    // the query the row ran in its session clone, and the progress itself
    assert(progress.forall(_.get("query").asText == "st_wc_out"))
    assert(progress.forall(_.get("progress").has("batchId")))
    assert(kind(rows, "stream_replay").isEmpty) // no replay chain
  }

  test("stream: a row with a replay chain also replays the corpus") {
    val (_, rows) = run(Probe.stream(spark, sf, Seq("st_neardup"),
      tickMs = 10, _))
    val Seq(r) = kind(rows, "stream_replay")
    assert(!r.has("error"), r)
    val docs = Tables.table(spark, sf, "documents").count()
    assert(r.get("rows").asLong == docs, r)
    assert(r.get("micro_batches").asInt >= 1, r)
    assert(r.get("max_state_rows").asLong > 0L, r)
  }

  test("kernels: median seconds for every kernel at the smallest " +
    "replication") {
    val (_, rows) = run(Probe.kernels(spark, sf, Nil, repl = 1, _))
    val Seq(r) = kind(rows, "kernels")
    assert(r.get("repl").asInt == 1, r)
    assert(r.get("sec").size == 13, r)
    assert(r.get("sec").has("extract_links") && r.get("sec").has("rev_diff"), r)
  }
}
