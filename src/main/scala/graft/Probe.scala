package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Dev probe: the per-query measurements that guide optimization work.
  * Neither Verify nor Bench runs it.
  *
  * `runMain graft.Probe <mode> <dir> [names…]` prints one JSON line per
  * row as the row finishes; a failed row records its error and the run
  * goes on.
  *  - `jobs`: best-of-N seconds plus jobs / stages / tasks / shuffle
  *    read+write / spill, then a summary line of all rows.
  *  - `plan`: executes each query, then prints its formatted AQE plan:
  *    the final plan (runtime join conversions, coalesced shuffle reads)
  *    with the initial plan below it.
  *  - `stream`: per registered `st_*` row, seconds plus every
  *    StreamingQueryProgress it produced, tagged with the row's name.
  *    Rows with a corpus-replay chain (st_neardup / st_substring /
  *    st_curate) also replay `<dir>`'s documents as a timestamped stream
  *    in 5000-doc micro-batches (doc i at T0 + i·tick ms, so a 1-minute
  *    watermark holds ~60000/tick docs whatever the corpus size) and
  *    report throughput and the max state rows any batch held.
  *  - `kernels`: median-of-3 seconds per native text/signature kernel
  *    over replicated documents wrapped in synthetic wiki markup.
  *
  * Knobs: SPARK_GRAFT_CPUS (local cores, default 4),
  * SPARK_GRAFT_PROBE_PARTS (shuffle partitions, default = cores),
  * SPARK_GRAFT_PROBE_RUNS (jobs: runs per row, default 2),
  * SPARK_GRAFT_JOBPROBE_DETAIL=1 (jobs: a `[stage] tasks name` line per
  * stage), SPARK_GRAFT_STREAM_TICK_MS (replay event-time spacing,
  * default 10), SPARK_GRAFT_KB_REPL (kernels: document copies,
  * default 16).
  */
object Probe {
  /** The heavy-tail rows of the sf0.1 → ×10 → ×100 scaling curve. */
  private val DefaultQueries = Seq(
    "dedup_exact", "dedup_minhash_cand", "dedup_simhash", "dedup_jaccard",
    "dedup_components", "dedup_embedding", "text_repetition", "search_bm25",
    "a4_term_stats", "a5_dict_scalable", "ann_brute_topk", "ann_ivf_topk",
    "ann_lsh_topk", "w4_asof_join", "w5_range_join", "s8_sampler_events",
    "sketch_kmv", "curate_docs")

  /** Registered streaming rows whose operator chain also has a corpus
    * replay. */
  private val ReplayQueries = Seq("st_neardup", "st_substring", "st_curate")

  private val ReplayBatch = 5000

  /** What the listener bus reported while it was attached. Streaming
    * progress reaches the bus from every session, so it also sees the
    * session clone the `st_*` rows run in. */
  private final class Listener extends SparkListener {
    val jobs, stages, tasks, shuffleRead, shuffleWrite, spill = new AtomicLong
    val stageLines = new ConcurrentLinkedQueue[String]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.incrementAndGet()
      tasks.addAndGet(s.numTasks)
      stageLines.add(s"${s.numTasks}\t${s.name.take(120)}")
      Option(s.taskMetrics).foreach { m =>
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => progress.add(p.progress)
      case _ =>
    }
  }

  /** Seconds `body` took, and a [[Listener]] that saw exactly its events
    * (the bus is drained before attaching and before reading). */
  private def measure(spark: SparkSession)(body: => Unit): (Double, Listener) = {
    val sc = spark.sparkContext
    val l = new Listener
    Bus.drain(sc)
    sc.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      body
      ((System.nanoTime() - t0) / 1e9, l)
    } finally {
      Bus.drain(sc)
      sc.removeSparkListener(l)
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  private def sec(v: Double): String = JsonUtil.num(v)

  private def mb(bytes: Long): String = JsonUtil.num(bytes / 1e6, 1)

  private def jstr(s: String): String = JsonUtil.jstr(s)

  /** Emits `{"probe":…,"name":…,<fields>}` with the fields `body`
    * returns, or with the error it threw; returns that error. */
  private def row(emit: String => Unit, probe: String, name: String)(
      body: => String): Option[String] = {
    val head = s"""{"probe":"$probe","name":${jstr(name)}"""
    try { emit(s"$head,${body}}"); None }
    catch {
      case NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        emit(s"""$head,"error":${jstr(msg)}}""")
        Some(msg)
    }
  }

  /** `jobs` mode; counters come from the fastest run (a process-shared
    * frame is built in the first run, later runs show the steady state). */
  def jobs(spark: SparkSession, dir: String, names: Seq[String], runs: Int,
           detail: Boolean, emit: String => Unit): Unit = {
    val secs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = names.flatMap { n =>
      row(emit, "jobs", n) {
        val fn = query(n)
        val attempts = (1 to runs).map(_ => measure(spark)(noop(fn(spark, dir))))
        val (t, l) = attempts.minBy(_._1)
        secs(n) = t
        if (detail) l.stageLines.forEach(s => emit(s"[stage] $s"))
        s""""sec":${sec(t)},"sec_other":${sec(attempts.map(_._1).max)},""" +
          s""""jobs":${l.jobs.get},"stages":${l.stages.get},"tasks":${l.tasks.get},""" +
          s""""shuf_read_mb":${mb(l.shuffleRead.get)},""" +
          s""""shuf_write_mb":${mb(l.shuffleWrite.get)},"spill_mb":${mb(l.spill.get)}"""
      }.map(n -> _)
    }
    val secJson = secs.map { case (k, v) => s"${jstr(k)}:${sec(v)}" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, e) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    emit(s"""{"probe":"jobs_summary","sec":$secJson,"errors":$errJson,"dir":${jstr(dir)}}""")
  }

  /** `plan` mode: collect() runs the frame's own QueryExecution, so its
    * adaptive plan is final when it is explained. */
  def plan(spark: SparkSession, dir: String, names: Seq[String],
           emit: String => Unit): Unit = names.foreach { n =>
    row(emit, "plan", n) {
      val df = query(n)(spark, dir)
      val t0 = System.nanoTime()
      df.collect()
      val t = (System.nanoTime() - t0) / 1e9
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      emit(s"=== $n ===")
      emit(text)
      s""""sec":${sec(t)},"final":${text.contains("isFinalPlan=true")}"""
    }
  }

  /** `stream` mode. */
  def stream(spark: SparkSession, dir: String, names: Seq[String], tickMs: Int,
             emit: String => Unit): Unit = names.foreach { n =>
    row(emit, "stream", n) {
      val fn = query(n)
      val (t, l) = measure(spark)(noop(fn(spark, dir)))
      val progress = l.progress.asScala.toSeq
      progress.foreach { p =>
        emit(s"""{"probe":"stream_progress","name":${jstr(n)},""" +
          s""""query":${jstr(String.valueOf(p.name))},"progress":${p.json}}""")
      }
      s""""sec":${sec(t)},"n_progress":${progress.size}"""
    }
    if (ReplayQueries.contains(n))
      row(emit, "stream_replay", n)(replay(spark, dir, n, tickMs))
  }

  /** The corpus replay of one streaming chain against the noop sink. */
  private def replay(spark: SparkSession, dir: String, name: String,
                     tickMs: Int): String = {
    import graft.streaming.EventStreamOps
    // MemoryStream is fed from this JVM, so this collect is the
    // harness, not the operator under test
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").orderBy("doc_id").collect()
      .zipWithIndex.map { case (r, i) =>
        EventStreamOps.DocEvent(r.getLong(0), r.getString(1),
          new java.sql.Timestamp(1700000000000L + i.toLong * tickMs))
      }
    implicit val sq = spark.sqlContext
    implicit val enc =
      org.apache.spark.sql.Encoders.product[EventStreamOps.DocEvent]
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreamOps.DocEvent]
    val df = mem.toDF()
    val chain = name match {
      case "st_neardup" =>
        EventStreamOps.neardupWithinWatermark(df, "text", "ts", "1 minute")
      case "st_substring" =>
        // the batch tier's production parameters (dedup_substring_approx)
        EventStreamOps.substringNovelWindows(df, "text", "ts", "1 minute",
          w = 16, stride = 8, shingleK = 4)
      case "st_curate" =>
        EventStreamOps.curateStream(df, "text", "ts", "1 minute", minChars = 20)
    }
    val q = chain.writeStream.format("noop").queryName(s"probe_$name")
      .outputMode("append").start()
    try {
      val t0 = System.nanoTime()
      docs.grouped(ReplayBatch).foreach { chunk =>
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      val maxState = progress
        .map(p => Option(p.stateOperators).map(_.map(_.numRowsTotal).sum)
          .getOrElse(0L))
        .foldLeft(0L)(math.max)
      s""""rows":${docs.length},"wall_sec":${sec(wall)},""" +
        s""""docs_per_sec":${math.round(docs.length / wall)},""" +
        s""""micro_batches":${progress.count(_.numInputRows > 0)},""" +
        s""""max_state_rows":$maxState,"batch_size":$ReplayBatch,"tick_ms":$tickMs"""
    } finally q.stop()
  }

  /** `kernels` mode; `names` restricts the kernels (empty = all). */
  def kernels(spark: SparkSession, dir: String, names: Seq[String], repl: Int,
              emit: String => Unit): Unit = {
    // copies differ by a suffix so no cross-row memoization can flatter
    // a run; the diff kernels get two bounded token arrays (a
    // full-document DP diff is quadratic by design — the reference diffs
    // at paragraph granularity, mirrored by the 200-token cap)
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), explode(sequence(lit(0), lit(repl - 1))).as("copy"),
        col("text"))
      .withColumn("text", concat(col("text"), lit(" c"), col("copy")))
      .repartition(spark.sparkContext.defaultParallelism * 4)
      .select(col("doc_id"),
        concat(lit("See [[Target page|anchor]] and {{Infobox x|y}} "),
          col("text"),
          lit(" more [[Other]] {{cite web|u}} <ref>r</ref> http://x.io/a end"))
          .as("text"))
      .withColumn("toks", slice(graft.operators.TermOps.tokens(col("text")), 1, 200))
      .withColumn("toks2",
        concat(slice(col("toks"), 1, 150), array(lit("zz"), lit("yy"))))
      .persist()
    try {
      docs.count() // materialize the input once so runs time the kernel only
      val g = GraftFunctions
      val all: Seq[(String, () => DataFrame)] = Seq(
        "extract_links" -> (() =>
          docs.select(explode(g.extractLinks(col("text"))).as("l"))
            .select(col("l.anchor"), col("l.target"))),
        "extract_links_ctx" -> (() =>
          docs.select(explode(g.extractLinksCtx(col("text"))).as("l"))
            .select(col("l.anchor"), col("l.offset"))),
        "extract_refs" -> (() =>
          docs.select(size(g.extractRefs(col("text"))).as("n"))),
        "extract_templates" -> (() =>
          docs.select(explode(g.extractTemplates(col("text"))).as("t"))),
        "plain_text" -> (() =>
          docs.select(length(g.plainText(col("text"))).as("n"))),
        "rev_diff" -> (() =>
          docs.select(explode(g.revDiff(col("toks"), col("toks2"))).as("d"))
            .select(col("d.op"))),
        "added_words" -> (() =>
          docs.select(explode(g.addedWords(col("toks"), col("toks2"))).as("w"))),
        "minhash_sig" -> (() =>
          docs.select(g.minhashSig(col("toks"), lit(3), lit(32)).as("mh"))
            .select(element_at(col("mh"), 1))),
        "simhash64" -> (() =>
          docs.select(g.simhash64(col("toks")).as("sh"))),
        "band_buckets" -> (() =>
          docs.select(explode(g.bandBuckets(
            g.minhashSig(col("toks"), lit(3), lit(32)), lit(8), lit(4))).as("b"))),
        "lang_id" -> (() =>
          docs.select(g.langId(col("text")).as("l"))),
        "normalize_title" -> (() =>
          docs.select(g.normalizeTitle(col("text")).as("n"))),
        "rolling_fingerprint" -> (() =>
          docs.select(g.rollingFingerprint(col("text")).as("f"))))
      val picked = all.filter { case (n, _) => names.isEmpty || names.contains(n) }
      picked.foreach { case (_, mk) => noop(mk()) } // warm the codegen paths
      val secs = picked.map { case (n, mk) =>
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); noop(mk()); (System.nanoTime() - t0) / 1e9
        }
        s"${jstr(n)}:${sec(ts.sorted.apply(1))}"
      }
      emit(s"""{"probe":"kernels","sec":${secs.mkString("{", ",", "}")},""" +
        s""""repl":$repl,"dir":${jstr(dir)}}""")
    } finally docs.unpersist()
  }

  private def envInt(key: String, default: Int): Int = sys.env.get(key)
    .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
    .filter(_ >= 1).getOrElse(default)

  def main(args: Array[String]): Unit = {
    val modes = Seq("jobs", "plan", "stream", "kernels")
    if (args.length < 2 || !modes.contains(args(0))) {
      System.err.println(
        s"usage: graft.Probe <${modes.mkString("|")}> <dir> [names...]")
      sys.exit(2)
    }
    val (mode, dir, names) = (args(0), args(1), args.drop(2).toSeq)
    def orDefault(d: Seq[String]) = if (names.nonEmpty) names else d
    Scratch.sweepStale()
    val spark = GraftSession.build(s"local[${GraftSession.cpus}]",
      envInt("SPARK_GRAFT_PROBE_PARTS", GraftSession.cpus), "graft-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up
    try mode match {
      case "jobs" => jobs(spark, dir, orDefault(DefaultQueries),
        envInt("SPARK_GRAFT_PROBE_RUNS", 2),
        sys.env.get("SPARK_GRAFT_JOBPROBE_DETAIL").contains("1"), println)
      case "plan" => plan(spark, dir, orDefault(DefaultQueries), println)
      case "stream" => stream(spark, dir, orDefault(ReplayQueries),
        envInt("SPARK_GRAFT_STREAM_TICK_MS", 10), println)
      case "kernels" => kernels(spark, dir, names,
        envInt("SPARK_GRAFT_KB_REPL", 16), println)
    } finally spark.stop()
  }
}
