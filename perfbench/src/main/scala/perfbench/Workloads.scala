package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{GraftFunctions, SparkEntry}
import graft.operators.{RevisionOps, TermOps}
import graft.sources.{GraftSinks, WikiXml}

/** One operation of a workload's fixed sequence.
  *
  * @param build  constructs the frame (for catalog queries this is the
  *               `SparkEntry.queries` function call, eager checkpoints
  *               included); `null` for operations that are a whole job
  * @param act    the terminal action the timed passes run
  * @param output runs the operation again and returns the frame whose
  *               rows the output check digests (sink operations read back
  *               what they wrote); used on the untimed check pass only
  */
case class Op(name: String, build: () => DataFrame, act: DataFrame => Unit,
              output: () => DataFrame)

object Op {
  /** Materialize every output column through the noop sink (count() would
    * let Catalyst prune unused projections). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A frame sent to the noop sink; the check digests the same frame. */
  def frame(name: String, f: () => DataFrame): Op = Op(name, f, noop, f)

  def catalog(spark: SparkSession, name: String, dir: String): Op = {
    val fn = SparkEntry.queries(name)
    frame(name, () => fn(spark, dir))
  }
}

/** A named workload: how to make its inputs and its operation sequence.
  * Extra measurements that only the traced run takes go in `probes`. */
trait Workload {
  def name: String
  /** Writes the inputs under `dir`; `tiny` is the self-test scale. */
  def prepare(spark: SparkSession, dir: String, dataSeed: Long, tiny: Boolean): Unit
  def ops(spark: SparkSession, dir: String): Seq[Op]
  def probes(spark: SparkSession, dir: String): Probes = Probes.none
  /** Operations whose time is source parsing. */
  def scanOps: Seq[String] = Nil
  /** (push-down scan, full scan): their input records give the keep fraction. */
  def pushdownPair: Option[(String, String)] = None
  /** Operations reported one by one in the traced run. */
  def operatorOps: Seq[String] = Nil
}

/** Traced-run extras: single-kernel timings over a persisted input, and
  * each sink operation's frame sent to the noop sink instead. */
trait Probes {
  def kernels(): Map[String, Double]
  def sinkNoop(op: String): Option[() => Unit]
  def release(): Unit
}
object Probes {
  val none: Probes = new Probes {
    def kernels(): Map[String, Double] = Map.empty
    def sinkNoop(op: String): Option[() => Unit] = None
    def release(): Unit = ()
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(QueryMix, RevisionEtl)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))
}

/** Short catalog queries at sf0.01 over generated tables: fixed
  * per-query costs (frame construction, planning, codegen, scheduling)
  * dominate. The panel is stratified by query family; rows that read a
  * process-shared stage (`SparkEntry.sharedStageReaders`) or whose job
  * count changes between runs are left out. The `pipelines` family are
  * multi-job rows (an iterative checkpoint chain, a shuffled self-join)
  * whose per-operator costs the traced run reports one by one. */
object QueryMix extends Workload {
  val name = "query_mix"
  val pipelines: Seq[String] = Seq("graph_pagerank", "dedup_jaccard_prefix")
  val panel: Seq[String] = Seq(
    "q1_pricing_summary", "j4_left_coalesce", // relational
    "a17_cube", "a5_dictionary", // aggregation
    "w6_sessionize", "t17_ols", // windows and time
    "f15_json_field", // scalar
    "stats_moments", "sketch_countmin", // stats / sample / sketch
    "k2_parquet_roundtrip", // layout and sinks
    "st_windowed_counts") ++ // streaming
    pipelines
  require(panel.forall(q => !SparkEntry.sharedStageReaders.contains(q)))
  override def operatorOps: Seq[String] = pipelines

  def prepare(spark: SparkSession, dir: String, dataSeed: Long, tiny: Boolean): Unit =
    DataGen.write(spark, dir, DataGen.Scale.sf(if (tiny) 0.001 else 0.01), dataSeed)
  def ops(spark: SparkSession, dir: String): Seq[Op] =
    panel.map(Op.catalog(spark, _, dir))
}

/** Hedera's own ETL over a synthetic revision-history dump: source
  * parsing with push-down, text kernels and file sinks. */
object RevisionEtl extends Workload {
  val name = "revision_etl"
  private val articles = Map("onlyArticles" -> "true", "skipRedirects" -> "true")
  private val window = articles ++ Map(
    "beginTime" -> "2012-01-01T00:00:00Z", "endTime" -> "2020-01-01T00:00:00Z")

  override def scanOps: Seq[String] = Seq("stats_scan", "pushdown_scan")
  override def pushdownPair: Option[(String, String)] = Some(("pushdown_scan", "stats_scan"))

  def corpus(dir: String): String = s"$dir/dump"
  private def out(dir: String, n: String) = s"$dir/out/$n"

  def prepare(spark: SparkSession, dir: String, dataSeed: Long, tiny: Boolean): Unit =
    WikiCorpus.write(corpus(dir), plainShards = 3,
      bytesPerShard = if (tiny) 256L << 10 else 3L << 20, dataSeed)

  private def diffsFrame(spark: SparkSession, dir: String): DataFrame = {
    val revs = WikiXml.read(spark, corpus(dir), articles)
      .withColumn("toks", GraftFunctions.tokens(col("text")))
    RevisionOps.diffs(revs, "page_id", "timestamp", "toks", "rev_id", GraftFunctions.revDiff)
      .select(col("page_id"), col("rev_id"), col("deltas"))
  }
  private def dictFrame(spark: SparkSession, dir: String): DataFrame =
    TermOps.dictionary(WikiXml.read(spark, corpus(dir), window)
      .select(col("rev_id").as("doc_id"), col("text")), "doc_id", "text")

  def ops(spark: SparkSession, dir: String): Seq[Op] = {
    val src = corpus(dir)
    def sink(name: String, frame: () => DataFrame, write: (DataFrame, String) => Unit) =
      Op(name, frame, df => write(df, out(dir, name)),
        () => { write(frame(), out(dir, name)); spark.read.parquet(out(dir, name)) })
    Seq(
      Op.frame("stats_scan", () => WikiXml.readHeaders(spark, src)
        .groupBy(col("page_namespace"), col("redirect"))
        .agg(count(lit(1)).as("revs"), countDistinct(col("page_id")).as("pages"),
          max(col("timestamp")).as("last"), sum(col("minor").cast("int")).as("minor"))),
      Op.frame("pushdown_scan", () => WikiXml.read(spark, src, window)
        .agg(count(lit(1)).as("revs"), sum(length(col("text"))).as("chars"),
          countDistinct(col("page_id")).as("pages"))),
      Op("anchor_text", () => null,
        _ => graft.jobs.ExtractTemporalAnchorText.run(spark, src, out(dir, "anchor_text")),
        () => {
          graft.jobs.ExtractTemporalAnchorText.run(spark, src, out(dir, "anchor_text"))
          spark.read.option("sep", "\t").csv(out(dir, "anchor_text"))
        }),
      sink("rev_diffs", () => diffsFrame(spark, dir), GraftSinks.writeParquet(_, _)),
      sink("dictionary", () => dictFrame(spark, dir), GraftSinks.writeDictionary))
  }

  override def probes(spark: SparkSession, dir: String): Probes = new Probes {
    // every revision with its tokens and its predecessor's tokens, cached
    // so the kernel timings below exclude source parsing and the shuffle
    private lazy val input: DataFrame = {
      val w = Window.partitionBy("page_id").orderBy(col("timestamp"), col("rev_id"))
      val df = WikiXml.read(spark, corpus(dir), articles)
        .select(col("page_id"), col("rev_id"), col("timestamp"), col("text"))
        .withColumn("toks", GraftFunctions.tokens(col("text")))
        .withColumn("prev", coalesce(lag(col("toks"), 1).over(w), typedLit(Seq.empty[String])))
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    private def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def kernels(): Map[String, Double] = {
      val in = input
      Map(
        "kernels.tokens_s" -> time(Op.noop(in.select(GraftFunctions.tokens(col("text"))))),
        "kernels.links_s" -> time(Op.noop(in.select(GraftFunctions.extractLinks(col("text"))))),
        "kernels.diff_s" -> time(Op.noop(in.select(GraftFunctions.revDiff(col("prev"), col("toks"))))))
    }
    def sinkNoop(op: String): Option[() => Unit] = op match {
      case "rev_diffs" => Some(() => Op.noop(diffsFrame(spark, dir)))
      case "dictionary" => Some(() => Op.noop(dictFrame(spark, dir).select("term", "id", "df", "cf")))
      case _ => None
    }
    def release(): Unit = input.unpersist(blocking = true)
  }
}
