package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark process: sets up one workload, runs its fixed operation
  * sequence as a cold pass, an untimed output-check pass, then warm
  * passes for the requested seconds, and prints one result line
  * (`PERFBENCH_RESULT {json}`) for `perfbench/run.py`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --cores <n> [--tiny] [--expected <file>] [--record]
  * }}}
  *
  * `--record` runs one set-up and the check pass only, and prints the output
  * digests (row count, order-insensitive hash) per operation, the
  * material of `expected.json`.
  */
object Main {
  /** Data content cycles through this many variants of `--seed`, so the
    * expected outputs of every seed are committed. */
  val Variants = 4
  val SetupReps = 3

  case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  work: String, cores: Int, tiny: Boolean, expected: Option[String],
                  record: Boolean)

  def parse(a: Seq[String]): Args = {
    val kv = a.sliding(2).collect { case Seq(k, v) if k.startsWith("--") => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--work"), get("--cores").toInt,
      a.contains("--tiny"), kv.get("--expected"), a.contains("--record"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val workload = Workloads(args.workload)
    val variant = Math.floorMod(args.seed, Variants.toLong)

    // ---- set-up, repeated: session, inputs, generic warm-up ----------
    def build(): SparkSession = {
      val s = graft.GraftSession.build(s"local[${args.cores}]", args.cores, "perfbench")
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val dataDir = s"${args.work}/data"
    val reps = (1 to (if (args.record) 1 else SetupReps)).map { rep =>
      val t0 = System.nanoTime()
      val spark = build()
      val t1 = System.nanoTime()
      deleteTree(new java.io.File(dataDir))
      workload.prepare(spark, dataDir, variant, args.tiny)
      val t2 = System.nanoTime()
      // generic JVM warm-up, independent of the workload
      spark.range(0, 2000000, 1, args.cores).selectExpr("sum(id)", "max(id % 7)").collect()
      val t3 = System.nanoTime()
      if (rep < SetupReps && !args.record) spark.stop()
      (spark, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }
    val spark = reps.last._1
    def med(xs: Seq[Double]): Double = Stats.median(xs)
    // time to ready is the cold repetition (class loading, first codegen);
    // the repetitions after it run in a warm JVM and are reported apart
    val (_, coldSession, coldData, coldWarmup) = reps.head
    val setup = Map(
      "setup.session_s" -> coldSession,
      "setup.datagen_s" -> coldData,
      "setup.warmup_s" -> coldWarmup,
      "setup.warm_rep_s" -> med(reps.tail.map(r => r._2 + r._3 + r._4)))
    val setupS = jvmStartS + coldSession + coldData + coldWarmup

    val ops = new Random(args.seed).shuffle(workload.ops(spark, dataDir))
    val runner = new Runner(spark)

    if (args.record) {
      val digests = runner.checkPass(ops)
      println("PERFBENCH_RECORD " + Json.obj(Seq(
        "workload" -> Json.str(workload.name), "tiny" -> args.tiny.toString,
        "variant" -> variant.toString,
        "digests" -> Json.obj(digests.toSeq.sortBy(_._1).map { case (k, d) =>
          k -> d.fold(e => Json.obj(Seq("error" -> Json.str(e))),
            { case (rows, h) => s"[$rows,${Json.str(h)}]" }) }))))
      spark.stop()
      return
    }

    // ---- cold pass, check pass, warm passes ---------------------------
    val cold = runner.pass(ops, traced = false)
    val c0 = System.nanoTime()
    val digests = runner.checkPass(ops)
    val checkS = (System.nanoTime() - c0) / 1e9
    val expected = Expected.load(args.expected, workload.name, args.tiny, variant)
    val mismatches = ops.map(_.name).flatMap { n =>
      (digests(n), expected.get(n)) match {
        case (Left(e), _) => Some(s"$n: error: $e")
        case (Right(_), None) => Some(s"$n: no expected digest")
        case (Right(d), Some(x)) if d != x => Some(s"$n: got $d, expected $x")
        case _ => None
      }
    }

    val probes = if (args.trace) workload.probes(spark, dataDir) else Probes.none
    val warm = mutable.ArrayBuffer[Pass]()
    val traced = mutable.ArrayBuffer[Pass]()
    val kernelRuns = mutable.ArrayBuffer[Map[String, Double]]()
    val sinkRuns = mutable.ArrayBuffer[Double]()
    // latency percentiles come from the first `minWarm` warm passes, so
    // every run reports the same percentile from the same sample count
    val minWarm = math.max(2, math.ceil(20.0 / ops.size).toInt)
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    var i = 0
    while (elapsed < args.seconds || warm.size < minWarm || (args.trace && traced.isEmpty)) {
      if (args.trace && i % 2 == 1) {
        val p = runner.pass(ops, traced = true)
        traced += p
        kernelRuns += probes.kernels()
        // real sink minus the same frame into the noop sink
        sinkRuns += ops.flatMap(o => probes.sinkNoop(o.name).map { f =>
          val t0 = System.nanoTime(); f(); p.opSeconds(o.name) - (System.nanoTime() - t0) / 1e9
        }).sum
      } else warm += runner.pass(ops, traced = false)
      i += 1
    }
    probes.release()

    // pass invariance: a warm pass must not time a process-cache hit
    val passes: Seq[Pass] = (cold +: warm.toSeq) ++ traced.toSeq
    val drift = ops.map(_.name).filter(n => passes.map(_.jobs(n)).distinct.size > 1)
      .map(n => s"$n: jobs per pass ${passes.map(_.jobs(n)).mkString(",")}")

    val errors = passes.flatMap(_.errors)
    val attempted = passes.size * ops.size + ops.size
    val failed = errors.size + mismatches.size
    val opTimes = warm.take(minWarm).flatMap(_.opSeconds.values).toSeq
    val (p50, p50used) = Stats.tailPercentile(opTimes, 0.5)
    val (p90, p90used) = Stats.tailPercentile(opTimes, 0.9)
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (med(warm.map(_.wall).toSeq), "s"),
      "cold_wall_s" -> (cold.wall, "s"),
      "op_p50_s" -> (p50, "s"),
      "op_p90_s" -> (p90, "s"),
      "peak_rss_mb" -> (Stats.peakRssMb(), "MB"))
    val perLayer =
      if (args.trace) Layers.metrics(workload, ops, warm.toSeq, traced.toSeq,
        kernelRuns.toSeq, sinkRuns.toSeq, setup, args.cores)
      else Seq.empty

    val details = Json.obj(Seq(
      "workload" -> Json.str(workload.name), "seed" -> args.seed.toString,
      "variant" -> variant.toString, "tiny" -> args.tiny.toString,
      "ops" -> Json.arr(ops.map(o => Json.str(o.name))),
      "failed_frac" -> Json.num(failed.toDouble / attempted),
      "op_samples" -> opTimes.size.toString,
      "op_p50_percentile" -> Json.num(p50used), "op_p90_percentile" -> Json.num(p90used),
      "warm_passes" -> warm.size.toString, "traced_passes" -> traced.size.toString,
      "warm_walls" -> Json.arr(warm.map(p => Json.num(p.wall)).toSeq),
      "jvm_start_s" -> Json.num(jvmStartS), "check_pass_s" -> Json.num(checkS),
      "measure_s" -> Json.num(elapsed),
      "setup_reps" -> Json.arr(reps.map(r => Json.arr(Seq(r._2, r._3, r._4).map(Json.num)))),
      "op_jobs" -> Json.obj(ops.map(o => o.name -> cold.jobs(o.name).toString)),
      "op_warm_median_s" -> Json.obj(ops.map(o =>
        o.name -> Json.num(med(warm.map(_.opSeconds(o.name)).toSeq)))),
      "reconcile" -> (if (traced.nonEmpty) Json.num(Layers.reconcile(ops, warm.toSeq, traced.toSeq)) else "null"),
      "mismatches" -> Json.arr(mismatches.map(Json.str)),
      "errors" -> Json.arr(errors.map(Json.str)),
      "pass_drift" -> Json.arr(drift.map(Json.str))))
    def metricsJson(ms: Seq[(String, (Double, String))]) = Json.obj(ms.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> (mismatches.isEmpty && errors.isEmpty && drift.isEmpty).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson(if (args.trace) perLayer else endToEnd),
      "details" -> details)))
    spark.stop()
  }

  def deleteTree(f: java.io.File): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(f)
}

/** One pass over the sequence: wall time, per-operation build/action
  * seconds, jobs per operation, and (traced passes) layer counters. */
case class Pass(wall: Double, opSeconds: Map[String, Double],
                buildSeconds: Map[String, Double], jobs: Map[String, Int],
                errors: Seq[String], layers: Option[PassLayers])

case class PassLayers(total: Counters, byOp: Map[String, Counters],
                      buildJobs: Long, compileS: Double, compiles: Long, gcS: Double)

class Runner(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var passNo = 0
  private val probe = new Probe(spark)

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Jobs per group from Spark's own status tracker; exact once the
    * listener bus has drained. */
  private def jobsIn(group: String): Int = sc.statusTracker.getJobIdsForGroup(group).length

  def pass(ops: Seq[Op], traced: Boolean): Pass = {
    passNo += 1
    def gid(n: String, phase: String) = s"p$passNo:$n:$phase"
    val before = if (traced) { probe.install(); Some(probe.total) } else None
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val cc0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val gc0 = gcMs()
    val times = mutable.LinkedHashMap[String, Double]()
    val builds = mutable.LinkedHashMap[String, Double]()
    val errors = mutable.ArrayBuffer[String]()
    val t0 = System.nanoTime()
    ops.foreach { op =>
      val o0 = System.nanoTime()
      try {
        sc.setJobGroup(gid(op.name, "build"), op.name, interruptOnCancel = false)
        val df = op.build()
        val o1 = System.nanoTime()
        sc.setJobGroup(gid(op.name, "act"), op.name, interruptOnCancel = false)
        op.act(df)
        builds(op.name) = (o1 - o0) / 1e9
      } catch {
        case e: Throwable => errors += s"${op.name}: ${String.valueOf(e.getMessage).take(300)}"
      } finally sc.clearJobGroup()
      times(op.name) = (System.nanoTime() - o0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val compileS = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e9
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
    val gcS = (gcMs() - gc0) / 1e3
    org.apache.spark.perfbench.Bus.drain(sc)
    val jobs = ops.map(o => o.name -> (jobsIn(gid(o.name, "build")) + jobsIn(gid(o.name, "act")))).toMap
    val layers = before.map { b =>
      probe.uninstall()
      val byOp = ops.map(o => o.name ->
        (probe.group(gid(o.name, "build")) + probe.group(gid(o.name, "act")))).toMap
      PassLayers(probe.total.minus(b), byOp,
        ops.map(o => probe.group(gid(o.name, "build")).jobs).sum, compileS, compiles, gcS)
    }
    Pass(wall, times.toMap, builds.toMap, jobs, errors.toSeq, layers)
  }

  /** Untimed pass: each operation's row count and order-insensitive hash. */
  def checkPass(ops: Seq[Op]): Map[String, Either[String, (Long, String)]] =
    ops.map { op =>
      op.name -> (try Right(Digest(op.output())) catch {
        case e: Throwable => Left(String.valueOf(e.getMessage).take(300))
      })
    }.toMap
}

/** Row count and an order-insensitive hash of a frame's rows: the sum of
  * per-row xxhash64 values. Floating-point values are compared to nine
  * significant digits (aggregation order may change the last bits), and
  * map entries are sorted first. */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast("double"))
    case ArrayType(et, _) if needs(et) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.exists(f => needs(f.dataType)) =>
      struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }
  private def needs(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needs(et)
    case StructType(fs) => fs.exists(f => needs(f.dataType))
    case _ => false
  }
  def apply(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f => norm(df.col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(30,0)")))
      .collect().head
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }
}

/** Expected output digests committed with the benchmark (expected.json):
  * workload → scale (`full` / `tiny`) → variant → op → [rows, hash]. */
object Expected {
  def load(file: Option[String], workload: String, tiny: Boolean,
           variant: Long): Map[String, (Long, String)] = file.fold(Map.empty[String, (Long, String)]) { f =>
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(f))
    val node = root.path(workload).path(if (tiny) "tiny" else "full").path(variant.toString)
    node.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)
    }.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The `p`-quantile when at least ten samples lie beyond it; otherwise
    * the highest quantile that has ten beyond it (the minimum when there
    * are ten samples or fewer). Returns (value, quantile used). */
  def tailPercentile(xs: Seq[Double], p: Double): (Double, Double) = {
    val used = math.max(0.0, math.min(p, 1.0 - 10.0 / math.max(xs.size, 1)))
    (quantile(xs, used), used)
  }
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Minimal JSON writing (values are emitted already encoded). */
object Json {
  def str(s: String): String = graft.JsonUtil.jstr(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
