package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The NanosFilterRule contract: a timestamp comparison over the legacy
  * loader's `timestamp_micros(raw div 1000)` projection derives a
  * REDUNDANT raw-int64 range conjunct that reaches PushedFilters —
  * row-group pruning on the nanos layout without rewriting the data —
  * and never changes the result set. */
class NanosFilterRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A legacy-shaped table on disk: int64 epoch-NANOS column `tsn` (what
    * nanosAsLong surfaces a TIMESTAMP(NANOS) parquet as). */
  private lazy val dir: String = {
    val d = graft.Scratch.dir("nanos").toString
    (0L until 4000L)
      .map(i => (i, 1700000000000000000L + i * 1000000000L)) // 1s apart
      .toDF("id", "tsn")
      .repartitionByRange(8, col("tsn"))
      .write.mode("overwrite").parquet(d)
    d
  }

  private def legacyRead = spark.read.parquet(dir)
    .withColumn("ts", timestamp_micros(expr("tsn div 1000")))

  test("derived raw-nanos bounds reach PushedFilters for a ts range " +
    "predicate on the legacy projection") {
    graft.plans.GraftSparkExtensions.install(spark)
    val q = legacyRead
      .filter(col("ts") >= lit("2023-11-14 23:00:00").cast("timestamp") &&
        col("ts") < lit("2023-11-14 23:10:00").cast("timestamp"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(tsn,"), plan)
    assert(plan.contains("LessThan(tsn,"), plan)
  }

  test("the derived conjuncts are redundant: result identical with and " +
    "without the rule, including the ±999 ns quantum edges") {
    val lo = lit("2023-11-14 23:00:00").cast("timestamp")
    val hi = lit("2023-11-14 23:10:00").cast("timestamp")
    def query = legacyRead.filter(col("ts") >= lo && col("ts") < hi)
    def run() = query.agg(count(lit(1)), sum(col("id"))).collect()(0)
    graft.plans.GraftSparkExtensions.install(spark)
    val withRule = run()
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ == graft.plans.NanosFilterRule)
    try {
      val without = run()
      assert(withRule == without)
      // no second registration (e.g. a spark.sql.extensions injection)
      // still derives the raw bound once the rule is taken out
      val plan = query.queryExecution.executedPlan.toString
      assert(!plan.contains("GreaterThanOrEqual(tsn,") &&
        !plan.contains("LessThan(tsn,"), plan)
      assert(withRule.getLong(0) > 0L) // non-vacuous window
    } finally spark.experimental.extraOptimizations = saved
  }

  test("sentinel-date predicates outside the int64-nanos range skip " +
    "derivation instead of overflowing into a row-dropping bound") {
    graft.plans.GraftSparkExtensions.install(spark)
    // both are semantically "all rows"; a wrapped m*1000 bound would
    // have returned empty
    val lo = legacyRead
      .filter(col("ts") >= lit("1500-01-01 00:00:00").cast("timestamp"))
    val hi = legacyRead
      .filter(col("ts") < lit("9999-01-01 00:00:00").cast("timestamp"))
    assert(lo.count() == 4000L)
    assert(hi.count() == 4000L)
    // no derived raw bound may appear for the unrepresentable literal
    assert(!lo.queryExecution.executedPlan.toString
      .contains("GreaterThanOrEqual(tsn,"))
    assert(!hi.queryExecution.executedPlan.toString
      .contains("LessThan(tsn,"))
  }

  test("equality comparisons derive the one-quantum nanos band") {
    graft.plans.GraftSparkExtensions.install(spark)
    val q = legacyRead
      .filter(col("ts") === lit("2023-11-14 22:13:20").cast("timestamp"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(tsn,") &&
      plan.contains("LessThan(tsn,"), plan)
    assert(q.count() == 1L)
  }
}
