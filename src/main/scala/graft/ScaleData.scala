package graft

import org.apache.spark.sql.functions._

/** Dev tool: synthesize an sf1-equivalent dataset (10× sf0.1) for the
  * scale probe, since the driver only generates up to sf0.1. Replication
  * is workload-preserving, not a naive copy:
  *
  *  - documents: 10 copies per doc with fresh ids; copies ≥ 1 get a
  *    deterministic per-copy token SUBSTITUTION (~1/3 of tokens, keyed
  *    by (token, new doc id), rewritten to a copy-specific variant).
  *    Substitution — not the round-6 permutation — because SimHash is
  *    token-ORDER-insensitive: permuted copies kept identical simhash
  *    and minhash-band signatures and planted 10-deep near-dup clusters,
  *    inflating the dedup scaling ratios. With 1/3 of tokens replaced,
  *    3-shingle Jaccard between copies drops to ~0.2 (below every
  *    probe threshold) and signatures diverge, while token counts and
  *    tf shapes stay ×10; the vocabulary grows with corpus size, which
  *    is what a real corpus does (Heaps' law);
  *  - events: 10 copies with fresh event/user ids and unchanged
  *    timestamps — per-user densities and window shapes stay identical,
  *    the user population grows ×10; `ts` is written as int64
  *    epoch-nanos to match the driver files (Tables.table's nanos shim
  *    applies the same way);
  *  - embeddings: 10 copies with fresh ids; copies ≥ 1 mix each
  *    coordinate with rms-scaled deterministic noise
  *    (x' = 0.6·x + 0.4·rms·u, u ∈ [−1,1) keyed by (id, dim)), putting
  *    expected copy-vs-original cosine at ~0.93 — below the 0.99
  *    near-dup threshold, so embedding-dedup candidate counts reflect
  *    the algorithm, not planted replicas — while keeping vectors in
  *    the same magnitude envelope (cell/bucket occupancy comparable);
  *  - TPC-H-shape facts (customer/supplier/part/orders/lineitem): 10
  *    disjoint isomorphic copies via the chain-bijective key map
  *    k·10 + copy applied to every key AND foreign key (join
  *    fan-outs copy-exact); nation/region dims stay fixed.
  *
  * `runMain graft.ScaleData [outDir]` (default /tmp/graft-sf1).
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-sf1")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("local[8]", 8, "graft-scaledata")
    spark.sparkContext.setLogLevel("WARN")
    val copies = 10

    val docs = Tables.table(spark, src, "documents")
      .withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
      .withColumn("doc_id", col("doc_id") + col("copy") * lit(100000000L))
      .withColumn("text",
        when(col("copy") === 0, col("text")).otherwise(
          // substitute ~1/3 of tokens with a copy-keyed variant (the
          // doc_id is already copy-shifted, so copies also diverge from
          // EACH OTHER, not only from the original)
          array_join(transform(
            filter(split(col("text"), "\\s+"), t => t =!= ""),
            t => when(pmod(xxhash64(t, col("doc_id")), lit(3L)) === 0L,
              concat(t, lit("v"), col("copy").cast("string")))
              .otherwise(t)), " ")))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val events = Tables.table(spark, src, "events")
      .withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
      .withColumn("event_id", col("event_id") + col("copy") * lit(100000000L))
      .withColumn("user_id", col("user_id") + col("copy") * lit(100000000L))
      .withColumn("ts", unix_micros(col("ts")) * lit(1000L)) // int64 nanos
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    events.repartition(8).write.mode("overwrite").parquet(s"$out/events.parquet")

    val embs = Tables.table(spark, src, "embeddings")
      .withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
      .withColumn("vec_id", col("vec_id") + col("copy") * lit(100000000L))
      // per-vector rms sets the noise scale, so the mixture works for
      // any coordinate magnitude the generator chose
      .withColumn("rms", sqrt(
        aggregate(col("embedding"), lit(0.0d), (a, x) => a + x * x)
          / size(col("embedding"))))
      .withColumn("embedding",
        when(col("copy") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x * lit(0.6d) + col("rms") * lit(0.4d) *
              (pmod(xxhash64(col("vec_id"), i), lit(2000L)).cast("double")
                / lit(1000.0d) - lit(1.0d))).cast("float"))))
      .select("vec_id", "embedding", "label")
    embs.repartition(4).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // TPC-H-shape tables replicate too (r16: graph/join anchors need
    // ×N datapoints — they were excluded from the r15 sweep because
    // these tables rode along fixed). Key transform is k·10 + copy:
    // BIJECTIVE under chaining (gen-2 key = k·100 + c1·10 + c2),
    // unlike the additive document shift, so replicated keys never
    // collide; every foreign key applies the same transform, so the
    // join graph becomes 10 disjoint isomorphic copies of the
    // original sharing the nation/region dims — per-key densities and
    // join fan-outs are copy-exact. Dates, prices and dim attributes
    // stay unchanged (workload-preserving value distributions).
    def replicate(t: String, keys: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
        .withColumn("copy", explode(sequence(lit(0L), lit(copies - 1L))))
      keys.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) * lit(10L) + col("copy"))
        }
        .drop("copy")
        .repartition(8).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    // dimension tables stay fixed — replicated fact keys reference them
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"""{"scale_data":"$out","copies":$copies}""")
    spark.stop()
  }
}
