package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers the engine's native expressions into a session's SQL
  * function registry, so `spark.sql("SELECT fnv64(x) …")` plans the
  * codegen expression (no UDF tier), and adds [[NanosFilterRule]] to its
  * optimizer. [[graft.GraftSession.build]] installs both on every
  * session it builds; operators call [[GraftSparkExtensions.install]]
  * on the session of the frame they are given.
  */
object GraftSparkExtensions {
  private type Builder = Seq[Expression] => Expression

  // SQL-side arity validation: a mis-called function must surface as an
  // AnalysisException naming the signature, not an IndexOutOfBounds from
  // the builder reaching into args
  private def checkArity(name: String, expected: Int,
                         args: Seq[Expression]): Unit =
    if (args.length != expected)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> expected.toString,
          "actualNum" -> args.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  private def unary(name: String, cls: Class[_], b: Expression => Expression)
      : (String, ExpressionInfo, Builder) =
    (name, new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => { checkArity(name, 1, args); b(args.head) })

  private def binary(name: String, cls: Class[_],
      b: (Expression, Expression) => Expression): (String, ExpressionInfo, Builder) =
    (name, new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => { checkArity(name, 2, args); b(args(0), args(1)) })

  private def ternary(name: String, cls: Class[_],
      b: (Expression, Expression, Expression) => Expression)
      : (String, ExpressionInfo, Builder) =
    (name, new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) =>
        { checkArity(name, 3, args); b(args(0), args(1), args(2)) })

  val functions: Seq[(String, ExpressionInfo, Builder)] = Seq(
    unary("fnv64", classOf[FnvHash64], FnvHash64),
    unary("vbyte_encode", classOf[VByteEncode], VByteEncode),
    unary("vbyte_decode", classOf[VByteDecode], VByteDecode),
    unary("extract_links", classOf[ExtractLinks], ExtractLinks),
    unary("extract_links_ctx", classOf[ExtractLinksCtx], ExtractLinksCtx),
    unary("extract_refs", classOf[ExtractRefs], ExtractRefs),
    unary("extract_templates", classOf[ExtractTemplates], ExtractTemplates),
    unary("plain_text", classOf[PlainText], PlainText),
    binary("rev_diff", classOf[RevDiff], RevDiff),
    binary("added_words", classOf[AddedWords], AddedWords),
    unary("simhash64", classOf[SimHash64], SimHash64),
    unary("lang_id", classOf[LangId], LangId),
    unary("normalize_title", classOf[NormalizeTitle], NormalizeTitle),
    unary("freebase_encode", classOf[FreebaseEncode], FreebaseEncode),
    unary("rolling_fingerprint", classOf[RollingFingerprint], RollingFingerprint),
    unary("ahash64", classOf[AHash64], AHash64),
    unary("extract_domain", classOf[ExtractDomain], ExtractDomain),
    binary("seeded_hash", classOf[SeededHash], SeededHash),
    binary("sorted_intersect_count", classOf[SortedIntersectCount],
      SortedIntersectCount),
    binary("shingle_hashes", classOf[ShingleHashes], ShingleHashes),
    binary("cut_last", classOf[CutLast], CutLast),
    binary("decode_ez", classOf[DecodeEz], DecodeEz),
    binary("sign_bits", classOf[SignBits], SignBits),
    ternary("minhash_sig", classOf[MinHashSig], MinHashSig(_, _, _)),
    ternary("band_buckets", classOf[BandBuckets], BandBuckets(_, _, _)),
    ternary("frame_sigs", classOf[FrameSigs], FrameSigs(_, _, _)),
    ternary("patch_sigs", classOf[PatchSigs], PatchSigs(_, _, _)),
    ternary("frame_energy", classOf[FrameEnergy], FrameEnergy(_, _, _)),
    ternary("block_means", classOf[BlockMeans], BlockMeans(_, _, _)),
    ternary("frame_energy_stereo", classOf[FrameEnergyStereo],
      FrameEnergyStereo(_, _, _)),
    // hamming distance composes from built-ins: popcount(a xor b)
    binary("hamming64",
      classOf[org.apache.spark.sql.catalyst.expressions.BitwiseCount],
      (a, b) =>
        org.apache.spark.sql.catalyst.expressions.BitwiseCount(
          org.apache.spark.sql.catalyst.expressions.BitwiseXor(a, b))))

  /** Registration on a live session (idempotent). After this,
    * `selectExpr("fnv64(col)")` / `expr("fnv64(col)")` plan the native
    * expression, and the [[NanosFilterRule]] pushdown-derivation rule
    * runs in the optimizer (the experimental-methods slot). */
  def install(spark: SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    // check-then-append on a shared session must be atomic: Verify runs
    // queries on parallel futures and several of them call install(), so
    // an unguarded read-modify-write can append the (idempotent, but
    // then wastefully re-run) rule once per racing caller
    GraftSparkExtensions.synchronized {
      val cur = spark.experimental.extraOptimizations
      if (!cur.contains(NanosFilterRule))
        spark.experimental.extraOptimizations = cur :+ NanosFilterRule
    }
  }
}
