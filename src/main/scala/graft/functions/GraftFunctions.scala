package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** graft's native Catalyst expressions: one (name, builder) table.
  *
  * `GraftExtensions` injects the table at session build, so every graft
  * session (and each `newSession()` of it) resolves the names through
  * `functions.call_function` or SQL text with no private Column
  * internals touched. `register` installs the same table by hand into a
  * session started without the extension.
  *
  * The library's kernel-backed calls (`Shingles.shingles`,
  * `MinHashLSH.signature`, `Similarity.dot`, `HeavyHitters.exact`,
  * `ApproxDistinct`, `WeightedSample.perGroup`, `BloomDecontaminate`, …)
  * do not install the table: in a session that has neither the extension
  * nor a `register` call, such as an existing cluster session, they fail
  * with UNRESOLVED_ROUTINE. Build the session through `GraftSession.tuned` /
  * `GraftSession.local`, set `spark.sql.extensions=graft.GraftExtensions`,
  * or call `register` once. */
object GraftFunctions {
  private def intLit(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  val table: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "float_dot" -> (exprs => FloatDotProduct(exprs(0), exprs(1))),
    "token_count" -> (exprs => TokenCount(exprs.head)),
    "rolling_min_hash" -> (exprs => RollingMinHashExpr(exprs.head, 16)),
    "gram_hashes" -> (exprs => GramHashesExpr(exprs(0), intLit(exprs(1)))),
    "gram_hashes_winnowed" -> (exprs =>
      WinnowedGramHashesExpr(exprs(0), intLit(exprs(1)), intLit(exprs(2)))),
    "top_k_double" -> (exprs =>
      TopKByDouble(exprs(0), exprs(1), intLit(exprs(2))).toAggregateExpression()),
    "cdc_boundaries" -> (exprs =>
      CdcBoundariesExpr(exprs(0), intLit(exprs(1)), intLit(exprs(2)))),
    "bottom_k_sample" -> (exprs =>
      BottomKSample(exprs(0), exprs(1), intLit(exprs(2))).toAggregateExpression()),
    "mg_candidates" -> (exprs =>
      MgCandidates(exprs(0), intLit(exprs(1))).toAggregateExpression()),
    "md5_low64" -> (exprs => Md5Low64Expr(exprs.head)),
    "hll_registers" -> (exprs =>
      HllRegisters(exprs(0), intLit(exprs(1))).toAggregateExpression()),
    "hll_merge" -> (exprs =>
      HllMerge(exprs(0), intLit(exprs(1))).toAggregateExpression()),
    "multi_distinct_count" -> (exprs =>
      MultiDistinctCount(exprs).toAggregateExpression()),
    "bitmap_distinct" -> (exprs =>
      BitmapDistinct(exprs.head).toAggregateExpression()),
    "minhash_signature" -> (exprs =>
      MinHashSignatureExpr(exprs(0), intLit(exprs(1)), intLit(exprs(2)))),
    "simhash64" -> (exprs => SimHash64Expr(exprs.head)),
    "lsh_bucket" -> (exprs => LshBucketExpr(exprs(0), intLit(exprs(1)))),
    "lsh_probe_buckets" -> (exprs =>
      LshProbeBucketsExpr(exprs(0), intLit(exprs(1)), intLit(exprs(2)))),
    "lsh_probe_buckets_margin" -> (exprs =>
      LshProbeBucketsMarginExpr(exprs(0), intLit(exprs(1)), intLit(exprs(2)),
        exprs(3).eval().asInstanceOf[Number].doubleValue())),
    "word_shingles" -> (exprs => WordShinglesExpr(exprs(0), intLit(exprs(1)))),
    "max_word_freq" -> (exprs => MaxWordFreqExpr(exprs.head)),
    "minhash_bands" -> (exprs =>
      MinHashBandsExpr(exprs(0), intLit(exprs(1)), intLit(exprs(2)))),
    "simhash64_md5" -> (exprs => SimHashMd5Expr(exprs.head)),
    "marker_count" -> (exprs =>
      MarkerCountExpr(exprs(0), exprs(1).eval().toString.split('|').toSeq)),
    // Spark's internal runtime-filter bloom expressions, surfaced for
    // explicit use (semi-join prefilters a planner rule can't see):
    // bloom_agg(xxhash64_col, est_items, num_bits) -> binary;
    // bloom_might_contain(bloom_binary_lit, xxhash64_col) -> boolean.
    "bloom_agg" -> (exprs =>
      BloomFilterAggregate(exprs(0), exprs(1), exprs(2), 0, 0).toAggregateExpression()),
    "bloom_might_contain" -> (exprs => BloomFilterMightContain(exprs(0), exprs(1))))

  val Names: Seq[String] = table.map(_._1)

  /** Installs the table into a session built without `GraftExtensions`. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
