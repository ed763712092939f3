package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial skew hardening for the curation aggregations: q56 (gram
  * document frequency) and q64 (word / adjacent-pair counts) run over
  * Zipfian text where ONE word is half the corpus. The laws pinned here:
  *
  *  1. Hot keys never reach a reducer raw: count aggregations plan a
  *     partial (map-side) phase BEFORE the exchange, so a key occurring
  *     10^9 times shuffles at most one row per map task, not 10^9 rows.
  *  2. The skewed df->gram join runs under AQE with skew-join enabled,
  *     and never degrades to a nested-loop plan.
  */
class SkewCurationSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** 400 docs; "the" is ~50% of all corpus tokens, the rest long-tail. */
  private lazy val skewed = {
    val docs = (0 until 400).map { i =>
      val tail = (0 until 10).map(j => s"w${(i * 7 + j) % 97}")
      val hot = Seq.fill(10)("the")
      // interleave so adjacent pairs also concentrate on (the, the)
      (i.toLong, (hot zip tail).flatMap { case (a, b) => Seq(a, b) }.mkString(" "))
    }
    docs.toDF("doc_id", "text")
  }

  test("q64-shape word counts: partial aggregation bounds the hot key before the exchange") {
    val words = skewed.select(explode(split(trim($"text"), "\\s+")).as("w"))
    val counts = words.groupBy($"w").agg(count(lit(1)).as("n"))
    val plan = counts.queryExecution.executedPlan.toString
    // the partial phase must sit below the shuffle: map-side combine is
    // what turns a 50%-hot key from O(corpus) shuffle rows into O(tasks)
    assert(plan.contains("partial_count"),
      s"no map-side partial aggregation in:\n$plan")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    val partialIdx = plan.indexOf("partial_count")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      "partial aggregate must appear below (after, in plan text) the exchange")
    // and the values are right: "the" is exactly half the corpus
    val total = words.count()
    val hot = counts.filter($"w" === "the").select($"n").as[Long].head()
    assert(hot == total / 2, s"hot-word count $hot != ${total / 2}")
  }

  test("q56-shape df join under 50% skew: AQE on, skew join available, no quadratic plan") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "AQE must be on — it is the first line of defense for runtime skew")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true",
      "AQE skew-join split must be enabled")
    val grams = skewed
      .select($"doc_id", explode(graft.llm.Shingles.shingles($"text", 3)).as("g"))
      .select($"doc_id", xxhash64($"g").as("gh"))
    val gramDf = grams.groupBy($"gh").agg(count(lit(1)).as("df"))
    val joined = grams.join(gramDf, Seq("gh"))
      .groupBy($"doc_id")
      .agg(sum(when($"df" >= 3, 1L).otherwise(0L)).as("n_comunes"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"skewed df join degraded to a quadratic plan:\n$plan")
    // correctness under skew: every doc shares its common grams
    assert(joined.count() == 400)
  }
}
