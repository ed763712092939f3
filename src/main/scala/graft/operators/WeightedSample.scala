package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic weighted sampling without replacement, per group
  * (SURVEY §2 row 81) — Priority Sampling (Duffield, Lund, Thorup,
  * JACM 2007): each item draws a uniform u from a hash of its id and gets
  * priority q = w / u; the sample is the k items with the LARGEST
  * priorities. Inclusion probability is proportional to weight (exactly
  * the Efraimidis–Spirakis u^(1/w) order, reparameterized), and the
  * estimator family over the sample is unbiased for arbitrary subset sums.
  *
  * Why this exact formulation:
  *  - DETERMINISTIC: u comes from integer hash arithmetic on the item id,
  *    not rand() — the sample is a pure function of the data, stable
  *    across retries, speculative tasks and repartitioning (the
  *    BottomKSample property, with weights).
  *  - ORACLE-EXACT: u's numerator is (id·2654435761 mod 2^32) + 1 in
  *    overflow-free split-multiply integer math (every partial product
  *    < 2^49 — see [[hashNumerator]]), then the priority is two IEEE-754
  *    correctly-rounded double ops — any engine computing the same
  *    formula gets bit-identical priorities AT ANY id SCALE, so the
  *    selected set value-checks across engines (a pow()/ln() scheme
  *    would be at the mercy of each libm's last ulp).
  *  - BOUNDED STATE: selection runs on the `top_k_double` aggregate
  *    (graft.functions.TopKByDouble) — O(k) state per group, merged
  *    map-side, so the shuffle carries at most k (priority, id) pairs per
  *    (group, partition) instead of the whole corpus that a window-rank
  *    formulation would move.
  *
  * Reference analog: the per-source "take N examples" curation stage (the
  * deterministic-sample job family); this is its weight-aware upgrade —
  * sample probability follows document length/quality instead of being
  * uniform.
  */
object WeightedSample {
  /** Knuth multiplicative-hash constant; u lands in (0, 1]. */
  final val HashMul = 2654435761L
  final val HashMod = 4294967296L // 2^32
  /** (HashMul << 16) mod 2^32 — the high-half partial product's factor. */
  final val HashMulHi = (HashMul << 16) & 0xFFFFFFFFL // 2041643008

  /** The deterministic uniform's integer numerator: hash(id) in [1, 2^32].
    *
    * (id·M) mod 2^32 computed OVERFLOW-FREE: the naive `id * M` product
    * leaves the Long range for id ≥ 2^63/M ≈ 3.47e9 — Spark (non-ANSI)
    * silently wraps mod 2^64 (which happens to preserve the mod-2^32
    * residue), but an oracle engine computing the same literal formula in
    * BIGINT raises on overflow, so the bit-portability claim would only
    * hold for small ids. Splitting a = id mod 2^32 into 16-bit halves
    * keeps every partial product under 2^49:
    *   a·M ≡ lo·M + hi·(M·2^16 mod 2^32)  (mod 2^32).
    * Identical values to the wrapped product at every id. */
  def hashNumerator(id: Column): Column = {
    val a = pmod(id, lit(HashMod))
    val lo = a.bitwiseAND(lit(0xFFFFL))
    val hi = shiftright(a, 16)
    pmod(lo * lit(HashMul) + hi * lit(HashMulHi), lit(HashMod)) + 1
  }

  /** Priority q = w / u = (w * 2^32) / numerator — two correctly-rounded
    * double ops over exact integers; bit-portable across engines. */
  def priority(weight: Column, id: Column): Column =
    (weight.cast("double") * lit(HashMod.toDouble)) /
      hashNumerator(id).cast("double")

  /** Top-k by priority per group. Output: one row per kept item —
    * (groupCols..., rk, id, priority), rk 1-based best-first; ties on
    * priority break by id ascending (inherited from top_k_double). */
  def perGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
               weightCol: String, k: Int): DataFrame = {
    val scored = df.select(
      groupCols.map(col) :+ col(idCol).cast("long").as("__id") :+
        priority(col(weightCol), col(idCol).cast("long")).as("__q"): _*)
    scored.groupBy(groupCols.map(col): _*)
      .agg(call_function("top_k_double", col("__q"), col("__id"), lit(k))
        .as("__top"))
      .select(groupCols.map(col) :+
        posexplode(col("__top")).as(Seq("__i", "__e")): _*)
      .select(groupCols.map(col) :+
        (col("__i") + 1).as("rk") :+
        col("__e.payload").as(idCol) :+
        col("__e.score").as("priority"): _*)
  }
}
