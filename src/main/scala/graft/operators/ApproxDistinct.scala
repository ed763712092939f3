package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}

/** HyperLogLog approximate distinct counting — the sketch path next to
  * the exact ones (`bitmap_distinct` for dense ordinal domains, plain
  * count(DISTINCT) when the key exchange is affordable; reference
  * analog: the `.distinct()` metric/lookup stages, e.g.
  * m_clasificacion_cliente.py:107-109, which at reference scale lean on
  * the warehouse — at 100 TB an exact distinct over an unbounded key
  * domain shuffles the whole domain, and cardinality-only consumers
  * don't need that).
  *
  * Scale shape: ONE pass, `hll_registers` (functions/HllRegisters) is a
  * mergeable 2^p-byte buffer per (group, partition) — map-side combine
  * reduces the exchange to one small array per group per partition;
  * no key-domain shuffle exists in the plan at any input size. Fixed
  * relative error ~1.04/√(2^p) (p=9 → ~4.6%).
  *
  * Exactness of the ESTIMATE (not just the registers): every derived
  * value is computed without order-dependent float accumulation, so the
  * DuckDB oracle reproduces it bit-for-bit —
  *  - the harmonic denominator is kept as the EXACT integer
  *    S = Σ_j 2^(Q+1−M_j) (Q = 64−p; each term ≤ 2^(Q+1) fits a long,
  *    the sum fits DECIMAL(38,0)/HUGEINT), then ONE correctly-rounded
  *    cast to double;
  *  - the raw estimate α·m²·2^(Q+1)/S is a fixed left-to-right chain of
  *    correctly-rounded double ops on identical literals;
  *  - the small-range branch (linear counting m·ln(m/V), taken only
  *    when est ≤ 2.5m AND V>0) is the lone libm call — last-ulp
  *    portable in practice and UNTAKEN on any input whose cardinality
  *    exceeds 2.5m, which is the regime the sketch exists for.
  * The 32-bit collision-regime correction does not apply: the hash is
  * 64-bit (md5-low64, DuckDB md5_number_lower). */
object ApproxDistinct {
  /** md5-low64 of a string column — the cross-engine portable hash. */
  def md5Low64(c: Column): Column = call_function("md5_low64", c)

  /** HLL register array (ARRAY<INT>, length 2^p) over a LONG hash. */
  def registers(hash: Column, p: Int): Column =
    call_function("hll_registers", hash, lit(p))

  /** Merge PERSISTED sketch rows (register arrays) by register-wise
    * max — the sketch-table rollup: store one register array per (day,
    * dim) and answer any window by merging sketches, never rescanning
    * raw data. merge-of-sketches == sketch-of-union EXACTLY (same
    * monoid), spec-pinned. */
  def mergeRegisters(regs: Column, p: Int): Column =
    call_function("hll_merge", regs, lit(p))

  /** v_zero: number of empty registers. */
  def vZero(regs: Column): Column =
    size(filter(regs, r => r === lit(0))).cast(IntegerType)

  /** Exact scaled harmonic denominator S = Σ 2^(Q+1−M_j), as a DOUBLE
    * produced by one correctly-rounded cast of the exact integer sum. */
  def sScaled(regs: Column, p: Int): Column = {
    val q1 = 64 - p + 1
    aggregate(regs, lit(0).cast(DecimalType(38, 0)),
      (acc, r) => acc + pow(lit(2.0), lit(q1) - r).cast(DecimalType(38, 0)))
      .cast(DoubleType)
  }

  /** The corrected estimate from (sScaled, vZero) — see object doc. */
  def estimate(sScaledDbl: Column, vZeroCol: Column, p: Int): Column = {
    val m = 1 << p
    val md = m.toDouble
    val twoQ1 = java.lang.Math.scalb(1.0, 64 - p + 1) // 2^(Q+1), exact
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(md))
    val raw = alpha * lit(md) * lit(md) * lit(twoQ1) / sScaledDbl
    when(raw <= lit(2.5 * md) && vZeroCol > 0,
      lit(md) * log(lit(md) / vZeroCol.cast(DoubleType)))
      .otherwise(raw)
  }

  /** Estimated distinct `valueCol` (a string) per group: one pass, one
    * register-array exchange. Output: (groupCols..., v_zero, s_scaled,
    * est_distinct). */
  def estimateByGroup(df: DataFrame, groupCols: Seq[String],
                      valueCol: String, p: Int): DataFrame = {
    val regs = df.groupBy(groupCols.map(col): _*)
      .agg(registers(md5Low64(col(valueCol)), p).as("__regs"))
    regs.select(groupCols.map(col) :+
        vZero(col("__regs")).as("v_zero") :+
        sScaled(col("__regs"), p).as("s_scaled"): _*)
      .withColumn("est_distinct",
        estimate(col("s_scaled"), col("v_zero"), p))
  }
}
