package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** EXACT heavy hitters in two bounded passes — every item whose frequency
  * strictly exceeds n/(k+1), with its exact count.
  *
  * The naive form (q33's vocabulary shape) shuffles the FULL item stream
  * to count it: at 100 TB the vocabulary exchange dominates the job even
  * though the answer is ≤ k rows. This operator never shuffles the
  * stream:
  *
  *   pass 1: a Misra–Gries summary ([[graft.functions.MgCandidates]],
  *     k counters, mergeable) — map-side O(k) state, the exchange carries
  *     ≤ k (string, count) pairs per partition. By the MG bound the
  *     summary is a guaranteed SUPERSET of every item with frequency
  *     > n/(k+1), and it also yields the exact n.
  *   pass 2: exact counts of the ≤ k candidates only — the stream is
  *     filtered by an InSet of candidates BEFORE the exchange, so the
  *     groupBy shuffles ≤ k distinct keys (map-side partials make that
  *     ≤ k rows per partition), then the exact threshold
  *     count·(k+1) > n cuts the superset down to the exact answer.
  *
  * Total: two scans, both exchanges bounded by k — the 100 TB shape.
  * Threshold arithmetic is pure integer (count·(k+1) > n), so any SQL
  * oracle agrees bit-exactly. At most k items can exceed n/(k+1)
  * (k+1 of them would sum past n), so the result is ≤ k rows.
  *
  * Candidate-set determinism: the MG SET may vary with partitioning (it
  * is a superset, not canonical) — correctness never depends on it, only
  * the exact-counted, threshold-filtered result is surfaced.
  *
  * DETERMINISTIC-INPUT CONTRACT: the two passes scan `items` twice and
  * the superset guarantee (and n) only hold if both scans produce the
  * same multiset — the same contract every multi-pass operator here
  * carries (ExactQuantile's histogram levels, DupSpans' candidate
  * re-read). A non-deterministic source (rand()-derived columns,
  * unseeded sampling, a table mutated between passes) voids the
  * guarantee silently; snapshot such inputs first (the TxnTable
  * pattern) or persist() them for the call's duration. */
object HeavyHitters {

  /** Items (and exact counts) with frequency·(k+1) > n over `itemCol`
    * (StringType; nulls ignored). Output: (itemCol, frecuencia),
    * frequency desc then item asc. */
  def exact(items: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = items.sparkSession
    val summary = items
      .agg(expr(s"mg_candidates($itemCol, $k)").as("s"))
      .select(col("s.n").as("n"), col("s.candidates").as("candidates"))
      .head()
    val n = summary.getLong(0)
    val candidates = summary.getSeq[String](1)
    if (candidates.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(itemCol,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("frecuencia",
            org.apache.spark.sql.types.LongType, nullable = false))))
    items
      .filter(col(itemCol).isin(candidates: _*))
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("frecuencia"))
      .filter(col("frecuencia") * lit(k + 1L) > lit(n))
      .orderBy(col("frecuencia").desc, col(itemCol).asc)
      .limit(k) // ≤ k rows by the threshold math — pins TakeOrdered
  }

  /** PER-GROUP exact heavy hitters — for every group, the items whose
    * in-group frequency·(k+1) exceeds the GROUP's n, with exact counts
    * (q67's top-terms-per-source shape, with q89's guarantees).
    *
    * Same two bounded passes, keyed by group:
    *
    *   pass 1: mg_candidates under groupBy(group) — the exchange carries
    *     ≤ k (item, count) pairs per (partition, group); the collected
    *     summaries are ≤ |groups| × k rows of driver state (the DimLookup
    *     capped-build contract, guarded by `maxGroups`). Per the MG merge
    *     law each group's candidate array is a guaranteed superset of
    *     that group's answer, and carries the exact per-group n.
    *   pass 2: the stream is semi-joined against the broadcast
    *     (group, item) candidate table BEFORE the exchange — the groupBy
    *     shuffles ≤ |groups| × k distinct keys — then exact counts meet
    *     the per-group integer threshold count·(k+1) > n_g.
    *
    * The per-group candidate SET may vary with partitioning (superset,
    * not canonical — same contract as [[exact]]); the thresholded result
    * may not, and is ≤ k rows per group by the counting argument. Rows
    * with a null group or null item are ignored. Inherits [[exact]]'s
    * deterministic-input contract (two scans). Output:
    * (groupCol, itemCol, frecuencia), ordered group asc, frequency desc,
    * item asc. */
  def exactPerGroup(items: DataFrame, groupCol: String, itemCol: String,
                    k: Int, maxGroups: Int = 65536): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = items.sparkSession
    val gField = items.schema(groupCol)
    val base = items.select(col(groupCol).as("g"), col(itemCol).as("item"))
      .filter(col("g").isNotNull && col("item").isNotNull)
    val summaries = base.groupBy(col("g"))
      .agg(expr(s"mg_candidates(item, $k)").as("s"))
      .select(col("g"), col("s.n").as("n"), col("s.candidates").as("c"))
      .collect()
    require(summaries.length <= maxGroups,
      s"${summaries.length} groups exceed maxGroups=$maxGroups — a " +
        "high-cardinality grouped top-k belongs in the window form")
    val outSchema = StructType(Seq(
      gField.copy(name = groupCol),
      StructField(itemCol, StringType),
      StructField("frecuencia", LongType, nullable = false)))
    val candRows = summaries.flatMap(r =>
      r.getSeq[String](2).map(item => Row(r.get(0), item)))
    if (candRows.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)
    val candSchema = StructType(Seq(
      gField.copy(name = "cg"), StructField("citem", StringType)))
    val cands = spark.createDataFrame(
      spark.sparkContext.parallelize(candRows.toSeq, 1), candSchema)
    val nSchema = StructType(Seq(
      gField.copy(name = "ng"), StructField("gn", LongType, nullable = false)))
    val ns = spark.createDataFrame(
      spark.sparkContext.parallelize(
        summaries.map(r => Row(r.get(0), r.getLong(1))).toSeq, 1), nSchema)
    base
      .join(broadcast(cands),
        col("g") === col("cg") && col("item") === col("citem"), "left_semi")
      .groupBy(col("g"), col("item"))
      .agg(count(lit(1)).as("frecuencia"))
      .join(broadcast(ns), col("g") === col("ng"))
      .filter(col("frecuencia") * lit(k + 1L) > col("gn"))
      .select(col("g").as(groupCol), col("item").as(itemCol),
        col("frecuencia"))
      .orderBy(col(groupCol).asc, col("frecuencia").desc, col(itemCol).asc)
  }
}
