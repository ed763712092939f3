package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.llm.Shingles

/** Training-data-pipeline wave (SURVEY §2 B, rows 34–36): the corpus ops a
  * 100 TB pretraining build runs beyond dedup — benchmark decontamination,
  * repetition-based quality signals, and token-budget sampling. */
object TrainingQueries {

  // ---------------------------------------------------------------- q34
  /** Benchmark decontamination: flag corpus documents sharing any word
    * 8-gram with a held-out benchmark set (the standard n-gram-collision
    * test-set contamination check used for LLM pretraining corpora).
    *
    * Here the "benchmark" is the deterministic slice doc_id % 50 == 0 and
    * the corpus is the rest. The join is keyed on xxhash64(shingle) — an
    * 8-byte shuffle key instead of the shingle string, the shape that
    * matters when the corpus side is 100 TB; the benchmark side is tiny
    * and broadcastable. Collision risk ~n²/2^65 only affects the count,
    * not the flag, and is zero on this corpus (oracle-verified). */
  def q34Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // The catalog RUNS the bloom-prefiltered scale path (llm/
    // BloomDecontaminate): the benchmark bloom drops the bulk of the
    // corpus gram stream inside whole-stage codegen before any exchange,
    // and the exact broadcast join removes false positives — bit-identical
    // to the exact form below (BloomSpec pins the equality), so the gate
    // value-checks the bloom machinery end to end. The filter build is one
    // bounded aggregation job before the main plan (the documented
    // two-phase pattern, like the IVF centroid build).
    val d = Tables.documents(spark, dir)
    graft.llm.BloomDecontaminate.flag(
      corpus = d.filter(col("doc_id") % 50 =!= 0),
      bench = d.filter(col("doc_id") % 50 === 0), k = 8)
  }

  /** Plain exact-join form of q34 — the audit/spec twin of the bloom
    * path the catalog runs. */
  def q34ExactForm(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    def grams(df: DataFrame) = df
      .select(col("doc_id"), explode(Shingles.shingles(col("text"), 8)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
    val bench = grams(d.filter(col("doc_id") % 50 === 0))
      .select(col("gh")).distinct()
    val corpus = d.filter(col("doc_id") % 50 =!= 0)
    val hits = grams(corpus)
      .join(broadcast(bench), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_colisiones"))
    corpus.select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_colisiones"))
      .withColumn("contaminado",
        when(col("n_colisiones") > 0, lit(1)).otherwise(lit(0)).cast(IntegerType))
  }

  val q34Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 8, 0) + 2),
      |    i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+7], ' '))) AS sh
      |  FROM documents),
      |bench AS (
      |  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0),
      |hits AS (
      |  SELECT s.doc_id, count(DISTINCT g) AS n_colisiones
      |  FROM (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 <> 0) s
      |  JOIN bench USING (g) GROUP BY s.doc_id)
      |SELECT d.doc_id, d.source, coalesce(h.n_colisiones, 0) AS n_colisiones,
      |  CAST(CASE WHEN coalesce(h.n_colisiones, 0) > 0 THEN 1 ELSE 0 END AS INTEGER) AS contaminado
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id % 50 <> 0""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Repetition quality signals (Gopher-rule style): fraction of the
    * document taken by its single most frequent word, and the duplicate
    * word-2-gram fraction. A pure map stage — the top-word count runs in
    * the max_word_freq codegen kernel (one bounded pass per document), so
    * the whole quality scan is ZERO-shuffle at any corpus size (vs the
    * naive explode → groupBy → max → join, which shuffles twice). */
  def q35Repetition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val nWords = size(Shingles.words(col("text")))
    d.select(col("doc_id"),
        nWords.cast(IntegerType).as("n_palabras"),
        (call_function("max_word_freq", col("text")).cast("double") / nWords)
          .as("frac_top_palabra"),
        (lit(1.0) - size(Shingles.shingles(col("text"), 2)).cast("double")
          / greatest(nWords - 1, lit(1))).as("frac_bigrams_dup"))
  }

  val q35Sql: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 2, 0) + 2),
      |      i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+1], ' '))) AS bg
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, max(c) AS max_word_freq FROM (
      |    SELECT doc_id, word, count(*) AS c FROM (
      |      SELECT doc_id, unnest(ws) AS word FROM w)
      |    GROUP BY doc_id, word)
      |  GROUP BY doc_id)
      |SELECT w.doc_id, CAST(len(w.ws) AS INTEGER) AS n_palabras,
      |  CAST(tf.max_word_freq AS DOUBLE) / len(w.ws) AS frac_top_palabra,
      |  1.0 - CAST(len(w.bg) AS DOUBLE) / greatest(len(w.ws) - 1, 1) AS frac_bigrams_dup
      |FROM w JOIN tf USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Token-budget sampling: per source, admit documents in a deterministic
    * hash order until the source's running token total passes the budget
    * (every source contributes ~budget tokens — the mixture-balancing step
    * of a pretraining data build). One shuffle on source; the window
    * cumsum is the only stateful op. */
  def q36TokenBudget(spark: SparkSession, dir: String,
                     budget: Long = 2000L): DataFrame = {
    val d = Tables.documents(spark, dir)
    // md5-of-id ordering: deterministic pseudo-random, identical in DuckDB
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.select(col("doc_id"), col("source"),
        size(Shingles.words(col("text"))).cast("long").as("tokens"))
      .withColumn("tokens_acum", sum(col("tokens")).over(w))
      // a document is admitted if it STARTS inside the budget
      .filter(col("tokens_acum") - col("tokens") < budget)
  }

  val q36Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
      |  FROM documents),
      |c AS (
      |  -- CAST: DuckDB windowed sum(BIGINT) returns HUGEINT, which the
      |  -- driver's hasher canonicalizes differently from Spark's LongType.
      |  SELECT *, CAST(sum(tokens) OVER (PARTITION BY source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tokens_acum
      |  FROM t)
      |SELECT doc_id, source, tokens, tokens_acum FROM c
      |WHERE tokens_acum - tokens < 2000""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Training-sequence packing: assign documents to fixed-token-budget
    * sequences (the context-window packing step that turns a curated
    * corpus into training rows). Per source, documents take a
    * deterministic pseudo-random order and each lands in the sequence its
    * running-token offset starts in — the streaming-friendly running-sum
    * approximation of greedy bin packing (no sequential dependency beyond
    * the window cumsum, so it scales as one shuffle + one window pass;
    * true first-fit-decreasing is inherently sequential per bin). */
  def q46SequencePack(spark: SparkSession, dir: String,
                      seqTokens: Long = 1024L): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.select(col("doc_id"), col("source"),
        size(Shingles.words(col("text"))).cast("long").as("tokens"))
      .withColumn("tokens_acum", sum(col("tokens")).over(w))
      .withColumn("secuencia",
        expr(s"(tokens_acum - tokens) div $seqTokens").cast(IntegerType))
      .withColumn("offset_seq",
        (col("tokens_acum") - col("tokens")) % seqTokens)
  }

  val q46Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
      |  FROM documents),
      |c AS (
      |  SELECT *, CAST(sum(tokens) OVER (PARTITION BY source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tokens_acum
      |  FROM t)
      |SELECT doc_id, source, tokens, tokens_acum,
      |  CAST((tokens_acum - tokens) // 1024 AS INTEGER) AS secuencia,
      |  CAST((tokens_acum - tokens) % 1024 AS BIGINT) AS offset_seq
      |FROM c""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Per-source quality gate: keep each source's top 80% of documents by
    * the q16 quality score (rank-based cutoff, NOT a global threshold —
    * per-source quantile gating is how mixture builds avoid one noisy
    * source flooding the filter). The cutoff is exact integer arithmetic
    * (ceil(0.8·n) via (8n+9) div 10) over two window functions sharing
    * one source partitioning — a single shuffle at any corpus size. */
  def q47QualityGate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val calidad = graft.llm.TextAnalysis.qualityScore(col("text"))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("calidad").desc, col("doc_id"))
    val wAll = Window.partitionBy(col("source"))
    d.select(col("doc_id"), col("source"), calidad.as("calidad"))
      .withColumn("rango", row_number().over(wRank).cast(IntegerType))
      .withColumn("n_fuente", count(lit(1)).over(wAll).cast(IntegerType))
      .filter(col("rango") <= expr("(8 * n_fuente + 9) div 10"))
  }

  private val q47SwPat =
    "\\b(" + graft.llm.TextAnalysis.EnglishStopwords.mkString("|") + ")\\b"

  val q47Sql: String =
    s"""WITH m AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '$q47SwPat')) AS DOUBLE) AS n_stop,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_palabras,
      |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS n_punt,
      |    CAST(length(text) AS DOUBLE) AS n_chars
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, source,
      |    (n_stop / n_palabras) * 0.5 + (1.0 - n_punt / n_chars) * 0.3
      |      + least(n_palabras / 200.0, 1.0) * 0.2 AS calidad
      |  FROM m),
      |r AS (
      |  SELECT *,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY calidad DESC, doc_id) AS INTEGER) AS rango,
      |    CAST(count(*) OVER (PARTITION BY source) AS INTEGER) AS n_fuente
      |  FROM s)
      |SELECT doc_id, source, calidad, rango, n_fuente FROM r
      |WHERE rango <= (8 * n_fuente + 9) // 10""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Deterministic train/validation split: a document's partition is a
    * pure function of its id (first md5 hex nibble = '0' → val, ~6.25%),
    * so the split is reproducible across runs, clusters, and engines —
    * no sampling state, no seed coordination, and membership can be
    * recomputed from the id alone (the property eval-set bookkeeping
    * actually needs). Zero-shuffle map stage. */
  def q49TrainSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"), col("source"),
      size(Shingles.words(col("text"))).cast("long").as("tokens"),
      when(substring(md5(col("doc_id").cast("string")), 1, 1) === "0", "val")
        .otherwise("train").as("particion"))
  }

  val q49Sql: String =
    """SELECT doc_id, source,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
      |    THEN 'val' ELSE 'train' END AS particion
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- maps
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_decontaminate" -> (q34Decontaminate _),
    "q35_repetition"    -> (q35Repetition _),
    "q36_token_budget"  -> ((s, d) => q36TokenBudget(s, d)),
    "q46_sequence_pack" -> ((s, d) => q46SequencePack(s, d)),
    "q47_quality_gate"  -> (q47QualityGate _),
    "q49_train_split"   -> (q49TrainSplit _))

  val oracles: Map[String, String] = Map(
    "q34_decontaminate" -> q34Sql,
    "q35_repetition"    -> q35Sql,
    "q36_token_budget"  -> q36Sql,
    "q46_sequence_pack" -> q46Sql,
    "q47_quality_gate"  -> q47Sql,
    "q49_train_split"   -> q49Sql)
}
