package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import graft.core.Tables
import graft.llm._
import graft.operators.TopN

/** LLM-pipeline wave (SURVEY.md §2 B, rows 15–26): corpus dedup, text
  * analysis, similarity search, multimodal plumbing over documents /
  * embeddings. */
object LLMQueries {

  // ---------------------------------------------------------------- q15
  def q15DedupExact(spark: SparkSession, dir: String): DataFrame =
    ExactDedup.summary(Tables.documents(spark, dir), "text", "doc_id")

  val q15Sql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS n_copias
      |FROM documents GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q16
  def q16TextQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val t = col("text")
    d.select(
      col("doc_id"),
      TextAnalysis.wordCount(t).as("n_palabras"),
      TextAnalysis.punctCount(t).as("n_puntuacion"),
      (TextAnalysis.markerCount(t, TextAnalysis.EnglishStopwords).cast(DoubleType) /
        TextAnalysis.wordCount(t).cast(DoubleType)).as("ratio_stopwords"),
      TextAnalysis.qualityScore(t).as("calidad"))
      .withColumn("es_alta_calidad",
        when(col("calidad") >= 0.5, lit(1)).otherwise(lit(0)).cast(IntegerType))
  }

  private val swPat = "\\b(" + TextAnalysis.EnglishStopwords.mkString("|") + ")\\b"

  val q16Sql: String =
    s"""WITH m AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_palabras,
      |    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS INTEGER) AS n_puntuacion,
      |    CAST(len(regexp_extract_all(text, '$swPat')) AS INTEGER) AS n_stop,
      |    CAST(length(text) AS INTEGER) AS n_chars
      |  FROM documents)
      |SELECT doc_id, n_palabras, n_puntuacion,
      |  CAST(n_stop AS DOUBLE) / CAST(n_palabras AS DOUBLE) AS ratio_stopwords,
      |  (CAST(n_stop AS DOUBLE) / n_palabras) * 0.5
      |    + (1.0 - CAST(n_puntuacion AS DOUBLE) / n_chars) * 0.3
      |    + least(CAST(n_palabras AS DOUBLE) / 200.0, 1.0) * 0.2 AS calidad,
      |  CAST(CASE WHEN (CAST(n_stop AS DOUBLE) / n_palabras) * 0.5
      |    + (1.0 - CAST(n_puntuacion AS DOUBLE) / n_chars) * 0.3
      |    + least(CAST(n_palabras AS DOUBLE) / 200.0, 1.0) * 0.2 >= 0.5
      |    THEN 1 ELSE 0 END AS INTEGER) AS es_alta_calidad
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q17
  def q17TokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val t = col("text")
    d.select(col("doc_id"),
      TextAnalysis.wsTokens(t).as("tokens_ws"),
      TextAnalysis.reTokens(t).as("tokens_re"),
      TextAnalysis.bpeEstimate(t).as("tokens_bpe"))
  }

  val q17Sql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS tokens_ws,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS tokens_re,
      |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS INTEGER) AS tokens_bpe
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- q18
  def q18LangId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val t = col("text")
    val scoreCols = TextAnalysis.langScores(t).map { case (l, c) => c.as(s"s_$l") }
    d.select((Seq(col("doc_id"), col("lang").as("lang_declarado")) ++ scoreCols
      :+ TextAnalysis.predictLang(t).as("lang_pred")): _*)
  }

  val q18Sql: String = {
    val scores = TextAnalysis.LangMarkers.map { case (l, ws) =>
      s"CAST(len(regexp_extract_all(text, '\\b(${ws.mkString("|")})\\b')) AS INTEGER) AS s_$l"
    }.mkString(",\n    ")
    val langs = TextAnalysis.LangMarkers.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(l2 => s"s_$l >= s_$l2").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n    ")
    s"""WITH m AS (
      |  SELECT doc_id, lang AS lang_declarado,
      |    $scores
      |  FROM documents)
      |SELECT doc_id, lang_declarado, s_en, s_es, s_fr, s_de, s_zh,
      |  CASE $cases ELSE '${langs.last}' END AS lang_pred
      |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------- q19
  /** MinHash LSH dedup, full pipeline: signature → banded buckets →
    * candidate pairs → exact 5-gram-Jaccard VERIFY (>= 0.8) → per-doc
    * duplicate count + best score. The verify stage makes the output
    * oracle-checkable: DuckDB computes the same >= 0.8 set by brute-force
    * all-pairs Jaccard (feasible at oracle scale), while the Spark side
    * only ever scores within LSH buckets — at 16 bands x 4 rows the
    * collision probability at j=0.8 is 1-(1-0.8^4)^16 ≈ 0.9998 per pair,
    * and on this corpus the near-dup pairs sit at j≈0.99 where missing a
    * pair is a ~1e-7 event; the hash family is deterministic, so the
    * result is reproducible, not flaky. When a bucket exceeds the
    * BoundedPairs cap (a family of hundreds of near-identical docs —
    * the factor-300 sweep's regime), pair generation degrades to the
    * signature-ordered chain: equal-signature docs stay contiguous, so
    * the O(m) chain links still verify at j=1 and per-doc pair COUNTS
    * drop to the chain degree while CONNECTIVITY (q38's contract) is
    * preserved; at sf0.01/sf0.1 no near-dup bucket reaches the cap and
    * the output is the exact >= 0.8 pair set. */
  /** Jaccard-verified near-dup pair set (id_a < id_b, j >= minJ) — the
    * edge list q19 reports per-document and q38 resolves into dedup
    * components. */
  def verifiedPairs(spark: SparkSession, dir: String, minJ: Double = 0.8): DataFrame = {
    val d = Tables.documents(spark, dir)
    // verify on 8-byte shingle HASHES, not strings: the verify join
    // carries both sets on every candidate row, and ~30 B strings vs 8 B
    // longs is the difference between a 9 GB and a 300 MB pair shuffle
    // per million candidates (the factor-300 sweep OOM'd the string
    // form). Set sizes and jaccard are unchanged modulo xxhash64
    // collisions (~n²/2^64 per doc — zero at any real shingle count).
    val sh5 = d.select(col("doc_id"), Shingles.shingleHashes(col("text"), 5).as("sh"))
    val sig = d.select(col("doc_id"),
      MinHashLSH.signature(col("text"), k = 5, numHashes = 64).as("sig"))
    // sig_order: 8-byte hash of the FULL signature — identical documents
    // (identical signatures) chain adjacently inside oversized buckets,
    // so their links verify at j=1 whatever interleaves them by id
    val banded = MinHashLSH.bands(sig, "sig", numBands = 16, rowsPerBand = 4)
      .select(col("doc_id"), xxhash64(col("sig")).as("sig_order"),
        col("band_idx"), col("band_hash"))
    val pairs = MinHashLSH.candidatePairs(banded, "doc_id",
      chainOrder = Seq(col("sig_order")))
    pairs
      .join(sh5.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh5.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("j", NgramJaccard.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= minJ)
      .select("id_a", "id_b", "j")
  }

  def q19MinhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val sh5 = d.select(col("doc_id"), Shingles.shingles(col("text"), 5).as("sh"))
    val verified = verifiedPairs(spark, dir)
    // explode both endpoints from ONE pass over the pair set — a
    // self-union here would plan (and at 100 TB pay for) the whole
    // band/verify pipeline twice
    val partners = verified
      .select(explode(array(
        struct(col("id_a").as("doc_id"), col("j")),
        struct(col("id_b").as("doc_id"), col("j")))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.j").as("j"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dups"), max(col("j")).as("max_jaccard"))
    sh5.select(col("doc_id"), size(col("sh")).cast(IntegerType).as("n_shingles"))
      .join(partners, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dups")).na.fill(0.0, Seq("max_jaccard"))
  }

  /** Shared oracle CTE chain ending in `v` = the Jaccard-verified pair
    * set (exact all-pairs via inverted-index candidates) — used by the
    * q19 per-document report and the q38 component resolution. */
  private val nearDupPairCtes: String =
    """sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 5, 0) + 2),
      |    i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+4], ' '))) AS sh
      |  FROM documents),
      |inv AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      |cand AS (
      |  -- pairs sharing zero shingles have jaccard 0 and cannot verify;
      |  -- the inverted-index join keeps the oracle exact but near-linear
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM inv a JOIN inv b USING (g) WHERE a.doc_id < b.doc_id),
      |scored AS (
      |  SELECT c.id_a, c.id_b,
      |    CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) = 0 THEN 0.0
      |         ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |              / len(list_distinct(list_concat(sa.sh, sb.sh))) END AS j
      |  FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.id_a
      |  JOIN sh sb ON sb.doc_id = c.id_b),
      |v AS (SELECT * FROM scored WHERE j >= 0.8)""".stripMargin

  val q19Sql: String =
    s"""WITH $nearDupPairCtes,
      |partners AS (
      |  SELECT doc_id, count(*) AS n_dups, max(j) AS max_jaccard FROM (
      |    SELECT id_a AS doc_id, j FROM v UNION ALL SELECT id_b AS doc_id, j FROM v)
      |  GROUP BY doc_id)
      |SELECT s.doc_id, CAST(len(s.sh) AS INTEGER) AS n_shingles,
      |  coalesce(p.n_dups, 0) AS n_dups, coalesce(p.max_jaccard, 0.0) AS max_jaccard
      |FROM sh s LEFT JOIN partners p USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- q20
  /** SimHash fingerprint + hamming-band candidates over the PORTABLE
    * md5-low64 word-hash family, so every emitted value — fingerprint,
    * bands, candidate counts — is reproducible in DuckDB
    * (md5_number_lower + HUGEINT bit arithmetic) and the query is fully
    * value-checked. The xxhash64-family simhash64 remains the raw-speed
    * variant for pipelines that don't need cross-engine verification. */
  def q20Simhash(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val fp = d.select(col("doc_id"), SimHash.simhash64Portable(col("text")).as("simhash"))
    val withBands = fp.select((col("doc_id") +: col("simhash") +:
      SimHash.bandColumns(col("simhash"), numBands = 4)): _*)
    val banded = withBands.selectExpr("doc_id", "simhash",
      "stack(4, 0, band_0, 1, band_1, 2, band_2, 3, band_3) as (band_idx, band_val)")
    // identical docs share the full simhash — chain-order by it so exact
    // dups stay contiguous (and thus connected) in oversized buckets
    val pairs = BoundedPairs.withinBuckets(
      banded, Seq("band_idx", "band_val"), "doc_id", maxBucket = 256,
      chainOrder = Seq(col("simhash")))
    // one pass over the pair set (a self-union would compute it twice)
    val partners = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_candidatos"))
    withBands.join(partners, Seq("doc_id"), "left").na.fill(0L, Seq("n_candidatos"))
      .withColumn("bits_activos", bit_count(col("simhash")))
  }

  val q20Sql: String = {
    val two64 = "18446744073709551616::HUGEINT"
    val fpTerms = (0 until 64).map { j =>
      val p = java.math.BigInteger.ONE.shiftLeft(j).toString
      s"CASE WHEN 2 * list_sum(list_transform(hs, h -> (h // $p::HUGEINT) % 2)) > n " +
        s"THEN $p::HUGEINT ELSE 0::HUGEINT END"
    }.mkString("\n      + ")
    s"""WITH w AS (
      |  SELECT doc_id,
      |    list_transform(regexp_split_to_array(trim(text), '\\s+'),
      |      x -> CAST(md5_number_lower(x) AS HUGEINT)) AS hs,
      |    len(regexp_split_to_array(trim(text), '\\s+')) AS n
      |  FROM documents),
      |fp AS (SELECT doc_id, ($fpTerms) AS fp_u FROM w),
      |sgn AS (
      |  SELECT doc_id,
      |    CASE WHEN fp_u >= 9223372036854775808::HUGEINT
      |         THEN CAST(fp_u - $two64 AS BIGINT) ELSE CAST(fp_u AS BIGINT) END AS simhash,
      |    CAST(fp_u % 65536 AS BIGINT) AS band_0,
      |    CAST((fp_u // 65536::HUGEINT) % 65536 AS BIGINT) AS band_1,
      |    CAST((fp_u // 4294967296::HUGEINT) % 65536 AS BIGINT) AS band_2,
      |    CAST((fp_u // 281474976710656::HUGEINT) % 65536 AS BIGINT) AS band_3
      |  FROM fp),
      |bands AS (
      |  SELECT doc_id, 0 AS band_idx, band_0 AS band_val FROM sgn
      |  UNION ALL SELECT doc_id, 1, band_1 FROM sgn
      |  UNION ALL SELECT doc_id, 2, band_2 FROM sgn
      |  UNION ALL SELECT doc_id, 3, band_3 FROM sgn),
      |sized AS (
      |  SELECT b.doc_id, b.band_idx, b.band_val, s.simhash,
      |    count(*) OVER (PARTITION BY b.band_idx, b.band_val) AS bn
      |  FROM bands b JOIN sgn s USING (doc_id)),
      |pairs AS (
      |  -- oversized buckets chain by (simhash, doc_id): identical docs
      |  -- stay contiguous (mirrors BoundedPairs chainOrder); pairs are
      |  -- normalized to (small, big) like the all-pairs branch
      |  SELECT DISTINCT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
      |  FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |    FROM sized a JOIN sized b USING (band_idx, band_val)
      |    WHERE a.bn <= 256 AND a.doc_id < b.doc_id
      |    UNION ALL
      |    SELECT doc_id AS id_a,
      |      lead(doc_id) OVER (PARTITION BY band_idx, band_val
      |        ORDER BY simhash, doc_id) AS id_b
      |    FROM sized WHERE bn > 256)
      |  WHERE id_b IS NOT NULL),
      |partners AS (
      |  SELECT doc_id, count(*) AS n_candidatos FROM (
      |    SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b AS doc_id FROM pairs)
      |  GROUP BY doc_id)
      |SELECT s.doc_id, s.simhash, s.band_0, s.band_1, s.band_2, s.band_3,
      |  coalesce(p.n_candidatos, 0) AS n_candidatos,
      |  CAST(bit_count(s.simhash) AS INTEGER) AS bits_activos
      |FROM sgn s LEFT JOIN partners p USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------- q21
  /** Exact word-3-gram Jaccard over adjacent doc pairs (the verify stage
    * that follows LSH candidate generation). */
  def q21NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val sh = d.select(col("doc_id"), Shingles.shingles(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        size(col("sh_a")).cast(IntegerType).as("n_shingles_a"),
        size(col("sh_b")).cast(IntegerType).as("n_shingles_b"),
        NgramJaccard.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  val q21Sql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 3, 0) + 2),
      |      i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' '))) AS sh
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(a.sh) AS INTEGER) AS n_shingles_a,
      |  CAST(len(b.sh) AS INTEGER) AS n_shingles_b,
      |  CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
      |       ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |            / len(list_distinct(list_concat(a.sh, b.sh))) END AS jaccard
      |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Brute-force cosine top-10 for the first five vectors as queries. */
  def q22AnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10)
  }

  private val dotSql =
    "list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private val normSql =
    "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  val q22Sql: String =
    s"""WITH n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
      |scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    $dotSql / (a.nrm * b.nrm) AS cosine
      |  FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id <> a.vec_id)
      |SELECT query_id, CAST(rango AS INTEGER) AS rango, neighbor_id, cosine FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS rango FROM scored)
      |WHERE rango <= 10""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Quantized ANN serving path, driver-gated: coarse int8 code scan
    * (4× less IO than float32 at serving scale) into bounded per-query
    * heaps, exact float rescore of the surviving candidates. The exact
    * rescore reproduces the brute-force ranking verbatim whenever the
    * true top-k survives the coarse cut — deterministic on fixed data,
    * and the oracle (the same exact top-k SQL as q22) verifies exactly
    * that end to end at every SF the gate runs. */
  def q63AnnQuantized(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.quantizedTopK(
      emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 10)
  }

  val q63Sql: String = q22Sql

  // ---------------------------------------------------------------- q23
  /** LSH-bucketed ANN scale path: sign-pattern buckets over the PORTABLE
    * md5-parity hyperplane family (weights are literal ±1 vectors resolved
    * at plan build; one float_dot per plane), so bucket ids and sizes are
    * fully value-checked against DuckDB. The xxhash64 lshBucket kernel
    * stays as the raw-speed variant. */
  def q23AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // vector dim from session conf — probing it with .head() here would
    // submit a Spark job at plan-build time on every invocation
    val dim = spark.conf.getOption("spark.graft.embedding.dim")
      .map(_.toInt).getOrElse(64)
    emb.select(col("vec_id"),
        Similarity.portableLshBucket(col("embedding"), dim, numPlanes = 8).as("bucket"))
      .withColumn("tam_bucket",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
  }

  val q23Sql: String = {
    val planeTerms = (0 until 8).map { p =>
      s"""CASE WHEN list_sum(list_transform(range(0, len(embedding)),
         |      d -> CAST(embedding[d + 1] AS DOUBLE) *
         |        (CASE WHEN md5_number_lower(concat('${p}_', CAST(d AS VARCHAR))) % 2 = 1
         |              THEN 1.0 ELSE -1.0 END))) >= 0
         |    THEN ${1L << p}::BIGINT ELSE 0::BIGINT END""".stripMargin
    }.mkString("\n    + ")
    s"""WITH b AS (
      |  SELECT vec_id,
      |    ($planeTerms) AS bucket
      |  FROM embeddings)
      |SELECT vec_id, bucket,
      |  count(*) OVER (PARTITION BY bucket) AS tam_bucket
      |FROM b""".stripMargin
  }

  // ---------------------------------------------------------------- q24
  /** Nearest neighbor per vector + near-dup flag (embedding dedup). All-pairs
    * exact NN via the grid self-join (Similarity.exactNN): no driver collect,
    * no corpus broadcast — the query side here IS the corpus, so the
    * bounded-query bruteForceTopK shape does not apply. */
  def q24EmbeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // the catalog runs the dense per-cell kernel (~5× the expression-form
    // throughput at sf0.1, bit-identical by spec); exactNN remains the
    // audit twin
    Similarity.exactNNDense(emb, "vec_id", "embedding")
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("nn_id"),
        col("cosine"),
        when(col("cosine") >= 0.95, lit(1)).otherwise(lit(0)).cast(IntegerType).as("es_duplicado"))
  }

  val q24Sql: String =
    s"""WITH n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
      |scored AS (
      |  SELECT a.vec_id, b.vec_id AS nn_id, $dotSql / (a.nrm * b.nrm) AS cosine
      |  FROM n a JOIN n b ON b.vec_id <> a.vec_id)
      |SELECT vec_id, nn_id, cosine,
      |  CAST(CASE WHEN cosine >= 0.95 THEN 1 ELSE 0 END AS INTEGER) AS es_duplicado
      |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
      |        ORDER BY cosine DESC, nn_id ASC) AS rn FROM scored)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Rolling-hash fingerprint via the native codegen expression
    * (graft.functions.RollingMinHashExpr). The oracle replays the same
    * Rabin-Karp polynomial mod 2^64 in DuckDB HUGEINT arithmetic (the
    * corpus is ASCII, so character positions are byte positions), then
    * converts the unsigned minimum to the JVM's signed-long ordering —
    * value-checked, not rows-only. */
  def q25Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "rolling_min_hash(text) AS huella",
        "CAST(greatest(length(text) - 16 + 1, 1) AS INT) AS n_ventanas")
  }

  val q25Sql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST(greatest(length(text) - 16 + 1, 1) AS INTEGER) AS n_ventanas,
      |    list_transform(range(1, greatest(length(text) - 16, 0) + 2),
      |      i -> list_reduce(
      |        list_transform(range(i, i + least(16, length(text))),
      |          j -> CAST(ord(text[j]) AS HUGEINT)),
      |        (acc, c) -> (acc * 1000003 + c) % 18446744073709551616::HUGEINT)) AS us
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(CASE WHEN len(list_filter(us, u -> u >= 9223372036854775808::HUGEINT)) > 0
      |    THEN list_min(list_filter(us, u -> u >= 9223372036854775808::HUGEINT))
      |         - 18446744073709551616::HUGEINT
      |    ELSE list_min(us) END AS BIGINT) AS huella,
      |  n_ventanas
      |FROM h""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Multimodal plumbing: binary payloads + digests + stubbed decode. */
  def q26MultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val bin = Multimodal.asBinary(col("text"))
    val (w, h, f) = Multimodal.decodeStub(bin)
    d.select(col("doc_id"),
      Multimodal.byteLength(bin).as("n_bytes"),
      Multimodal.contentSha(bin).as("content_sha"),
      w.as("ancho"), h.as("alto"), f.as("formato"))
  }

  val q26Sql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      |  sha256(text) AS content_sha,
      |  CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS ancho,
      |  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER) AS alto,
      |  CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'png'
      |       WHEN octet_length(encode(text)) % 3 = 1 THEN 'jpeg'
      |       ELSE 'webp' END AS formato
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- q65
  /** REAL multimodal decode through the gate: deterministic PNG / JPEG
    * (baseline SOF0 + progressive SOF2) / GIF / BMP binaries are
    * synthesized per doc_id (graft.llm.MediaSynth), then parsed back by
    * the header-only decoder (graft.llm.MediaHeaders) running inside the
    * batched mapPartitions plumbing. The oracle predicts the decoded
    * metadata from the same doc_id arithmetic — any parser defect (wrong
    * offset, endianness, marker-walk bug) diverges from the prediction
    * and fails the hash compare. Zero-shuffle map stage; O(header bytes)
    * per row, so the shape holds at any corpus size. */
  def q65MediaDecode(spark: SparkSession, dir: String): DataFrame = {
    val synthUdf = udf((id: Long) => MediaSynth.synth(id))
    val withBin = Tables.documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("payload", synthUdf(col("doc_id")))
    Multimodal.decodeBatches(withBin, "payload")()
      .select(col("doc_id"),
        octet_length(col("payload")).cast(IntegerType).as("n_bytes"),
        col("ancho"), col("alto"), col("formato"))
  }

  val q65Sql: String =
    """SELECT doc_id,
      |  CAST(CASE doc_id % 5 WHEN 0 THEN 33 WHEN 1 THEN 42 WHEN 2 THEN 42
      |       WHEN 3 THEN 13 ELSE 54 END AS INTEGER) AS n_bytes,
      |  CAST(1 + (doc_id * 13) % 1920 AS INTEGER) AS ancho,
      |  CAST(1 + (doc_id * 7) % 1080 AS INTEGER) AS alto,
      |  CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      |       WHEN 2 THEN 'jpeg' WHEN 3 THEN 'gif' ELSE 'bmp' END AS formato
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Audio/video header decode through the gate (round-9 verdict item 3):
    * deterministic WAV (RIFF fmt/data chunks) / MP3 (MPEG1 Layer III
    * first-frame header + CBR length estimate) / MP4 (ISO BMFF
    * ftyp/moov/mvhd/trak/tkhd walk) payloads are synthesized per doc_id
    * (graft.llm.MediaSynth.synthAv) and parsed back by the header-only
    * decoder (graft.llm.MediaHeaders.decodeAv) inside the batched
    * mapPartitions plumbing. The oracle re-derives sample rate, channels,
    * duration (integer-floor ms) and track dims from the same doc_id
    * arithmetic — wrong chunk offsets, endianness, fixed-point or
    * timescale math all diverge. Zero-shuffle map stage at any size. */
  def q78AvDecode(spark: SparkSession, dir: String): DataFrame = {
    val synthUdf = udf((id: Long) => MediaSynth.synthAv(id))
    val withBin = Tables.documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("payload", synthUdf(col("doc_id")))
    Multimodal.decodeAvBatches(withBin, "payload")()
      .select(col("doc_id"),
        octet_length(col("payload")).cast(IntegerType).as("n_bytes"),
        col("formato"), col("sample_rate"), col("canales"),
        col("dur_ms"), col("ancho"), col("alto"))
  }

  val q78Sql: String =
    """WITH f AS (
      |  SELECT doc_id, doc_id % 3 AS fmt, doc_id // 3 AS q,
      |    8000 * (1 + (doc_id // 3) % 4) AS wav_sr,
      |    1 + (doc_id // 3) % 2 AS wav_ch,
      |    800 + (doc_id * 11) % 40000 AS wav_samples,
      |    CASE (doc_id // 3) % 4 WHEN 0 THEN 128000 WHEN 1 THEN 192000
      |         WHEN 2 THEN 256000 ELSE 320000 END AS mp3_br,
      |    CASE (doc_id // 3) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
      |         ELSE 32000 END AS mp3_sr,
      |    CASE WHEN (doc_id // 3) % 2 = 0 THEN 2 ELSE 1 END AS mp3_ch,
      |    2 + (doc_id // 3) % 5 AS mp3_frames,
      |    CASE (doc_id // 3) % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
      |         ELSE 90000 END AS mp4_ts,
      |    1000 + (doc_id * 17) % 100000 AS mp4_units
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(CASE fmt WHEN 0 THEN 44
      |       WHEN 1 THEN mp3_frames * ((144 * mp3_br) // mp3_sr)
      |       ELSE 232 END AS INTEGER) AS n_bytes,
      |  CASE fmt WHEN 0 THEN 'wav' WHEN 1 THEN 'mp3' ELSE 'mp4' END AS formato,
      |  CAST(CASE fmt WHEN 0 THEN wav_sr WHEN 1 THEN mp3_sr ELSE 0 END AS INTEGER) AS sample_rate,
      |  CAST(CASE fmt WHEN 0 THEN wav_ch WHEN 1 THEN mp3_ch ELSE 0 END AS INTEGER) AS canales,
      |  CAST(CASE fmt WHEN 0 THEN (wav_samples * 1000) // wav_sr
      |       WHEN 1 THEN (mp3_frames * 1152 * 1000) // mp3_sr
      |       ELSE (mp4_units * 1000) // mp4_ts END AS BIGINT) AS dur_ms,
      |  CAST(CASE fmt WHEN 2 THEN 1 + (doc_id * 13) % 1920 ELSE 0 END AS INTEGER) AS ancho,
      |  CAST(CASE fmt WHEN 2 THEN 1 + (doc_id * 7) % 1080 ELSE 0 END AS INTEGER) AS alto
      |FROM f""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Content-defined chunking (FastCDC/rsync family): chunk boundaries
    * fall where the rolling hash of the trailing 16 bytes is ≡ 0 (mod 64)
    * — boundaries follow content, so an insertion early in a document
    * shifts only the chunk it lands in and every later chunk hash stays
    * identical (the shift-tolerance q40's fixed word windows lack; this is
    * the chunk grain rsync-style dedup stores share across near-identical
    * files). Runs on the native cdc_boundaries codegen kernel (same
    * Rabin-Karp polynomial as q25, replayed by the oracle in HUGEINT
    * mod-2^64). Zero shuffle: boundary scan, pair zip, and chunk explode
    * all pipeline inside the scan stage. */
  def q68CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      // byte-safe since r6: every position is a UTF-8 BYTE offset (what
      // the kernel scans), and chunk values hash the HEX of the byte
      // span — multi-byte text chunks correctly even when a boundary
      // splits a code point (CDC is a byte-stream algorithm; rsync-style
      // stores chunk bytes, not characters). A deterministic multi-byte
      // suffix on every 7th doc keeps the gate exercising that path on
      // the ASCII-heavy synthetic corpus.
      .withColumn("text", concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit(" café — δοκιμή 測試")).otherwise(lit(""))))
      .withColumn("hx", hex(col("text").cast("binary")))
      .withColumn("ends", expr("cdc_boundaries(text, 16, 64)"))
      .withColumn("starts",
        concat(array(lit(0)), slice(col("ends"), lit(1), size(col("ends")) - 1)))
      .select(col("doc_id"), col("hx"),
        posexplode(arrays_zip(col("starts").as("s"), col("ends").as("e")))
          .as(Seq("idx", "p")))
      .select(col("doc_id"),
        col("idx").cast(IntegerType).as("idx_chunk"),
        (col("p.s") + 1).cast(IntegerType).as("inicio"),
        (col("p.e") - col("p.s")).cast(IntegerType).as("n_bytes"),
        md5(expr("substring(hx, 2 * p.s + 1, 2 * (p.e - p.s))")).as("hash_chunk"))
  }

  val q68Sql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    text || CASE WHEN doc_id % 7 = 0 THEN ' café — δοκιμή 測試' ELSE '' END AS text
      |  FROM documents),
      |b2 AS (SELECT doc_id, hex(encode(text)) AS hx,
      |              octet_length(encode(text)) AS n FROM base),
      |bytes AS (SELECT doc_id, hx, n,
      |  list_transform(range(1, n + 1),
      |    j -> (strpos('0123456789ABCDEF', substr(hx, CAST(2*j-1 AS INT), 1)) - 1) * 16
      |       + (strpos('0123456789ABCDEF', substr(hx, CAST(2*j AS INT), 1)) - 1)) AS bl
      |  FROM b2),
      |hpos AS (
      |  SELECT doc_id, i
      |  FROM bytes, unnest(range(16, greatest(n, 16))) AS t(i)
      |  WHERE list_reduce(list_transform(range(i - 15, i + 1),
      |          j -> CAST(bl[CAST(j AS INT)] AS HUGEINT)),
      |        (acc, c) -> (acc * 1000003 + c) % 18446744073709551616::HUGEINT)
      |        % 64 = 0),
      |ends AS (
      |  SELECT doc_id, i AS e FROM hpos
      |  UNION ALL SELECT doc_id, n FROM bytes),
      |ordered AS (
      |  SELECT doc_id, e,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY e) - 1 AS idx,
      |    lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY e) AS s
      |  FROM ends)
      |SELECT o.doc_id, CAST(idx AS INTEGER) AS idx_chunk,
      |  CAST(s + 1 AS INTEGER) AS inicio,
      |  CAST(e - s AS INTEGER) AS n_bytes,
      |  md5(substr(b.hx, CAST(2 * s + 1 AS INTEGER), CAST(2 * (e - s) AS INTEGER))) AS hash_chunk
      |FROM ordered o JOIN b2 b USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Topic-cluster assignment + medoids: every embedding is assigned to
    * its max-cosine centroid (the 8 smallest-md5 vectors — the q55/q64
    * bounded-build-side pattern), and each cluster reports its size and
    * MEDOID (the member closest to the centroid, ties to the smaller id)
    * — the representative-document step a curriculum/mixture build uses
    * to bucket a corpus by topic and eyeball one exemplar per bucket.
    *
    * Everything is argmax/count arithmetic — no mean-vector recompute, so
    * no float-accumulation order dependence and the oracle reproduces the
    * result bit-for-bit. Scale shape: assignment is the pipelined
    * explode+argmax stream (no join); the cluster report is ONE exchange
    * keyed on the cell id. */
  def q69ClusterMedoids(spark: SparkSession, dir: String,
                        nCells: Int = 8): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    val cents: Seq[(Long, Seq[Float], Double)] = base
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(nCells)
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq, r.getDouble(2)))
      .toSeq
    val centLit = typedLit(cents)
    base
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(centLit).as("c"))
      .select(col("vec_id"), col("c._1").as("cid"),
        Similarity.cosine(col("embedding"), col("c._2"), col("nrm"),
          col("c._3")).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("cid")).as("neg"))).as("b"))
      .select(col("vec_id"), (-col("b.neg")).as("celda"), col("b.cos").as("cos"))
      .groupBy(col("celda"))
      .agg(count(lit(1)).as("n_vecs"),
        max(struct(col("cos"), (-col("vec_id")).as("neg"))).as("m"))
      .select(col("celda"), col("n_vecs"),
        (-col("m.neg")).as("medoid_id"), col("m.cos").as("cos_medoid"))
  }

  val q69Sql: String = {
    def dot2(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"""WITH n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
      |cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm FROM n
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
      |scored AS (
      |  SELECT n.vec_id, cent.cid,
      |    ${dot2("n.embedding", "cent.cvec")} / (n.nrm * cent.cnrm) AS cos
      |  FROM n, cent),
      |assign AS (
      |  SELECT vec_id, cid AS celda, cos FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cid ASC) AS rn FROM scored) WHERE rn = 1)
      |SELECT a.celda, s.n_vecs, a.medoid_id, a.cos_medoid
      |FROM (
      |  SELECT celda, vec_id AS medoid_id, cos AS cos_medoid,
      |    row_number() OVER (PARTITION BY celda
      |      ORDER BY cos DESC, vec_id ASC) AS rm
      |  FROM assign) a
      |JOIN (SELECT celda AS c2, count(*) AS n_vecs FROM assign GROUP BY 1) s
      |  ON s.c2 = a.celda
      |WHERE rm = 1""".stripMargin
  }

  // ---------------------------------------------------------------- maps
  // ---------------------------------------------------------------- q38
  /** Dedup component resolution: the union-find step after pair
    * generation — every near-dup group collapses to one survivor (min
    * doc_id of the connected component over the Jaccard-verified pair
    * graph). Spark side: iterative min-label propagation
    * (operators/ConnectedComponents), shuffles keyed on doc_id, rounds
    * bounded by component diameter. The oracle replays the same fixpoint
    * as a recursive CTE over the identical verified pair set. */
  def q38DedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val edges = verifiedPairs(spark, dir).select("id_a", "id_b")
    graft.operators.ConnectedComponents.components(edges)
      .select(col("id").as("doc_id"), col("survivor").as("survivor_id"),
        col("size").cast(IntegerType).as("tam_componente"))
  }

  val q38Sql: String =
    s"""WITH RECURSIVE $nearDupPairCtes,
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM v
      |  UNION SELECT id_b, id_a FROM v),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach AS (
      |  -- min-label fixpoint as transitive closure; UNION dedups, so the
      |  -- recursion terminates on the finite (node, label) space
      |  SELECT id, id AS label FROM nodes
      |  UNION
      |  SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id),
      |lbl AS (SELECT id, min(label) AS label FROM reach GROUP BY id)
      |SELECT l.id AS doc_id, l.label AS survivor_id,
      |  CAST(s.n AS INTEGER) AS tam_componente
      |FROM lbl l JOIN (SELECT label, count(*) AS n FROM lbl GROUP BY label) s
      |USING (label)""".stripMargin

  // ---------------------------------------------------------------- q39
  /** PII scrub as a corpus pass: per document, the count of PII pattern
    * hits and a value-check of the fully scrubbed text (md5 + length
    * instead of shipping the rewritten corpus through the gate). Pure
    * regexp map stage — zero shuffle at any corpus size. Patterns are
    * backreference/lookaround-free, so the Java and RE2 engines agree
    * on the ASCII corpus. */
  def q39PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val scrubbed = TextAnalysis.scrubPii(col("text"))
    d.select(col("doc_id"),
      TextAnalysis.piiCount(col("text")).as("n_pii"),
      md5(scrubbed).as("scrub_hash"),
      length(scrubbed).cast(IntegerType).as("scrub_len"))
  }

  val q39Sql: String = {
    val scrub = TextAnalysis.PiiPatterns.foldLeft("text") { case (e, (pat, repl)) =>
      s"regexp_replace($e, '$pat', '$repl', 'g')"
    }
    val count = TextAnalysis.PiiPatterns.map { case (pat, _) =>
      s"len(regexp_extract_all(text, '$pat'))"
    }.mkString(" + ")
    s"""SELECT doc_id,
      |  CAST($count AS INTEGER) AS n_pii,
      |  md5($scrub) AS scrub_hash,
      |  CAST(length($scrub) AS INTEGER) AS scrub_len
      |FROM documents""".stripMargin
  }

  // ---------------------------------------------------------------- q40
  /** Document chunking: overlapping word windows of `width` words at
    * `stride` offsets — the context-window packing step between cleaning
    * and tokenization in a pretraining build. Pure array expressions
    * (sequence → slice → posexplode): a zero-shuffle map stage whose
    * output is value-checked via each chunk's md5 (shipping the hash,
    * not the rewritten corpus, through the gate). Short final chunks are
    * kept (slice clamps at the document end). */
  def q40Chunking(spark: SparkSession, dir: String,
                  width: Int = 200, stride: Int = 100): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"), Shingles.words(col("text")).as("ws"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), floor((size(col("ws")) - 1) / stride).cast(IntegerType)),
        i => slice(col("ws"), i * stride + 1, lit(width)))).as(Seq("idx_chunk", "chunk")))
      .select(col("doc_id"), col("idx_chunk").cast(IntegerType),
        size(col("chunk")).cast(IntegerType).as("n_palabras_chunk"),
        md5(array_join(col("chunk"), " ")).as("hash_chunk"))
  }

  val q40Sql: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents),
      |idx AS (
      |  SELECT doc_id, ws,
      |    unnest(range(0, (len(ws) - 1) // 100 + 1)) AS i
      |  FROM w)
      |SELECT doc_id, CAST(i AS INTEGER) AS idx_chunk,
      |  CAST(len(ws[i*100+1 : i*100+200]) AS INTEGER) AS n_palabras_chunk,
      |  md5(array_to_string(ws[i*100+1 : i*100+200], ' ')) AS hash_chunk
      |FROM idx""".stripMargin

  // ---------------------------------------------------------------- q55
  /** IVF ANN as a VALUE-CHECKED catalog query. Centroids are the
    * `nCells` vectors with the SMALLEST md5(vec_id) hex digests — a
    * portable deterministic sample whose size is FIXED (independent of
    * corpus size, resolved by a TakeOrdered, never a full collect);
    * every vector is assigned to its max-cosine centroid, queries
    * probe their top-2 cells, and the approximate NN is the best
    * candidate inside the probed cells — assignment, probing, and the
    * (deliberately imperfect) recall are all deterministic functions of
    * the data, so DuckDB verifies the IVF semantics end to end. The
    * library ivfTopK (hash-sampled centroids + optional Lloyd rounds)
    * stays the raw-speed variant.
    *
    * Scale shape: the centroid set is a bounded collect (a fixed cell
    * count in production) shipped as one literal; assignment is the
    * inherent N×C distance stream — pipelined explode into a map-side
    * argmax, no join; candidate scoring is an equi-join on the cell id,
    * so work is sum-of-probed-cells, never N². */
  def q55AnnIvf(spark: SparkSession, dir: String, probes: Int = 2,
                nCells: Int = 16): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    // bounded build side: exactly nCells rows cross the driver, whatever
    // the corpus size (orderBy+limit plans a TakeOrdered — no full sort,
    // no full collect); md5 order is engine-portable, vec_id breaks ties
    val cents: Seq[(Long, Seq[Float], Double)] = base
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(nCells)
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq, r.getDouble(2)))
      .toSeq
    val centLit = typedLit(cents)
    // (vec_id, cid, cos) for every vector × centroid in `df`
    def cellScores(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(centLit).as("c"))
      .select(col("vec_id"), col("c._1").as("cid"),
        Similarity.cosine(col("embedding"), col("c._2"), col("nrm"),
          col("c._3")).as("cos"))
    val assigned = cellScores(base)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("cid")).as("neg"))).as("b"))
      .select(col("vec_id"), (-col("b.neg")).as("celda"))
    val inCells = base.join(assigned, Seq("vec_id"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid").asc)
    val probed = cellScores(base.filter(col("vec_id") < 5))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= probes)
      .select(col("vec_id").as("query_id"), col("cid").as("celda"))
    val queriesSide = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    probed.join(queriesSide, Seq("query_id"))
      .join(inCells, Seq("celda"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), struct(
        Similarity.cosine(col("qv"), col("embedding"), col("qn"),
          col("nrm")).as("cosine"),
        (-col("vec_id")).as("neg")).as("cand"))
      .groupBy(col("query_id"))
      .agg(max(col("cand")).as("best"))
      .select(col("query_id"), (-col("best.neg")).as("neighbor_id"),
        col("best.cosine").as("cosine"))
  }

  val q55Sql: String = {
    def dot2(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"""WITH n AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
      |cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm FROM n
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |scored AS (
      |  SELECT n.vec_id, cent.cid,
      |    ${dot2("n.embedding", "cent.cvec")} / (n.nrm * cent.cnrm) AS cos
      |  FROM n, cent),
      |assign AS (
      |  SELECT vec_id, cid AS celda FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cid ASC) AS rn FROM scored) WHERE rn = 1),
      |probe AS (
      |  SELECT vec_id AS query_id, cid AS celda FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cid ASC) AS rn FROM scored WHERE vec_id < 5)
      |  WHERE rn <= 2),
      |cand AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM probe p JOIN assign a USING (celda)
      |  WHERE a.vec_id <> p.query_id),
      |fin AS (
      |  SELECT c.query_id, c.neighbor_id,
      |    ${dot2("q.embedding", "b.embedding")} / (q.nrm * b.nrm) AS cosine
      |  FROM cand c JOIN n q ON q.vec_id = c.query_id
      |  JOIN n b ON b.vec_id = c.neighbor_id)
      |SELECT query_id, neighbor_id, cosine FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM fin)
      |WHERE rn = 1""".stripMargin
  }

  // ---------------------------------------------------------------- q60
  /** Incremental (asymmetric) near-dup: the daily-ingest shape — an
    * increment slice (doc_id % 10 == 3) deduped AGAINST the standing
    * corpus without ever scoring corpus × corpus pairs. Band signatures
    * on both sides, candidates only where an increment band bucket meets
    * a corpus band bucket, exact 5-gram-Jaccard verify (>= 0.8), then
    * per-increment-doc match count + deterministic best match (highest
    * jaccard, ties to the smallest corpus id).
    *
    * Scale shape: both sides are banded on every run. Recall argument
    * matches q19 (16×4 bands,
    * ≈0.9998 collision at j=0.8); candidate fanout is bounded by
    * increment-bucket × corpus-bucket occupancy rather than bucket². */
  def q60IncrementalDedup(spark: SparkSession, dir: String,
                          minJ: Double = 0.8): DataFrame = {
    val d = Tables.documents(spark, dir)
    val inc = col("doc_id") % 10 === 3
    IncrementalDedup.flag(d.filter(inc), d.filter(!inc), minJ = minJ)
  }

  val q60Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 5, 0) + 2),
      |    i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+4], ' '))) AS sh
      |  FROM documents),
      |inv AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_i, b.doc_id AS id_c
      |  FROM inv a JOIN inv b USING (g)
      |  WHERE a.doc_id % 10 = 3 AND b.doc_id % 10 <> 3),
      |scored AS (
      |  SELECT c.id_i, c.id_c,
      |    CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) = 0 THEN 0.0
      |         ELSE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |              / len(list_distinct(list_concat(sa.sh, sb.sh))) END AS j
      |  FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.id_i
      |  JOIN sh sb ON sb.doc_id = c.id_c),
      |v AS (SELECT * FROM scored WHERE j >= 0.8),
      |agg AS (
      |  SELECT id_i, count(*) AS n_matches, max(j) AS best_j FROM v GROUP BY id_i),
      |b1 AS (
      |  SELECT id_i, id_c AS best_match FROM (
      |    SELECT *, row_number() OVER (PARTITION BY id_i
      |      ORDER BY j DESC, id_c) AS rn FROM v)
      |  WHERE rn = 1)
      |SELECT d.doc_id, coalesce(a.n_matches, 0) AS n_matches,
      |  coalesce(b1.best_match, -1) AS best_match,
      |  coalesce(a.best_j, 0.0) AS best_j
      |FROM documents d
      |LEFT JOIN agg a ON a.id_i = d.doc_id
      |LEFT JOIN b1 ON b1.id_i = d.doc_id
      |WHERE d.doc_id % 10 = 3""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Product-quantization ANN (ADC scoring) as a VALUE-CHECKED catalog
    * query — the memory side of the 100 TB embedding story that IVF
    * (q55) alone doesn't cover: a 64-float vector (256 B) encodes to
    * `m` sub-space codes (here 4 codes into 16-entry codebooks = 4 B,
    * 64× smaller), and queries score candidates WITHOUT touching the
    * original vectors — per query, one `m × k` table of sub-distances
    * to every codeword, then each candidate's approximate distance is
    * `m` table lookups summed in fixed order (Asymmetric Distance
    * Computation, Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011).
    *
    * Everything is a deterministic function of the data so DuckDB
    * verifies the PQ semantics end to end (the q55 convention):
    * codebooks are NOT Lloyd-trained — codeword `j` of sub-space `i` is
    * the `i`-th slice of the `j`-th anchor, anchors being the `k`
    * vectors with the smallest (md5(vec_id), vec_id) — a portable
    * fixed-size sample; encoding is the per-sub-space argmin of squared
    * L2 distance (ties to the smallest code, all arithmetic DOUBLE,
    * element order fixed); the reported neighbor minimizes (adc,
    * neighbor_id).
    *
    * Scale shape: the codebooks are `m·k` fixed-size literals (bounded
    * TakeOrdered collect, corpus-size-independent); ENCODING IS A PURE
    * PROJECTION fused into the scan — no explode, no join, each row
    * evaluates m·k codeword distances and keeps m bytes; the ≤5-row
    * query table is driver-built (bounded by the predicate) and shipped
    * as one literal, so ADC scoring is also scan-fused and the ONLY
    * exchange is the final per-query argmin (map-side partial min,
    * shuffle = partitions × queries rows). */
  def q77AnnPq(spark: SparkSession, dir: String, m: Int = 4,
               k: Int = 16): DataFrame =
    pqAdcScored(spark, dir, m, k, candWhere = None)
      .select(col("query_id"),
        struct(col("adc"), col("nid")).as("cand"))
      .groupBy(col("query_id"))
      .agg(min(col("cand")).as("best"))
      .select(col("query_id"), col("best")("nid").as("neighbor_id"),
        col("best")("adc").as("adc"))

  /** The shared ADC scoring core of q77/q86: every (query, candidate)
    * pair's fixed-order ADC distance as (query_id, nid, adc) rows —
    * codebooks and query tables always come from the FULL corpus (the
    * filter narrows candidates, not the geometry), `candWhere` restricts
    * the candidate side BEFORE scoring. */
  private def pqAdcScored(spark: SparkSession, dir: String, m: Int, k: Int,
                          candWhere: Option[Column]): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // anchors: bounded deterministic sample (the q55 centroid pattern) —
    // exactly k rows cross the driver regardless of corpus size
    val anchors: Seq[(Int, Seq[Float])] = emb
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .select(col("embedding"))
      .collect().toSeq.zipWithIndex
      .map { case (r, j) => (j, r.getSeq[Float](0)) }
    val dim = anchors.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val sub = dim / m
    // codebook of sub-space i: (code j, anchor j's i-th slice as DOUBLE)
    def cb(i: Int): Seq[(Int, Seq[Double])] =
      anchors.map { case (j, v) =>
        (j, v.slice(i * sub, (i + 1) * sub).map(_.toDouble)) }
    // squared L2 between a float sub-vector column and a double codeword,
    // summed left-to-right (the q55 list_sum-compatible fold)
    def d2(xs: Column, cw: Column): Column =
      aggregate(zip_with(xs, cw, (x, y) => {
        val d = x.cast(DoubleType) - y; d * d
      }), lit(0.0), (acc, z) => acc + z)
    // per-sub-space code: argmin over the codebook literal, ties to the
    // smallest j (struct ordering), evaluated as a plain projection
    def codeFor(i: Int): Column =
      array_min(transform(typedLit(cb(i)), c =>
        struct(d2(slice(col("embedding"), i * sub + 1, sub), c("_2")).as("d"),
          c("_1").as("j")))).getField("j")
    // the candidate filter lands BEFORE encode/score — filter-then-score
    val candSide = candWhere.fold(emb)(emb.filter)
    val encoded = candSide.select(
      col("vec_id") +: (0 until m).map(i => codeFor(i).as(s"c$i")): _*)
    // per-query ADC tables (query_id, m → j → d2), driver-built with the
    // SAME double arithmetic and element order as the SQL side; bounded
    // by the query predicate (≤5 rows)
    val qTab: Seq[(Long, Seq[Seq[Double]])] = emb
      .filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
      .map { case (qid, qv) =>
        (qid, (0 until m).map { i =>
          anchors.map { case (_, av) =>
            var s = 0.0
            var t = i * sub
            while (t < (i + 1) * sub) {
              val d = qv(t).toDouble - av(t).toDouble
              s += d * d
              t += 1
            }
            s
          }
        })
      }
    val withQ = encoded.select(
      col("vec_id") +: (0 until m).map(i => col(s"c$i")) :+
        explode(typedLit(qTab)).as("q"): _*)
    // table lookup for sub-space i, then the fixed-order ((t0+t1)+t2)+t3
    // sum the SQL oracle mirrors verbatim (double addition isn't
    // associative — the order is part of the contract)
    def tl(i: Int): Column =
      element_at(element_at(col("q")("_2"), i + 1), col(s"c$i") + 1)
    val adc = (1 until m).foldLeft(tl(0))((acc, i) => acc + tl(i))
    withQ
      .filter(col("vec_id") =!= col("q")("_1"))
      .select(col("q")("_1").as("query_id"), col("vec_id").as("nid"),
        adc.as("adc"))
  }

  val q77Sql: String = {
    // sub-space slice of a list column, cast to DOUBLE (sub = 64/4 = 16,
    // 1-based inclusive slicing)
    def sl(x: String, mExpr: String) = s"$x[$mExpr*16+1 : $mExpr*16+16]"
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |anch AS (
      |  SELECT row_number() OVER (
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
      |    embedding AS av
      |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |mm AS (SELECT unnest(range(4)) AS m),
      |cb AS (
      |  SELECT mm.m, anch.j,
      |    list_transform(${sl("anch.av", "mm.m")}, x -> CAST(x AS DOUBLE)) AS cw
      |  FROM anch CROSS JOIN mm),
      |enc0 AS (
      |  SELECT e.vec_id, cb.m, cb.j,
      |    list_sum(list_transform(list_zip(${sl("e.embedding", "cb.m")}, cb.cw),
      |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))
      |      AS d2
      |  FROM e, cb),
      |enc AS (
      |  SELECT vec_id, m, j AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
      |      ORDER BY d2 ASC, j ASC) AS rn FROM enc0)
      |  WHERE rn = 1),
      |qt AS (SELECT vec_id AS query_id, m, j, d2 FROM enc0 WHERE vec_id < 5),
      |pairs AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id, c.m, q.d2
      |  FROM enc c JOIN qt q ON q.m = c.m AND q.j = c.code
      |  WHERE c.vec_id <> q.query_id),
      |agg AS (
      |  SELECT query_id, neighbor_id,
      |    max(CASE WHEN m = 0 THEN d2 END) AS t0,
      |    max(CASE WHEN m = 1 THEN d2 END) AS t1,
      |    max(CASE WHEN m = 2 THEN d2 END) AS t2,
      |    max(CASE WHEN m = 3 THEN d2 END) AS t3
      |  FROM pairs GROUP BY 1, 2)
      |SELECT query_id, neighbor_id, ((t0 + t1) + t2) + t3 AS adc FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY ((t0 + t1) + t2) + t3 ASC, neighbor_id ASC) AS rn
      |  FROM agg)
      |WHERE rn = 1""".stripMargin
  }

  // ---------------------------------------------------------------- q86
  /** Metadata-FILTERED product-quantization ANN (r12 — the q82 filter
    * law composed with q77's ADC scoring): top-3 neighbors per query by
    * asymmetric-distance over PQ codes, with the CANDIDATE set
    * restricted to even-labeled vectors BEFORE encoding/scoring —
    * filter-then-score, so the result is a true top-3 of the filtered
    * corpus, never a post-top-k filter returning short rows. Codebooks
    * and per-query distance tables come from the FULL corpus (the
    * filter narrows candidates, not the geometry). Selection runs on
    * the bounded `top_k_double` aggregate (score = −adc, ties to the
    * smaller neighbor id): O(3) state per query, map-side merged — the
    * shuffle carries ≤3 pairs per (query, partition), not the candidate
    * set. */
  def q86AnnPqFiltered(spark: SparkSession, dir: String, m: Int = 4,
                       k: Int = 16, topN: Int = 3): DataFrame = {
    pqAdcScored(spark, dir, m, k,
        candWhere = Some(pmod(col("label"), lit(2)) === 0))
      .groupBy(col("query_id"))
      .agg(call_function("top_k_double", -col("adc"), col("nid"),
        lit(topN)).as("__top"))
      .select(col("query_id"),
        posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col("query_id"), (col("__i") + 1).as("rk"),
        col("__e.payload").as("neighbor_id"), (-col("__e.score")).as("adc"))
  }

  val q86Sql: String = {
    def sl(x: String, mExpr: String) = s"$x[$mExpr*16+1 : $mExpr*16+16]"
    s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
      |anch AS (
      |  SELECT row_number() OVER (
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
      |    embedding AS av
      |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |mm AS (SELECT unnest(range(4)) AS m),
      |cb AS (
      |  SELECT mm.m, anch.j,
      |    list_transform(${sl("anch.av", "mm.m")}, x -> CAST(x AS DOUBLE)) AS cw
      |  FROM anch CROSS JOIN mm),
      |enc0 AS (
      |  SELECT e.vec_id, cb.m, cb.j,
      |    list_sum(list_transform(list_zip(${sl("e.embedding", "cb.m")}, cb.cw),
      |      p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))
      |      AS d2
      |  FROM e, cb),
      |enc AS (
      |  SELECT vec_id, m, j AS code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
      |      ORDER BY d2 ASC, j ASC) AS rn FROM enc0)
      |  WHERE rn = 1
      |  AND vec_id IN (SELECT vec_id FROM e WHERE label % 2 = 0)),
      |qt AS (SELECT vec_id AS query_id, m, j, d2 FROM enc0 WHERE vec_id < 5),
      |pairs AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id, c.m, q.d2
      |  FROM enc c JOIN qt q ON q.m = c.m AND q.j = c.code
      |  WHERE c.vec_id <> q.query_id),
      |agg AS (
      |  SELECT query_id, neighbor_id,
      |    max(CASE WHEN m = 0 THEN d2 END) AS t0,
      |    max(CASE WHEN m = 1 THEN d2 END) AS t1,
      |    max(CASE WHEN m = 2 THEN d2 END) AS t2,
      |    max(CASE WHEN m = 3 THEN d2 END) AS t3
      |  FROM pairs GROUP BY 1, 2)
      |SELECT query_id, CAST(rn AS INTEGER) AS rk, neighbor_id,
      |  ((t0 + t1) + t2) + t3 AS adc FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY ((t0 + t1) + t2) + t3 ASC, neighbor_id ASC) AS rn
      |  FROM agg)
      |WHERE rn <= 3""".stripMargin
  }

  // ---------------------------------------------------------------- q79
  /** REAL PCM audio decode through the gate (round-10 verdict item 2 —
    * the audio twin of q65's pixel-free image decode, one level deeper:
    * actual SAMPLES, not headers). Deterministic sample-bearing PCM16
    * WAVs are synthesized per doc_id (graft.llm.MediaSynth.synthPcm —
    * sample k of the interleaved stream is ((id·13 + k·37) mod 65536) −
    * 32768), decoded back byte-for-byte by MediaHeaders.decodePcm inside
    * the batched mapPartitions plumbing, and reduced to one row per
    * 512-sample window with exact integer stats (peak, sum of squares,
    * position-weighted checksum). The oracle re-derives every window from
    * (doc_id, k) arithmetic alone — a byte-order, chunk-offset,
    * block-align or sign-extension defect in the sample decode diverges.
    * Zero shuffle; O(payload bytes) per row at any corpus size. */
  def q79PcmWindows(spark: SparkSession, dir: String): DataFrame = {
    val synthUdf = udf((id: Long) => MediaSynth.synthPcm(id))
    val withBin = Tables.documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("payload", synthUdf(col("doc_id")))
    Multimodal.pcmWindows(withBin, "payload")()
      .select(col("doc_id"), col("sample_rate"), col("canales"),
        col("ventana"), col("n_muestras"), col("pico"),
        col("suma_cuadrados"), col("suma_ponderada"))
  }

  val q79Sql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    CAST(8000 * (1 + doc_id % 4) AS INTEGER) AS sample_rate,
      |    CAST(1 + doc_id % 2 AS INTEGER) AS canales,
      |    (256 + (doc_id * 7) % 1800) * (1 + doc_id % 2) AS total
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, sample_rate, canales,
      |    unnest(range(0, total)) AS k
      |  FROM p),
      |m AS (
      |  SELECT doc_id, sample_rate, canales, k,
      |    (doc_id * 13 + k * 37) % 65536 - 32768 AS muestra
      |  FROM v)
      |SELECT doc_id, sample_rate, canales,
      |  CAST(k // 512 AS INTEGER) AS ventana,
      |  CAST(count(*) AS INTEGER) AS n_muestras,
      |  CAST(max(abs(muestra)) AS INTEGER) AS pico,
      |  CAST(sum(muestra * muestra) AS BIGINT) AS suma_cuadrados,
      |  CAST(sum(muestra * (k % 512 + 1)) AS BIGINT) AS suma_ponderada
      |FROM m GROUP BY 1, 2, 3, 4""".stripMargin

  // ---------------------------------------------------------------- q87
  /** REAL G.711 audio decode (r12, r11 verdict residual 1 — a SECOND
    * value-real audio family beyond q79's PCM16): μ-law (WAV format 7,
    * even ids) and A-law (format 6, odd ids) 8-bit companded WAVs
    * synthesized with closed-form wire bytes (MediaSynth.synthG711 —
    * byte k is (id·11 + k·29) mod 256), expanded to 16-bit linear by
    * MediaHeaders.decodePcm through the public-domain ITU G.711 tables
    * (codec-free: 256-entry formula decode, no external library), then
    * reduced to the q79 window stats. The oracle replays the EXPANSION
    * FORMULA itself in SQL integer arithmetic (complement/xor, segment
    * shift, bias), so a wrong table entry, a μ/A dispatch swap, or a
    * byte off-by-one diverges on peak / sum-of-squares / checksum.
    * Zero-shuffle, scan-fused like q79. */
  def q87G711Windows(spark: SparkSession, dir: String): DataFrame = {
    val synthUdf = udf((id: Long) => MediaSynth.synthG711(id))
    val withBin = Tables.documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("payload", synthUdf(col("doc_id")))
    Multimodal.pcmWindows(withBin, "payload")()
      .select(col("doc_id"), col("sample_rate"), col("canales"),
        col("codec"), col("ventana"), col("n_muestras"), col("pico"),
        col("suma_cuadrados"), col("suma_ponderada"))
  }

  val q87Sql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
      |    CAST(1 + (doc_id // 2) % 2 AS INTEGER) AS canales,
      |    (200 + (doc_id * 5) % 500) * (1 + (doc_id // 2) % 2) AS total
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, codec, canales, unnest(range(0, total)) AS k
      |  FROM p),
      |b AS (
      |  SELECT doc_id, codec, canales, k,
      |    255 - (doc_id * 11 + k * 29) % 256 AS u,
      |    xor((doc_id * 11 + k * 29) % 256, 85) AS a
      |  FROM v),
      |mag AS (
      |  SELECT doc_id, codec, canales, k, u, a,
      |    ((u % 16) * 8 + 132) << ((u // 16) % 8) AS ut,
      |    CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
      |         WHEN (a // 16) % 8 = 1 THEN (a % 16) * 16 + 264
      |         ELSE ((a % 16) * 16 + 264) << ((a // 16) % 8 - 1) END AS at
      |  FROM b),
      |m AS (
      |  SELECT doc_id, codec, canales, k,
      |    CASE WHEN codec = 'ulaw' THEN
      |      CASE WHEN u >= 128 THEN 132 - ut ELSE ut - 132 END
      |    ELSE
      |      CASE WHEN a >= 128 THEN at ELSE -at END
      |    END AS muestra
      |  FROM mag)
      |SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate, canales, codec,
      |  CAST(k // 512 AS INTEGER) AS ventana,
      |  CAST(count(*) AS INTEGER) AS n_muestras,
      |  CAST(max(abs(muestra)) AS INTEGER) AS pico,
      |  CAST(sum(muestra * muestra) AS BIGINT) AS suma_cuadrados,
      |  CAST(sum(muestra * (k % 512 + 1)) AS BIGINT) AS suma_ponderada
      |FROM m GROUP BY 1, 2, 3, 4, 5""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Exact duplicated-substring coverage (Lee et al. 2022's ExactSubstr,
    * hash-anchored — graft.llm.DupSpans): for every document, how many
    * 48-char gram anchors also occur in another document, and exactly how
    * many characters those duplicated grams cover once overlapping
    * anchors are merged into maximal spans. The corpus-wide exchange
    * carries 8-byte rolling hashes (gram_hashes kernel); gram strings are
    * materialized only for the cross-doc collision candidates and
    * verified by value, so a hash collision can never fabricate a
    * duplicate. Span union is the running-max-end island merge — one
    * doc_id window, no per-position explode. */
  def q80DupSpans(spark: SparkSession, dir: String): DataFrame =
    DupSpans.report(Tables.documents(spark, dir), "text", "doc_id",
      L = 48, nCharsCol = "n_chars")

  val q80Sql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    substr(text, CAST(i AS INT), 48) AS gram
      |  FROM documents, LATERAL (
      |    SELECT unnest(range(1, length(text) - 48 + 2)) AS i) t
      |  WHERE length(text) >= 48),
      |dup AS (
      |  SELECT gram FROM g GROUP BY gram
      |  HAVING count(DISTINCT doc_id) >= 2),
      |a AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
      |cov AS (
      |  SELECT doc_id, count(DISTINCT p) AS dup_chars
      |  FROM a, LATERAL (SELECT unnest(range(a.pos, a.pos + 48)) AS p) u
      |  GROUP BY doc_id),
      |cnt AS (SELECT doc_id, count(*) AS n_dup_anchors FROM a GROUP BY doc_id)
      |SELECT cnt.doc_id, cnt.n_dup_anchors, cov.dup_chars, d.n_chars,
      |  CAST(cov.dup_chars AS DOUBLE) / CAST(d.n_chars AS DOUBLE) AS dup_ratio
      |FROM cnt
      |JOIN cov ON cov.doc_id = cnt.doc_id
      |JOIN documents d ON d.doc_id = cnt.doc_id
      |ORDER BY cnt.doc_id""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Metadata-FILTERED approximate nearest neighbors — the vector-store
    * "filtered search" form (query RAG stores run constantly: top-k
    * within a predicate). Same deterministic IVF geometry as q55
    * (md5-chosen centroids, max-cosine assignment, top-cell probing),
    * but the CANDIDATE set is restricted to even-labeled vectors at the
    * probed-cell scan — filter-then-score, so the serve cost is
    * (probed cells ∩ filter) and the result is a true top-3 of the
    * filtered corpus within the probed cells, never a post-top-k filter
    * that silently returns fewer rows. Routing stays that of the FULL
    * index (the filter narrows candidates, not the geometry); queries
    * probe 3 cells to compensate for the thinner cells. */
  def q82AnnFiltered(spark: SparkSession, dir: String, probes: Int = 3,
                     nCells: Int = 16, k: Int = 3): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.select(col("vec_id"), col("embedding"), col("label"),
      Similarity.norm(col("embedding")).as("nrm"))
    val cents: Seq[(Long, Seq[Float], Double)] = base
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(nCells)
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq, r.getDouble(2)))
      .toSeq
    val centLit = typedLit(cents)
    def cellScores(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(centLit).as("c"))
      .select(col("vec_id"), col("c._1").as("cid"),
        Similarity.cosine(col("embedding"), col("c._2"), col("nrm"),
          col("c._3")).as("cos"))
    val assigned = cellScores(base)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("cid")).as("neg"))).as("b"))
      .select(col("vec_id"), (-col("b.neg")).as("celda"))
    // the filter lands HERE: candidates = probed cells ∩ predicate
    val inCells = base.filter(pmod(col("label"), lit(2)) === 0)
      .join(assigned, Seq("vec_id"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid").asc)
    val probed = cellScores(base.filter(col("vec_id") < 8))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= probes)
      .select(col("vec_id").as("query_id"), col("cid").as("celda"))
    val queriesSide = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probed.join(queriesSide, Seq("query_id"))
      .join(inCells, Seq("celda"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Similarity.cosine(col("qv"), col("embedding"), col("qn"),
          col("nrm")).as("cosine"))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cosine"))
  }

  val q82Sql: String = {
    def dot2(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"""WITH n AS (SELECT vec_id, embedding, label, $normSql AS nrm FROM embeddings),
      |cent AS (
      |  SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm FROM n
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |scored AS (
      |  SELECT n.vec_id, cent.cid,
      |    ${dot2("n.embedding", "cent.cvec")} / (n.nrm * cent.cnrm) AS cos
      |  FROM n, cent),
      |assign AS (
      |  SELECT vec_id, cid AS celda FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cid ASC) AS rn FROM scored) WHERE rn = 1),
      |probe AS (
      |  SELECT vec_id AS query_id, cid AS celda FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cid ASC) AS rn FROM scored WHERE vec_id < 8)
      |  WHERE rn <= 3),
      |cand AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM probe p JOIN assign a USING (celda)
      |  JOIN n f ON f.vec_id = a.vec_id AND f.label % 2 = 0
      |  WHERE a.vec_id <> p.query_id),
      |fin AS (
      |  SELECT c.query_id, c.neighbor_id,
      |    ${dot2("q.embedding", "b.embedding")} / (q.nrm * b.nrm) AS cosine
      |  FROM cand c JOIN n q ON q.vec_id = c.query_id
      |  JOIN n b ON b.vec_id = c.neighbor_id)
      |SELECT query_id, CAST(rn AS INTEGER) AS rk, neighbor_id, cosine FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id ASC) AS rn FROM fin)
      |WHERE rn <= 3""".stripMargin
  }

  // ---------------------------------------------------------------- q83
  /** The APPLY side of q80 (Lee et al. 2022's actual dedup transform —
    * graft.llm.DupSpans.dropSpans): every document is rewritten with its
    * duplicated 48-gram spans CUT unless this document is the gram's
    * canonical owner (the smallest doc_id sharing it), so exactly one
    * copy of each duplicated region survives, deterministically. The
    * rebuild is pure Column algebra over each doc's sorted span array —
    * executor-side end to end — and the oracle reconstructs the same
    * text character-by-character (anti-join on cut positions +
    * string_agg), so a one-off error in ANY span boundary, the ownership
    * rule, or the gap stitching diverges on the full rebuilt string. */
  def q83DupDrop(spark: SparkSession, dir: String): DataFrame =
    DupSpans.dropSpans(Tables.documents(spark, dir), "text", "doc_id", L = 48)

  val q83Sql: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    substr(text, CAST(i AS INT), 48) AS gram
      |  FROM documents, LATERAL (
      |    SELECT unnest(range(1, length(text) - 48 + 2)) AS i) t
      |  WHERE length(text) >= 48),
      |own AS (
      |  SELECT gram, min(doc_id) AS owner, count(DISTINCT doc_id) AS nd
      |  FROM g GROUP BY gram),
      |cuts AS (
      |  SELECT g.doc_id, g.pos FROM g JOIN own USING (gram)
      |  WHERE own.nd >= 2 AND g.doc_id <> own.owner),
      |cutpos AS (
      |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS p
      |  FROM cuts, LATERAL (SELECT unnest(range(cuts.pos, cuts.pos + 48)) AS p) u),
      |allpos AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    substr(text, CAST(i AS INT), 1) AS ch
      |  FROM documents, LATERAL (
      |    SELECT unnest(range(1, length(text) + 1)) AS i) t),
      |kept AS (
      |  SELECT a.doc_id, COALESCE(string_agg(a.ch, '' ORDER BY a.i), '') AS new_text
      |  FROM allpos a LEFT JOIN cutpos c ON c.doc_id = a.doc_id AND c.p = a.i
      |  WHERE c.p IS NULL GROUP BY a.doc_id),
      |nc AS (SELECT doc_id, count(*) AS n_cut FROM cutpos GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(nc.n_cut, 0) AS n_cut,
      |  COALESCE(k.new_text, '') AS new_text
      |FROM documents d
      |LEFT JOIN nc ON nc.doc_id = d.doc_id
      |LEFT JOIN kept k ON k.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q84
  /** WINNOWED exact duplicated-substring coverage (r12 — Schleimer–
    * Wilkerson–Aiken 2003 over the q80 pipeline): the anchor pass keeps
    * only the rightmost-minimum gram hash per window of 16 consecutive
    * positions, so the corpus-wide exchange carries ~2/17 of q80's rows
    * (~8× fewer bytes — the single biggest scale cost in the repo,
    * ~1.6× the corpus at 100 TB, engineered down to ~0.2×) while STILL
    * GUARANTEEING detection of every duplicated span of code-point
    * length >= 48 + 16 - 1 = 63 (a shared span that long contains a full
    * window of identical hashes in both documents, and winnow selection
    * is a pure function of the window's contents — both docs select the
    * same gram). Everything downstream is the q80 machinery unchanged:
    * cross-doc candidacy on the 8-byte hash, gram strings materialized
    * only for collision candidates and verified by value, running-max-end
    * island merge. The oracle replays the Karp–Rabin stream in HUGEINT
    * mod-2^64 arithmetic and the rightmost-min selection via a
    * (hash·2^32 + reversed-position) composite min — bit-portable
    * unsigned order, so any selection defect diverges. Docs with fewer
    * than 16 grams winnow as one truncated window (their minimal gram
    * still anchors). */
  def q84DupSpansWinnowed(spark: SparkSession, dir: String): DataFrame =
    DupSpans.report(Tables.documents(spark, dir), "text", "doc_id",
      L = 48, nCharsCol = "n_chars", winnowWindow = 16)

  // The hash replay is O(chars), not O(chars·48): with prefix sums
  // S[j] = Σ cp(k)·B^(−k) mod 2^64 (B is odd, so B^(−1) exists mod 2^64 —
  // 16109806864799210091), the window hash is H(i) = B^(i+47)·(S[i+47] −
  // S[i−1]) — one cumulative window sum over per-character rows plus a
  // recursive power table, instead of a 48-term fold per position. The
  // 64×64→64-bit modular products split into 32-bit halves so HUGEINT
  // (signed 128) never overflows. Winnow selection is the same composite
  // min as before, expressed as a 16-row window frame; rows past the last
  // full window are excluded (the kernel's windows are full windows; a
  // doc with < 16 grams keeps only its j = 1 truncated window).
  /** The winnowed-selection CTE chain shared by q84 (detect) and q90
    * (apply): Karp–Rabin hashes in HUGEINT mod-2^64 arithmetic, SWA'03
    * rightmost-min selection, ending in `g` = (doc_id, pos, gram) over
    * the SELECTED positions only. Single-sourced so the two oracles can
    * never drift on the selection law. */
  private val winnowGramCtes: String =
    """pw(k, bp, ib) AS (
      |  SELECT 0, 1::HUGEINT, 1::HUGEINT
      |  UNION ALL
      |  SELECT k + 1, (bp * 1000003) % 18446744073709551616::HUGEINT,
      |    ((ib % 4294967296) * 16109806864799210091::HUGEINT
      |      + (((ib // 4294967296) * (16109806864799210091 % 4294967296)) % 4294967296) * 4294967296::HUGEINT)
      |      % 18446744073709551616::HUGEINT
      |  FROM pw WHERE k < (SELECT max(length(text)) + 48 FROM documents)),
      |chars AS (
      |  SELECT doc_id, text, CAST(i AS BIGINT) AS i,
      |    CAST(ord(text[CAST(i AS INT)]) AS HUGEINT) AS cp, length(text) AS n
      |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i) t
      |  WHERE length(text) >= 48),
      |s AS (
      |  SELECT c.doc_id, c.text, c.i, c.n,
      |    sum((c.cp * pw.ib) % 18446744073709551616::HUGEINT)
      |      OVER (PARTITION BY c.doc_id ORDER BY c.i)
      |      % 18446744073709551616::HUGEINT AS sacc
      |  FROM chars c JOIN pw ON pw.k = c.i),
      |s2 AS (
      |  SELECT doc_id, text, i, n, sacc,
      |    coalesce(lag(sacc) OVER (PARTITION BY doc_id ORDER BY i),
      |      0::HUGEINT) AS sprev
      |  FROM s),
      |hrows AS (
      |  SELECT a.doc_id, a.text, a.i AS pos, a.n - 47 AS m,
      |    ((((b.sacc - a.sprev + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) % 4294967296) * pw.bp
      |      + (((((b.sacc - a.sprev + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) // 4294967296) * (pw.bp % 4294967296)) % 4294967296) * 4294967296::HUGEINT
      |    ) % 18446744073709551616::HUGEINT AS h
      |  FROM s2 a
      |  JOIN s2 b ON b.doc_id = a.doc_id AND b.i = a.i + 47
      |  JOIN pw ON pw.k = a.i + 47
      |  WHERE a.i + 47 <= a.n),
      |keys AS (
      |  SELECT doc_id, text, pos, m,
      |    h * 4294967296::HUGEINT + CAST(4294967295 - pos AS HUGEINT) AS key
      |  FROM hrows),
      |selk AS (
      |  SELECT doc_id, text, pos AS j, m,
      |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS mk
      |  FROM keys),
      |sel AS (
      |  SELECT DISTINCT doc_id, text,
      |    4294967295 - CAST(mk % 4294967296::HUGEINT AS BIGINT) AS pos
      |  FROM selk WHERE j <= greatest(m - 15, 1)),
      |g AS (
      |  SELECT doc_id, pos, substr(text, CAST(pos AS INT), 48) AS gram
      |  FROM sel)""".stripMargin

  val q84Sql: String =
    s"""WITH RECURSIVE $winnowGramCtes,
      |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |a AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
      |cov AS (
      |  SELECT doc_id, count(DISTINCT p) AS dup_chars
      |  FROM a, LATERAL (SELECT unnest(range(a.pos, a.pos + 48)) AS p) u
      |  GROUP BY doc_id),
      |cnt AS (SELECT doc_id, count(*) AS n_dup_anchors FROM a GROUP BY doc_id)
      |SELECT cnt.doc_id, cnt.n_dup_anchors, cov.dup_chars, d.n_chars,
      |  CAST(cov.dup_chars AS DOUBLE) / CAST(d.n_chars AS DOUBLE) AS dup_ratio
      |FROM cnt
      |JOIN cov ON cov.doc_id = cnt.doc_id
      |JOIN documents d ON d.doc_id = cnt.doc_id
      |ORDER BY cnt.doc_id""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Incremental exact-substring dedup (r12 — the q60 daily-ingest shape
    * for the q80 anchor pipeline): an increment slice (doc_id % 10 == 3,
    * the q60 convention) is flagged AGAINST the standing corpus — an
    * increment anchor is a duplicate iff its actual 48-gram occurs in a
    * corpus document; corpus × corpus is never compared. Per increment
    * doc: verified dup-anchor count, exact island-merged duplicated-char
    * coverage, ratio — zeros for clean docs, so an ingest gate can admit
    * on the same row set it scores. The corpus side is probed with a
    * SEMI join on the increment's 8-byte hash set and gram strings
    * materialize only for hash hits on BOTH sides (the q80 exactness
    * contract). The corpus anchors are computed on every run
    * ([[DupSpans.flagIncrement]]). */
  def q85IncrementalSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val inc = col("doc_id") % 10 === 3
    DupSpans.flagIncrement(d.filter(inc), d.filter(!inc), "text", "doc_id",
      L = 48, nCharsCol = "n_chars")
  }

  val q85Sql: String =
    """WITH gi AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    substr(text, CAST(i AS INT), 48) AS gram
      |  FROM documents, LATERAL (
      |    SELECT unnest(range(1, length(text) - 48 + 2)) AS i) t
      |  WHERE length(text) >= 48 AND doc_id % 10 = 3),
      |gc AS (
      |  SELECT DISTINCT substr(text, CAST(i AS INT), 48) AS gram
      |  FROM documents, LATERAL (
      |    SELECT unnest(range(1, length(text) - 48 + 2)) AS i) t
      |  WHERE length(text) >= 48 AND doc_id % 10 <> 3),
      |a AS (SELECT gi.doc_id, gi.pos FROM gi JOIN gc USING (gram)),
      |cov AS (
      |  SELECT doc_id, count(DISTINCT p) AS dup_chars
      |  FROM a, LATERAL (SELECT unnest(range(a.pos, a.pos + 48)) AS p) u
      |  GROUP BY doc_id),
      |cnt AS (SELECT doc_id, count(*) AS n_dup_anchors FROM a GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(cnt.n_dup_anchors, 0) AS n_dup_anchors,
      |  coalesce(cov.dup_chars, 0) AS dup_chars, d.n_chars,
      |  CAST(coalesce(cov.dup_chars, 0) AS DOUBLE)
      |    / CAST(d.n_chars AS DOUBLE) AS dup_ratio
      |FROM documents d
      |LEFT JOIN cnt ON cnt.doc_id = d.doc_id
      |LEFT JOIN cov ON cov.doc_id = d.doc_id
      |WHERE d.doc_id % 10 = 3
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q92
  /** REAL IMA ADPCM audio decode (r13 — the last cheap codec-free audio
    * family after q79's PCM16 and q87's G.711): 4-bit block-compressed
    * WAVs (format 0x11) synthesized with HOSTILE block sizes (down to
    * one data word = 9 samples per block, so the predictor/index reset
    * at every block header — where ADPCM implementations break — fires
    * constantly), decoded by MediaHeaders.decodeImaAdpcm through the
    * published IMA step/index tables, reduced to the q79 window stats.
    * The oracle replays the ENTIRE recurrence in SQL — a recursive CTE
    * steps predictor/index per nibble with the same integer deltas,
    * clamps, nibble order and per-block resets — so a wrong table entry,
    * a missed clamp, a swapped nibble, or a broken block reset diverges
    * on peak / sum-of-squares / checksum. Zero shuffle, scan-fused. */
  def q92AdpcmWindows(spark: SparkSession, dir: String): DataFrame = {
    val synthUdf = udf((id: Long) => MediaSynth.synthAdpcm(id))
    val withBin = Tables.documents(spark, dir)
      .select(col("doc_id"))
      .withColumn("payload", synthUdf(col("doc_id")))
    Multimodal.pcmWindows(withBin, "payload")()
      .select(col("doc_id"), col("sample_rate"), col("canales"),
        col("codec"), col("ventana"), col("n_muestras"), col("pico"),
        col("suma_cuadrados"), col("suma_ponderada"))
  }

  val q92Sql: String =
    """WITH RECURSIVE p AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 12 WHEN 2 THEN 36
      |      ELSE 132 END AS ba,
      |    2 + (doc_id * 3) % 6 AS nb
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, CAST(1 + 2 * (ba - 4) AS BIGINT) AS spb,
      |    unnest(range(0, nb)) AS blk
      |  FROM p),
      |dec(doc_id, blk, spb, j, pred, idx) AS (
      |  SELECT doc_id, blk, spb, CAST(0 AS BIGINT),
      |    CAST((doc_id * 29 + blk * 37) % 65536 - 32768 AS BIGINT),
      |    CAST((doc_id + blk * 17) % 89 AS BIGINT)
      |  FROM b
      |  UNION ALL
      |  SELECT doc_id, blk, spb, j + 1,
      |    GREATEST(-32768, LEAST(32767,
      |      pred + CASE WHEN nib >= 8 THEN -delta ELSE delta END)),
      |    GREATEST(0, LEAST(88, idx +
      |      [-1,-1,-1,-1,2,4,6,8][CAST(nib % 8 AS INT) + 1]))
      |  FROM (
      |    SELECT doc_id, blk, spb, j, pred, idx, nib,
      |      (step >> 3)
      |        + CASE WHEN nib % 2 = 1 THEN step >> 2 ELSE 0 END
      |        + CASE WHEN (nib // 2) % 2 = 1 THEN step >> 1 ELSE 0 END
      |        + CASE WHEN (nib // 4) % 2 = 1 THEN step ELSE 0 END AS delta
      |    FROM (
      |      SELECT doc_id, blk, spb, j, pred, idx,
      |        (doc_id * 7 + blk * 11 + j * 13) % 16 AS nib,
      |        [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
      |         34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,
      |         157,173,190,209,230,253,279,307,337,371,408,449,494,544,
      |         598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,
      |         1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,
      |         5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,
      |         15289,16818,18500,20350,22385,24623,27086,29794,32767
      |        ][CAST(idx AS INT) + 1] AS step
      |      FROM dec WHERE j < spb - 1) n0) n1),
      |m AS (SELECT doc_id, blk * spb + j AS k, pred AS muestra FROM dec)
      |SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
      |  CAST(1 AS INTEGER) AS canales, 'adpcm' AS codec,
      |  CAST(k // 512 AS INTEGER) AS ventana,
      |  CAST(count(*) AS INTEGER) AS n_muestras,
      |  CAST(max(abs(muestra)) AS INTEGER) AS pico,
      |  CAST(sum(muestra * muestra) AS BIGINT) AS suma_cuadrados,
      |  CAST(sum(muestra * (k % 512 + 1)) AS BIGINT) AS suma_ponderada
      |FROM m GROUP BY 1, 2, 3, 4, 5""".stripMargin

  // ---------------------------------------------------------------- q90
  /** WINNOWED apply-side dedup (r13 — the q84 scale lever plumbed into
    * the q83 TRANSFORM, the repo's largest 100× wall): every document is
    * rewritten with its duplicated spans cut, but the anchor pass keeps
    * only the SWA'03 rightmost-min gram per 16-position window, so the
    * corpus-wide exchange is ~8× smaller than q83's. The relaxed cut
    * contract (spec-pinned against the exact form in DupSpansSpec):
    * every shared span of code-point length >= 48 + 16 - 1 = 63 is still
    * cut in every non-owner document, except that up to 15 characters
    * may survive at each edge (the selected anchor sits up to w-1 in
    * from the left, and its 48-gram can end up to w-1 short of the
    * right); shorter spans are cut only if they happen to anchor. The
    * canonical-owner rule is UNCHANGED — min doc_id over the SELECTED
    * grams — so exactly one copy of each cut region survives and the
    * choice is a pure function of the corpus. The oracle composes the
    * q84 selection CTEs (single-sourced string) with the q83 cut/rebuild
    * CTEs, so a selection defect or a boundary off-by-one diverges on
    * the full rebuilt text. */
  def q90DupDropWinnowed(spark: SparkSession, dir: String): DataFrame =
    DupSpans.dropSpans(Tables.documents(spark, dir), "text", "doc_id",
      L = 48, winnowWindow = 16)

  val q90Sql: String =
    s"""WITH RECURSIVE $winnowGramCtes,
      |own AS (
      |  SELECT gram, min(doc_id) AS owner, count(DISTINCT doc_id) AS nd
      |  FROM g GROUP BY gram),
      |cuts AS (
      |  SELECT g.doc_id, g.pos FROM g JOIN own USING (gram)
      |  WHERE own.nd >= 2 AND g.doc_id <> own.owner),
      |cutpos AS (
      |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS p
      |  FROM cuts, LATERAL (SELECT unnest(range(cuts.pos, cuts.pos + 48)) AS p) u),
      |allpos AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    substr(text, CAST(i AS INT), 1) AS ch
      |  FROM documents, LATERAL (
      |    SELECT unnest(range(1, length(text) + 1)) AS i) t),
      |kept AS (
      |  SELECT a.doc_id, COALESCE(string_agg(a.ch, '' ORDER BY a.i), '') AS new_text
      |  FROM allpos a LEFT JOIN cutpos c ON c.doc_id = a.doc_id AND c.p = a.i
      |  WHERE c.p IS NULL GROUP BY a.doc_id),
      |nc AS (SELECT doc_id, count(*) AS n_cut FROM cutpos GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(nc.n_cut, 0) AS n_cut,
      |  COALESCE(k.new_text, '') AS new_text
      |FROM documents d
      |LEFT JOIN nc ON nc.doc_id = d.doc_id
      |LEFT JOIN kept k ON k.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q95
  /** INCREMENT apply-side dedup (r13 — q85's rewrite twin, the
    * daily-ingest TRANSFORM): the increment slice (doc_id % 10 == 3,
    * the q60/q85 convention) is rewritten with every span the STANDING
    * corpus already holds cut out — the corpus owns, so every verified
    * increment anchor cuts; increment-internal duplication is
    * untouched and corpus × corpus is never compared. Winnowed on both
    * sides (w = 16, the q84/q90 lever): shared spans >= 63 code points
    * are guaranteed cut with up to 15 chars surviving at each edge,
    * and the anchor exchanges are ~8× smaller. Output (doc_id, n_cut,
    * new_text) for EVERY increment doc ([[DupSpans.dropIncrement]]; the
    * corpus anchors are computed on every run). The oracle composes
    * the q84 winnowed-selection CTEs (single-sourced string) with the
    * q85 asymmetric-match rule and the q90 cut/rebuild CTEs — full
    * rebuilt-text compare. */
  def q95IncrementDrop(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val inc = col("doc_id") % 10 === 3
    DupSpans.dropIncrement(d.filter(inc), d.filter(!inc), "text", "doc_id",
      L = 48, winnowWindow = 16)
  }

  val q95Sql: String =
    s"""WITH RECURSIVE $winnowGramCtes,
      |ca AS (
      |  SELECT g.doc_id, g.pos FROM g
      |  WHERE g.doc_id % 10 = 3
      |    AND g.gram IN (SELECT gram FROM g WHERE doc_id % 10 <> 3)),
      |cutpos AS (
      |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS p
      |  FROM ca, LATERAL (SELECT unnest(range(ca.pos, ca.pos + 48)) AS p) u),
      |allpos AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    substr(text, CAST(i AS INT), 1) AS ch
      |  FROM documents, LATERAL (
      |    SELECT unnest(range(1, length(text) + 1)) AS i) t
      |  WHERE doc_id % 10 = 3),
      |kept AS (
      |  SELECT a.doc_id, COALESCE(string_agg(a.ch, '' ORDER BY a.i), '') AS new_text
      |  FROM allpos a LEFT JOIN cutpos c ON c.doc_id = a.doc_id AND c.p = a.i
      |  WHERE c.p IS NULL GROUP BY a.doc_id),
      |nc AS (SELECT doc_id, count(*) AS n_cut FROM cutpos GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(nc.n_cut, 0) AS n_cut,
      |  COALESCE(k.new_text, '') AS new_text
      |FROM documents d
      |LEFT JOIN nc ON nc.doc_id = d.doc_id
      |LEFT JOIN kept k ON k.doc_id = d.doc_id
      |WHERE d.doc_id % 10 = 3
      |ORDER BY d.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q95_increment_drop"   -> (q95IncrementDrop _),
    "q92_adpcm_windows"    -> (q92AdpcmWindows _),
    "q90_dup_drop_winnowed" -> (q90DupDropWinnowed _),
    "q87_g711_windows"     -> (q87G711Windows _),
    "q86_ann_pq_filtered"  -> ((s, d) => q86AnnPqFiltered(s, d)),
    "q85_incremental_spans" -> (q85IncrementalSpans _),
    "q84_dup_spans_winnowed" -> (q84DupSpansWinnowed _),
    "q79_pcm_windows"      -> (q79PcmWindows _),
    "q80_dup_spans"        -> (q80DupSpans _),
    "q82_ann_filtered"     -> ((s, d) => q82AnnFiltered(s, d)),
    "q83_dup_drop"         -> (q83DupDrop _),
    "q55_ann_ivf"          -> ((s, d) => q55AnnIvf(s, d)),
    "q77_ann_pq"           -> ((s, d) => q77AnnPq(s, d)),
    "q60_incremental_dedup" -> ((s, d) => q60IncrementalDedup(s, d)),
    "q63_ann_quantized"    -> (q63AnnQuantized _),
    "q38_dedup_components" -> (q38DedupComponents _),
    "q39_pii_scrub"      -> (q39PiiScrub _),
    "q40_chunking"       -> ((s, d) => q40Chunking(s, d)),
    "q15_dedup_exact"    -> (q15DedupExact _),
    "q16_text_quality"   -> (q16TextQuality _),
    "q17_token_count"    -> (q17TokenCount _),
    "q18_lang_id"        -> (q18LangId _),
    "q19_minhash_dedup"  -> (q19MinhashDedup _),
    "q20_simhash"        -> (q20Simhash _),
    "q21_ngram_jaccard"  -> (q21NgramJaccard _),
    "q22_ann_topk"       -> (q22AnnTopK _),
    "q23_ann_lsh"        -> (q23AnnLsh _),
    "q24_embedding_dedup" -> (q24EmbeddingDedup _),
    "q25_fingerprint"    -> (q25Fingerprint _),
    "q26_multimodal_meta" -> (q26MultimodalMeta _),
    "q65_media_decode"   -> (q65MediaDecode _),
    "q78_av_decode"      -> (q78AvDecode _),
    "q68_cdc_chunks"     -> (q68CdcChunks _),
    "q69_cluster_medoids" -> ((s, d) => q69ClusterMedoids(s, d)))

  val oracles: Map[String, String] = Map(
    "q92_adpcm_windows"    -> q92Sql,
    "q95_increment_drop"   -> q95Sql,
    "q90_dup_drop_winnowed" -> q90Sql,
    "q87_g711_windows"     -> q87Sql,
    "q86_ann_pq_filtered"  -> q86Sql,
    "q85_incremental_spans" -> q85Sql,
    "q84_dup_spans_winnowed" -> q84Sql,
    "q79_pcm_windows"      -> q79Sql,
    "q80_dup_spans"        -> q80Sql,
    "q82_ann_filtered"     -> q82Sql,
    "q83_dup_drop"         -> q83Sql,
    "q55_ann_ivf"          -> q55Sql,
    "q77_ann_pq"           -> q77Sql,
    "q60_incremental_dedup" -> q60Sql,
    "q63_ann_quantized"    -> q63Sql,
    "q38_dedup_components" -> q38Sql,
    "q39_pii_scrub"      -> q39Sql,
    "q40_chunking"       -> q40Sql,
    "q15_dedup_exact"    -> q15Sql,
    "q19_minhash_dedup"  -> q19Sql,
    "q20_simhash"        -> q20Sql,
    "q23_ann_lsh"        -> q23Sql,
    "q25_fingerprint"    -> q25Sql,
    "q16_text_quality"   -> q16Sql,
    "q17_token_count"    -> q17Sql,
    "q18_lang_id"        -> q18Sql,
    "q21_ngram_jaccard"  -> q21Sql,
    "q22_ann_topk"       -> q22Sql,
    "q24_embedding_dedup" -> q24Sql,
    "q26_multimodal_meta" -> q26Sql,
    "q65_media_decode"   -> q65Sql,
    "q78_av_decode"      -> q78Sql,
    "q68_cdc_chunks"     -> q68Sql,
    "q69_cluster_medoids" -> q69Sql)
}
