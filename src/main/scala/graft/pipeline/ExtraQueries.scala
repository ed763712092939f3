package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.operators.Keys

/** Completion wave (SURVEY §2 A, rows 27–30): hierarchy flattening,
  * running balances, and semi/anti join exclusion semantics. */
object ExtraQueries {
  private def dec(c: Column): Column = c.cast(DecimalType(38, 6))

  // ---------------------------------------------------------------- q27
  /** Multi-level hierarchy flatten: each level conformed to a common shape
    * and unioned with a level tag (reference: domain/
    * m_estructura_comercial.py:20-196 unions ruta/zona/division/subregion/
    * region into one structure dim). Union is metadata-only — no shuffle. */
  def q27HierarchyUnion(spark: SparkSession, dir: String): DataFrame = {
    val reg = Tables.region(spark, dir)
    val nat = Tables.nation(spark, dir)
    val lvlRegion = reg.select(
      Keys.surrogate(lit("R"), col("r_regionkey")).as("id_estructura"),
      lit(null).cast("string").as("id_padre"),
      upper(trim(col("r_name"))).as("descripcion"),
      lit(1).cast(IntegerType).as("nivel"),
      lit("region").as("tipo"))
    val lvlNation = nat.select(
      Keys.surrogate(lit("N"), col("n_nationkey")).as("id_estructura"),
      Keys.surrogate(lit("R"), col("n_regionkey")).as("id_padre"),
      upper(trim(col("n_name"))).as("descripcion"),
      lit(2).cast(IntegerType).as("nivel"),
      lit("nacion").as("tipo"))
    lvlRegion.unionByName(lvlNation)
  }

  val q27Sql: String =
    """SELECT concat_ws('|', 'R', CAST(r_regionkey AS VARCHAR)) AS id_estructura,
      |  CAST(NULL AS VARCHAR) AS id_padre, upper(trim(r_name)) AS descripcion,
      |  CAST(1 AS INTEGER) AS nivel, 'region' AS tipo
      |FROM region
      |UNION ALL
      |SELECT concat_ws('|', 'N', CAST(n_nationkey AS VARCHAR)),
      |  concat_ws('|', 'R', CAST(n_regionkey AS VARCHAR)), upper(trim(n_name)),
      |  CAST(2 AS INTEGER), 'nacion'
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Running balance per customer: unbounded-preceding cumulative sum in
    * order-date order (reference: domain/t_saldos_iniciales.py balance
    * carry-forward). One shuffle on the key; decimal-exact so the running
    * prefix sums are order-stable. */
  def q28RunningBalance(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").as("imp_pedido"))
      .withColumn("saldo_acumulado",
        graft.operators.CurrencyMicros.toAmount(sum(
          graft.operators.CurrencyMicros.micros(col("imp_pedido"))).over(w)))
  }

  val q28Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  o_totalprice AS imp_pedido,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS saldo_acumulado
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Anti join: customers with no orders in a period (NOT EXISTS). At scale
    * a broadcast/shuffled left_anti carries only the keys. */
  def q29AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cst = Tables.customer(spark, dir)
    val ord97 = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cst.join(ord97, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  val q29Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o_orderdate <  TIMESTAMP '1998-01-01')""".stripMargin

  // ---------------------------------------------------------------- q30
  /** Semi join: customers with at least one urgent order (EXISTS). */
  def q30SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cst = Tables.customer(spark, dir)
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    cst.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal").as("imp_saldo"))
  }

  val q30Sql: String =
    """SELECT c_custkey, c_name, c_acctbal AS imp_saldo
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Semi-structured extraction: JSON event properties parsed lakeside
    * (events.props carries a JSON payload; the stage layer conforms it to
    * typed columns). get_json_object is codegen'd path extraction — no UDF,
    * pushdown-friendly column pruning still applies. */
  def q31JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("prop_k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eventos"),
        sum(col("prop_k")).as("suma_k"),
        min(col("prop_k")).as("min_k"),
        max(col("prop_k")).as("max_k"))
  }

  val q31Sql: String =
    """SELECT event_type, count(*) AS n_eventos,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS suma_k,
      |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
      |FROM events GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Deterministic per-source corpus sample via the bottom-k-by-hash
    * TypedImperativeAggregate (graft.functions.BottomKSample): one pass,
    * O(k) state per group, reproducible across retries/partitioning. */
  def q32DeterministicSample(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(expr("bottom_k_sample(md5(text), doc_id, 5)").as("muestra"))
      .select(col("source"), posexplode(col("muestra")).as(Seq("pos", "doc_id")))
      .select(col("source"), (col("pos") + 1).cast(IntegerType).as("rango"), col("doc_id"))
  }

  val q32Sql: String =
    """SELECT source, CAST(rn AS INTEGER) AS rango, doc_id FROM (
      |  SELECT source, doc_id, row_number() OVER (
      |    PARTITION BY source ORDER BY md5(text), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 5""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Corpus vocabulary: explode word tokens, count, keep the top 100 terms
    * (count desc, term asc). The flatten-then-aggregate shape: explode is
    * pipelined (no shuffle), the single shuffle is the word-count agg with
    * map-side partial aggregation, and the top-k is a tiny global sort. */
  def q33Vocabulary(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(explode(split(trim(col("text")), "\\s+")).as("termino"))
      .filter(length(col("termino")) > 0)
      .groupBy(col("termino"))
      .agg(count(lit(1)).as("frecuencia"))
      .orderBy(col("frecuencia").desc, col("termino").asc)
      .limit(100)
  }

  val q33Sql: String =
    """SELECT termino, count(*) AS frecuencia FROM (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS termino
      |  FROM documents)
      |WHERE length(termino) > 0
      |GROUP BY termino
      |ORDER BY frecuencia DESC, termino ASC
      |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q89
  /** EXACT heavy hitters over the token stream: every term with frequency
    * strictly > n/201 (k = 200 counters), with exact counts. q33's
    * vocabulary shuffles the FULL token stream to count it; this is the
    * scale form — a mergeable Misra–Gries pass (O(k) state, ≤ k pairs
    * per partition in the exchange, guaranteed superset of the answer)
    * then an exact count of the ≤ k candidates only (the stream is
    * InSet-filtered BEFORE the exchange). Two scans, both exchanges
    * bounded by k, results exact — operators/HeavyHitters. Tokenization
    * identical to q33 (whitespace split, empties dropped). */
  def q89HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val tokens = Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("termino"))
      .filter(length(col("termino")) > 0)
    graft.operators.HeavyHitters.exact(tokens, "termino", k = 200)
  }

  val q89Sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS termino
      |  FROM documents),
      |tt AS (SELECT termino FROM tok WHERE length(termino) > 0),
      |n AS (SELECT count(*) AS c FROM tt)
      |SELECT termino, count(*) AS frecuencia
      |FROM tt, n
      |GROUP BY termino, n.c
      |HAVING count(*) * 201 > n.c
      |ORDER BY frecuencia DESC, termino ASC
      |LIMIT 200""".stripMargin

  // ---------------------------------------------------------------- q93
  /** PER-GROUP exact heavy hitters — q89's two bounded passes keyed by
    * language (q67's top-terms-per-source shape WITH guarantees): for
    * every lang, every term whose in-language frequency·(k+1) exceeds
    * that language's token count, with exact counts. Pass 1 runs
    * mg_candidates under groupBy(lang) (exchange ≤ k pairs per
    * partition-group; driver state ≤ |langs|·k — the DimLookup capped
    * collect); pass 2 semi-joins the stream against the broadcast
    * (lang, term) candidate table BEFORE the exchange, so the count
    * shuffle carries ≤ |langs|·k keys, then the per-group integer
    * threshold count·(k+1) > n_lang cuts the superset exactly —
    * operators/HeavyHitters.exactPerGroup. Tokenization identical to
    * q33/q89. */
  def q93GroupHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val tokens = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(split(trim(col("text")), "\\s+")).as("termino"))
      .filter(length(col("termino")) > 0)
    graft.operators.HeavyHitters.exactPerGroup(tokens, "lang", "termino",
      k = 40)
  }

  val q93Sql: String =
    """WITH tok AS (
      |  SELECT lang,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS termino
      |  FROM documents),
      |tt AS (SELECT lang, termino FROM tok WHERE length(termino) > 0),
      |n AS (SELECT lang, count(*) AS c FROM tt GROUP BY lang)
      |SELECT tt.lang, tt.termino, count(*) AS frecuencia
      |FROM tt JOIN n ON n.lang = tt.lang
      |GROUP BY tt.lang, tt.termino, n.c
      |HAVING count(*) * 41 > n.c
      |ORDER BY tt.lang ASC, frecuencia DESC, tt.termino ASC""".stripMargin

  // ---------------------------------------------------------------- q94
  /** APPROXIMATE distinct via HyperLogLog (r13 — the sketch path next
    * to q33's exact vocabulary and q2's bitmap_distinct): estimated
    * distinct 3-word shingles per language, with the exact count
    * alongside as the diagnostic. The scale argument is q89's, for
    * cardinality instead of frequency: exact distinct over an unbounded
    * key domain shuffles the whole domain — the `hll_registers`
    * aggregate (functions/HllRegisters) carries ONE 512-byte mergeable
    * buffer per (lang, partition) instead, at ~4.6% fixed error
    * (p = 9). Every emitted value is bit-reproducible in the DuckDB
    * oracle: registers from the md5-low64 hash family (bucket by
    * integer division, rho by exact bit length), the harmonic
    * denominator kept as an exact integer (DECIMAL(38,0)/HUGEINT) with
    * ONE correctly-rounded cast, and the estimate a fixed chain of
    * correctly-rounded double ops — operators/ApproxDistinct. The
    * exact column is the only key-domain exchange in the plan, and it
    * exists purely as the comparison; the sketch column is the 100 TB
    * path. */
  def q94HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ApproxDistinct
    val p = 9
    val sh = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(graft.llm.Shingles.shingles(col("text"), 3)).as("sh"))
    // sketch + exact diagnostic from ONE shingle pass (r14 sweep —
    // guide §1.2: don't compute things twice): the previous
    // est-join-exact form planned documents TWICE (2 scans, 2 shingle
    // Generates, 4 Exchanges, broadcast join). HLL registers are
    // idempotent per value — each register is the max rho over the
    // hashes that land in its bucket, and deduplication changes
    // multiplicities, never the hash set — so registers over the
    // DISTINCT (lang, sh) rows are bit-identical to registers over the
    // raw stream, and n_exact is a plain count of the same rows. The
    // (lang, sh) exchange below is the one the exact branch already
    // paid; the register aggregation now rides it instead of re-scanning
    // the corpus. (A single mixed countDistinct+registers aggregate was
    // measured first: Catalyst's distinct rewrite Expands 2× and
    // serializes what AQE ran as two concurrent subtrees — 0.75→1.42 s,
    // rejected.)
    val agg = sh.distinct().groupBy(col("lang")).agg(
      ApproxDistinct.registers(
        ApproxDistinct.md5Low64(col("sh")), p).as("__regs"),
      // no sh is null: KernelParitySpec "word_shingles never emits a null element"
      count(lit(1)).as("n_exact"))
    agg
      .withColumn("v_zero", ApproxDistinct.vZero(col("__regs")))
      .withColumn("s_scaled", ApproxDistinct.sScaled(col("__regs"), p))
      .withColumn("est_distinct",
        ApproxDistinct.estimate(col("s_scaled"), col("v_zero"), p))
      .select(col("lang"), col("n_exact"), col("v_zero"), col("s_scaled"),
        col("est_distinct"))
      .orderBy(col("lang"))
  }

  val q94Sql: String =
    """WITH shing AS (
      |  SELECT lang, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 3, 0) + 2),
      |    i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')))) AS sh
      |  FROM documents),
      |h AS (SELECT lang, sh, CAST(md5_number_lower(sh) AS HUGEINT) AS u FROM shing),
      |br AS (
      |  SELECT lang, u // (1::HUGEINT << 55) AS idx,
      |    CASE WHEN u % (1::HUGEINT << 55) = 0 THEN 56
      |         ELSE 56 - length(bin(u % (1::HUGEINT << 55))) END AS rho
      |  FROM h),
      |regs AS (SELECT lang, idx, max(rho) AS mj FROM br GROUP BY 1, 2),
      |agg AS (
      |  SELECT lang, count(*) AS n_present,
      |    sum(1::HUGEINT << CAST(56 - mj AS INT)) AS s_present
      |  FROM regs GROUP BY lang),
      |ex AS (SELECT lang, count(DISTINCT sh) AS n_exact FROM shing GROUP BY lang),
      |fin AS (
      |  SELECT a.lang, ex.n_exact,
      |    CAST(512 - a.n_present AS INTEGER) AS v_zero,
      |    CAST(a.s_present + (512 - a.n_present) * (1::HUGEINT << 56) AS DOUBLE) AS s_scaled
      |  FROM agg a JOIN ex USING (lang))
      |SELECT lang, n_exact, v_zero, s_scaled,
      |  CASE WHEN (0.7213/(1.0 + 1.079/512.0)) * 512.0 * 512.0 * 72057594037927936.0 / s_scaled <= 1280.0
      |            AND v_zero > 0
      |       THEN 512.0 * ln(512.0 / v_zero)
      |       ELSE (0.7213/(1.0 + 1.079/512.0)) * 512.0 * 512.0 * 72057594037927936.0 / s_scaled END AS est_distinct
      |FROM fin ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Table profiler (r13 — the data-catalog statistics the reference
    * delegates to its crawler layer, as an ENGINE operator): for a
    * chosen column set of `orders`, one scan melts (column, value
    * rendered as string) and bounded aggregates emit per column — row
    * count, null count, HLL-estimated distinct (p = 7, the q94 sketch
    * over the portable md5-low64 family), lexicographic min/max of the
    * rendered value. Scale shape: the melt explodes 5 rows per input
    * row but every aggregate is a map-side partial, so the ONE exchange
    * carries 5 bounded rows (count/nulls/128-byte registers/min/max)
    * per partition — never a key-domain shuffle, never a per-column
    * rescan. Low-cardinality columns land in HLL's linear-counting
    * branch (the one ln call); the estimate is emitted ROUNDED TO A
    * BIGINT, so a last-ulp libm divergence cannot surface (a
    * transcendental never sits on .5) — the raw-branch path stays the
    * exact-integer/CR-double chain q94 pins. Rendering is CAST AS
    * STRING on both engines (longs and ISO dates render identically),
    * so the profile is schema-agnostic and cross-engine stable. */
  def q96TableProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ApproxDistinct
    val o = Tables.orders(spark, dir)
    val p = 7
    val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority",
      "o_orderkey", "o_orderdate")
    // One GLOBAL aggregate over the un-melted rows (r14 sweep — guide
    // §2.3 aggregate before you generate): the melt form pushed 5× the
    // row count through Generate and the hash aggregate just to key the
    // same 25 aggregate buffers by column name. Here each input row
    // updates the same buffers directly; the per-column rows are
    // generated AFTER aggregation, from one row. Every aggregate is the
    // same function over the same rendered values, so the emitted
    // profile is identical; n = count(*) per column in the melt == one
    // shared count(*) here. The n > 0 guard reproduces the melt form's
    // empty-table behavior (no rows) exactly.
    val aggExprs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      val v = col(c).cast("string")
      Seq(
        sum(when(v.isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        ApproxDistinct.registers(
          ApproxDistinct.md5Low64(v), p).as(s"__regs_$c"),
        min(v).as(s"__min_$c"),
        max(v).as(s"__max_$c"))
    }
    o.agg(aggExprs.head, aggExprs.tail: _*)
      .filter(col("__n") > 0L)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("columna"), col("__n").as("n"),
          col(s"__null_$c").as("n_null"), col(s"__regs_$c").as("__regs"),
          col(s"__min_$c").as("min_valor"),
          col(s"__max_$c").as("max_valor"))): _*)).as("kv"))
      .select(col("kv.columna").as("columna"), col("kv.n").as("n"),
        col("kv.n_null").as("n_null"), col("kv.__regs").as("__regs"),
        col("kv.min_valor").as("min_valor"), col("kv.max_valor").as("max_valor"))
      .withColumn("__v", ApproxDistinct.vZero(col("__regs")))
      .withColumn("__s", ApproxDistinct.sScaled(col("__regs"), p))
      .select(col("columna"), col("n"), col("n_null"),
        round(ApproxDistinct.estimate(col("__s"), col("__v"), p))
          .cast("long").as("est_distinct"),
        col("min_valor"), col("max_valor"))
      .orderBy(col("columna"))
  }

  val q96Sql: String =
    """WITH m AS (
      |  SELECT 'o_custkey' AS columna, CAST(o_custkey AS VARCHAR) AS valor FROM orders
      |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
      |  UNION ALL SELECT 'o_orderkey', CAST(o_orderkey AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders),
      |h AS (
      |  SELECT columna, CAST(md5_number_lower(valor) AS HUGEINT) AS u
      |  FROM m WHERE valor IS NOT NULL),
      |br AS (
      |  SELECT columna, u // (1::HUGEINT << 57) AS idx,
      |    CASE WHEN u % (1::HUGEINT << 57) = 0 THEN 58
      |         ELSE 58 - length(bin(u % (1::HUGEINT << 57))) END AS rho
      |  FROM h),
      |regs AS (SELECT columna, idx, max(rho) AS mj FROM br GROUP BY 1, 2),
      |agg AS (
      |  SELECT columna, count(*) AS np,
      |    sum(1::HUGEINT << CAST(58 - mj AS INT)) AS sp
      |  FROM regs GROUP BY 1),
      |base AS (
      |  SELECT columna, count(*) AS n,
      |    CAST(sum(CASE WHEN valor IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |    min(valor) AS min_valor, max(valor) AS max_valor
      |  FROM m GROUP BY 1),
      |fin AS (
      |  SELECT b.columna, b.n, b.n_null,
      |    CAST(128 - a.np AS INTEGER) AS v_zero,
      |    CAST(a.sp + (128 - a.np) * (1::HUGEINT << 58) AS DOUBLE) AS s_scaled,
      |    b.min_valor, b.max_valor
      |  FROM base b JOIN agg a USING (columna)),
      |est AS (
      |  SELECT *,
      |    (0.7213/(1.0 + 1.079/128.0)) * 128.0 * 128.0 * 288230376151711744.0 / s_scaled AS raw
      |  FROM fin)
      |SELECT columna, n, n_null,
      |  CAST(round(CASE WHEN raw <= 320.0 AND v_zero > 0
      |       THEN 128.0 * ln(128.0 / v_zero) ELSE raw END) AS BIGINT) AS est_distinct,
      |  min_valor, max_valor
      |FROM est ORDER BY columna""".stripMargin

  // ---------------------------------------------------------------- maps
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q96_table_profile"   -> (q96TableProfile _),
    "q94_hll_distinct"    -> (q94HllDistinct _),
    "q93_group_heavy_hitters" -> (q93GroupHeavyHitters _),
    "q89_heavy_hitters"   -> (q89HeavyHitters _),
    "q27_hierarchy_union" -> (q27HierarchyUnion _),
    "q28_running_balance" -> (q28RunningBalance _),
    "q29_anti_join"       -> (q29AntiJoin _),
    "q30_semi_join"       -> (q30SemiJoin _),
    "q31_json_extract"    -> (q31JsonExtract _),
    "q32_deterministic_sample" -> (q32DeterministicSample _),
    "q33_vocabulary"      -> (q33Vocabulary _))

  val oracles: Map[String, String] = Map(
    "q96_table_profile"   -> q96Sql,
    "q94_hll_distinct"    -> q94Sql,
    "q93_group_heavy_hitters" -> q93Sql,
    "q89_heavy_hitters"   -> q89Sql,
    "q27_hierarchy_union" -> q27Sql,
    "q28_running_balance" -> q28Sql,
    "q29_anti_join"       -> q29Sql,
    "q30_semi_join"       -> q30Sql,
    "q31_json_extract"    -> q31Sql,
    "q32_deterministic_sample" -> q32Sql,
    "q33_vocabulary"      -> q33Sql)
}
