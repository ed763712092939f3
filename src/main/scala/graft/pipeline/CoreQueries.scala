package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, IntegerType}
import graft.core.Tables
import graft.operators._

/** Core relational wave — the reference's conformance/star/rollup patterns
  * re-expressed on the testdata star schema (SURVEY.md §2 A, rows 1–8).
  *
  * Numeric policy: money aggregates are summed as decimal(38,6) (cast from
  * double AFTER any scalar arithmetic). Decimal sums are exact and
  * order-independent, so results are stable under AQE re-planning and match
  * the DuckDB oracle bit-for-bit; scalar double math is IEEE-identical in
  * both engines. OUTPUT columns are DOUBLE: the final projection casts the
  * exact decimal sum to double (mirrored in the oracle SQL) — decimal output
  * types canonicalize differently across readers, doubles hash stably.
  * Un-aggregated money passes through as the source double untouched.
  */
object CoreQueries {
  private def dec(c: Column): Column = c.cast(DecimalType(38, 6))
  /** Exact decimal sum, emitted as double (order-independent then portable). */
  // exact long-micros currency sum (operators/CurrencyMicros): identical
  // output to sum(CAST(c AS DECIMAL(38,6))) cast double on the lake's
  // currency-grid columns, at codegen-long speed — the decimal sum paid a
  // per-row BigDecimal allocation that dominated scan-bound rollups
  private def moneySum(c: Column): Column =
    graft.operators.CurrencyMicros.toAmount(
      sum(graft.operators.CurrencyMicros.micros(c)))

  // ---------------------------------------------------------------- q1
  /** Pricing summary: groupBy agg with exact money math (the reference's
    * fact-rollup shape, reference: analytics/fact_cliente_venta.py:42-63). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q2
  /** Star join: fact ⋈ dims, revenue per region/nation (reference:
    * analytics/fact_venta_detalle.py:27-108). At 100 TB the lineitem⋈orders
    * join shuffles on orderkey. Only the genuinely fixed-size dims
    * (nation: 25 rows, region: 5 rows) carry a broadcast hint; customer
    * grows with scale factor, so its join is left to AQE — broadcast while
    * it fits, shuffled hash/merge once it doesn't. */
  /** q2's form is a MEASURED decision, revisited per round. r8 A/B'd
    * probing the DIMENSION path (nation/region attributes) and the
    * join form won — for small dims the broadcast-hash-join's
    * vectorized probe beats a scalar dictionary chain. r9 A/B'd the
    * form that matters at scale: collapsing the whole filtered
    * orders→customer→nation→region side into ONE o_orderkey→label
    * map probed inside the lineitem scan, which removes the FACT-side
    * orderkey shuffle (the 60M-row exchange that dominates at 100×).
    * Same-session min-of-4: 100× slice probe 2.89 s vs join 5.35 s;
    * sf0.1 a wash (0.74 vs 0.77). The probe form is the catalog
    * entry; the join form remains the over-cap fallback below. */
  def q2StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val li  = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val cst = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    // The fact side contributes revenue + the orderkey; everything else
    // reduces to one uniquely-keyed projection o_orderkey -> region|nation
    // (the date filter becomes a lookup miss; name values carry no '|').
    // Probing that map inside the lineitem scan leaves scan -> final
    // aggregate exchange, nothing else. Past the entry cap (2^24) the
    // builder answers None and the broadcast-star join keeps the 100 TB
    // path — same measured-size adaptivity as q8's OnePass form.
    val dim = ord.join(cst, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("o_orderkey"),
        concat_ws("|", col("r_name"), col("n_name")).as("rn"))
    graft.operators.DimLookup.forFrameLabeled(dim, "o_orderkey", "rn") match {
      case Some((probe, labels)) =>
        // r10: the probe packs (labelId << 32 | per-label dense ordinal),
        // so the exact distinct-orderkey count per label collapses to a
        // bitmap popcount (bitmap_distinct) — one bit-set per fact row
        // and a ceil(n/64)-word exchange instead of hash-set partials
        // over 60M probed rows (the r9 verdict's residual q2 cost). The
        // 25-label id->name seam rejoins via one broadcast of a
        // driver-built frame.
        import spark.implicits._
        val labelDf = broadcast(labels.zipWithIndex.map { case (l, i) =>
          val cut = l.indexOf('|')
          (i, l.substring(0, cut), l.substring(cut + 1))
        }.toSeq.toDF("label_id", "region_name", "nation_name"))
        li.withColumn("p", probe(col("l_orderkey")))
          .filter(col("p").isNotNull)
          .groupBy(shiftright(col("p"), 32).cast(IntegerType).as("label_id"))
          .agg(
            moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            call_function("bitmap_distinct",
              col("p").bitwiseAND(lit(0xffffffffL))).as("n_orders"))
          .join(labelDf, "label_id")
          .select(col("region_name"), col("nation_name"), col("revenue"), col("n_orders"))
      case None =>
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cst, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
          .agg(
            moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .select(col("region_name"), col("nation_name"), col("revenue"), col("n_orders"))
    }
  }

  val q2Sql: String =
    """SELECT r_name AS region_name, n_name AS nation_name,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  count(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q3
  /** Dim conformance: surrogate keys + defaults + normalization + casts
    * (reference: domain/t_venta.py:86-165, analytics/dim_cliente.py). */
  def q3DimConform(spark: SparkSession, dir: String): DataFrame = {
    val cst = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    cst.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"), "left")
      .select(
        Keys.surrogate(col("c_custkey"), col("c_nationkey")).as("id_cliente"),
        col("c_custkey").cast("long").as("cod_cliente"),
        upper(trim(col("c_name"))).as("desc_cliente"),
        Keys.orDefault(col("n_name"), "NATION DEFAULT").as("desc_nacion"),
        Keys.orDefault(col("r_name"), "REGION DEFAULT").as("desc_region"),
        upper(trim(col("c_mktsegment"))).as("desc_segmento"),
        col("c_acctbal").as("imp_saldo"),
        when(col("c_acctbal") < 0, lit(1)).otherwise(lit(0)).cast(IntegerType).as("es_moroso"))
  }

  val q3Sql: String =
    """SELECT concat_ws('|', CAST(c_custkey AS VARCHAR), CAST(c_nationkey AS VARCHAR)) AS id_cliente,
      |  CAST(c_custkey AS BIGINT) AS cod_cliente,
      |  upper(trim(c_name)) AS desc_cliente,
      |  coalesce(n_name, 'NATION DEFAULT') AS desc_nacion,
      |  coalesce(r_name, 'REGION DEFAULT') AS desc_region,
      |  upper(trim(c_mktsegment)) AS desc_segmento,
      |  c_acctbal AS imp_saldo,
      |  CAST(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS INTEGER) AS es_moroso
      |FROM customer
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin

  // ---------------------------------------------------------------- q4
  /** Latest order per customer via ranked-window dedup
    * (reference: analytics/dim_cliente.py:44-64). */
  def q4DedupLatest(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    DedupLatest.latest(ord, Seq("o_custkey"),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").as("imp_total"), col("o_orderstatus"))
  }

  val q4Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  o_totalprice AS imp_total, o_orderstatus
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- q5
  /** Period (yyyyMM) rollup — the reference's id_periodo grain
    * (reference: domain/t_venta.py:88, common_jobs_functions.py:358-378). */
  def q5PeriodAgg(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    ord.groupBy(Periods.periodOf(col("o_orderdate")).as("id_periodo"))
      .agg(
        count(lit(1)).as("cant_pedidos"),
        moneySum(col("o_totalprice")).as("imp_total"),
        countDistinct(col("o_custkey")).as("cant_clientes"))
  }

  val q5Sql: String =
    """SELECT strftime(o_orderdate, '%Y%m') AS id_periodo,
      |  count(*) AS cant_pedidos,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS imp_total,
      |  count(DISTINCT o_custkey) AS cant_clientes
      |FROM orders GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q6
  /** Trailing-3-month spend per customer. Reference does this as a
    * period-range self-join (fact_cliente_venta.py:86-128); we use a RANGE
    * window on a month index — same semantics, one shuffle (SURVEY §4). */
  def q6Trailing3m(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    // the whole money pipeline — monthly rollup AND the trailing RANGE
    // window — runs in exact long micros (operators/CurrencyMicros); the
    // decimal is reconstructed once per output row
    import graft.operators.CurrencyMicros
    val monthly = ord.groupBy(
        col("o_custkey"),
        Periods.monthStart(col("o_orderdate")).as("mes"))
      .agg(sum(CurrencyMicros.micros(col("o_totalprice"))).as("imp_mes"))
      .withColumn("mes_idx", Periods.monthIndex(col("mes")))
    TrailingAgg.trailingSums(monthly, Seq("o_custkey"), "mes_idx",
        Seq("imp_mes" -> "imp_3m"), months = 3)
      .select(col("o_custkey"), Periods.periodOf(col("mes")).as("id_periodo"),
        CurrencyMicros.toAmount(col("imp_mes")).as("imp_mes"),
        CurrencyMicros.toAmount(col("imp_3m")).as("imp_3m"))
  }

  val q6Sql: String =
    """WITH monthly0 AS (
      |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS mes,
      |    sum(CAST(o_totalprice AS DECIMAL(38,6))) AS imp_mes
      |  FROM orders GROUP BY 1, 2),
      |monthly AS (
      |  SELECT *, year(mes) * 12 + month(mes) AS mes_idx FROM monthly0)
      |SELECT o_custkey, strftime(mes, '%Y%m') AS id_periodo,
      |  CAST(CAST(imp_mes AS VARCHAR) AS DOUBLE) AS imp_mes,
      |  CAST(CAST(sum(imp_mes) OVER (PARTITION BY o_custkey ORDER BY mes_idx
      |    RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS imp_3m
      |FROM monthly""".stripMargin

  // ---------------------------------------------------------------- q7
  /** Top-3 orders per customer (rank window with total order). */
  def q7TopNPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    TopN.perGroup(ord, Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), n = 3, rankCol = "rn")
      .select(col("o_custkey"), col("rn").cast(IntegerType).as("rn"),
        col("o_orderkey"), col("o_totalprice").as("imp_total"))
  }

  val q7Sql: String =
    """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey,
      |  o_totalprice AS imp_total
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        row_number() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders)
      |WHERE rn <= 3""".stripMargin

  // ---------------------------------------------------------------- q8
  /** Customer metric block: countDistinct / max / datediff
    * (reference: analytics/fact_cliente_venta.py:49-63). Fixed reference
    * date instead of current_date so the result is deterministic. */
  def q8CustomerMetrics(spark: SparkSession, dir: String): DataFrame = {
    val li  = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(
        countDistinct(col("l_partkey")).as("cant_producto"),
        countDistinct(col("l_suppkey")).as("cant_proveedor"),
        countDistinct(col("o_orderkey")).as("cant_venta"),
        count(lit(1)).as("cant_lineas"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("imp_neto"),
        max(col("l_shipdate").cast(DateType)).as("ult_fecha_compra"),
        datediff(lit("2002-01-01").cast(DateType),
          max(col("l_shipdate").cast(DateType))).cast(IntegerType).as("ult_dia_compra"))
  }

  /** Exact two-level rewrite of [[q8CustomerMetrics]] for the 100 TB path.
    * Three countDistinct in ONE aggregate make Catalyst Expand the joined
    * fact ×4 before the shuffle (one replica per distinct group + one for
    * the plain aggs) — the dominant shuffle multiplied by 4. A SINGLE
    * distinct aggregate instead plans as two-level aggregation: map-side
    * dedup on (custkey, key), shuffle of the deduped pairs only, then a
    * count — so each metric runs in its own branch and the branches join
    * back on o_custkey, whose partitioning every branch already carries
    * (no further Exchange; the joins plan as sorts over co-partitioned
    * aggregates). Same rows, same values, fraction of the shuffle. */
  def q8CustomerMetricsSplit(spark: SparkSession, dir: String): DataFrame = {
    val li  = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val base = li.join(ord, col("l_orderkey") === col("o_orderkey"))
    def oneDistinct(key: String, as: String) =
      base.groupBy(col("o_custkey")).agg(countDistinct(col(key)).as(as))
    // cant_venta needs no (custkey, orderkey) pair shuffle at all: orders
    // maps orderkey→custkey 1:1, so dedup the 8-byte l_orderkey column
    // (map-side combine collapses the ~4 lines/order) and count through a
    // semi-join against orders
    val dv = ord.join(li.select(col("l_orderkey")).distinct(),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cant_venta"))
    val rest = base.groupBy(col("o_custkey")).agg(
      count(lit(1)).as("cant_lineas"),
      moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("imp_neto"),
      max(col("l_shipdate").cast(DateType)).as("ult_fecha_compra"),
      datediff(lit("2002-01-01").cast(DateType),
        max(col("l_shipdate").cast(DateType))).cast(IntegerType).as("ult_dia_compra"))
    oneDistinct("l_partkey", "cant_producto")
      .join(oneDistinct("l_suppkey", "cant_proveedor"), Seq("o_custkey"))
      .join(dv, Seq("o_custkey"))
      .join(rest, Seq("o_custkey"))
      .select(col("o_custkey"), col("cant_producto"), col("cant_proveedor"),
        col("cant_venta"), col("cant_lineas"), col("imp_neto"),
        col("ult_fecha_compra"), col("ult_dia_compra"))
  }

  /** One-exchange rewrite (r6, the catalog form): the split form's four
    * branches re-execute the lineitem⋈orders join per branch — cheapest
    * at small SF where the join is trivia, dominant at 10× (measured:
    * split 5.5 s vs this 4.7 s at the 10× slice; 2.8 vs 1.9 at sf0.1).
    * Here the fact is joined ONCE and explicitly re-partitioned on the
    * metric grain (o_custkey, one narrow exchange of the joined rows);
    * the multi-distinct aggregate's Expand then replicates rows
    * POST-exchange inside each partition, so the ×4 replication never
    * crosses the wire — the shuffle carries the fact once, not four
    * times (split) and not ×4 (naive Expand). At 100 TB this is the
    * plan that survives: one fact-wide exchange at the output grain. */
  def q8CustomerMetricsOneExchange(spark: SparkSession, dir: String): DataFrame = {
    val li  = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey"))
      .agg(
        countDistinct(col("l_partkey")).as("cant_producto"),
        countDistinct(col("l_suppkey")).as("cant_proveedor"),
        countDistinct(col("o_orderkey")).as("cant_venta"),
        count(lit(1)).as("cant_lineas"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("imp_neto"),
        max(col("l_shipdate").cast(DateType)).as("ult_fecha_compra"),
        datediff(lit("2002-01-01").cast(DateType),
          max(col("l_shipdate").cast(DateType))).cast(IntegerType).as("ult_dia_compra"))
  }

  /** Single-pass rewrite (r7, the catalog form): the one-exchange form's
    * residual cost is Expand CPU — every joined row is still iterated ×4
    * inside the partition (measured 6× DuckDB at the 10× slice). Here the
    * three distincts run in ONE native `multi_distinct_count` aggregate
    * (functions/MultiDistinctCount.scala: a TypedImperativeAggregate
    * keeping one compact primitive hash set per key per group), so each
    * joined row is touched exactly once, partials combine map-side (the
    * exchange carries serialized sets — the deduped values, same bytes
    * the two-level distinct plan ships, ONE exchange instead of four),
    * and the plain aggs ride the same ObjectHashAggregate.
    *
    * r8, two load-bearing scale decisions:
    *
    * 1. The orders join became a [[graft.operators.DimLookup]] probe:
    *    its only contribution is o_custkey (the o_orderkey the distincts
    *    use IS l_orderkey), so a broadcast primitive long→long map
    *    resolves it inside the lineitem scan stage — no join operator,
    *    no HashedRelation build (the serial driver cost that put a
    *    1.5M-row orders broadcast at ~1 s of the 10x wall), no join
    *    shuffle. Whole query: scan → custkey exchange → aggregate,
    *    2 stages. Past the dim cap (2^24 entries) forParquet answers
    *    None and the shuffle-join fallback below takes over — the path
    *    a 100 TB orders table exercises. Measured: 1.65 s → 0.90 s at
    *    the 10x slice (1.46x DuckDB), 7.6 s at 100x.
    *
    * 2. The explicit `repartition(o_custkey)` BEFORE the groupBy.
    *    Without it Spark runs the partial aggregate on the scan/join
    *    output partitioning, where customer keys are scattered — each
    *    map partition accumulates a per-key set map approaching the
    *    FULL customer cardinality with near-zero reduction, so past the
    *    sortBased.fallbackThreshold the whole fact degrades to
    *    sort-based aggregation: measured 35-105 s and super-linear
    *    (exp 1.09-1.30) at the 100x slice. Repartitioned by the
    *    grouping key first, BOTH aggregate passes run partition-local
    *    (the exchange need is already satisfied, so partial+final share
    *    the post-shuffle stage) and group state per partition is
    *    customers/shufflePartitions — 10x→100x exponent 0.93. The
    *    raised fallbackThreshold (GraftSession.tuned) remains only as a
    *    guard band. */
  def q8CustomerMetricsOnePass(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // The orders join contributes exactly ONE column (o_custkey; the
    // o_orderkey the distinct counts — and the join predicate — use IS
    // l_orderkey). That is DimLookup's case: resolve the FK through a
    // broadcast primitive probe inside the lineitem scan stage instead
    // of a join operator, and the whole query is scan → custkey
    // exchange → aggregate. Unmatched FKs drop via isNotNull (inner
    // semantics); past the dim cap forParquet answers None and the
    // shuffle-join form below takes over (the 100 TB path).
    val joined = graft.operators.DimLookup.forParquet(
        spark, s"$dir/orders.parquet", "o_orderkey", "o_custkey") match {
      case Some(lookup) =>
        li.withColumn("o_custkey", lookup(col("l_orderkey")))
          .filter(col("o_custkey").isNotNull)
          .withColumn("o_orderkey", col("l_orderkey"))
      case None =>
        li.join(Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
    }
    joined
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey"))
      .agg(
        call_function("multi_distinct_count",
          col("l_partkey"), col("l_suppkey"), col("o_orderkey")).as("dc"),
        count(lit(1)).as("cant_lineas"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("imp_neto"),
        max(col("l_shipdate").cast(DateType)).as("ult_fecha_compra"),
        datediff(lit("2002-01-01").cast(DateType),
          max(col("l_shipdate").cast(DateType))).cast(IntegerType).as("ult_dia_compra"))
      .select(col("o_custkey"),
        col("dc").getItem(0).as("cant_producto"),
        col("dc").getItem(1).as("cant_proveedor"),
        col("dc").getItem(2).as("cant_venta"),
        col("cant_lineas"), col("imp_neto"),
        col("ult_fecha_compra"), col("ult_dia_compra"))
  }

  val q8Sql: String =
    """SELECT o_custkey,
      |  count(DISTINCT l_partkey) AS cant_producto,
      |  count(DISTINCT l_suppkey) AS cant_proveedor,
      |  count(DISTINCT o_orderkey) AS cant_venta,
      |  count(*) AS cant_lineas,
      |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS imp_neto,
      |  max(CAST(l_shipdate AS DATE)) AS ult_fecha_compra,
      |  CAST(date_diff('day', max(CAST(l_shipdate AS DATE)), DATE '2002-01-01') AS INTEGER) AS ult_dia_compra
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- maps
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q2_star_join"       -> (q2StarJoin _),
    "q3_dim_conform"     -> (q3DimConform _),
    "q4_dedup_latest"    -> (q4DedupLatest _),
    "q5_period_agg"      -> (q5PeriodAgg _),
    "q6_trailing_3m"     -> (q6Trailing3m _),
    "q7_topn_per_group"  -> (q7TopNPerGroup _),
    // catalog runs the single-pass native aggregate (r7);
    // q8CustomerMetrics keeps the reference-literal Expand form,
    // q8CustomerMetricsSplit the r5 branch form and
    // q8CustomerMetricsOneExchange the r6 repartition form — the plan
    // spec pins all four value-identical
    "q8_customer_metrics" -> (q8CustomerMetricsOnePass _))

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" -> q1Sql,
    "q2_star_join"       -> q2Sql,
    "q3_dim_conform"     -> q3Sql,
    "q4_dedup_latest"    -> q4Sql,
    "q5_period_agg"      -> q5Sql,
    "q6_trailing_3m"     -> q6Sql,
    "q7_topn_per_group"  -> q7Sql,
    "q8_customer_metrics" -> q8Sql)
}
