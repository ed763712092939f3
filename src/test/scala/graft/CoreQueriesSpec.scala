package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.CoreQueries

object TestSpark {
  lazy val spark: SparkSession = graft.core.GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"
}

class CoreQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("driver contract: entry returns rows and maps stay aligned") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle key must have a query; query keys without oracle are
    // the documented rows-only set
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
    // every catalog query is value-checked: the hash-valued queries run on
    // portable (MD5-derived) families the oracle engine can reproduce
    assert((q -- o).isEmpty, s"unexpected rows-only queries: ${q -- o}")
  }

  test("q2 over-cap fallback: broadcast-star join value-identical to the probe form") {
    // r11 verdict item 6: the >cap fallback (DimLookup.forFrameLabeled
    // answers None, CoreQueries:121) was documented but nothing drove it.
    // Lowering the entry cap to 1 forces every dim over it — the cached
    // probe entry also stops hitting (the cache checks e.n <= cap) — and
    // the broadcast-star join must produce the identical result set.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val probeDf = CoreQueries.q2StarJoin(spark, sf)
    assert(probeDf.queryExecution.executedPlan.toString.contains("dim_lookup"),
      "default path must be the DimLookup probe form")
    val probe = rows(probeDf)
    // a sibling session with the cap floored: forFrameLabeled answers
    // None (the cache also stops hitting — it checks e.n <= cap) and the
    // query plans the broadcast-star join instead
    val tiny = spark.newSession()
    tiny.conf.set("spark.graft.dimLookup.maxEntries", "1")
    val fbDf = CoreQueries.q2StarJoin(tiny, sf)
    assert(!fbDf.queryExecution.executedPlan.toString.contains("dim_lookup"),
      "over-cap path must not plan a lookup probe")
    assert(rows(fbDf) == probe,
      "fallback join must be value-identical to the probe form")
  }

  test("all core queries produce rows at sf0.001") {
    CoreQueries.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("q1 money sums are exact (long micros) and emit portable doubles") {
    val df = CoreQueries.q1PricingSummary(spark, sf)
    // output schema is all-double for money (decimal types canonicalize
    // differently across parquet readers); the sum itself must stay EXACT
    // and order-independent under AQE — since r11 that is the long-micros
    // form (operators/CurrencyMicros): rint to the 1e-6 grid, plain long
    // sum, one decimal reconstruction per group. The plan must carry both
    // halves — no double accumulation anywhere.
    import org.apache.spark.sql.types.DoubleType
    assert(df.schema("sum_qty").dataType == DoubleType)
    assert(df.schema("sum_charge").dataType == DoubleType)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("rint") && plan.contains("as bigint"),
      s"expected the exact long-micros sum inside the plan:\n$plan")
    assert(plan.contains("decimal(38,0)"),
      s"expected the exact decimal reconstruction inside the plan:\n$plan")
    val row = df.filter("l_returnflag = 'R' and l_linestatus = 'F'").collect()
    assert(row.length <= 1)
    row.headOption.foreach(r => assert(r.getAs[Double]("sum_qty") > 0))
    // and the micros form equals the decimal-sum form it replaced, value
    // for value (both exact; the oracle gate pins this against DuckDB too)
    import org.apache.spark.sql.functions._
    val li = graft.core.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    val viaDecimal = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double").as("sum_qty"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double").as("sum_charge"))
    val got = df.select("l_returnflag", "l_linestatus", "sum_qty", "sum_charge")
    assert(got.exceptAll(viaDecimal).isEmpty && viaDecimal.exceptAll(got).isEmpty,
      "micros form diverged from the decimal-sum form")
  }

  test("q4 dedup keeps exactly one row per customer") {
    val df = CoreQueries.q4DedupLatest(spark, sf)
    assert(df.count() == df.select("o_custkey").distinct().count())
  }

  test("q7 rank never exceeds 3 and is dense from 1") {
    val df = CoreQueries.q7TopNPerGroup(spark, sf)
    assert(df.filter("rn > 3 or rn < 1").count() == 0)
  }

  test("q6 trailing window includes current month") {
    val df = CoreQueries.q6Trailing3m(spark, sf)
    assert(df.filter("imp_3m < imp_mes").count() == 0)
  }

  test("q2 probe plan carries no fact-side join; over-cap falls back to the broadcast star") {
    // r10 form: the filtered orders->customer->nation->region side
    // collapses into one o_orderkey -> (labelId << 32 | dense ordinal)
    // DimLookup probed inside the lineitem scan, and the exact distinct
    // orderkey count is a bitmap popcount over the dense ordinals — the
    // audited plan carries the probe, the bitmap_distinct aggregate, and
    // at most the 25-row broadcast label join (never a shuffled join:
    // the fact-side orderkey exchange is the scale cost the form removes)
    val plan = CoreQueries.q2StarJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dim_lookup"), "expected the labeled probe")
    assert(plan.contains("bitmap_distinct"), "expected the bitmap distinct")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"probe form must carry no shuffled join: $plan")
    // past the entry cap the builder answers None and the broadcast star
    // is the fallback: nation/region hinted, customer left to AQE
    val tiny = spark.newSession()
    tiny.conf.set("spark.graft.dimLookup.maxEntries", "4")
    val df = CoreQueries.q2StarJoin(tiny, sf)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "expected broadcast joins for dims in the fallback")
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.child.toString
    }
    assert(hinted.length == 2, s"expected exactly 2 broadcast hints, got: $hinted")
    assert(hinted.forall(t => t.contains("nation") || t.contains("region")),
      s"hints must target nation/region only: $hinted")
    // and both forms agree row-for-row (the probe == join law at q2 grain)
    val probeRows = CoreQueries.q2StarJoin(spark, sf).collect().toSet
    assert(df.collect().toSet == probeRows, "probe and join forms must agree")
  }

  test("q1 filter is pushed to the parquet scan") {
    val plan = CoreQueries.q1PricingSummary(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "expected shipdate pushdown")
  }
}
