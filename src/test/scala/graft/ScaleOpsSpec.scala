package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Salting
import graft.sources.Bucketing

class ScaleOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("salted join reproduces the plain join exactly") {
    val fact = graft.core.Tables.lineitem(spark, sf)
    val dim = graft.core.Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_orderpriority")
    val plain = fact.join(dim, $"l_orderkey" === $"o_orderkey")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSet
    val salted = Salting.saltedJoin(
        fact.withColumnRenamed("l_orderkey", "o_orderkey"), dim,
        key = "o_orderkey", buckets = 8, saltSource = $"l_linenumber")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSet
    assert(salted == plain)
  }

  test("two-phase salted sum equals direct sum") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0)).toDF("k", "v")
    val out = Salting.twoPhaseSum(df, Seq("k"), saltSource = $"v", buckets = 4,
      sumCols = Seq("v")).as[(String, Double)].collect().toMap
    assert(out == Map("a" -> 6.0, "b" -> 4.0))
  }

  test("bucketed join plans without an exchange") {
    def scrub(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (loc.exists()) rm(loc)
    }
    scrub("b_orders"); scrub("b_lineitem")
    val ord = graft.core.Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val li = graft.core.Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Bucketing.writeBucketed(ord, "b_orders", "o_orderkey", 8)
    Bucketing.writeBucketed(li, "b_lineitem", "o_orderkey", 8)
    // tiny test tables would broadcast, which bypasses the bucketed scan —
    // force the join strategy large tables would get
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join, got:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
