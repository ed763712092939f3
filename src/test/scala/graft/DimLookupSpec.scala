package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DimLookup, LongLongMap}
import graft.pipeline.CoreQueries

/** DimLookup: the broadcast FK→attribute probe must be semantically an
  * inner equi-join against a uniquely-keyed dim — including the drop of
  * unmatched and NULL FKs — while never planning a join operator. */
class DimLookupSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String =
    Files.createTempDirectory("dimlookup").toString

  test("map probe: hits, misses, negative keys, dense and strided ids") {
    val m = LongLongMap.create(5)
    Seq(0L -> 10L, 1L -> 11L, -7L -> 3L, (1L << 40) -> 4L, 999L -> 5L)
      .foreach { case (k, v) => m.insert(k, v) }
    assert(m.probe(0L) == 10L && m.probe(1L) == 11L && m.probe(-7L) == 3L)
    assert(m.probe(1L << 40) == 4L && m.probe(999L) == 5L)
    assert(m.probe(2L) == LongLongMap.Miss && m.probe(-8L) == LongLongMap.Miss)
  }

  test("duplicate dim key refuses loudly (a join there would fan out)") {
    val m = LongLongMap.create(4)
    m.insert(5L, 1L)
    val e = intercept[IllegalStateException](m.insert(5L, 2L))
    assert(e.getMessage.contains("duplicate"))
  }

  test("reserved sentinel key/value refuses loudly") {
    val m = LongLongMap.create(4)
    intercept[IllegalArgumentException](m.insert(Long.MinValue, 1L))
    intercept[IllegalArgumentException](m.insert(1L, Long.MinValue))
  }

  test("lookup column == inner join, including unmatched and NULL FKs") {
    import spark.implicits._
    val dir = tmp()
    // dim with a hole at key 3; fact carries matched, unmatched, NULL
    Seq((1L, 100L), (2L, 200L), (4L, 400L)).toDF("k", "v")
      .write.parquet(s"$dir/dim.parquet")
    val fact = Seq(Some(1L), Some(2L), Some(3L), Some(4L), None, Some(99L))
      .toDF("fk")
    val dim = spark.read.parquet(s"$dir/dim.parquet")
    val viaJoin = fact.join(dim, col("fk") === col("k"))
      .select(col("fk"), col("v")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lookup = DimLookup.forParquet(spark, s"$dir/dim.parquet", "k", "v").get
    val viaLookup = fact.withColumn("v", lookup(col("fk")))
      .filter(col("v").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLookup == viaJoin)
    assert(viaLookup == Set(1L -> 100L, 2L -> 200L, 4L -> 400L))
  }

  test("string lookup == inner join on a name dim; refusals fall back") {
    import spark.implicits._
    // multi-byte UTF-8 survives the blob round-trip; key 3 misses
    val dim = Seq((1L, "añejo"), (2L, "crudo"), (4L, "寿司"))
      .toDF("k", "nombre")
    val fact = Seq(Some(1L), Some(2L), Some(3L), Some(4L), None)
      .toDF("fk")
    val viaJoin = fact.join(dim, col("fk") === col("k"))
      .select(col("fk"), col("nombre"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val lookup = DimLookup.forFrameString(dim, "k", "nombre").get
    val viaLookup = fact.withColumn("nombre", lookup(col("fk")))
      .filter(col("nombre").isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaLookup == viaJoin)
    assert(viaLookup == Set(1L -> "añejo", 2L -> "crudo", 4L -> "寿司"))
    // un-mappable frames answer None (the caller keeps its join):
    // duplicate keys fan out, NULL values can't be represented
    assert(DimLookup.forFrameString(
      Seq((1L, "a"), (1L, "b")).toDF("k", "nombre"), "k", "nombre").isEmpty)
    assert(DimLookup.forFrameString(
      Seq((1L, "a"), (2L, null)).toDF("k", "nombre"), "k", "nombre").isEmpty)
    // and the cap governs frames like parquet dims
    try {
      spark.conf.set("spark.graft.dimLookup.maxEntries", "1")
      assert(DimLookup.forFrameString(dim, "k", "nombre").isEmpty)
      assert(DimLookup.forFrame(dim.select(col("k"), lit(7L).as("v")),
        "k", "v").isEmpty)
    } finally spark.conf.unset("spark.graft.dimLookup.maxEntries")
  }

  test("labeled lookup: packed label ids + dense per-label ordinals; bitmap distinct is exact") {
    import spark.implicits._
    val dim = Seq((10L, "a"), (11L, "b"), (12L, "a"), (13L, "a"), (14L, "b"))
      .toDF("k", "lbl")
    val (probe, labels) = DimLookup.forFrameLabeled(dim, "k", "lbl").get
    assert(labels.toSeq == Seq("a", "b")) // first-seen order
    // fact hits keys 10,12,12,13 (label a: 3 distinct) and 11 (b: 1);
    // 99 misses, NULL skips
    val fact = Seq(Some(10L), Some(12L), Some(12L), Some(13L), Some(11L),
      Some(99L), None).toDF("fk")
    val out = fact.withColumn("p", probe(col("fk")))
      .filter(col("p").isNotNull)
      .groupBy(shiftright(col("p"), 32).cast("int").as("label_id"))
      .agg(call_function("bitmap_distinct",
        col("p").bitwiseAND(lit(0xffffffffL))).as("n"))
      .collect().map(r => (labels(r.getInt(0)), r.getLong(1))).toMap
    assert(out == Map("a" -> 3L, "b" -> 1L))
    // per-label ordinals are dense 0..count-1 (the bitmap contract)
    val packs = Seq(10L, 11L, 12L, 13L, 14L).toDF("fk")
      .select(probe(col("fk")).as("p")).collect().map(_.getLong(0))
    val byLabel = packs.groupBy(p => (p >>> 32).toInt)
      .view.mapValues(_.map(_ & 0xffffffffL).sorted.toSeq).toMap
    assert(byLabel == Map(0 -> Seq(0L, 1L, 2L), 1 -> Seq(0L, 1L)))
    // refusal law carries over: duplicate keys / NULL labels answer None
    assert(DimLookup.forFrameLabeled(
      Seq((1L, "a"), (1L, "b")).toDF("k", "lbl"), "k", "lbl").isEmpty)
    assert(DimLookup.forFrameLabeled(
      Seq((1L, "a"), (2L, null)).toDF("k", "lbl"), "k", "lbl").isEmpty)
  }

  test("labeled-probe cap co-evolution: ordinal domain always fits the bitmap bound") {
    // buildLabeled packs `labelId << 32 | ordinal` with BOTH halves
    // bounded by the map entry cap; bitmap_distinct refuses indices past
    // its own addressing bound. The probe's contract is that every
    // ordinal it can emit is consumable by bitmap_distinct — pin the
    // inequality so the two caps cannot drift apart silently.
    assert(graft.operators.LongLongMap.MaxMapEntries - 1 <=
      graft.functions.GrowableBitmap.MaxIndex,
      "DimLookup ordinal domain outgrew BitmapDistinct addressing — " +
        "co-evolve the caps")
    // and the lid half must survive the << 32 pack without touching sign
    assert(graft.operators.LongLongMap.MaxMapEntries.toLong < (1L << 31))
  }

  test("labeled probe with > 2^16 labels: lid width survives pack/unpack") {
    import spark.implicits._
    // 70,000 labels (past the u16 line) across 140,000 keys — two keys
    // per label so ordinals exercise 0 and 1 under every wide lid
    val n = 70000
    val dim = spark.range(0, 2L * n)
      .select(col("id").as("k"),
        concat(lit("lbl_"), (col("id") % n).cast("string")).as("lbl"))
    val (probe, labels) = DimLookup.forFrameLabeled(dim, "k", "lbl").get
    assert(labels.length == n)
    val packs = dim.select(col("k"), probe(col("k")).as("p"))
      .select(col("k"), shiftright(col("p"), 32).cast("int").as("lid"),
        col("p").bitwiseAND(lit(0xffffffffL)).as("ord"))
      .collect()
    assert(packs.length == 2 * n)
    packs.foreach { r =>
      val k = r.getLong(0); val lid = r.getInt(1); val ord = r.getLong(2)
      assert(lid >= 0 && lid < n, s"k=$k lid=$lid")
      assert(labels(lid) == s"lbl_${k % n}", s"k=$k lid=$lid")
      assert(ord == (if (k < n) 0L else 1L), s"k=$k ord=$ord")
    }
  }

  test("bitmap_distinct == count(DISTINCT) on a dense domain; nulls skip; bounds refuse") {
    import spark.implicits._
    // scattered duplicates over a dense 0..999 domain, multiple groups,
    // enough rows to force partial/final merge across partitions
    val df = (0 until 20000).map(i =>
      (i % 7, if (i % 11 == 0) None else Some((i * 37 % 1000).toLong)))
      .toDF("g", "idx").repartition(8)
    val got = df.groupBy($"g")
      .agg(call_function("bitmap_distinct", $"idx").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = df.groupBy($"g").agg(countDistinct($"idx").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == want)
    // negative / out-of-domain indices refuse loudly, never miscount
    val bad = Seq(-1L).toDF("idx")
      .agg(call_function("bitmap_distinct", col("idx")))
    val e = intercept[Exception](bad.collect())
    assert(e.getMessage != null)
  }

  test("chained star probes == the broadcast star join, end to end") {
    // the full q2-shaped flatten (filtered orders + customer + nation
    // name/region + region name, long AND string probes chained) must be
    // value-identical to the join form. Pinned here as the operator law;
    // the q2 CATALOG form keeps its joins — measured faster for small
    // dims (see CoreQueries.q2StarJoin's scaladoc for the A/B numbers).
    val dir = "/root/testdata/sf0.001"
    def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    val li = t("lineitem")
    val ord = t("orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val viaJoin = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t("customer"), col("o_custkey") === col("c_custkey"))
      .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t("region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("n_name"),
        col("r_name"))
    val probed = (for {
      ordCust <- DimLookup.forFrame(ord, "o_orderkey", "o_custkey")
      custNat <- DimLookup.forFrame(t("customer"), "c_custkey", "c_nationkey")
      natName <- DimLookup.forFrameString(t("nation"), "n_nationkey", "n_name")
      natReg  <- DimLookup.forFrame(t("nation"), "n_nationkey", "n_regionkey")
      regName <- DimLookup.forFrameString(t("region"), "r_regionkey", "r_name")
    } yield li
      .withColumn("o_custkey", ordCust(col("l_orderkey")))
      .filter(col("o_custkey").isNotNull)
      .withColumn("c_nationkey", custNat(col("o_custkey")))
      .filter(col("c_nationkey").isNotNull)
      .withColumn("n_name", natName(col("c_nationkey")))
      .withColumn("r_name", regName(natReg(col("c_nationkey"))))
      .filter(col("n_name").isNotNull && col("r_name").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"), col("n_name"),
        col("r_name"))).get
    assert(probed.exceptAll(viaJoin).isEmpty &&
      viaJoin.exceptAll(probed).isEmpty,
      "star probe chain must equal the star join row-for-row")
    assert(!probed.queryExecution.executedPlan.toString.contains("Join"),
      "the probe chain must plan no join operator")
  }

  test("file-backed frames cache by plan + fingerprint; rewrites invalidate") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")).toDF("k", "v", "s")
      .write.parquet(s"$dir/dim.parquet")
    def filtered = spark.read.parquet(s"$dir/dim.parquet")
      .filter(col("v") >= 20L)
    DimLookup.frameCache.clear()
    assert(DimLookup.forFrame(filtered, "k", "v").isDefined)
    assert(DimLookup.frameCache.size == 1, "file-backed frame must cache")
    val entry1 = DimLookup.frameCache.values.iterator.next()
    // a semantically-identical frame reuses the SAME broadcast build
    assert(DimLookup.forFrame(filtered, "k", "v").isDefined)
    assert(DimLookup.frameCache.size == 1 &&
      (DimLookup.frameCache.values.iterator.next().bc eq entry1.bc),
      "second build of the same frame must hit the cache")
    // a rewrite of the source files invalidates via the fingerprint
    Seq((2L, 20L, "b"), (3L, 30L, "c"), (4L, 40L, "d")).toDF("k", "v", "s")
      .write.mode("overwrite").parquet(s"$dir/dim.parquet")
    val after = DimLookup.forFrame(filtered, "k", "v").get
    val probed = spark.range(1).select(after(lit(4L)).as("v"))
      .head.getLong(0)
    assert(probed == 40L, "rewritten dim must rebuild, not serve stale")
    // literal (non-file) frames don't cache — no stable identity
    DimLookup.frameCache.clear()
    assert(DimLookup.forFrame(Seq((1L, 1L)).toDF("k", "v"), "k", "v").isDefined)
    assert(DimLookup.frameCache.isEmpty, "LocalRelation frames must not cache")
  }

  test("cache reuses by fingerprint and invalidates on rewrite") {
    import spark.implicits._
    val dir = tmp()
    val p = s"$dir/dim.parquet"
    Seq((1L, 10L)).toDF("k", "v").write.parquet(p)
    val a = DimLookup.forParquet(spark, p, "k", "v").get
    val b = DimLookup.forParquet(spark, p, "k", "v").get
    val probe = spark.range(1).select(a(lit(1L)).as("va"), b(lit(1L)).as("vb")).head
    assert(probe.getLong(0) == 10L && probe.getLong(1) == 10L)
    // rewrite with a different mapping: the stale map must not serve it
    Thread.sleep(1100) // mtime granularity
    Seq((1L, 20L)).toDF("k", "v").write.mode("overwrite").parquet(p)
    val c = DimLookup.forParquet(spark, p, "k", "v").get
    assert(spark.range(1).select(c(lit(1L))).head.getLong(0) == 20L)
  }

  test("entry cap: oversized dim answers None (caller keeps its join)") {
    import spark.implicits._
    val dir = tmp()
    val p = s"$dir/dim.parquet"
    (1L to 100L).map(i => (i, i)).toDF("k", "v").write.parquet(p)
    spark.conf.set("spark.graft.dimLookup.maxEntries", "10")
    try assert(DimLookup.forParquet(spark, p, "k", "v").isEmpty)
    finally spark.conf.unset("spark.graft.dimLookup.maxEntries")
    assert(DimLookup.forParquet(spark, p, "k", "v").isDefined)
  }

  test("q8 catalog form: lookup path == shuffle-join fallback, no join operator") {
    val viaLookup = CoreQueries.q8CustomerMetricsOnePass(spark, sf)
    assert(!viaLookup.queryExecution.executedPlan.toString.contains("Join"),
      "lookup path must not plan a join operator")
    // force the fallback by shrinking the cap below the orders count
    spark.conf.set("spark.graft.dimLookup.maxEntries", "1")
    val viaJoin =
      try CoreQueries.q8CustomerMetricsOnePass(spark, sf)
      finally spark.conf.unset("spark.graft.dimLookup.maxEntries")
    assert(viaJoin.queryExecution.executedPlan.toString.contains("Join"),
      "capped form must fall back to the join")
    assert(viaLookup.exceptAll(viaJoin).isEmpty &&
      viaJoin.exceptAll(viaLookup).isEmpty,
      "lookup and join forms must be value-identical")
  }
}
