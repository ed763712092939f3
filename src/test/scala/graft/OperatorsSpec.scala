package graft

import java.time.YearMonth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Periods
import graft.sources.LakeIO

class OperatorsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("periods list mirrors the reference get_periods") {
    assert(Periods.periods(3, YearMonth.of(2024, 2)) == Seq("202402", "202401", "202312"))
    assert(Periods.periods(2, YearMonth.of(2024, 1)) == Seq("202401", "202312"))
  }

  test("Lima clock anchors the current period across the UTC month edge") {
    // 2024-03-01T03:00Z is still 2024-02-29 22:00 in Lima (UTC-5): the
    // reference pins the zone precisely so month-boundary runs pick the
    // period the business day belongs to, not the cluster-UTC month
    val atEdge = java.time.Clock.fixed(
      java.time.Instant.parse("2024-03-01T03:00:00Z"),
      java.time.ZoneOffset.UTC)
    assert(Periods.nowLima(atEdge).toLocalDate.toString == "2024-02-29")
    assert(Periods.currentPeriod(atEdge) == "202402")
    assert(Periods.periodsNow(3, atEdge) == Seq("202402", "202401", "202312"))
    // and well inside a month the two clocks agree
    val mid = java.time.Clock.fixed(
      java.time.Instant.parse("2024-03-15T12:00:00Z"),
      java.time.ZoneOffset.UTC)
    assert(Periods.currentPeriod(mid) == "202403")
  }

  test("datesFilter covers whole months and magic ints roundtrip") {
    val (dates, magic, ps) = Periods.datesFilter(2, YearMonth.of(2024, 2))
    assert(ps == Seq("202402", "202401"))
    assert(dates.size == 29 + 31) // 2024 is a leap year
    // reference anchor: 2008-01-01 -> 733042
    assert(magic(dates.indexOf(java.time.LocalDate.parse("2024-01-01"))) ==
      733042 + java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse("2008-01-01"), java.time.LocalDate.parse("2024-01-01")).toInt)
  }

  test("magic date column expressions agree with the scala-side ints") {
    val df = Seq("2024-01-01", "2008-01-01", "1997-06-15").toDF("d")
      .select(to_date($"d").as("d"))
      .select($"d", Periods.toMagic($"d").as("m"))
      .select($"d", $"m", Periods.fromMagic($"m").as("back"))
    assert(df.filter($"d" =!= $"back").count() == 0)
    val m2008 = df.filter($"d" === "2008-01-01").select("m").as[Int].head()
    assert(m2008 == 733042)
  }

  test("magic hora pins the reference HHMMSS formula incl. midnight and leading-zero edges") {
    // reference: loadt_stage_to_redshift.py:98-104 — h*10000 + m*100 + s
    // as the varchar the Redshift target receives; integer form drops
    // leading zeros (00:05:09 -> "509") and midnight collapses to "0"
    val df = Seq(
      "2023-10-01 12:34:56",   // reference docstring example -> "123456"
      "2023-10-01 00:00:00",   // midnight -> "0"
      "2023-10-01 00:05:09",   // leading-zero hour+min -> "509"
      "2023-10-01 23:59:59",   // day edge -> "235959"
      "2023-10-01 07:00:30")   // zero minutes -> "70030"
      .toDF("s").select(to_timestamp($"s").as("ts"))
      .select($"ts", Periods.toMagicHora($"ts").as("hora"))
      .withColumn("seg", Periods.fromMagicHoraSeconds($"hora"))
    val got = df.select($"hora", $"seg").as[(String, Int)].collect().toSeq
    assert(got == Seq(
      ("123456", 12 * 3600 + 34 * 60 + 56),
      ("0", 0),
      ("509", 5 * 60 + 9),
      ("235959", 23 * 3600 + 59 * 60 + 59),
      ("70030", 7 * 3600 + 30)))
    // (magic day, magic hora) rebuilds the timestamp at second precision
    val rt = Seq("2024-02-29 18:30:15.750")  // leap day + sub-second input
      .toDF("s").select(to_timestamp($"s").as("ts"))
      .select(Periods.fromMagicParts(
        Periods.toMagic($"ts"), Periods.toMagicHora($"ts")).as("back"))
      .select(date_format($"back", "yyyy-MM-dd HH:mm:ss").as("f"))
      .as[String].head()
    assert(rt == "2024-02-29 18:30:15") // sub-second truncates with HHMMSS
  }

  test("csv external read honors the reference ; separator and header") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv")
    java.nio.file.Files.writeString(dir.resolve("conf.csv"),
      "cod_pais;desc_pais\nPE;PERU\nCO;COLOMBIA\n")
    val lake = LakeIO(spark, dir.toString)
    val df = lake.readCsv(dir.toString + "/conf.csv")
    assert(df.columns.toSeq == Seq("cod_pais", "desc_pais"))
    assert(df.count() == 2)
  }

  test("all extra queries produce rows and q28 balances are monotone per customer") {
    graft.pipeline.ExtraQueries.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
    val bad = graft.pipeline.ExtraQueries.q28RunningBalance(spark, sf)
      .filter($"saldo_acumulado" < $"imp_pedido").count()
    assert(bad == 0)
  }

  test("semi and anti join partition the customer set") {
    val cst = graft.core.Tables.customer(spark, sf).count()
    val anti = graft.pipeline.ExtraQueries.q29AntiJoin(spark, sf).count()
    val withOrders97 = cst - anti
    assert(anti > 0 && withOrders97 > 0)
  }

  test("bottom-k sample is deterministic under repartitioning") {
    val docs = graft.core.Tables.documents(spark, sf)
    def sample(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"source")
        .agg(expr("bottom_k_sample(md5(text), doc_id, 3)").as("m"))
        .select($"source", $"m")
        .as[(String, Seq[Long])].collect().toMap
    val a = sample(docs)
    val b = sample(docs.repartition(17, $"doc_id"))
    val c = sample(docs.repartition(3))
    assert(a == b && b == c)
    assert(a.values.forall(_.size <= 3))
  }

  test("native functions are callable from SQL text") {
    val r = spark.sql(
      """SELECT float_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                 array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d,
        |       token_count('hello, world! x2') AS t,
        |       rolling_min_hash('some document text') AS h""".stripMargin).head()
    assert(r.getDouble(0) == 4.0)
    // tokens: hello , world ! x2  -> 5
    assert(r.getInt(1) == 5)
  }
}
