package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Analytics

class AnalyticsPipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("stage->domain->analytics pipeline is consistent and idempotent") {
    val root = Files.createTempDirectory("graft_pipeline").toString
    val lake = Analytics.run(spark, sf, root)

    // materialize everything BEFORE any rewrite: DataFrames hold their file
    // listing, so reusing them across an overwrite reads deleted files
    val fact = lake.read(lake.layers.Analytics, "fact_cliente_periodo")
    val factSum = fact.agg(sum("imp_neto")).head().getDecimal(0)
    val factCount = fact.count()
    val dupGrains = fact.groupBy("id_periodo", "id_cliente").count()
      .filter($"count" > 1).count()
    val onePeriod = fact.select($"id_periodo").as[String].head()
    val otherPeriodCount = fact.filter($"id_periodo" =!= onePeriod).count()
    val patch = fact.filter($"id_periodo" === onePeriod)
      .withColumn("imp_neto", lit(java.math.BigDecimal.ZERO).cast("decimal(38,6)"))
      .collect()
    val tvdSum = lake.read(lake.layers.Domain, "t_venta_detalle")
      .agg(sum("imp_neto")).head().getDecimal(0)

    // conservation + grain
    assert(factSum.compareTo(tvdSum) == 0, s"fact $factSum vs detail $tvdSum")
    assert(dupGrains == 0)

    // star integrity: every fact row resolves its dim_cliente row
    val orphans = fact.join(lake.read(lake.layers.Analytics, "dim_cliente"),
      Seq("id_cliente"), "left_anti").count()
    assert(orphans == 0, s"$orphans of $factCount fact rows find no dim_cliente row")

    // idempotence: a second full run must not change row counts or sums
    Analytics.run(spark, sf, root)
    val fact2 = lake.read(lake.layers.Analytics, "fact_cliente_periodo")
    assert(fact2.count() == factCount)
    assert(fact2.agg(sum("imp_neto")).head().getDecimal(0).compareTo(factSum) == 0)

    // partition layout: facts are directory-partitioned by period
    val partDirs = new java.io.File(s"$root/analytics/fact_cliente_periodo")
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(partDirs.exists(_.startsWith("id_periodo=")))

    // partition-scoped upsert: correct a single period and check isolation
    val patchDf = spark.createDataFrame(
      spark.sparkContext.parallelize(patch.toIndexedSeq), fact2.schema)
    lake.upsert(patchDf, lake.layers.Analytics, "fact_cliente_periodo",
      keys = Seq("id_periodo", "id_cliente"), partitionBy = Seq("id_periodo"))
    val after = lake.read(lake.layers.Analytics, "fact_cliente_periodo")
    assert(after.filter($"id_periodo" === onePeriod)
      .agg(sum("imp_neto")).head().getDecimal(0).signum == 0)
    assert(after.filter($"id_periodo" =!= onePeriod).count() == otherPeriodCount)
  }

  test("incremental fact rebuild touches only the changed periods") {
    val root = Files.createTempDirectory("graft_pipeline_inc").toString
    val lake = Analytics.run(spark, sf, root)
    val factDir = new java.io.File(s"$root/analytics/fact_cliente_periodo")

    // late data lands in ONE period: double one detail row's amounts
    val tvd = lake.read(lake.layers.Domain, "t_venta_detalle")
    val lateRow = tvd.orderBy($"id_venta_detalle").limit(1)
      .withColumn("imp_neto", $"imp_neto" * 2)
      .withColumn("cant", $"cant" * 2)
      .collect()
    val late = spark.createDataFrame(
      spark.sparkContext.parallelize(lateRow.toIndexedSeq), tvd.schema)
    // partition-column inference reads id_periodo back as an integer
    val period = String.valueOf(lateRow.head.getAs[Any]("id_periodo"))
    lake.upsert(late, lake.layers.Domain, "t_venta_detalle",
      keys = Seq("id_venta_detalle"), partitionBy = Seq("id_periodo"))

    // snapshot the files of an UNTOUCHED period partition
    val untouched = factDir.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("id_periodo=") &&
        f.getName != s"id_periodo=$period").head
    def listing(d: java.io.File) =
      d.listFiles().map(f => (f.getName, f.lastModified())).toSet
    val before = listing(untouched)

    Analytics.buildAnalyticsIncremental(lake, Seq(period))

    // untouched partitions carry identical files; nothing was rewritten
    assert(listing(untouched) == before,
      "incremental rebuild must not rewrite unchanged period partitions")
    // the rebuilt table equals a from-scratch recompute of the full fact
    val expectedSum = lake.read(lake.layers.Domain, "t_venta_detalle")
      .agg(sum("imp_neto")).head().getDecimal(0)
    val fact = lake.read(lake.layers.Analytics, "fact_cliente_periodo")
    assert(fact.agg(sum("imp_neto")).head().getDecimal(0)
      .compareTo(expectedSum) == 0,
      "incremental fact must reconcile with the full detail after late data")
  }
}
