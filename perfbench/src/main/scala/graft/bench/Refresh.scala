package graft.bench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.pipeline.Analytics
import graft.sources.{LakeIO, TxnTable}

/** `refresh`: daily incremental maintenance of the `Analytics` star over
  * transactional domain tables. Each seeded cycle re-lands k periods of
  * detail (changed, added and dropped lines), upserts changed and new
  * customers, finds the changed periods through CDC, rebuilds only those
  * fact partitions, refreshes the dim and runs one star read. Every
  * `MaintenanceEvery`-th cycle of a round also compacts and vacuums. Each of these
  * steps is one operation. */
object Refresh {
  val PeriodsPerCycle = 2
  val WarmupCycles = 2
  val CyclesPerRound = 10
  val MaintenanceEvery = 5

  private val D = "domain"
  private val A = "analytics"

  def run(a: Args): Unit = {
    val h = new Harness(a)
    val spark = h.spark
    val sp = h.spans
    val lake = LakeIO(spark, Paths.get(a.work, "lake").toAbsolutePath.toString)

    // set-up: the domain as plain parquet, then landed as txn tables, then
    // the full star
    val seedLake = LakeIO(spark, Paths.get(a.work, "seed-lake").toAbsolutePath.toString)
    Analytics.buildDomain(seedLake, a.data)
    val tv = lake.txn(D, "t_venta")
    val tvd = lake.txn(D, "t_venta_detalle")
    val mc = lake.txn(D, "m_cliente")
    tv.overwritePartitions(seedLake.read(D, "t_venta"), Seq("id_periodo"))
    tvd.overwritePartitions(seedLake.read(D, "t_venta_detalle"), Seq("id_periodo"))
    mc.overwrite(seedLake.read(D, "m_cliente"))
    Analytics.buildAnalytics(lake)
    // the first and last periods are partial months; cycles re-land full ones
    val periods: IndexedSeq[String] = tvd.entriesFull().map(_.part.stripPrefix("id_periodo="))
      .distinct.sorted.toIndexedSeq.drop(1).dropRight(1)

    def files(t: TxnTable): Seq[String] = t.entriesFull().map(e => Nightly.filePath(t, e))

    /** Detail of `ps` with seeded churn: ~10% of lines dropped, ~10%
      * changed, ~5% added as new lines of existing sales. */
    def churned(ps: Seq[String], salt: Long): DataFrame = {
      val cur = tvd.read().filter(col("id_periodo").isin(ps: _*))
      val bucket = pmod(xxhash64(col("id_venta_detalle"), lit(salt)), lit(20))
      val dec = DecimalType(38, 6)
      val kept = cur.withColumn("__b", bucket).filter(col("__b") =!= 0 && col("__b") =!= 1)
      val changed = kept.withColumn("cant",
          when(col("__b").isin(2, 3), (col("cant") + lit(1)).cast(dec)).otherwise(col("cant")))
        .withColumn("imp_neto",
          when(col("__b").isin(2, 3), (col("imp_neto") * lit(BigDecimal("1.01"))).cast(dec))
            .otherwise(col("imp_neto")))
      val added = kept.filter(col("__b") === 4)
        .withColumn("id_venta_detalle", concat_ws("|", col("id_venta_detalle"), lit(s"n$salt")))
      changed.unionByName(added).drop("__b")
    }

    /** Changed and new customers: ~2% of rows get a new balance, and 16
      * new customers arrive. */
    def customers(cycle: Int, salt: Long): DataFrame = {
      val cur = mc.read()
      val changed = cur.filter(pmod(xxhash64(col("id_cliente"), lit(salt)), lit(50)) === 0)
        .withColumn("imp_saldo", round(col("imp_saldo") + lit(1.25) + lit(cycle), 2))
      val fresh = cur.orderBy("id_cliente").limit(16)
        .withColumn("id_cliente", concat_ws("|", lit(s"new$salt"), col("id_cliente")))
        .withColumn("imp_saldo", lit(100.0 + cycle))
      changed.unionByName(fresh)
    }

    def cycle(c: Int, maintain: Boolean): Unit = {
      val rng = new scala.util.Random(a.seed * 7919L + c)
      val salt = a.seed * 100003L + c
      val relanded = rng.shuffle(periods).take(PeriodsPerCycle).sorted
      val v0 = tvd.version()
      val before = Seq(tvd, mc).map(t =>
        t -> (if (a.traced) t.entriesFull().toSet else Set.empty[graft.sources.TxnEntry])).toMap
      // the upsert source is deterministic: its values are read apart from
      // the timed upsert, which builds the same frame again
      val upserted = h.untimed(customers(c, salt).select("id_cliente", "imp_saldo").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq)
      var cdc = Seq.empty[String]
      var star = Seq.empty[(String, String, Long)]
      h.op("reland") {
        sp.span("sources.overwrite_s")(tvd.overwritePartitions(churned(relanded, salt), Seq("id_periodo")))
        Nil
      }
      h.op("upsert") {
        sp.span("sources.upsert_s")(mc.upsert(customers(c, salt), Seq("id_cliente")))
        Nil
      }
      h.op("cdc") {
        cdc = sp.span("sources.cdc_s")(Analytics.changedPeriods(tvd, v0, tvd.version())).sorted
        if (cdc == relanded) Nil
        else Seq(s"cdc: reported ${cdc.mkString(",")} for re-landed ${relanded.mkString(",")}")
      }
      h.op("rebuild") {
        sp.span("pipeline.incremental_s") {
          Analytics.buildAnalyticsIncremental(lake, cdc)
          lake.write(lake.read(D, "m_cliente"), A, "dim_cliente")
        }
        Nil
      }
      h.op("star_read") {
        star = sp.span("pipeline.star_read_s") {
          lake.read(A, "fact_cliente_periodo").filter(col("id_periodo").isin(relanded: _*))
            .join(lake.read(A, "dim_cliente"), Seq("id_cliente"))
            .groupBy("id_periodo", "desc_segmento")
            .agg(sum("imp_neto").cast("string"), count(lit(1)))
            .collect().map(r => (r.get(0).toString, r.getString(1) + "=" + r.getString(2), r.getLong(3)))
            .toSeq
        }
        Nil
      }
      if (a.traced) h.untimed {
        sp.count("cdc.relanded", relanded.size); sp.count("cdc.reported", cdc.size)
        // manifest diffs, and write amplification: bytes added over the
        // stored bytes of the rows the cycle changed
        val changedRows = Seq(tvd -> tvd.changes(v0, tvd.version()).count().toDouble,
          mc -> upserted.size.toDouble)
        changedRows.foreach { case (t, rows) =>
          val (prev, cur) = (before(t), t.entriesFull().toSet)
          val added = (cur -- prev).toSeq
          val addedBytes = added.map(e => Files.size(Paths.get(Nightly.filePath(t, e)))).sum
          val liveBytes = cur.toSeq.map(e => Files.size(Paths.get(Nightly.filePath(t, e)))).sum
          sp.count("sources.files_added", added.size)
          sp.count("sources.files_removed", (prev -- cur).size)
          sp.count("sources.bytes_added_mb", addedBytes / 1048576.0)
          sp.count("write.added", addedBytes.toDouble)
          sp.count("write.changed", rows * liveBytes / math.max(1L, t.read().count()))
        }
      }
      val failed = h.untimed(Channel.check(Json.obj(Seq(
        "kind" -> Json.str("refresh"),
        "periods" -> Json.strs(relanded),
        "detail" -> Json.strs(files(tvd)),
        "venta" -> Json.strs(files(tv)),
        "cliente" -> Json.strs(files(mc)),
        "fact" -> Json.str(lake.tablePath(A, "fact_cliente_periodo")),
        "dim" -> Json.str(lake.tablePath(A, "dim_cliente")),
        "upserted" -> Json.arr(upserted.map { case (k, v) => Json.arr(Seq(Json.str(k), Json.num(v))) }),
        "star" -> Json.arr(star.map { case (p, s, n) =>
          Json.arr(Seq(Json.str(p), Json.str(s), n.toString)) })))))
      failed.groupBy(_.takeWhile(_ != ':')).foreach { case (op, cs) => h.fail(op, cs) }

      // space amplification before any maintenance: bytes under the txn
      // tables' data directories over the bytes their manifests reference
      if (a.traced) h.untimed {
        val ts = Seq(tv, tvd, mc)
        val under = ts.map(t => walkBytes(Paths.get(t.root, "data"))).sum
        val live = ts.map(t => t.entriesFull().map(e => Files.size(Paths.get(Nightly.filePath(t, e)))).sum).sum
        sp.count("space.ratio", under.toDouble / math.max(1L, live))
        sp.count("space.cycles", 1)
      }
      if (maintain) {
        Seq("t_venta_detalle" -> tvd, "m_cliente" -> mc).foreach { case (name, t) =>
          val pre = files(t)
          h.op("compact") {
            sp.span("sources.maintenance_s")(
              if (name == "m_cliente") t.compact(1) else t.compact(1, Seq("id_periodo")))
            Nil
          }
          val post = files(t)
          h.untimed(h.fail("compact", Channel.check(Json.obj(Seq("kind" -> Json.str("same"),
            "op" -> Json.str("compact"), "table" -> Json.str(name),
            "a" -> Json.strs(pre), "b" -> Json.strs(post))))))
          h.op("vacuum") { sp.span("sources.maintenance_s")(t.vacuum(0L)); Nil }
          h.untimed(h.fail("vacuum", Channel.check(Json.obj(Seq("kind" -> Json.str("same"),
            "op" -> Json.str("vacuum"), "table" -> Json.str(name),
            "a" -> Json.strs(post), "b" -> Json.strs(files(t)))))))
        }
      }
    }

    // the warm-up's last cycle maintains too, so no measured step runs cold
    (0 until WarmupCycles).foreach(c => cycle(c, maintain = c == WarmupCycles - 1))
    h.discardWarmup()
    h.measure { r =>
      (0 until CyclesPerRound).foreach(i =>
        cycle(WarmupCycles + r * CyclesPerRound + i, maintain = i % MaintenanceEvery == MaintenanceEvery - 1))
    }
    val deltas = h.probe.stop(h.pausedSeconds)

    if (a.traced) {
      Seq("sources.overwrite_s", "sources.upsert_s", "sources.cdc_s", "sources.maintenance_s",
        "pipeline.incremental_s", "pipeline.star_read_s").foreach(k => h.layer(k, sp.seconds(k)))
      Seq("sources.files_added", "sources.files_removed", "sources.bytes_added_mb")
        .foreach(k => h.layer(k, sp.counter(k)))
      h.layer("sources.write_amp", sp.counter("write.added") / math.max(1.0, sp.counter("write.changed")))
      h.layer("sources.cdc_precision",
        sp.counter("cdc.relanded") / math.max(1.0, sp.counter("cdc.reported")))
      h.layer("sources.space_amp", sp.counter("space.ratio") / math.max(1.0, sp.counter("space.cycles")))
    }
    h.finish(deltas)
  }

  private def walkBytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
