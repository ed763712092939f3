package graft

import org.apache.spark.sql.functions._

import graft.sources.{TableOptimizer, TxnTable}

/** End-to-end OPTIMIZE evidence at the 10×-slice scale (round-8 verdict
  * item 3): build a TxnTable degraded by arrival-order appends over the
  * scaled lineitem, let [[TableOptimizer.optimize]] trigger on the
  * MEASURED stab-count decay (no thresholds tuned to the fixture), and
  * record what a 2-D box probe cost before vs after — files opened,
  * bytes scanned, wall — plus the decision trace itself.
  *
  * Usage: runMain graft.ScaleOptimize <scaledSfDir> <workDir> <out.json>
  * (scaledSfDir = a ScaleData output holding lineitem.parquet)
  */
object ScaleOptimize {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/graft_scaled_10x")
    val work = args.lift(1).getOrElse("/tmp/graft_scale_opt")
    val out = args.lift(2).getOrElse("SCALE_OPTIMIZE.json")
    val spark = graft.core.GraftSession.local()

    val li = spark.read.parquet(s"$src/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_shipdate")
    val rows = li.count()
    val keyMax = li.agg(max("l_orderkey"), max("l_partkey")).head()
    val (ordMax, partMax) = (keyMax.getLong(0), keyMax.getLong(1))

    // arrival-order degradation: append in single-file batches keyed by
    // NOTHING the stats track (hash slices), so every file's [min,max]
    // spans ~the whole key space on both tracked columns — the shape a
    // lake gets from per-period ingestion of randomly arriving business
    // keys. One file per batch keeps file count and size comparable to
    // the rewritten layout, so the before/after probe-bytes comparison
    // measures CLUSTERING, not file-size skew.
    val root = s"$work/lineitem_txn"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(root))
    val t = TxnTable(spark, root, statsColumns = Seq("l_orderkey", "l_partkey"))
    val nBatches = 56
    (0 until nBatches).foreach { b =>
      val slice = li.filter(pmod(xxhash64(col("l_orderkey"), col("l_partkey")),
        lit(nBatches)) === b).coalesce(1)
      if (b == 0) t.overwrite(slice) else t.append(slice)
      if (b % 8 == 0) println(s"[opt] appended batch $b")
    }

    // a 2-D box covering ~1% of each key axis: the probe OPTIMIZE exists
    // to make cheap
    val box = Seq(
      ("l_orderkey", (ordMax * 40L / 100L): Any, (ordMax * 41L / 100L): Any),
      ("l_partkey", (partMax * 40L / 100L): Any, (partMax * 41L / 100L): Any))
    def measureProbe(): (Int, Long, Double, Long) = {
      val t0 = System.nanoTime()
      val df = t.readWhere(box)
      val n = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val files = df.inputFiles
      val bytes = files.map(f => java.nio.file.Files.size(
        java.nio.file.Paths.get(new java.net.URI(f)))).sum
      (files.length, bytes, wall, n)
    }

    def healthJson(hs: Seq[graft.sources.ClusterHealth]): String =
      hs.map(h => s"""{"column":"${h.column}","files":${h.filesWithStats},""" +
        s""""max_stab":${h.maxStab},"mean_start_stab":${h.meanStartStab}}""")
        .mkString("[", ",", "]")

    val healthBefore = TableOptimizer.health(t)
    val totalFiles = t.entriesFull().size
    val (pf0, pb0, pw0, pn0) = measureProbe()
    println(s"[opt] before: $totalFiles files, probe opens $pf0 files / $pb0 bytes")

    // target ~64 output files: at the fixture's 117 MB the default 128 MB
    // target would compact to ONE file, which erases the box-pruning the
    // artifact exists to measure — a 100 TB table at 128 MB/file has ~1M
    // files, and it's the MANY-file layout whose pruning the law is about
    val totalBytes = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
      } finally s.close()
    }
    val targetBytes = math.max(2L << 20, totalBytes / 64)
    val t0 = System.nanoTime()
    val d = TableOptimizer.optimize(t, targetFileBytes = targetBytes)
    val optWall = (System.nanoTime() - t0) / 1e9
    println(s"[opt] decision: ${d.action} (${d.reason}) in ${optWall}s")

    val healthAfter = TableOptimizer.health(t)
    val filesAfter = t.entriesFull().size
    val (pf1, pb1, pw1, pn1) = measureProbe()
    require(pn1 == pn0, s"OPTIMIZE changed probe rows: $pn0 -> $pn1")
    // and a healthy table is left alone (same rewrite target: the decay
    // threshold is relative to what that rewrite can achieve)
    val d2 = TableOptimizer.optimize(t, targetFileBytes = targetBytes)
    println(s"[opt] after: $filesAfter files, probe opens $pf1 files / $pb1 bytes")

    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json =
      s"""{"src":${q(src)},"rows":$rows,"append_batches":$nBatches,
         |"stats_columns":["l_orderkey","l_partkey"],
         |"decision":{"action":${q(d.action)},"reason":${q(d.reason)},
         | "total_files":${d.totalFiles},"small_files":${d.smallFiles},
         | "total_bytes":${d.totalBytes},
         | "version_before":${d.versionBefore},"version_after":${d.versionAfter},
         | "wall_s":$optWall},
         |"second_pass_action":${q(d2.action)},
         |"health_before":${healthJson(healthBefore)},
         |"health_after":${healthJson(healthAfter)},
         |"files_before":$totalFiles,"files_after":$filesAfter,
         |"probe":{"box":"~1% x ~1% on (l_orderkey,l_partkey)","rows":$pn0,
         | "files_before":$pf0,"bytes_before":$pb0,"wall_before_s":$pw0,
         | "files_after":$pf1,"bytes_after":$pb1,"wall_after_s":$pw1,
         | "bytes_ratio":${pb1.toDouble / math.max(1L, pb0)}}}"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8")): Unit
    println(json)
    spark.stop()
    // the artifact must witness a real trigger and a real recovery
    if (d.action == "none" || pb1 * 2 > pb0 || d2.action != "none") sys.exit(1)
  }
}
