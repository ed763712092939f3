package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong

object Bench {
  /** Accumulates shuffle write bytes across stages, so each query's
    * shuffle volume (the scale-limiting resource) is reported next to its
    * wall time. */
  private final class ShuffleMeter extends SparkListener {
    val bytes = new AtomicLong(0L)
    val taskNanos = new AtomicLong(0L)
    val stages = new AtomicLong(0L)
    // per-stage attribution for the current run: (task seconds, shuffle
    // write bytes, task count) — AQE materializes stages on pool threads
    // whose callsites are erased, so the ROLE signature (big writes = an
    // exchange, many tasks + no writes = a scan, one task = a collect)
    // is the attribution that survives
    val stageLog =
      new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long, Int)]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      // executorRunTime is milliseconds of task compute summed over tasks:
      // task_sec / wall_sec ≈ effective parallelism of the query
      taskNanos.addAndGet(sc.stageInfo.taskMetrics.executorRunTime * 1000000L)
      stages.incrementAndGet(): Unit
      stageLog.add((sc.stageInfo.taskMetrics.executorRunTime / 1000.0,
        sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten,
        sc.stageInfo.numTasks)): Unit
    }
  }

  /** Streaming queries leave JVM-global residue behind: loaded state-store
    * providers and their background maintenance threads keep running after
    * query.stop() (snapshotting/cleanup on a 60 s cadence). Unload them so
    * a batch query timed next isn't charged for a streaming query's
    * housekeeping — the prime suspect for round-3's q5 ×5 wall anomaly
    * (alphabetical order runs q5_period_agg right after q59_stream_dedup)
    * with unchanged plan and shuffle bytes. */
  private[graft] def quiesceStreamingState(spark: SparkSession): Unit = {
    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the bench measures the SAME configuration production sessions run
    val cpus = graft.core.GraftSession.defaultCores
    val spark = graft.core.GraftSession.local(cpus)
    // Untimed warmup: JVM/codegen/scan setup should not be charged to
    // whichever query happens to run first.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    catch { case _: Throwable => () }
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    // Each query runs three times (override: SPARK_GRAFT_BENCH_RUNS) and
    // reports the fastest run: single-JVM container timings blip by
    // seconds under GC/JIT noise (interpreted-path queries need ~2 runs
    // for C2 to settle), and the steady-state time is what scales. All
    // run times are emitted under "runs" so spread is inspectable; the
    // DuckDB baseline gets the same min-of-N treatment. Shuffle bytes
    // come from the last (warm) run.
    val runsPerQuery =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    def timeQuery(s: SparkSession, name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Seq[Double], Long, Option[String], Double, Long,
           Seq[(Double, Long, Int)]) = {
      var error: Option[String] = None
      val timings = (1 to runsPerQuery).map { _ =>
        meter.stageLog.clear()
        val t0 = System.nanoTime()
        val s0 = meter.bytes.get()
        val k0 = meter.taskNanos.get()
        val g0 = meter.stages.get()
        // Materialize every output column through the noop sink: .count()
        // lets Catalyst prune projections, so map-only queries would time
        // the scan and row-count alone, not their expressions.
        // A query that throws must NOT score ~0 s and improve the total:
        // record the failure and surface it in the JSON + exit code.
        try { fn(s, sfDir).write.format("noop").mode("overwrite").save() }
        catch {
          case e: Throwable =>
            if (error.isEmpty)
              error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // listener events are async; give stage-completed events a beat
        Thread.sleep(50)
        (elapsed, meter.bytes.get() - s0,
          (meter.taskNanos.get() - k0) / 1e9, meter.stages.get() - g0)
      }
      // the heaviest stages of the LAST (warm) run: where the wall went,
      // by role signature — the flame-level drill-down that turns a
      // per-query regression into "the big exchange got bigger" vs "the
      // scan slowed" without re-running anything
      import scala.jdk.CollectionConverters._
      val stageTop = meter.stageLog.asScala.toSeq.sortBy(-_._1).take(3)
      // unload any streaming residue BEFORE the next query is timed
      quiesceStreamingState(s)
      (timings.map(_._1), timings.last._2, error,
        timings.last._3, timings.last._4, stageTop)
    }
    // dev-only subset (SPARK_GRAFT_BENCH_ONLY=q75,q8): the driver sets
    // nothing, so its runs always time the full catalog. A token matches
    // the full query name or its qNN prefix EXACTLY — 'q7' selects
    // q7_topn_per_group only, never q70–q76.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(p => only.forall(o =>
        o.contains(p._1) || o.contains(p._1.takeWhile(_ != '_'))))
      .map { case (name, fn) =>
        val (walls, bytes, err, taskSec, stages, stageTop) =
          timeQuery(spark, name, fn)
        (name, walls, bytes, err, taskSec, stages, stageTop)
      }

    // ---- fresh-session cross-check (bench isolation): re-time a sentinel
    // subset with the whole SparkSession torn down and rebuilt per query,
    // separating engine cost from session contamination. Default sentinels:
    // the queries that run immediately after streaming queries in the
    // alphabetical shared pass (where round-3 saw the ×5 anomaly) plus any
    // query whose shared wall is >3× its ideal parallel compute — the
    // overhead-bound suspects. SPARK_GRAFT_BENCH_FRESH=all re-times every
    // query; =0/off disables the pass.
    val freshMode = sys.env.getOrElse("SPARK_GRAFT_BENCH_FRESH", "auto")
    val freshNames: Seq[String] = freshMode match {
      case "0" | "off" => Seq.empty
      case "all" => results.map(_._1)
      case _ =>
        val afterStreaming = Seq("q15_dedup_exact", "q38_dedup_components",
          "q42_scd2_history", "q5_period_agg", "q6_trailing_3m")
        // whole seconds of wall with idle cores: contamination suspects,
        // not the universal ~0.3 s fixed per-query scheduling overhead
        val suspects = results.collect {
          case (n, walls, _, None, taskSec, _, _)
            if walls.min >= 1.0 && walls.min > 5.0 * (taskSec / cpus) + 0.5 => n
        }
        (afterStreaming ++ suspects).distinct.filter(n => results.exists(_._1 == n))
    }
    val freshResults: Seq[(String, Double)] =
      if (freshNames.isEmpty) Seq.empty
      else {
        spark.stop()
        freshNames.map { name =>
          val s = graft.core.GraftSession.local(cpus)
          s.sparkContext.addSparkListener(meter)
          // same untimed warmup the shared pass got
          s.range(1000000L).selectExpr("sum(id)").collect()
          try s.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
          catch { case _: Throwable => () }
          val (walls, _, _, _, _, _) = timeQuery(s, name, SparkEntry.queries(name))
          s.stop()
          (name, walls.min)
        }
      }

    def jsonStr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => "\\u%04x".format(c.toInt)
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v, _, _, _, _, _) => s"\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, v, _, _, _, _, _) =>
      s"\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val sh = results.map { case (k, _, b, _, _, _, _) => s"\"" + k + "\":" + b }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e), _, _, _) => s"\"" + k + "\":" + jsonStr(e) }
      .mkString("{", ",", "}")
    // stage attribution for the warm run: total executor task seconds and
    // stage count — task_sec/wall ≈ effective parallelism, and a query
    // whose task_sec is tiny next to wall is overhead-bound, not compute
    val tasks = results.map { case (k, _, _, _, t, _, _) =>
      s"\"" + k + "\":" + t }.mkString("{", ",", "}")
    val stages = results.map { case (k, _, _, _, _, g, _) =>
      s"\"" + k + "\":" + g }.mkString("{", ",", "}")
    val stageTop = results.map { case (k, _, _, _, _, _, st) =>
      s"\"" + k + "\":" + st.map { case (sec, wb, nt) =>
        s"""{"sec":${"%.3f".format(sec)},"w_bytes":$wb,"tasks":$nt}"""
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Order statistics over the recorded runs (nearest-rank): with the
    // default 2 runs p50 is just the faster run; raise
    // SPARK_GRAFT_BENCH_RUNS for meaningful spread percentiles.
    def pct(v: Seq[Double], p: Double): Double = {
      val s = v.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
    def pctMap(p: Double): String = results.map { case (k, v, _, _, _, _, _) =>
      s"\"" + k + "\":" + pct(v, p) }.mkString("{", ",", "}")
    val total = results.map(_._2.min).sum
    // both isolation modes' totals over the SAME query set, so the pair is
    // directly comparable: a fresh/shared gap on a query = session
    // contamination, not engine cost
    val freshJson = freshResults.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val freshTotal = freshResults.map(_._2).sum
    val sharedOnFresh = freshResults
      .map { case (k, _) => results.find(_._1 == k).map(_._2.min).getOrElse(0.0) }.sum
    // DuckDB single-node baseline (scripts/duckdb_baseline.py artifact):
    // per-query wall seconds on the same SQL + data, making "within 2× of
    // baseline" a computable ratio instead of a vacuous claim
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_DUCKDB_BASELINE",
      "BASELINE_duckdb.json")
    val ratioJson: String = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(baselinePath)), "UTF-8")
      // minimal parse of {"queries":{"name":sec,...}} — flat doubles only
      val m = """"(q[0-9a-z_]+)"\s*:\s*([0-9.eE+-]+)""".r
        .findAllMatchIn(txt).map(x => x.group(1) -> x.group(2).toDouble).toMap
      val pairs = results.flatMap { case (k, v, _, _, _, _, _) =>
        m.get(k).filter(_ > 0).map(base => s"\"" + k + "\":" + (v.min / base))
      }
      if (pairs.isEmpty) "{}" else pairs.mkString("{", ",", "}")
    } catch { case _: Throwable => "{}" }
    val duckTotal: Double = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(baselinePath)), "UTF-8")
      """"total"\s*:\s*([0-9.eE+-]+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }
    val ratioTotal = if (duckTotal > 0) total / duckTotal else 0.0
    // per-query ratios at small SF over-charge Spark its ~0.3 s fixed
    // job-scheduling overhead (DuckDB finishes trivial queries in ms);
    // the aggregate ratio and the heavy queries are the meaningful signal
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"shuffle_bytes":$sh,"errors":$errs,"runs_per_query":$runsPerQuery,"agg":"min","runs":$runs,"p50":${pctMap(0.5)},"p95":${pctMap(0.95)},"task_sec":$tasks,"stages":$stages,"stage_top":$stageTop,"fresh":$freshJson,"fresh_total":$freshTotal,"shared_total_on_fresh_subset":$sharedOnFresh,"spark_vs_duckdb":$ratioJson,"spark_vs_duckdb_total":$ratioTotal,"ratio_note":"per-query ratios at sf0.1 include ~0.3s fixed Spark scheduling overhead per query; aggregate + heavy-query ratios are the signal","sf":"$sfDir"}"""
    println(line)
    // The driver's log capture keeps only a short stdout tail, and the
    // full-telemetry line above has outgrown it (BENCH_rN.json has carried
    // parsed:null since round 1). Repeat the REQUIRED fields as a compact
    // line LAST so a tail-bounded parser still gets a complete JSON
    // object. The full line (and the file below) stays the precise
    // record. Size budget (r14): the line is ~2.38 KB at 96 queries and
    // CANNOT go under ~2.3 KB — the query NAMES alone (quoted + colon)
    // are 1.83 KB and renaming is contract-banned — so the remaining
    // levers are value bytes: integral walls print bare (no ".0"
    // padding; a bare integer is a valid JSON number) and 2-decimal
    // rounding stays.
    def r2(d: Double): String = {
      val v = math.rint(d * 100) / 100
      if (v == v.toLong) v.toLong.toString else v.toString
    }
    val qs2 = results.map { case (k, v, _, _, _, _, _) => s"\"" + k + "\":" + r2(v.min) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qs2,"sf":"$sfDir"}""")
    // stdout can be truncated by log-capture tooling; the file is the
    // durable copy of the full JSON line
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    if (results.exists(_._4.nonEmpty)) sys.exit(1)
  }
}
