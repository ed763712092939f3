package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Floor decomposition of catalog query walls, batch and streaming alike,
  * on the shared session (GraftSession.local) with one listener set.
  *
  * Per query run (same noop-sink materialization as Bench, construction
  * included), the wall splits into:
  *
  *   - plan_s: t0 → first job start — driver-side analysis/optimization
  *     plus any bounded build-side collects a query runs during
  *     construction (DimLookup builds, quantile levels);
  *   - catalyst_s / phases_s: the analysis, optimization and planning
  *     time Spark itself records (`queryExecution.tracker`) for every
  *     execution the run made;
  *   - stage_span_s: the union of [stage submission, completion]
  *     intervals — the data cost a bigger cluster would parallelize;
  *   - gap_s: wall − plan − stage_span — DAG dispatch, task
  *     serialization, AQE replans between stages;
  *   - dispatch_s = plan_s + gap_s: the part that does not scale with data;
  *   - task_s: Σ executorRunTime over the run's stages;
  *   - for streaming queries, each micro-batch's rows and `durationMs`
  *     (triggerExecution, addBatch — the only phase carrying data cost —
  *     and the bookkeeping rest).
  *
  * A trivial-job floor (spark.range sum after warmup) is measured in the
  * same session as the irreducible per-job constant. The run with the
  * minimum wall per query is reported: environment smear inflates walls,
  * never deflates them.
  *
  * Usage: runMain graft.FloorProbe <sfDir> <out.json> <q1,q2,..> [runs=3]
  */
object FloorProbe {
  private final case class Stage(t0: Long, t1: Long, taskMs: Long)
  private final case class Batch(rows: Long, trigger: Long, addBatch: Long)

  /** Catalyst phase times of every execution, whatever session ran it. */
  private val phases = new ConcurrentLinkedQueue[(String, Long)]()

  /** Installed by class name (`spark.sql.queryExecutionListeners`), so
    * every session's listener manager gets one — the conformance
    * closures plan in their own `newSession()`. */
  final class CatalystPhases extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (k, p) => phases.add((k, p.durationMs)) }
  }

  private final class Listeners extends SparkListener {
    val jobStarts = new ConcurrentLinkedQueue[Long]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val batches = new ConcurrentLinkedQueue[Batch]()
    def clear(): Unit = Seq(jobStarts, stages, phases, batches).foreach(_.clear())

    override def onJobStart(j: SparkListenerJobStart): Unit = jobStarts.add(j.time): Unit
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val si = s.stageInfo
      stages.add(Stage(si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.taskMetrics.executorRunTime)): Unit
    }
    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        batches.add(Batch(e.progress.numInputRows, ms("triggerExecution"), ms("addBatch"))): Unit
      }
    }
  }

  /** Total length of the union of [t0, t1] intervals — concurrent stages
    * must not double-count wall time. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var tot = 0L; var lo0 = 0L; var hi0 = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > hi0) { if (hi0 != Long.MinValue) tot += hi0 - lo0; lo0 = lo; hi0 = hi }
      else if (hi > hi0) hi0 = hi
    }
    if (hi0 != Long.MinValue) tot += hi0 - lo0
    tot
  }

  private def j(d: Double): String = f"$d%.4f"

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val runs = args.lift(3).map(_.toInt).getOrElse(3)
    // validate BEFORE the session spins up: a typo would otherwise abort
    // the rest of the list mid-run
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")} — valid names: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))

    val spark = graft.core.GraftSession.local(extra =
      Map("spark.sql.queryExecutionListeners" -> classOf[CatalystPhases].getName))
    val ls = new Listeners
    spark.sparkContext.addSparkListener(ls)
    spark.streams.addListener(ls.streams)

    // warm the session (file listing, codegen, JIT) on a trivial job, then
    // time the irreducible per-job constant
    (1 to 3).foreach(_ => spark.range(1000000L).selectExpr("sum(id)").head())
    val trivialFloorS = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1000000L).selectExpr("sum(id)").head()
      (System.nanoTime() - t0) / 1e9
    }.min

    def measure(name: String): (Double, String) = {
      ls.clear()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      val wallS = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener events are async
      Bench.quiesceStreamingState(spark)
      val stages = ls.stages.asScala.toSeq
      val planS = math.max(0L, ls.jobStarts.asScala.minOption.getOrElse(wall0) - wall0) / 1e3
      val spanS = unionMs(stages.map(s => (s.t0, s.t1))) / 1e3
      val gapS = math.max(0.0, wallS - planS - spanS)
      val phaseS = phases.asScala.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
      val batches = ls.batches.asScala.toSeq
      val trig = batches.map(_.trigger).sum
      val add = batches.map(_.addBatch).sum
      val stream = if (batches.isEmpty) "" else
        s""","n_batches":${batches.size},"input_rows":${batches.map(_.rows).sum},""" +
          s""""trigger_ms_total":$trig,"addbatch_ms_total":$add,""" +
          s""""bookkeeping_ms_total":${trig - add},"batches":""" +
          batches.map(b => s"""{"rows":${b.rows},"trigger_ms":${b.trigger},""" +
            s""""addbatch_ms":${b.addBatch}}""").mkString("[", ",", "]")
      (wallS,
        s""""wall_s":${j(wallS)},"plan_s":${j(planS)},""" +
          s""""catalyst_s":${j(phaseS.values.sum / 1e3)},"phases_s":""" +
          phaseS.toSeq.sorted.map { case (k, v) => s""""$k":${j(v / 1e3)}""" }
            .mkString("{", ",", "}") +
          s""","stage_span_s":${j(spanS)},"gap_s":${j(gapS)},""" +
          s""""dispatch_s":${j(planS + gapS)},""" +
          s""""task_s":${j(stages.map(_.taskMs).sum / 1e3)},"n_stages":${stages.size},""" +
          s""""n_jobs":${ls.jobStarts.size}$stream""")
    }

    val rows = names.map { name =>
      val all = (1 to runs).map(_ => measure(name))
      println(f"[floor] $name walls=${all.map(a => j(a._1)).mkString(",")}")
      s""""$name":{${all.minBy(_._1)._2},""" +
        s""""walls_all_runs":${all.map(a => j(a._1)).mkString("[", ",", "]")}}"""
    }
    val doc = s"""{"sf_dir":"$dir","runs_per_query":$runs,"agg":"min-wall run",""" +
      s""""cpus":${graft.core.GraftSession.defaultCores},""" +
      s""""trivial_job_floor_s":${j(trivialFloorS)},""" +
      s""""queries":{${rows.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), doc + "\n")
    println(s"[floor] wrote $out")
    spark.stop()
  }
}
