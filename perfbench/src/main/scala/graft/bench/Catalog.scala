package graft.bench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.pipeline._

/** `catalog`: the warm analyst mix. One closed-loop client runs every
  * `SparkEntry.queries` entry to the `noop` sink, in a seeded order per
  * pass. The untimed warm-up pass writes each result as parquet, and
  * run.py compares those files with DuckDB's fingerprints of
  * `SparkEntry.oracleSql` before the timed passes start. */
object Catalog {
  /** The catalog object each query comes from (its per-layer bucket). */
  private val objects: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "core" -> CoreQueries.queries, "flow" -> FlowQueries.queries,
    "llm" -> LLMQueries.queries, "extra" -> ExtraQueries.queries,
    "training" -> TrainingQueries.queries, "analytics" -> AnalyticsQueries.queries,
    "curation" -> CurationQueries.queries, "conformance" -> ConformanceQueries.queries)
  private val objectOf: Map[String, String] =
    objects.flatMap { case (o, qs) => qs.keys.map(_ -> o) }.toMap

  def isStreaming(name: String): Boolean = name.contains("_stream")

  /** Stop streams and unload state stores between queries, so a batch
    * query is not charged for a stream's housekeeping (as graft.Bench). */
  private def quiesce(spark: SparkSession): Unit = {
    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
  }

  def run(a: Args): Unit = {
    val h = new Harness(a)
    val spark = h.spark
    val sp = h.spans
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val out = Paths.get(a.work, "catalog-out").toAbsolutePath.toString

    // untimed warm-up pass: results land as parquet for the oracle check
    val errors = queries.flatMap { case (name, fn) =>
      val err = try {
        // the version-2 committer without a _SUCCESS marker: fewer renames
        // and creates on a disk where each costs milliseconds
        fn(spark, a.data).write.mode("overwrite")
          .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
          .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
          .parquet(s"$out/$name")
        None
      } catch { case e: Throwable => Some(Harness.failure(name, e)) }
      quiesce(spark)
      err.map(name -> _)
    }.toMap
    val failedChecks: Map[String, Seq[String]] = Channel.check(Json.obj(Seq(
      "kind" -> Json.str("catalog"), "out" -> Json.str(out),
      "queries" -> Json.strs(queries.map(_._1).filterNot(errors.contains)))))
      .groupBy(_.takeWhile(_ != ':')) ++ errors.map { case (n, e) => n -> Seq(e) }

    def pass(r: Int): Unit =
      new scala.util.Random(a.seed * 1000003L + r).shuffle(queries).foreach { case (name, fn) =>
        h.op(name) {
          val df = sp.span("pipeline.build_s")(fn(spark, a.data))
          sp.span("pipeline.exec_s")(df.write.format("noop").mode("overwrite").save())
          quiesce(spark)
          failedChecks.getOrElse(name, Nil)
        }
      }
    h.measure(pass)
    val deltas = h.probe.stop(h.pausedSeconds)
    if (a.traced) {
      val ops = h.operations
      objects.foreach { case (o, _) =>
        h.layer(s"pipeline.${o}_queries_s",
          ops.filter(op => objectOf.get(op.name).contains(o)).map(_.seconds).sum)
      }
      Seq("pipeline.build_s", "pipeline.exec_s").foreach(k => h.layer(k, sp.seconds(k)))
      h.layer("streaming.queries_s", ops.filter(o => isStreaming(o.name)).map(_.seconds).sum)
    }
    h.finish(deltas)
  }
}
