package graft.bench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.sources.{ConformanceJobs, ConformanceLake, ConformanceRunner, ConformanceStorage, TxnEntry, TxnTable}
import graft.sources.ConformanceRunner.Params

/** `nightly`: tonight's run of all 52 transcribed reference jobs onto the
  * lake yesterday's run left, with the same period window. Each job reads
  * its upstream tables from storage and commits in its reference write
  * mode through `ConformanceStorage.write` — the calls
  * `ConformanceStorage.runToLake` makes for one closure, here over the
  * whole graph in `ConformanceJobs.ordered`.
  *
  * Two processes: phase `yesterday` builds the lake (set-up), phase `run`
  * is tonight, cold in a fresh JVM the way each Glue job runs. */
object Nightly {
  /** Period windows the seed picks from; the stage synthesis dates fall in
    * 1995-04..06, so every window overlaps it. */
  val windows: Seq[Params] = Seq(
    Params(Seq("199504", "199505", "199506"), "1995-07-01"),
    Params(Seq("199503", "199504", "199505"), "1995-06-01"),
    Params(Seq("199505", "199506", "199507"), "1995-08-01"),
    Params(Seq("199502", "199503", "199504"), "1995-05-01"))

  def window(seed: Long): Params = windows(Math.floorMod(seed, windows.size.toLong).toInt)

  /** The catalog-gated jobs (q70–q76) whose tables are value-checked
    * against DuckDB fingerprints for the window. */
  val gated: Seq[String] = graft.pipeline.ConformanceQueries.sampledJobs.map(_._2)

  private def lakeRoot(a: Args): String = Paths.get(a.work, "lake").toAbsolutePath.toString

  private final class Graph(h: Harness, a: Args) {
    val spark = h.spark
    val conf = ConformanceLake.session(spark, a.data)
    val root = lakeRoot(a)
    val params = window(a.seed)
    def table(name: String): TxnTable = {
      val j = ConformanceJobs.byName(name)
      ConformanceStorage.table(conf, root, j.layer, name)
    }
    private val pinned = mutable.ArrayBuffer[DataFrame]()
    private val persist: DataFrame => DataFrame = { df =>
      pinned += df.persist(StorageLevel.DISK_ONLY); df
    }
    private val resolve: (String, String) => DataFrame = {
      case ("BIGMAGIC", t) => conf.table(s"stage_$t")
      case (_, t) => table(t).read()
    }

    /** One job: plan it over storage reads, then commit it in its write
      * mode. Returns the committed version. */
    def runJob(job: ConformanceJobs.Job): Long = {
      val sp = h.spans
      val out = sp.span("sources.plan_s")(
        ConformanceRunner.run(job, resolve, params, persistShared = persist))
      val mode = job.writeMode match {
        case "upsert" if job.idColumns.nonEmpty => "sources.upsert_s"
        case _ => "sources.overwrite_s"
      }
      try sp.span(mode)(ConformanceStorage.write(table(job.name), job, out))
      finally { pinned.foreach(_.unpersist(blocking = true)); pinned.clear() }
    }
  }

  def filePath(t: TxnTable, e: TxnEntry): String =
    Paths.get(t.root, "data", e.part, e.file).toAbsolutePath.toString

  def run(a: Args): Unit = a.phase match {
    case "yesterday" =>
      val h = new Harness(a)
      val g = new Graph(h, a)
      ConformanceJobs.ordered.foreach(g.runJob(_): Unit)
    case _ => tonight(a)
  }

  private def tonight(a: Args): Unit = {
    val h = new Harness(a)
    val g = new Graph(h, a)
    val sp = h.spans
    val jobs = ConformanceJobs.ordered
    val before: Map[String, Long] = jobs.map(j => j.name -> g.table(j.name).version()).toMap
    val missing = before.collect { case (n, v) if v == 0 => n }
    require(missing.isEmpty, s"yesterday's lake lacks ${missing.mkString(", ")}")

    h.measure { _ =>
      jobs.foreach { job =>
        val o = h.op(job.name) { g.runJob(job); Nil }
        val layer = if (job.layer == "dominio") "sources.dominio_jobs_s" else "sources.comercial_jobs_s"
        sp.count(layer, o.seconds)
        sp.maxOf("sources.slowest_job_s", o.seconds)
      }
    }
    val deltas = h.probe.stop(h.pausedSeconds)

    // checks: each table's row multiset tonight vs yesterday, and the gated
    // tables against DuckDB's fingerprints for the window
    val tables = jobs.map { j =>
      val t = g.table(j.name)
      val prev = t.entriesFull(before(j.name))
      val cur = t.entriesFull(t.version())
      if (a.traced) {
        val added = cur.toSet -- prev.toSet
        sp.count("sources.files_added", added.size)
        sp.count("sources.files_removed", (prev.toSet -- cur.toSet).size)
        sp.count("sources.bytes_added_mb",
          added.toSeq.map(e => Files.size(Paths.get(filePath(t, e)))).sum / 1048576.0)
      }
      Json.obj(Seq(
        "name" -> Json.str(j.name),
        "yesterday" -> Json.strs(prev.map(filePath(t, _))),
        "tonight" -> Json.strs(cur.map(filePath(t, _)))))
    }
    val failed = Channel.check(Json.obj(Seq(
      "kind" -> Json.str("nightly"),
      "window" -> Json.num(windows.indexOf(g.params).toDouble),
      "gated" -> Json.strs(gated),
      "tables" -> Json.arr(tables))))
    failed.groupBy(_.takeWhile(_ != ':')).foreach { case (job, cs) => h.fail(job, cs) }

    Seq("sources.plan_s", "sources.upsert_s", "sources.overwrite_s").foreach(k =>
      h.layer(k, sp.seconds(k)))
    Seq("sources.dominio_jobs_s", "sources.comercial_jobs_s", "sources.slowest_job_s",
      "sources.files_added", "sources.files_removed", "sources.bytes_added_mb").foreach(k =>
      h.layer(k, sp.counter(k)))
    h.finish(deltas)
  }
}
