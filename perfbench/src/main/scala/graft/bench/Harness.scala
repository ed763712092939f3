package graft.bench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Command line of one benchmark process (see run.py, which starts it). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      traced: Boolean, data: String, work: String,
                      phase: String, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m.getOrElse("seconds", "1").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("work"),
      m.getOrElse("phase", "run"), m.getOrElse("cores", "4").toInt)
  }
}

/** Line protocol with run.py over stdout/stdin. Every protocol line starts
  * with a marker, so anything else the program prints is ignored. A check
  * request blocks until run.py answers it: run.py computes the expected
  * values apart from the program (DuckDB over the files a manifest lists),
  * while the benchmark's clock is stopped. */
object Channel {
  private val Marker = "@@perfbench"
  private val in = new BufferedReader(new InputStreamReader(System.in, "UTF-8"))
  private val out = new java.io.PrintStream(
    new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")

  def send(kind: String, json: String): Unit = out.synchronized {
    out.println(s"$Marker $kind $json"); out.flush()
  }

  /** Send a check request; returns the failed checks run.py names. */
  def check(json: String): Seq[String] = {
    send("check", json)
    val reply = in.readLine()
    require(reply != null, "run.py closed the check channel")
    Json.strings(reply)
  }
}

/** Minimal JSON writing (the harness emits flat objects and arrays). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def strs(xs: Iterable[String]): String = arr(xs.map(str))
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  /** The strings of a flat JSON array of strings. */
  def strings(s: String): Seq[String] =
    "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(s).map(_.group(1)
      .replace("\\\"", "\"").replace("\\\\", "\\")).toSeq
}

/** One timed operation and the checks it failed. */
final case class Op(name: String, seconds: Double, failed: Seq[String])

/** Shared frame of a workload run: the session, the probe, the operation
  * log and the result line. */
final class Harness(val args: Args) {
  val spark: SparkSession = Harness.session(args)
  val probe = new Probe(spark, args.traced)
  def spans: Spans = probe.spans
  private val ops = mutable.ArrayBuffer[Op]()
  private val roundWalls = mutable.ArrayBuffer[Double]()
  private val extraLayers = mutable.LinkedHashMap[String, Double]()
  @volatile private var paused = 0L

  def operations: Seq[Op] = ops.toSeq
  /** Seconds the measured part spent stopped for checks. */
  def pausedSeconds: Double = paused / 1e9

  /** Run `body` with the benchmark's clock stopped (checks, bookkeeping). */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally paused += System.nanoTime() - t0
  }

  /** Time `body` as one operation, less any [[untimed]] part; `body`
    * returns the checks it failed. An exception fails the operation with
    * its message. */
  def op(name: String)(body: => Seq[String]): Op = {
    val opSpan = s"op:$name#${ops.size}"
    val t0 = System.nanoTime()
    val p0 = paused
    val failed = try spans.span(opSpan) { spans.parent = opSpan; body }
      catch { case e: Throwable => Seq(Harness.failure(name, e)) }
    spans.parent = ""
    val o = Op(name, (System.nanoTime() - t0 - (paused - p0)) / 1e9, failed)
    ops += o
    o
  }

  /** Add checks failed after the fact to the operation named `name`. */
  def fail(name: String, checks: Seq[String]): Unit =
    if (checks.nonEmpty) {
      val i = ops.lastIndexWhere(_.name == name)
      require(i >= 0, s"no operation $name")
      ops(i) = ops(i).copy(failed = ops(i).failed ++ checks)
    }

  /** Run whole rounds until `args.seconds` have passed (at least one), so
    * every run attempts whole rounds of the same operations. */
  def measure(round: Int => Unit): Unit = {
    Channel.send("ready", "{}")
    probe.start()
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - t0 - paused) / 1e9 < args.seconds) {
      val rt = System.nanoTime()
      val p0 = paused
      round(r)
      roundWalls += (System.nanoTime() - rt - (paused - p0)) / 1e9
      r += 1
    }
  }

  def layer(name: String, v: Double): Unit = extraLayers(name) = v

  /** Forget the operations of an untimed warm-up. */
  def discardWarmup(): Unit = { ops.clear(); paused = 0L }

  /** Emit the result line: operations, rounds, probe deltas and layer
    * numbers; a traced run also writes its spans and counters as JSONL. */
  def finish(probeDeltas: Map[String, Double]): Unit = {
    val layers = (probeDeltas.map { case (k, v) => s"probe.$k" -> v } ++ extraLayers ++
      Seq("core.session_s" -> Harness.sessionSeconds)).toSeq
    val json = Json.obj(Seq(
      "attempted" -> ops.size.toString,
      "failed_ops" -> Json.arr(ops.filter(_.failed.nonEmpty).map(o =>
        Json.obj(Seq("name" -> Json.str(o.name), "checks" -> Json.strs(o.failed))))),
      "timings" -> Json.arr(ops.map(o => Json.num(o.seconds))),
      "round_walls" -> Json.arr(roundWalls.map(Json.num)),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })))
    if (args.traced) {
      val f = Paths.get(args.work, "trace.jsonl")
      val lines = spans.jsonl.toSeq ++ layers.toSeq.map { case (k, v) =>
        s"""{"counter":${Json.str(k)},"value":${Json.num(v)}}""" }
      Files.write(f, (lines.mkString("\n") + "\n").getBytes("UTF-8")): Unit
    }
    Channel.send("result", json)
  }
}

object Harness {
  @volatile var sessionSeconds = 0.0

  /** The session every workload runs on: graft's shipped conf
    * (GraftSession.tuned) on local[cores], with Spark's scratch space
    * inside the run's work directory. */
  def session(a: Args): SparkSession = {
    val t0 = System.nanoTime()
    val local = Paths.get(a.work, "spark-local").toAbsolutePath
    Files.createDirectories(local)
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.work, "warehouse").toAbsolutePath.toString)
      .config("spark.graft.stream.statePartitions", "4")
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
    val s = GraftSession.tuned(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    sessionSeconds = (System.nanoTime() - t0) / 1e9
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    a.workload match {
      case "nightly" => Nightly.run(a)
      case "refresh" => Refresh.run(a)
      case "catalog" => Catalog.run(a)
      case "oracles" => Oracles.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // Everything is committed and the result is out. Stopping Spark and
    // running its shutdown hooks would only clean the run's work
    // directory, which run.py moves aside; on the reference disk that
    // cleanup took 2-3 s per run.
    Runtime.getRuntime.halt(0)
  }

  /** The failed check an exception in operation `name` stands for. */
  def failure(name: String, e: Throwable): String =
    s"$name: ${e.getClass.getSimpleName}: " +
      String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(160)
}
