package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The shipped library's top-level surface, read from `src/main/scala` as
  * text. A new entry point, session builder or environment knob has to be
  * an edit here, in plain sight:
  *
  *  1. `SparkSession.builder` appears only in `core/GraftSession.scala`.
  *  2. The only mains are the six tools the docs name.
  *  3. Every `sys.env` / `System.getenv` read names one of the ten
  *     `SPARK_GRAFT_*` knobs: session cores and scratch dir, and the
  *     inputs and outputs of Bench, Verify and KernelProbe.
  *  4. Every scaladoc `[[link]]` names something `src/main` defines or
  *     the linking file imports, so a deleted object leaves no doc
  *     pointing at it.
  *  5. `TxnTable` reads data files only through its one manifest scan, so
  *     a new read helper cannot bring back the listing job.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path relative to `root`, file text) for every Scala source. */
  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => (root.relativize(p).toString, Files.readString(p)))
      .toVector.sortBy(_._1)
    finally walk.close()
  }

  private def filesContaining(needle: String): Seq[String] =
    sources.collect { case (f, text) if text.contains(needle) => f }

  test("SparkSession.builder appears only in core/GraftSession") {
    assert(filesContaining("SparkSession.builder") == Seq("graft/core/GraftSession.scala"))
  }

  test("the only mains are Bench, Verify, Plans, FloorProbe, KernelProbe and ScaleData") {
    val mains = (filesContaining("def main(") ++ filesContaining("extends App"))
      .distinct.sorted
    assert(mains == Seq("Bench", "FloorProbe", "KernelProbe", "Plans", "ScaleData",
      "Verify").map(n => s"graft/$n.scala"))
  }

  test("every environment read names one of the ten SPARK_GRAFT_* knobs") {
    val allowed = Set("CPUS", "LOCAL_DIR", "SF_DIR", "BENCH_RUNS", "BENCH_ONLY",
      "BENCH_FRESH", "DUCKDB_BASELINE", "BENCH_OUT", "VERIFY_ONLY", "KERNEL_REPS")
      .map("SPARK_GRAFT_" + _)
    val read = """(?:sys\.env|System\.getenv)""".r
    val named = """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\s*\(\s*"([^"]*)"""".r
    val offending = for {
      (f, text) <- sources
      (line, i) <- text.linesIterator.zipWithIndex
      reads = read.findAllMatchIn(line).size
      names = named.findAllMatchIn(line).map(_.group(1)).toSeq
      if reads != names.size || !names.forall(allowed)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty,
      s"environment reads outside the ${allowed.size} knobs:\n" +
        offending.mkString("\n"))
  }

  test("every scaladoc link names a src/main definition or an import of its file") {
    val defined = sources.flatMap { case (_, text) =>
      """\b(?:class|object|trait|def|val|var|type)\s+(\w+)""".r
        .findAllMatchIn(text).map(_.group(1)) ++
        """(?m)^package\s+([\w.]+)""".r
          .findAllMatchIn(text).flatMap(_.group(1).split('.'))
    }.toSet
    val importLine = """(?m)^\s*import\s+([\w.]+?)(?:\.\{([^}]*)\})?\s*$""".r
    val offending = for {
      (f, text) <- sources
      imported = importLine.findAllMatchIn(text).flatMap { m =>
        Option(m.group(2)).fold(Seq(m.group(1).split('.').last))(
          _.split("[,=>]").map(_.trim).filter(_.nonEmpty).toSeq)
      }.toSet
      doc <- """(?s)/\*\*.*?\*/""".r.findAllMatchIn(text)
      link <- """\[\[([^\]]+)\]\]""".r.findAllMatchIn(doc.matched)
      segs = link.group(1).split("[.#]").toSeq
      // an imported head names an external type whose members we cannot see
      if !imported(segs.head) && !segs.forall(defined)
    } yield {
      val line = text.substring(0, doc.start + link.start).count(_ == '\n') + 1
      s"$f:$line: [[${link.group(1)}]]"
    }
    assert(offending.isEmpty,
      "scaladoc links to nothing in src/main:\n" + offending.mkString("\n"))
  }

  test("TxnTable reads data files only through its one manifest scan") {
    val text = sources.collectFirst { case ("graft/sources/TxnLog.scala", t) => t }
      .getOrElse(fail("graft/sources/TxnLog.scala not found"))
    val direct = text.linesIterator.zipWithIndex.collect {
      case (line, i) if line.contains("spark.read") => s"TxnLog.scala:${i + 1}: ${line.trim}"
    }.toSeq
    assert(direct.isEmpty, "data-file reads outside the manifest scan:\n" + direct.mkString("\n"))
    assert("""ManifestScan\.parquet\(""".r.findAllMatchIn(text).size == 1,
      "exactly one manifest scan builds TxnTable's relations")
  }
}
