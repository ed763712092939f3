package graft.bench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.sources.{ConformanceExact, ConformanceGate, ConformanceLake, ConformanceSql}

/** Writes the DuckDB oracle SQL the fingerprints come from: every
  * `SparkEntry.oracleSql` entry (catalog), and the seven catalog-gated
  * conformance jobs rendered by `ConformanceSql.render` for each nightly
  * window. run with `python3 perfbench/oracles.py`. */
object Oracles {
  def run(a: Args): Unit = {
    val h = new Harness(a)
    val spark = h.spark
    val catalog = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, sql) => k -> Json.str(sql) }
    val nightly = Nightly.windows.zipWithIndex.map { case (p, i) =>
      i.toString -> Json.obj(Nightly.gated.map { job =>
        val schema = ConformanceLake.runJob(spark, a.data, job, p).schema
        job -> Json.str(ConformanceSql.render(job, ConformanceGate.finalSelect(schema), p,
          exactOps = ConformanceExact.templates(spark, a.data, job, p)))
      })
    }
    val out = Paths.get(a.work, "oracles.json")
    Files.write(out, Json.obj(Seq("catalog" -> Json.obj(catalog),
      "nightly" -> Json.obj(nightly))).getBytes("UTF-8"))
    Channel.send("result", Json.obj(Seq("oracles" -> Json.str(out.toString))))
  }
}
