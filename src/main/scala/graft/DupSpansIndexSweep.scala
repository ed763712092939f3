package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{DupSpans, DupSpansIndex}
import graft.sources.TxnTable

/** DupSpansIndex maintenance at sweep scale (round-12 verdict item 4):
  * the unit specs pin probe == inline and append == rebuild; this
  * harness shows the STANDING anchors table under a multi-day cadence —
  * build once, then N daily (flag → append) cycles of constant churn
  * against a growing corpus, then [[TxnTable.compact]] over the
  * accumulated per-cell files with a post-compaction probe equality
  * check. The claims measured, not argued:
  *
  *   - per-cycle walls are CHURN + FILE-COUNT bound, never corpus
  *     bound: the flag probes the index (cell-pruned read, churn-sized
  *     semi joins) and the append hashes only the increment — neither
  *     re-anchors the corpus. The r13 sweep CAUGHT the file-count term
  *     dominating (pre-fix appends wrote tasks×cells files per commit;
  *     flag walls climbed 23→42 s over six 500-doc cycles at 10× while
  *     data grew ~1%/cycle), which is why build/append now key their
  *     write exchange on celda — one file per cell per commit;
  *   - appends still accumulate one file per cell per commit —
  *     compaction (celda-keyed, then vacuum) restores one file per
  *     cell without changing ANY probe result (the post-compaction
  *     flag is value-equal to the pre-compaction flag AND to the
  *     inline twin over the full standing union).
  *
  * Mirrors the SCALE_SWEEP_r9_stream artifact format. Reference analog:
  * the daily ingest maintenance loop
  * (common_jobs_functions.py:222–356).
  *
  * Usage: runMain graft.DupSpansIndexSweep <srcDir> <workRoot> <out.json>
  * Env: SPARK_GRAFT_SWEEP_CYCLES (default 6), SPARK_GRAFT_CPUS.
  */
object DupSpansIndexSweep {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/graft_scaled10")
    val work = args.lift(1).getOrElse("/tmp/graft_span_sweep")
    val out = args.lift(2).getOrElse("SCALE_SWEEP_spans.json")
    val cycles = sys.env.getOrElse("SPARK_GRAFT_SWEEP_CYCLES", "6").toInt
    val spark = graft.core.GraftSession.local()

    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(work))
    val root = s"$work/index"

    val docs = graft.core.Tables.documents(spark, src)
      .select(col("doc_id"), col("text"),
        col("n_chars").cast("long").as("n_chars"))
    // standing corpus = ~70% of the table; daily increments = ~1% slices
    // (CONSTANT churn per cycle); a held-out probe slice for the
    // compaction equality check
    val corpus = docs.filter(col("doc_id") % 100 >= 40)
    def slice(c: Int): DataFrame = docs.filter(col("doc_id") % 100 === c)
    val probeInc = slice(29)

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // LIVE files = current-manifest entries (what a probe opens); the
    // directory additionally holds prior-version files until vacuum
    def indexFiles: Int =
      TxnTable(spark, s"$root/anchors").entries().size
    def runFlag(inc: DataFrame, standingText: DataFrame): (Seq[Seq[Any]], Double) =
      timed {
        DupSpansIndex.flag(inc, standingText, root, "text", "doc_id",
            "n_chars")
          .collect().map(_.toSeq.toList).toList.sortBy(_.head.asInstanceOf[Long])
      }

    val (_, buildS) = timed {
      DupSpansIndex.build(corpus, "text", "doc_id", root): Unit
    }
    val corpusDocs = corpus.count()

    var standingText = corpus
    val cycleRows = (0 until cycles).map { c =>
      val inc = slice(30 + c)
      val churn = inc.count()
      val (flagged, flagS) = runFlag(inc, standingText)
      val dupDocs = flagged.count(r => r(1).asInstanceOf[Long] > 0L)
      val (_, appendS) = timed {
        DupSpansIndex.append(inc, "text", "doc_id", root): Unit
      }
      standingText = standingText.unionByName(inc)
      val files = indexFiles
      println(s"cycle $c: churn=$churn flag=${flagS}s append=${appendS}s " +
        s"files=$files dup_docs=$dupDocs")
      (c, churn, flagS, appendS, files, dupDocs)
    }

    // pre-compaction probe (held-out slice) + the inline twin over the
    // full standing union — the exactness anchor at sweep scale
    val (preFlag, preS) = runFlag(probeInc, standingText)
    val p = DupSpansIndex.readParams(root)
    val (inline, inlineS) = timed {
      DupSpans.flagIncrement(probeInc, standingText, "text", "doc_id",
          p.L, "n_chars", p.w)
        .collect().map(_.toSeq.toList).toList.sortBy(_.head.asInstanceOf[Long])
    }
    val preFiles = indexFiles
    val (_, compactS) = timed {
      TxnTable(spark, s"$root/anchors")
        .compact(targetFiles = p.nCells, partitionBy = Seq("celda")): Unit
    }
    val postFiles = indexFiles
    val vacuumed = TxnTable(spark, s"$root/anchors").vacuum().size
    val (postFlag, postS) = runFlag(probeInc, standingText)

    val probeEqual = preFlag == postFlag
    val inlineEqual = preFlag == inline
    require(probeEqual, "post-compaction probe diverged from pre-compaction")
    require(inlineEqual, "index probe diverged from the inline twin")

    def j(d: Double): String = f"$d%.3f"
    val cyclesJson = cycleRows.map { case (c, churn, f, a, files, dd) =>
      s"""{"cycle":$c,"churn_docs":$churn,"flag_s":${j(f)},""" +
        s""""append_s":${j(a)},"index_files":$files,"dup_docs":$dd}"""
    }.mkString("[", ",", "]")
    val doc =
      s"""{"src":"$src","corpus_docs":$corpusDocs,"cycles":$cycles,
"params":{"L":${p.L},"w":${p.w},"nCells":${p.nCells}},
"build_s":${j(buildS)},
"cycle_rows":$cyclesJson,
"compaction":{"live_files_pre":$preFiles,"live_files_post":$postFiles,
"vacuumed_dead_files":$vacuumed,
"compact_s":${j(compactS)},"probe_pre_s":${j(preS)},
"probe_post_s":${j(postS)},"probe_equal_post_compaction":$probeEqual,
"probe_equals_inline_twin":$inlineEqual,"inline_twin_s":${j(inlineS)}},
"note":"build once over the standing corpus, then daily flag+append cycles of ~1% churn each; flag probes the cell-pruned standing index and append hashes only the increment — neither re-anchors the corpus, so cycle cost is churn + the per-cell file count (each append adds ONE file per touched cell after the celled-write fix; the pre-fix form added tasks-per-cell and the flag wall climbed 23->42 s over six cycles from file tax alone). TxnTable.compact(celda-keyed) then restores one file per cell; vacuum retires the dead versions; the held-out probe is value-equal pre/post compaction and equal to the inline corpus-union twin (exactness anchored at sweep scale)."}"""
        .replace("\n", " ")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), doc + "\n")
    println(doc)
    spark.stop()
  }
}
