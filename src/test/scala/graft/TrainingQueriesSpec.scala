package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TrainingQueries

class TrainingQueriesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("all training queries produce rows at sf0.001") {
    TrainingQueries.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("decontamination: benchmark docs excluded, near-dups of them flagged") {
    val df = TrainingQueries.q34Decontaminate(spark, sf)
    assert(df.filter(col("doc_id") % 50 === 0).count() == 0,
      "benchmark slice must not appear in the corpus output")
    // testdata contains near-duplicate doc pairs; any corpus doc that is a
    // near-dup of a benchmark doc must collide on 8-grams
    assert(df.filter(col("contaminado") === 1).count() > 0)
    assert(df.filter(col("contaminado") === 1 && col("n_colisiones") === 0).count() == 0)
  }

  test("repetition signals are in range and the scan is zero-shuffle") {
    val df = TrainingQueries.q35Repetition(spark, sf)
    assert(df.filter(col("frac_top_palabra") < 0 || col("frac_top_palabra") > 1).count() == 0)
    assert(df.filter(col("frac_bigrams_dup") < 0 || col("frac_bigrams_dup") > 1).count() == 0)
    // the whole quality scan is a map stage — no Exchange at any size
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"q35 must not shuffle:\n$plan")
    // a fully repetitive doc maxes both signals
    val d = Seq("spam spam spam spam spam spam").toDF("text")
      .selectExpr("max_word_freq(text) AS f").head().getInt(0)
    assert(d == 6)
  }

  test("token budget: every source stops right after crossing the budget") {
    val budget = 2000L
    val df = TrainingQueries.q36TokenBudget(spark, sf, budget)
    // all but the last admitted doc per source start under budget; the
    // running total before each admitted doc is < budget
    assert(df.filter(col("tokens_acum") - col("tokens") >= budget).count() == 0)
    // per source, at most one admitted doc ENDS at/past the budget (the
    // boundary-crossing one)
    val over = df.filter(col("tokens_acum") >= budget)
      .groupBy("source").count().filter(col("count") > 1)
    assert(over.count() == 0)
  }

  test("sequence packing: sequences are contiguous and offsets consistent") {
    val df = TrainingQueries.q46SequencePack(spark, sf).cache()
    // offset is the running total before the doc, reduced mod the budget
    assert(df.filter(
      (col("tokens_acum") - col("tokens")) % 1024 =!= col("offset_seq")).count() == 0)
    // sequence ids per source are dense from 0 (no empty sequences: every
    // bin boundary falls inside or at the start of some doc)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("secuencia"))
    val gaps = df.select(col("source"), col("secuencia")).distinct()
      .withColumn("prev", lag(col("secuencia"), 1, -1).over(w))
      .filter(col("secuencia") - col("prev") > 1)
    assert(gaps.count() == 0, "sequence ids must be dense per source")
    df.unpersist()
  }

  test("quality gate: keeps exactly ceil(80%) per source, highest scores first") {
    val df = TrainingQueries.q47QualityGate(spark, sf).cache()
    val d = graft.core.Tables.documents(spark, sf)
    val kept = df.groupBy("source").count()
    val totals = d.groupBy("source").count().withColumnRenamed("count", "n")
    // exact rank cutoff: ceil(0.8 * n) kept per source
    val bad = kept.join(totals, "source")
      .filter(col("count") =!= expr("(8 * n + 9) div 10"))
    assert(bad.count() == 0, "each source must keep exactly ceil(0.8*n) docs")
    // nothing dropped scores above anything kept within a source
    val minKept = df.groupBy("source").agg(min("calidad").as("mn"))
    val dropped = graft.pipeline.LLMQueries.q16TextQuality(spark, sf)
      .join(d.select("doc_id", "source"), "doc_id")
      .join(df.select(col("doc_id").as("kept_id")),
        col("doc_id") === col("kept_id"), "left_anti")
      .join(minKept, "source")
      .filter(col("calidad") > col("mn"))
    assert(dropped.count() == 0,
      "a dropped doc must never outscore a kept doc in its source")
    df.unpersist()
  }
}
