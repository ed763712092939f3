package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-prefiltered benchmark decontamination — the 100 TB variant of the
  * exact shingle join (pipeline/TrainingQueries q34).
  *
  * The exact join must shuffle (or at least hash-probe) EVERY corpus gram.
  * A bloom filter built over the benchmark's gram hashes is a few hundred
  * KB at worst, broadcasts as a plan literal, and runs inside whole-stage
  * codegen BEFORE any exchange — so only the ~fp-rate fraction of corpus
  * grams ever reaches the exact join. False positives are then removed by
  * the exact (broadcast) join, so the end result is bit-identical to the
  * unfiltered join: the bloom can only cost recall if it had false
  * NEGATIVES, which bloom filters cannot produce.
  *
  * This is the same machinery Spark's own InjectRuntimeFilter rule uses
  * (BloomFilterAggregate + BloomFilterMightContain), applied explicitly
  * where the planner cannot see the opportunity (the benchmark set comes
  * from a different query branch, not a join build side it recognizes).
  *
  * reference: artifacts/aws-glue's decontamination has no counterpart —
  * this op exists for the training-data pipeline surface. */
object BloomDecontaminate {

  /** Serialized bloom filter over the LongType column `hashCol`.
    * Driver-bounded: the result is `numBits/8` bytes regardless of input
    * cardinality (one aggregate row), e.g. 2^23 bits = 1 MB. */
  def buildBloom(hashes: DataFrame, hashCol: String,
                 expectedItems: Long, numBits: Long): Array[Byte] = {
    hashes
      .select(call_function("bloom_agg", col(hashCol),
        lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** Codegen'd membership probe against a driver-built filter. The filter
    * bytes travel as a plan literal (task-broadcast), not per-row data. */
  def mightContain(bloom: Array[Byte], hash: Column): Column =
    call_function("bloom_might_contain", lit(bloom), hash)

  /** q34-equivalent contamination flags, with the corpus gram stream
    * pre-filtered by the benchmark bloom before the exact join. Output is
    * bit-identical to the exact form; the bloom only shrinks the stream. */
  def flag(corpus: DataFrame, bench: DataFrame, k: Int = 8,
           idCol: String = "doc_id", textCol: String = "text",
           numBits: Long = 1L << 22): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol), explode(Shingles.shingles(col(textCol), k)).as("g"))
      .select(col(idCol), xxhash64(col("g")).as("gh"))
    val benchHashes = grams(bench).select(col("gh")).distinct()
    val bloom = buildBloom(benchHashes, "gh",
      expectedItems = math.max(1L, numBits >> 4), numBits = numBits)
    val candidates = grams(corpus)
      .filter(mightContain(bloom, col("gh")))          // map-side, pre-shuffle
      .join(broadcast(benchHashes), Seq("gh"))         // exact: drops FPs
      .groupBy(col(idCol))
      .agg(countDistinct(col("gh")).as("n_colisiones"))
    corpus.select(col(idCol), col("source"))
      .join(candidates, Seq(idCol), "left")
      .na.fill(0L, Seq("n_colisiones"))
      .withColumn("contaminado",
        when(col("n_colisiones") > 0, lit(1)).otherwise(lit(0))
          .cast(org.apache.spark.sql.types.IntegerType))
  }

  /** STREAMING decontamination flag — the incremental-ingest twin of the
    * batch [[flag]]: each arriving document is probed against the static
    * benchmark bloom entirely inside its own row (shingle -> hash ->
    * codegen probe inside an array HOF), so the stream needs NO state
    * store, no watermark, and no shuffle — per-batch cost is a map over
    * the batch, which is the only shape that survives a high-rate ingest.
    *
    * The price of statelessness is bloom false positives (sized by
    * `numBits`): `contaminado_aprox` may over-flag but NEVER under-flags
    * (no false negatives — the bloom law, spec-pinned against the exact
    * batch form). Production shape: the stream cheap-flags, the tiny
    * flagged slice gets the exact batch [[flag]] confirmation. */
  def flagStream(stream: DataFrame, bench: DataFrame, k: Int = 8,
                 idCol: String = "doc_id", textCol: String = "text",
                 numBits: Long = 1L << 22): DataFrame = {
    val benchHashes = bench
      .select(explode(Shingles.shingles(col(textCol), k)).as("g"))
      .select(xxhash64(col("g")).as("gh")).distinct()
    val bloom = buildBloom(benchHashes, "gh",
      expectedItems = math.max(1L, numBits >> 4), numBits = numBits)
    // only (idCol, textCol) are required; passthrough columns (e.g. the
    // corpus tables' `source`) are carried when present rather than
    // hard-required — a minimal (id, text) stream must analyze
    val reserved = Seq("__sh", "n_candidatas", "contaminado_aprox")
    val clashes = stream.columns.toSeq.intersect(reserved)
    require(clashes.isEmpty,
      s"flagStream writes columns ${reserved.mkString(", ")}; the input " +
        s"stream already carries ${clashes.mkString(", ")} — rename them " +
        "first (silently overwriting a caller's column is worse than failing)")
    val passthrough = stream.columns.toSeq
      .filterNot(c => c == idCol || c == textCol).map(col)
    stream.select(col(idCol) +: passthrough :+
        Shingles.shingles(col(textCol), k).as("__sh"): _*)
      .withColumn("n_candidatas",
        size(filter(col("__sh"), g => mightContain(bloom, xxhash64(g))))
          .cast("long"))
      .drop("__sh")
      .withColumn("contaminado_aprox",
        when(col("n_candidatas") > 0, lit(1)).otherwise(lit(0))
          .cast(org.apache.spark.sql.types.IntegerType))
  }
}
