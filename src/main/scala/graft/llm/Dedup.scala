package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.operators.DedupLatest

/** Corpus deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale shape (100 TB): every path is (map to compact key) → (shuffle on
  * that key) → (work within buckets). Nothing here ever compares all pairs:
  * exact dedup shuffles 16-byte digests; MinHash shuffles (band, bandHash)
  * with bounded fanout; candidate verification runs only inside buckets.
  */
object ExactDedup {
  /** One row per distinct content hash: survivor id (min) + multiplicity.
    * Map-side partial aggregation halves the shuffle before it happens. */
  def summary(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copias"))

  /** Full surviving rows (smallest id per identical content). */
  def dropExact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    DedupLatest.latest(df.withColumn("__h", md5(col(textCol))),
      Seq("__h"), Seq(col(idCol).asc)).drop("__h")
}

/** Word-k-gram shingling shared by the near-dup families. Pure array
  * expressions (split / sequence / transform / slice) — codegen'd, no UDF. */
object Shingles {
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct k-word shingles of `text`, via the native codegen kernel
    * (graft.functions.WordShinglesExpr). */
  def shingles(text: Column, k: Int): Column =
    call_function("word_shingles", text, lit(k))

  /** Interpreted Column twin of [[shingles]] — the property-test pin for
    * the native kernel; not for the hot path. */
  def shinglesInterpreted(text: Column, k: Int): Column = {
    val ws = words(text)
    array_distinct(transform(
      sequence(lit(0), greatest(size(ws) - k, lit(0))),
      i => array_join(slice(ws, i + 1, lit(k)), " ")))
  }

  /** 64-bit hashes of the shingle set (xxhash64, fixed seed). */
  def shingleHashes(text: Column, k: Int): Column =
    transform(shingles(text, k), s => xxhash64(s))
}

/** MinHash signatures + banded LSH candidate generation.
  * reference capability extension (SURVEY §2 row 19); standard
  * shingle→minhash→band→bucket-join construction. */
object MinHashLSH {
  /** numHashes minhash values via the native codegen kernel
    * (graft.functions.MinHashSignatureExpr). Hash family: one xxhash64 of
    * each shingle string, then numHashes derived values
    * h_i = xxhash64(i, H) — so each document costs one string-hash pass
    * plus cheap long re-hashes, not numHashes string-hash passes. */
  def signature(text: Column, k: Int = 5, numHashes: Int = 64): Column =
    call_function("minhash_signature", text, lit(k), lit(numHashes))

  /** Interpreted Column twin of [[signature]] — same family, HOF-evaluated.
    * Kept as the property-test pin for the native kernel; do not use on the
    * corpus hot path. */
  def signatureInterpreted(text: Column, k: Int = 5, numHashes: Int = 64): Column = {
    val hs = transform(Shingles.shingles(text, k), s => xxhash64(s))
    array((0 until numHashes).map { i =>
      array_min(transform(hs, h => xxhash64(lit(i), h)))
    }: _*)
  }

  /** Explode the signature into (band_idx, band_hash) rows. rowsPerBand
    * consecutive minhashes are hashed together per band by the native
    * minhash_bands kernel (one chained-xxhash64 pass, no per-band string
    * building). */
  def bands(df: DataFrame, sigCol: String, numBands: Int, rowsPerBand: Int): DataFrame = {
    df.select(col("*"),
      posexplode(call_function("minhash_bands", col(sigCol),
        lit(numBands), lit(rowsPerBand))).as(Seq("band_idx", "band_hash")))
  }

  /** Interpreted Column twin of the band hashing inside [[bands]] — the
    * property-test pin for the native kernel. */
  def bandHashesInterpreted(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      val elems = (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1))
      xxhash64((lit(b) +: elems): _*)
    }: _*)

  /** Candidate pairs: ids sharing at least one band bucket. The self-join
    * shuffles on (band_idx, band_hash) — bounded buckets, never all-pairs.
    * `chainOrder` (e.g. a signature hash) controls adjacency inside
    * oversized buckets — see [[BoundedPairs.withinBuckets]]. */
  def candidatePairs(banded: DataFrame, idCol: String,
                     maxBucket: Int = 256,
                     chainOrder: Seq[Column] = Nil): DataFrame =
    BoundedPairs.withinBuckets(banded, Seq("band_idx", "band_hash"), idCol,
      maxBucket, chainOrder)
}

/** Bucket-bounded candidate-pair generation shared by the LSH families.
  *
  * A degenerate bucket (empty documents, boilerplate, a heavily duplicated
  * page) turns the within-bucket self-join into O(m²) pair rows — the one
  * way a banding scheme blows up at corpus scale. Buckets at or under
  * `maxBucket` emit every pair; oversized buckets degrade to a sorted
  * consecutive-id chain: O(m) pairs that keep every member transitively
  * connected, so union-find-style dedup downstream reaches the same
  * components without the quadratic fanout. Nothing is dropped silently —
  * [[oversizedBuckets]] reports what was chained for observability.
  */
object BoundedPairs {
  /** The banded table is exchanged ONCE (hash on the bucket keys); every
    * further step — bucket sizing, the small-bucket id list, the oversized
    * lead-chain — is a window over that same partitioning, so Catalyst
    * plans no further Exchange of the banded rows (only the final pair
    * `distinct()` shuffles, and that is the far smaller pair set). Small
    * buckets emit each unordered pair exactly once from its smaller id's
    * row via `explode(filter(ids, _ > id))` — no self-join. Per-row window
    * state is bounded by `maxBucket` for the list path and O(1) for the
    * streamed lead-chain, so a degenerate bucket spills in the window
    * sorter instead of materializing m² join rows or an unbounded
    * collect_list aggregation buffer. */
  def withinBuckets(df: DataFrame, keyCols: Seq[String], idCol: String,
                    maxBucket: Int, chainOrder: Seq[Column] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*)
    val sized = df.withColumn("__bucket_n", count(lit(1)).over(w))
    val allPairs = sized.filter(col("__bucket_n") <= maxBucket)
      .withColumn("__ids", collect_list(col(idCol)).over(w))
      .select(col(idCol).as("id_a"),
        explode(filter(col("__ids"), x => x > col(idCol))).as("id_b"))
    // Chain adjacency decides which O(m) pairs an oversized bucket keeps,
    // and downstream Jaccard verification DROPS chain pairs under the
    // threshold — so id order alone can strand an exact-dup family
    // whenever unrelated co-bucketed docs interleave it (their ids
    // alternate with the family's, every chain link crosses groups, and
    // all links fail verify). Ordering by a similarity key first (e.g. a
    // hash of the full minhash signature) makes equal-signature docs
    // PROVABLY contiguous: each identical group forms one run whose links
    // verify at j=1, whatever else shares the bucket. `chainOrder` is
    // that key; id remains the final tiebreak so the chain stays total
    // and deterministic.
    val chainSort = (chainOrder :+ col(idCol)).map(_.asc)
    val chained = sized.filter(col("__bucket_n") > maxBucket)
      .withColumn("__next", lead(col(idCol), 1).over(w.orderBy(chainSort: _*)))
      .filter(col("__next").isNotNull)
      .select(col(idCol).as("id_a"), col("__next").as("id_b"))
    // normalize chain pairs to (small, big) so distinct() dedupes against
    // the all-pairs convention whatever order the chain emitted
    allPairs.unionByName(chained
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b")))
      .distinct()
  }

  /** (bucket keys, size) of every bucket that exceeded `maxBucket` — the
    * observability companion to [[withinBuckets]]. */
  def oversizedBuckets(df: DataFrame, keyCols: Seq[String],
                       maxBucket: Int): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
}

/** 64-bit SimHash over word unigrams + banded hamming candidates. */
object SimHash {
  /** Classic bit-vote simhash via the native codegen kernel
    * (graft.functions.SimHash64Expr): bit j of the fingerprint is 1 iff
    * more word hashes have bit j set than not. One pass per document. */
  def simhash64(text: Column): Column = call_function("simhash64", text)

  /** SimHash over the PORTABLE md5-low64 word-hash family
    * (graft.functions.SimHashMd5Expr): every value reproducible by any
    * engine with MD5 (DuckDB md5_number_lower), so fingerprints can be
    * verified cross-engine. Prefer [[simhash64]] (xxhash64 family) when
    * raw throughput matters more than portability. */
  def simhash64Portable(text: Column): Column = call_function("simhash64_md5", text)

  /** Interpreted Column twin of [[simhash64]] (64 array-aggregates) — the
    * property-test pin for the native kernel; not for the hot path. */
  def simhash64Interpreted(text: Column): Column = {
    val hs = transform(Shingles.words(text), w => xxhash64(w))
    val n = size(hs)
    val bits = (0 until 64).map { j =>
      val votes = aggregate(hs, lit(0L),
        (acc, h) => acc + shiftright(h, j).bitwiseAND(lit(1L)))
      when(votes * 2 > n.cast(LongType), lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** Split the 64-bit fingerprint into `numBands` bit-bands; near-dups
    * (hamming distance <= numBands - equal bands needed) collide in >=1. */
  def bandColumns(fp: Column, numBands: Int = 4): Seq[Column] = {
    val width = 64 / numBands
    (0 until numBands).map { b =>
      shiftrightunsigned(fp, b * width)
        .bitwiseAND(lit((1L << width) - 1)).as(s"band_$b")
    }
  }

  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}

/** Exact n-gram Jaccard similarity (the verification stage after LSH). */
object NgramJaccard {
  def jaccard(shinglesA: Column, shinglesB: Column): Column = {
    val inter = size(array_intersect(shinglesA, shinglesB)).cast(DoubleType)
    val union = size(array_union(shinglesA, shinglesB))
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }
}

/** Asymmetric (increment-vs-corpus) near-dup — the daily-ingest dedup
  * shape: LSH-band the increment against the standing corpus, verify
  * candidates with exact n-gram Jaccard, and report per-increment-doc
  * match count + deterministic best match. Corpus × corpus pairs are
  * never scored: the corpus is banded on every call, and only corpus
  * rows sharing a (band_idx, band_hash) bucket with an increment row
  * reach the Jaccard verify.
  * Fed either from slices (pipeline/LLMQueries q60) or from a
  * transaction log's CDC rows (CorpusPipeline.dedupIncrement).
  *
  * Oversized corpus buckets (> maxBucket band rows) collapse to one
  * representative per distinct signature — see [[boundedCorpusBands]] —
  * so under heavy corpus duplication n_matches counts verified
  * REPRESENTATIVES (≈ distinct near-dup signatures), not corpus rows,
  * while the flag decision (n_matches > 0, best_j) is preserved: every
  * distinct signature keeps a rep, so no collision is dropped by the
  * collapse; below the cap the output is the exact match set. */
object IncrementalDedup {

  /** Corpus band rows with oversized buckets collapsed to one
    * representative per DISTINCT signature. A corpus family of m
    * identical documents shares one signature, so an increment twin
    * joining its bucket meets ONE rep instead of m rows — the band-join
    * fanout per increment row is bounded by the bucket's
    * distinct-signature count whatever the corpus DUPLICATION profile
    * (the factor-300 sweep's 300-copy families made the uncapped join
    * quadratic). Every distinct signature keeps its rep — no rank
    * truncation — so the flag decision (n_matches > 0, best_j) can
    * never be silently lost to the cap; the collapse is
    * duplication-proof, not collision-proof (a bucket of m mutually
    * DISTINCT signatures still fans out m ways, the same exposure the
    * symmetric path accepts before chaining). Buckets at or under
    * `maxBucket` rows pass through untouched, so small-SF results — and
    * the DuckDB oracle — are bit-identical to the exact join; reps are
    * deterministic (min id per signature). One exchange: the count and
    * per-sig row_number windows share the (band_idx, band_hash)
    * partitioning. */
  private[llm] def boundedCorpusBands(corpus: DataFrame, idCol: String,
                                      textCol: String,
                                      maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = MinHashLSH.bands(
        corpus.select(col(idCol),
          MinHashLSH.signature(col(textCol), k = 5, numHashes = 64).as("sig")),
        "sig", numBands = 16, rowsPerBand = 4)
      .select(col(idCol).as("id_c"), xxhash64(col("sig")).as("sig_order"),
        col("band_idx"), col("band_hash"))
    val wB = Window.partitionBy(col("band_idx"), col("band_hash"))
    val wSig = Window.partitionBy(col("band_idx"), col("band_hash"), col("sig_order"))
      .orderBy(col("id_c"))
    bands
      .withColumn("__n", count(lit(1)).over(wB))
      .withColumn("__rep", row_number().over(wSig))
      .filter(col("__n") <= maxBucket || col("__rep") === 1)
      .select(col("id_c"), col("band_idx"), col("band_hash"))
  }

  def flag(increment: DataFrame, corpus: DataFrame,
           idCol: String = "doc_id", textCol: String = "text",
           minJ: Double = 0.8, maxBucket: Int = 256): DataFrame = {
    // hashed shingles: the verify join carries both sets per candidate
    // row — 8-byte longs keep the increment-vs-corpus verify shuffle ~30×
    // lighter than strings (jaccard unchanged modulo ~zero collisions)
    def sh5(df: DataFrame) = df.select(
      col(idCol), Shingles.shingleHashes(col(textCol), 5).as("sh"))
    def banded(df: DataFrame, as: String) = MinHashLSH.bands(
        df.select(col(idCol),
          MinHashLSH.signature(col(textCol), k = 5, numHashes = 64).as("sig")),
        "sig", numBands = 16, rowsPerBand = 4)
      .select(col(idCol).as(as), col("band_idx"), col("band_hash"))
    val cand = banded(increment, "id_i")
      .join(boundedCorpusBands(corpus, idCol, textCol, maxBucket),
        Seq("band_idx", "band_hash"))
      .select("id_i", "id_c").distinct()
    val verified = cand
      .join(sh5(increment).select(col(idCol).as("id_i"), col("sh").as("sh_i")), Seq("id_i"))
      .join(sh5(corpus).select(col(idCol).as("id_c"), col("sh").as("sh_c")), Seq("id_c"))
      .withColumn("j", NgramJaccard.jaccard(col("sh_i"), col("sh_c")))
      .filter(col("j") >= minJ)
    // max over (j, -id): highest jaccard wins, ties -> smallest corpus id
    val agg = verified
      .select(col("id_i"),
        struct(col("j").as("j"), (-col("id_c")).as("neg")).as("cand"))
      .groupBy(col("id_i"))
      .agg(count(lit(1)).as("n_matches"), max(col("cand")).as("best"))
      .select(col("id_i").as(idCol), col("n_matches"),
        (-col("best.neg")).as("best_match"), col("best.j").as("best_j"))
    increment.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .na.fill(0L, Seq("n_matches")).na.fill(-1L, Seq("best_match"))
      .na.fill(0.0, Seq("best_j"))
  }
}
