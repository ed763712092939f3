package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{MinHashLSH, SimHash, Similarity}

/** Pins each native text/vector kernel to its interpreted Column twin by
  * evaluating both through Spark on an adversarial + seeded-random corpus.
  * This exercises the whole contract at once: trim/split semantics, Spark's
  * xxhash64 (seed, multi-arg chaining), strict left-to-right double sums. */
class KernelParitySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val adversarial = Seq(
    "", " ", "   ", "\t", "\n", "a", " a ", "\ta b\t", "a  b c",
    "one two three four five six seven", "x\ny\rz", "é 中文 🚀 wörd",
    "trailing space ", " leading", "a\t\t\tb", "dup dup dup dup dup")

  private val randomTexts: Seq[String] = {
    val rnd = new scala.util.Random(1234)
    val alphabet = "ab cde\t\nfg.,!é中 "
    Seq.fill(300)(Seq.fill(rnd.nextInt(80))(
      alphabet(rnd.nextInt(alphabet.length))).mkString)
  }

  private lazy val corpus = (adversarial ++ randomTexts).toDF("text")

  test("minhash_signature kernel equals the interpreted twin") {
    val diff = corpus.select(
      MinHashLSH.signature(col("text"), k = 5, numHashes = 64).as("native"),
      MinHashLSH.signatureInterpreted(col("text"), k = 5, numHashes = 64).as("twin"))
      .filter(col("native") =!= col("twin"))
    assert(diff.count() == 0)
  }

  test("minhash seed table: a late shorter publish never shrinks the cache") {
    import graft.functions.TextHash
    val grown = TextHash.hashIntTable(96)
    // a concurrent caller with a smaller n that lost the race publishes last
    TextHash.publishHashInts(new Array[Long](8))
    val cached = TextHash.hashIntTable(1)
    assert(cached.length >= 96, s"cache shrank to ${cached.length}")
    assert(cached.take(96).sameElements(grown.take(96)))
  }

  test("word_shingles kernel equals the interpreted twin (values AND order)") {
    val diff = corpus.select(
      graft.llm.Shingles.shingles(col("text"), 5).as("native"),
      graft.llm.Shingles.shinglesInterpreted(col("text"), 5).as("twin"))
      .filter(col("native") =!= col("twin"))
    assert(diff.count() == 0)
    val diff3 = corpus.select(
      graft.llm.Shingles.shingles(col("text"), 3).as("native"),
      graft.llm.Shingles.shinglesInterpreted(col("text"), 3).as("twin"))
      .filter(col("native") =!= col("twin"))
    assert(diff3.count() == 0)
  }

  test("word_shingles never emits a null element") {
    // q94 counts distinct (lang, sh) rows with count(1) in place of
    // countDistinct(sh); the two agree only while no shingle is null
    val texts = Seq[String](null, "", " ", "\t\n ", "a b", "one two three")
      .toDF("text")
    for (k <- Seq(3, 8)) {
      val got = texts.select(col("text"),
          graft.llm.Shingles.shingles(col("text"), k).as("sh"))
        .collect().map(r => Option(r.getString(0)) ->
          Option(r.getSeq[String](1)).map(_.toList)).toMap
      // null text: a null array (explode drops it), never a null element
      assert(got(None).isEmpty)
      got.foreach { case (t, sh) => if (t.nonEmpty)
        assert(sh.exists(a => a.nonEmpty && !a.contains(null)), s"$t -> $sh") }
      // empty and whitespace-only text: one shingle, never null (trim
      // strips spaces only, so "\t\n " splits into two empty words)
      assert(got(Some("")).contains(List("")) && got(Some(" ")).contains(List("")))
      assert(got(Some("\t\n ")).contains(List(" ")))
      // k at or past the token count: one shingle of every token
      assert(got(Some("a b")).contains(List("a b")))
      assert(got(Some("one two three")).contains(List("one two three")))
      val c = texts.select(explode(graft.llm.Shingles.shingles(col("text"), k)).as("sh"))
        .distinct().agg(count(lit(1)), countDistinct(col("sh"))).head()
      assert(c.getLong(0) == c.getLong(1), s"k=$k")
    }
  }

  test("md5Low64 matches DuckDB md5_number_lower on known values") {
    import org.apache.spark.unsafe.types.UTF8String
    // reference values computed by DuckDB: md5_number_lower = LE u64 of
    // digest bytes 8..15, here as the same bits in a signed long
    def signed(u: BigInt): Long =
      (if (u >= (BigInt(1) << 63)) u - (BigInt(1) << 64) else u).toLong
    val expected = Map(
      "hello" -> signed(BigInt("10575884659879408057")),
      "a" -> signed(BigInt("7000413967451013937")),
      "wörd" -> signed(BigInt("4272174436938063176")),
      "" -> signed(BigInt("9098107892288553193")))
    expected.foreach { case (s, e) =>
      assert(graft.functions.TextHash.md5Low64(UTF8String.fromString(s)) == e, s"md5Low64($s)")
    }
  }

  test("minhash_bands kernel equals the chained-xxhash64 Column form") {
    val sigs = corpus.select(MinHashLSH.signature(col("text")).as("sig"))
    val diff = sigs.select(
      expr("minhash_bands(sig, 16, 4)").as("native"),
      MinHashLSH.bandHashesInterpreted(col("sig"), 16, 4).as("twin"))
      .filter(col("native") =!= col("twin"))
    assert(diff.count() == 0)
  }

  test("simhash64 kernel equals the interpreted twin") {
    val diff = corpus.select(
      SimHash.simhash64(col("text")).as("native"),
      SimHash.simhash64Interpreted(col("text")).as("twin"))
      .filter(col("native") =!= col("twin"))
    assert(diff.count() == 0)
  }

  test("max_word_freq kernel equals the explode/groupBy computation") {
    import spark.implicits._
    val withId = (adversarial ++ randomTexts).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val viaKernel = withId.select(col("id"), expr("max_word_freq(text)").as("k"))
    val viaExplode = withId
      .select(col("id"), explode(graft.llm.Shingles.words(col("text"))).as("w"))
      .groupBy("id", "w").count()
      .groupBy("id").agg(max("count").cast("int").as("e"))
    val joined = viaKernel.join(viaExplode, Seq("id"))
    assert(joined.count() == withId.count())
    assert(joined.filter(col("k") =!= col("e")).count() == 0)
    assert(Seq("a a b").toDF("t").selectExpr("max_word_freq(t)").head().getInt(0) == 2)
  }

  test("lsh_bucket kernel equals the interpreted twin") {
    val rnd = new scala.util.Random(99)
    val vecs = Seq.fill(200)(Array.fill(rnd.nextInt(96) + 1)(
      (rnd.nextFloat() - 0.5f) * 20f)) :+ Array.empty[Float]
    val df = vecs.toDF("vec")
    val diff = df.select(
      Similarity.lshBucket(col("vec"), numPlanes = 8).as("native"),
      Similarity.lshBucketInterpreted(col("vec"), numPlanes = 8).as("twin"))
      .filter(col("native") =!= col("twin"))
    assert(diff.count() == 0)
  }

  test("lsh_probe_buckets: home first, one-bit probes, full set = all flips") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(200)(Array.fill(rnd.nextInt(96) + 1)(
      (rnd.nextFloat() - 0.5f) * 20f))
    val df = vecs.toDF("vec").select(
      Similarity.lshBucket(col("vec"), numPlanes = 8).as("home"),
      call_function("lsh_probe_buckets", col("vec"), lit(8), lit(3)).as("p3"),
      call_function("lsh_probe_buckets", col("vec"), lit(8), lit(8)).as("p8"))
    val rows = df.collect()
    rows.foreach { r =>
      val home = r.getLong(0)
      val p3 = r.getSeq[Long](1)
      val p8 = r.getSeq[Long](2)
      assert(p3.head == home && p8.head == home, "element 0 must be the home bucket")
      assert(p3.size == 4 && p3.distinct.size == 4)
      // every probe flips exactly one plane
      p3.tail.foreach(b => assert(java.lang.Long.bitCount(b ^ home) == 1))
      // probing all planes visits exactly the full single-flip set,
      // regardless of the margin ordering
      assert(p8.tail.toSet == (0 until 8).map(p => home ^ (1L << p)).toSet)
    }
  }

  test("margin-threshold multiprobe: prefix of the adaptive order, monotone") {
    val rnd = new scala.util.Random(13)
    val vecs = Seq.fill(200)(Array.fill(rnd.nextInt(96) + 1)(
      (rnd.nextFloat() - 0.5f) * 20f))
    val rows = vecs.toDF("vec").select(
      call_function("lsh_probe_buckets", col("vec"), lit(8), lit(8)).as("full"),
      call_function("lsh_probe_buckets_margin",
        col("vec"), lit(8), lit(8), lit(0.0)).as("none"),
      call_function("lsh_probe_buckets_margin",
        col("vec"), lit(8), lit(8), lit(0.7)).as("some"),
      call_function("lsh_probe_buckets_margin",
        col("vec"), lit(8), lit(8), lit(1e9)).as("all"))
      .collect()
    var probedSomething = 0
    var skippedSomething = 0
    rows.foreach { r =>
      val full = r.getSeq[Long](0)
      val none = r.getSeq[Long](1)
      val some = r.getSeq[Long](2)
      val all = r.getSeq[Long](3)
      // marginFrac 0 probes nothing; unbounded margin equals the fixed-k
      // adaptive ordering exactly (same margins, same tie-break)
      assert(none == Seq(full.head))
      assert(all == full)
      // a finite margin selects a PREFIX of the adaptive order — the
      // lowest-margin planes go first in both
      assert(some == full.take(some.size))
      if (some.size > 1) probedSomething += 1
      if (some.size < full.size) skippedSomething += 1
    }
    // the threshold must actually discriminate on this corpus: some rows
    // probe, some save their budget
    assert(probedSomething > 0 && skippedSomething > 0,
      s"threshold not discriminating: $probedSomething probed, $skippedSomething skipped")
  }

  test("cdc_boundaries: scala replay parity, edges, and shift tolerance") {
    // scala-side replay of the polynomial rule (independent of the kernel's
    // rolling update — a rolling-subtraction bug would diverge here)
    def replay(s: String, w: Int, div: Int): Seq[Int] = {
      val b = s.getBytes("UTF-8"); val n = b.length
      val ends = (w until n).filter { i =>
        var h = 0L
        (i - w until i).foreach(j => h = h * 1000003L + (b(j) & 0xffL))
        (h & (div - 1L)) == 0L
      }
      ends :+ n
    }
    val texts = adversarial ++ randomTexts.filter(_.forall(_ < 128)) ++
      Seq("a" * 500, ('a' to 'z').mkString * 40)
    val ascii = texts.filter(_.forall(_ < 128)) // byte==char positions only
    val got = ascii.toDF("text")
      .selectExpr("text", "cdc_boundaries(text, 16, 64) AS b")
      .as[(String, Seq[Int])].collect().toMap
    ascii.foreach { t =>
      assert(got(t) == replay(t, 16, 64), s"boundary mismatch for ${t.take(40)}")
    }
    // edges: empty and under-window texts are one whole chunk
    assert(got("") == Seq(0) && got("a") == Seq(1))
    // shift tolerance: prepend a prefix far from the tail — every chunk
    // hash after the perturbed region must reappear identically
    val rnd = new scala.util.Random(77)
    val doc = Seq.fill(800)("abcdefgh ijklm nop"(rnd.nextInt(18))).mkString
    def chunkHashes(s: String): Seq[String] = {
      val ends = replay(s, 16, 64)
      val starts = 0 +: ends.dropRight(1)
      starts.zip(ends).map { case (a, e) => s.substring(a, e) }
        .map(c => java.security.MessageDigest.getInstance("MD5")
          .digest(c.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    }
    val orig = chunkHashes(doc)
    val shifted = chunkHashes("INSERTED PREFIX >> " + doc)
    // all but the first few chunks of the original reappear verbatim
    val surviving = orig.toSet.intersect(shifted.toSet).size
    assert(surviving >= orig.size - 2,
      s"content-defined boundaries must make later chunks shift-stable " +
        s"(survived $surviving of ${orig.size})")
  }

  test("gram_hashes kernel equals per-window brute force on the mixed corpus") {
    // through Spark's codegen path (not direct compute() calls), over
    // adversarial + seeded-random strings with multi-byte chars: pins the
    // CODE-POINT indexing contract — substring(text, i+1, w) must
    // hash to exactly result[i] — and the rolling update's algebra
    val w = 5
    val got = corpus
      .select(col("text"), call_function("gram_hashes", col("text"), lit(w)).as("hs"))
      .collect()
    val bad = got.flatMap { r =>
      val s = r.getString(0)
      val hs = r.getSeq[Long](1)
      val cps = s.codePoints().toArray
      val brute =
        if (cps.length < w) Seq.empty[Long]
        else (0 to cps.length - w).map(i => (i until i + w)
          .foldLeft(0L)((h, j) => h * graft.functions.GramHashes.Base + cps(j).toLong))
      if (hs == brute) None else Some(s.take(30))
    }
    assert(bad.isEmpty, s"gram_hashes diverged on: ${bad.take(3).mkString(" | ")}")
  }

  test("kernels stay inside whole-stage codegen") {
    // a literal corpus constant-folds to LocalTableScan; use the lake table
    val plan = graft.core.Tables.documents(spark, sf).select(
      MinHashLSH.signature(col("text")).as("a"),
      SimHash.simhash64(col("text")).as("b"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [minhash_signature"),
      s"expected kernel projection inside a codegen span in:\n$plan")
  }

  test("every kernel-bearing catalog query keeps its hot expression in codegen") {
    // a doGenCode regression (or an accidental wrapper that defeats
    // defineCodeGen) silently drops the expression to interpreted eval —
    // 20-60x slower per element — without failing any value check
    val cases = Seq(
      "q16_text_quality" -> "marker_count",
      "q17_token_count" -> "token_count",
      "q18_lang_id" -> "marker_count",
      "q19_minhash_dedup" -> "minhash_signature",
      "q20_simhash" -> "simhash64_md5",
      "q25_fingerprint" -> "rolling_min_hash",
      "q35_repetition" -> "max_word_freq",
      "q39_pii_scrub" -> "regexp_replace",
      "q80_dup_spans" -> "gram_hashes")
    val broken = cases.flatMap { case (q, token) =>
      val df = SparkEntry.queries(q)(spark, sf)
      // AQE wraps plans with exchanges: codegen markers only appear in the
      // finalized stages, so execute before inspecting
      df.collect(): Unit
      val plan = df.queryExecution.executedPlan.toString
      if (plan.linesIterator.exists(l => l.contains("*(") && l.contains(token))) None
      else Some(s"$q: $token not inside a codegen span")
    }
    assert(broken.isEmpty, broken.mkString("; "))
  }
}
