package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen kernels for the corpus-dedup hot path.
  *
  * The interpreted higher-order-function forms of MinHash / SimHash / LSH
  * projection evaluate a Catalyst expression tree per array element — the
  * honest (noop-sink) bench measured the 64-hash MinHash signature at
  * ~280 s for 5k docs at sf0.1. These kernels do the same math as a tight
  * JVM loop reachable from whole-stage codegen via a static call, using
  * Spark's own XXH64 so every hash value matches the equivalent
  * `xxhash64(...)` Column expression bit-for-bit (pinned by ScalaCheck in
  * PropertySpec against the interpreted twins kept in graft.llm).
  */
case class MinHashSignatureExpr(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.minHashSignature(input.asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.minHashSignature($c, $k, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

case class WordShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.wordShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.wordShingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

case class MinHashBandsExpr(child: Expression, numBands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.minHashBands(input.asInstanceOf[ArrayData], numBands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.minHashBands($c, $numBands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): MinHashBandsExpr =
    copy(child = newChild)
}

case class SimHashMd5Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64_md5"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.simhashMd5(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhashMd5($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5Expr =
    copy(child = newChild)
}

/** Low 64 bits of md5 as a signed long — the portable cross-engine
  * hash family (DuckDB: md5_number_lower), surfaced as a scalar so
  * sketches (functions/HllRegisters) hash with the exact value the
  * SQL oracle can replay. */
case class Md5Low64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "md5_low64"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.md5Low64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.md5Low64($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Low64Expr =
    copy(child = newChild)
}

case class MaxWordFreqExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "max_word_freq"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.maxWordFreq(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.maxWordFreq($c)")

  override protected def withNewChildInternal(newChild: Expression): MaxWordFreqExpr =
    copy(child = newChild)
}

case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.simhash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** Whole-word marker counting — the native twin of
  * `regexp_count(text, "\\b(w1|...|wn)\\b")`. The regex form re-runs a
  * dozens-wide alternation at every character; this is a single byte scan
  * trying the markers in alternation order only at word boundaries, with
  * Java-identical semantics (leftmost-first, non-overlapping, ASCII \b). */
case class MarkerCountExpr(child: Expression, words: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "marker_count"

  private lazy val wordBytes: Array[Array[Byte]] =
    words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  override protected def nullSafeEval(input: Any): Any =
    TextHash.markerCount(input.asInstanceOf[UTF8String], wordBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("markerWords", wordBytes, "byte[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.markerCount($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): MarkerCountExpr =
    copy(child = newChild)
}

/** Query-directed multiprobe buckets: the home LSH bucket plus the
  * `probes` single-plane flips chosen by SMALLEST |projection| — the
  * planes a near neighbor is most likely to land on the other side of
  * (classic multiprobe LSH), instead of an arbitrary fixed plane order.
  * Element 0 is always the home bucket; probe buckets are distinct. */
case class LshProbeBucketsExpr(child: Expression, numPlanes: Int, probes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_probe_buckets"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.lshProbeBuckets(input.asInstanceOf[ArrayData], numPlanes, probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHash.lshProbeBuckets($c, $numPlanes, $probes)")

  override protected def withNewChildInternal(newChild: Expression): LshProbeBucketsExpr =
    copy(child = newChild)
}

/** Variable-budget twin of [[LshProbeBucketsExpr]]: probes only planes
  * with |projection| under `marginFrac` × the row's mean |projection|
  * (capped at `maxProbes`). Confident rows emit just their home bucket. */
case class LshProbeBucketsMarginExpr(child: Expression, numPlanes: Int,
                                     maxProbes: Int, marginFrac: Double)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_probe_buckets_margin"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.lshProbeBucketsMargin(
      input.asInstanceOf[ArrayData], numPlanes, maxProbes, marginFrac)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.lshProbeBucketsMargin($c, $numPlanes, $maxProbes, $marginFrac)")

  override protected def withNewChildInternal(newChild: Expression): LshProbeBucketsMarginExpr =
    copy(child = newChild)
}

case class LshBucketExpr(child: Expression, numPlanes: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket"

  override protected def nullSafeEval(input: Any): Any =
    TextHash.lshBucket(input.asInstanceOf[ArrayData], numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.lshBucket($c, $numPlanes)")

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}

object TextHash {
  private final val Seed = 42L

  /** Byte-level replica of `split(trim(text), "\\s+")`: trim strips 0x20
    * only (SQL TRIM), the regex splits on ASCII whitespace runs with Java
    * limit -1 semantics (leading separator yields a leading empty token,
    * trailing separator a trailing one, empty input one empty token).
    * Returns token (start, end) byte offsets packed as start*2^32|end. */
  private def tokenize(bytes: Array[Byte]): Array[Long] = {
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    // growable primitive buffer — a boxed ArrayList here charged every
    // token a Long allocation across every kernel of this family
    // (grow-and-store is written out at both sites: a local def capturing
    // out/n would lift them into heap cells)
    var out = new Array[Long](16)
    var n = 0
    var i = lo
    var tokStart = lo
    while (i < hi) {
      if (isWs(bytes(i))) {
        if (n == out.length) out = java.util.Arrays.copyOf(out, n << 1)
        out(n) = (tokStart.toLong << 32) | (i & 0xffffffffL)
        n += 1
        while (i < hi && isWs(bytes(i))) i += 1
        tokStart = i
      } else i += 1
    }
    // final token: the remainder, or (with a trailing/empty input) an empty
    // token — Java split with limit -1 keeps it
    if (n == out.length) out = java.util.Arrays.copyOf(out, n << 1)
    out(n) = (tokStart.toLong << 32) | (hi & 0xffffffffL)
    n += 1
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  /** MinHash signature. Family: H(s) = xxhash64(shingle string);
    * h_i(s) = xxhash64(i, H(s)) = hashLong(H, hashInt(i, seed)) — one
    * string hash per shingle, then numHashes cheap long re-hashes (the
    * standard "one strong hash + derived permutations" construction).
    * Shingle i (i in 0..max(n-k,0)) is words[i, i+k) joined by ' '. */
  def minHashSignature(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val bytes = text.getBytes
    val toks = tokenize(bytes)
    val n = toks.length
    val nShingles = math.max(n - k, 0) + 1
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    // hashInt(i, Seed) is shingle-invariant: computed once here instead of
    // numHashes times PER SHINGLE (it was ~40% of the inner loop)
    val iSeed = hashIntTable(numHashes)
    // reusable shingle buffer: max total words bytes + separators
    var maxLen = 0
    var t = 0
    while (t < n) {
      val len = (toks(t) & 0xffffffffL).toInt - (toks(t) >>> 32).toInt
      maxLen += len + 1
      t += 1
    }
    val buf = new Array[Byte](math.max(maxLen, 1))
    var s = 0
    while (s < nShingles) {
      var len = 0
      var w = s
      val end = math.min(s + k, n)
      while (w < end) {
        if (w > s) { buf(len) = ' '; len += 1 }
        val ws = (toks(w) >>> 32).toInt
        val we = (toks(w) & 0xffffffffL).toInt
        System.arraycopy(bytes, ws, buf, len, we - ws)
        len += we - ws
        w += 1
      }
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed)
      var i = 0
      while (i < numHashes) {
        val hi = XXH64.hashLong(h, iSeed(i))
        if (hi < sig(i)) sig(i) = hi
        i += 1
      }
      s += 1
    }
    new GenericArrayData(sig)
  }

  /** hashInt(i, Seed) for i < n — the per-permutation seeds of the minhash
    * family. Values are identical to the inline form; the table exists so
    * the per-shingle loop does one hashLong per permutation, not
    * hashLong + hashInt. Cached for the largest n seen; a smaller n reads
    * the prefix. A grown table is published only when it is longer than
    * the cache at publish time, so concurrent calls with different n can
    * never shrink the shared cache (a lost race recomputes, same values). */
  @volatile private var hashIntCache: Array[Long] = new Array[Long](0)
  private[graft] def hashIntTable(n: Int): Array[Long] = {
    val cached = hashIntCache
    if (cached.length >= n) cached
    else {
      val t = new Array[Long](n)
      var i = 0
      while (i < n) { t(i) = XXH64.hashInt(i, Seed); i += 1 }
      publishHashInts(t)
      t
    }
  }
  private[graft] def publishHashInts(t: Array[Long]): Unit = synchronized {
    if (t.length > hashIntCache.length) hashIntCache = t
  }

  /** Distinct k-word shingles in first-occurrence order — the native twin
    * of array_distinct(transform(sequence..., array_join(slice(words...))))
    * with identical trim/split/edge semantics. */
  def wordShingles(text: UTF8String, k: Int): ArrayData = {
    val bytes = text.getBytes
    val toks = tokenize(bytes)
    val n = toks.length
    val nShingles = math.max(n - k, 0) + 1
    val seen = new java.util.LinkedHashSet[UTF8String](nShingles * 2)
    var maxLen = 0
    var t = 0
    while (t < n) {
      maxLen += (toks(t) & 0xffffffffL).toInt - (toks(t) >>> 32).toInt + 1
      t += 1
    }
    val buf = new Array[Byte](math.max(maxLen, 1))
    var s = 0
    while (s < nShingles) {
      var len = 0
      var w = s
      val end = math.min(s + k, n)
      while (w < end) {
        if (w > s) { buf(len) = ' '; len += 1 }
        val ws = (toks(w) >>> 32).toInt
        val we = (toks(w) & 0xffffffffL).toInt
        System.arraycopy(bytes, ws, buf, len, we - ws)
        len += we - ws
        w += 1
      }
      seen.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, len))): Unit
      s += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Bit-vote SimHash, identical to the interpreted Column form: per word
    * h = xxhash64(word); fingerprint bit j set iff sum of bit j over all
    * word hashes wins a strict majority (votes*2 > n). */
  def simhash64(text: UTF8String): Long = {
    val bytes = text.getBytes
    val toks = tokenize(bytes)
    val n = toks.length
    val votes = new Array[Int](64)
    var t = 0
    while (t < n) {
      val ws = (toks(t) >>> 32).toInt
      val we = (toks(t) & 0xffffffffL).toInt
      val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + ws, we - ws, Seed)
      var j = 0
      while (j < 64) {
        votes(j) += ((h >>> j) & 1L).toInt
        j += 1
      }
      t += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (votes(j).toLong * 2 > n) fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** Band hashes of a minhash signature: band b hashes its rowsPerBand
    * consecutive signature values as one xxhash64 chain seeded by the band
    * index — identical to the Column form
    * xxhash64(lit(b), sig[b*r+1], ..., sig[b*r+r]). */
  def minHashBands(sig: ArrayData, numBands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Long](numBands)
    val n = sig.numElements()
    var b = 0
    while (b < numBands) {
      var h = XXH64.hashInt(b, Seed)
      var r = 0
      while (r < rowsPerBand) {
        val idx = b * rowsPerBand + r
        if (idx < n) h = XXH64.hashLong(sig.getLong(idx), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Count of the most frequent word (same tokenization as the split
    * family) — the top-word-fraction numerator of repetition quality
    * scoring, as one bounded per-document pass instead of an
    * explode → groupBy → max → join (zero shuffle vs two). */
  def maxWordFreq(text: UTF8String): Int = {
    val bytes = text.getBytes
    val toks = tokenize(bytes)
    val counts = new java.util.HashMap[UTF8String, Integer](toks.length * 2)
    var best = 0
    var t = 0
    while (t < toks.length) {
      val ws = (toks(t) >>> 32).toInt
      val we = (toks(t) & 0xffffffffL).toInt
      val w = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, ws, we))
      val c = counts.merge(w, 1, (a, b) => a + b)
      if (c > best) best = c
      t += 1
    }
    best
  }

  /** Byte-level replica of Java `Pattern("\\b(w1|...|wn)\\b")` find-count.
    * Java's \b is Unicode-aware even in default mode — its word test is
    * `ch == '_' || Character.isLetterOrDigit(ch)`, NOT the ASCII \w class
    * (so "theĸ" has no boundary after "the"). The scan walks the text one
    * codepoint at a time (ASCII = one branch), carries the previous
    * character's wordness, and tries the markers in alternation order only
    * at boundary positions — leftmost-first, non-overlapping, exactly the
    * regex engine's semantics. A valid word can never byte-match at a
    * mid-character offset (UTF-8 self-synchronization). */
  def markerCount(text: UTF8String, words: Array[Array[Byte]]): Int = {
    val bytes = text.getBytes
    val len = bytes.length
    var count = 0
    var i = 0
    var prevWord = false // wordness of the char ending at i (start/end: none)
    while (i < len) {
      val cp = cpAt(bytes, i)
      val curWord = isWordCp(cp)
      var advanced = 0
      if (prevWord != curWord) {
        var w = 0
        while (w < words.length && advanced == 0) {
          val wb = words(w)
          val e = i + wb.length
          if (e <= len && regionEq(bytes, i, wb)) {
            val lastW = isWordCp(lastCp(wb))
            val afterW = e < len && isWordCp(cpAt(bytes, e))
            if (lastW != afterW) advanced = wb.length
          }
          w += 1
        }
      }
      if (advanced > 0) {
        count += 1
        prevWord = isWordCp(lastCp(bytes, i + advanced))
        i += advanced
      } else {
        prevWord = curWord
        i += cpLen(bytes(i))
      }
    }
    count
  }

  private def isWordCp(cp: Int): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp)

  /** Codepoint starting at byte offset i (assumes valid UTF-8). */
  private def cpAt(bytes: Array[Byte], i: Int): Int = {
    val b0 = bytes(i) & 0xff
    if (b0 < 0x80) b0
    else if (b0 < 0xE0) ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f)
    else if (b0 < 0xF0)
      ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
    else
      ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
        ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
  }

  private def cpLen(b: Byte): Int = {
    val b0 = b & 0xff
    if (b0 < 0x80) 1 else if (b0 < 0xE0) 2 else if (b0 < 0xF0) 3 else 4
  }

  /** Codepoint of the character ENDING at byte offset `end` (exclusive). */
  private def lastCp(bytes: Array[Byte], end: Int): Int = {
    var j = end - 1
    while (j > 0 && (bytes(j) & 0xC0) == 0x80) j -= 1
    cpAt(bytes, j)
  }

  private def lastCp(bytes: Array[Byte]): Int = lastCp(bytes, bytes.length)

  private def regionEq(bytes: Array[Byte], off: Int, w: Array[Byte]): Boolean = {
    var j = 0
    while (j < w.length) {
      if (bytes(off + j) != w(j)) return false
      j += 1
    }
    true
  }

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Low 64 bits of MD5 — little-endian u64 of digest bytes 8..15, the
    * exact value DuckDB's md5_number_lower returns (as a signed long
    * here). The cross-engine-portable hash family: slower than xxhash64,
    * reproducible by any engine with MD5. */
  def md5Low64(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  /** Bit-vote SimHash over the PORTABLE md5Low64 word-hash family — same
    * construction as [[simhash64]], but every value is reproducible in
    * engines without xxhash64 (DuckDB: md5_number_lower), so fingerprints
    * can be cross-checked end-to-end. */
  def simhashMd5(text: UTF8String): Long = {
    val bytes = text.getBytes
    val toks = tokenize(bytes)
    val n = toks.length
    val votes = new Array[Int](64)
    val md = md5Local.get()
    val digestBuf = new Array[Byte](16)
    var t = 0
    while (t < n) {
      val ws = (toks(t) >>> 32).toInt
      val we = (toks(t) & 0xffffffffL).toInt
      // same bytes MD5 hashes in md5Low64, fed in place — the word is a
      // slice of `bytes`, so the copyOfRange + UTF8String wrapper per
      // word bought nothing
      md.reset()
      md.update(bytes, ws, we - ws)
      md.digest(digestBuf, 0, 16)
      var h = 0L
      var i = 15
      while (i >= 8) { h = (h << 8) | (digestBuf(i) & 0xffL); i -= 1 }
      var j = 0
      while (j < 64) {
        votes(j) += ((h >>> j) & 1L).toInt
        j += 1
      }
      t += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (votes(j).toLong * 2 > n) fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** Random-hyperplane sign bucket, identical to the interpreted form:
    * weight(p, d) = +1 if xxhash64(p, d) is odd else -1 (both ints hashed
    * in sequence from the fixed seed); projection is the strict
    * left-to-right double sum of vec[d] * weight; bit p set iff proj >= 0. */
  def lshBucket(vec: ArrayData, numPlanes: Int): Long = {
    val n = vec.numElements()
    if (n == 0) return 0L // matches the interpreted form's null-propagated 0
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      val planeSeed = XXH64.hashInt(p, Seed)
      var proj = 0.0
      var d = 0
      while (d < n) {
        val w = if ((XXH64.hashInt(d, planeSeed) & 1L) == 1L) 1.0 else -1.0
        proj += vec.getFloat(d).toDouble * w
        d += 1
      }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Home bucket + `probes` lowest-|projection| single-flip buckets (see
    * LshProbeBucketsExpr). Same plane family as [[lshBucket]], so element
    * 0 always equals it. */
  def lshProbeBuckets(vec: ArrayData, numPlanes: Int, probes: Int): ArrayData = {
    val k = math.max(0, math.min(probes, numPlanes))
    val out = new Array[Long](1 + k)
    val n = vec.numElements()
    if (n == 0) return new GenericArrayData(out) // all-zero, like lshBucket
    val proj = new Array[Double](numPlanes)
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      val planeSeed = XXH64.hashInt(p, Seed)
      var s = 0.0
      var d = 0
      while (d < n) {
        val w = if ((XXH64.hashInt(d, planeSeed) & 1L) == 1L) 1.0 else -1.0
        s += vec.getFloat(d).toDouble * w
        d += 1
      }
      proj(p) = s
      if (s >= 0) bucket |= (1L << p)
      p += 1
    }
    out(0) = bucket
    // selection by (|proj|, plane): numPlanes <= 64, a full index sort is
    // cheaper than cleverness
    val order = Array.tabulate(numPlanes)(identity).sortBy(i => (math.abs(proj(i)), i))
    var i = 0
    while (i < k) { out(i + 1) = bucket ^ (1L << order(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Margin-threshold multiprobe: probe only the planes whose |projection|
    * is under `marginFrac` × the row's mean |projection| (capped at
    * `maxProbes`), smallest margins first. Rows that sit confidently
    * inside their bucket probe NOTHING; rows near hyperplane boundaries
    * probe exactly the ambiguous planes — the per-row-budget refinement of
    * [[lshProbeBuckets]]'s fixed k. Element 0 is always the home bucket. */
  def lshProbeBucketsMargin(vec: ArrayData, numPlanes: Int, maxProbes: Int,
                            marginFrac: Double): ArrayData = {
    val n = vec.numElements()
    if (n == 0) return new GenericArrayData(Array(0L))
    val proj = new Array[Double](numPlanes)
    var bucket = 0L
    var sumAbs = 0.0
    var p = 0
    while (p < numPlanes) {
      val planeSeed = XXH64.hashInt(p, Seed)
      var s = 0.0
      var d = 0
      while (d < n) {
        val w = if ((XXH64.hashInt(d, planeSeed) & 1L) == 1L) 1.0 else -1.0
        s += vec.getFloat(d).toDouble * w
        d += 1
      }
      proj(p) = s
      sumAbs += math.abs(s)
      if (s >= 0) bucket |= (1L << p)
      p += 1
    }
    val threshold = marginFrac * (sumAbs / numPlanes)
    val order = Array.tabulate(numPlanes)(identity)
      .sortBy(i => (math.abs(proj(i)), i))
      .filter(i => math.abs(proj(i)) < threshold)
      .take(math.max(0, maxProbes))
    val out = new Array[Long](1 + order.length)
    out(0) = bucket
    var i = 0
    while (i < order.length) { out(i + 1) = bucket ^ (1L << order(i)); i += 1 }
    new GenericArrayData(out)
  }
}
