package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.GramHashes
import graft.llm.DupSpans
import graft.operators.WeightedSample

class DupSpansSpec extends AnyFunSuite {
  import TestSpark._

  // ------------------------------------------------------ gram_hashes
  private def bruteHashes(s: String, w: Int): Seq[Long] = {
    val cps = s.codePoints().toArray
    if (cps.length < w) Seq.empty
    else (0 to cps.length - w).map { i =>
      (i until i + w).foldLeft(0L)((h, j) => h * GramHashes.Base + cps(j).toLong)
    }
  }

  test("gram_hashes: rolling equals brute-force per-window hash") {
    for (s <- Seq("", "a", "abcabcabc", "the quick brown fox", "aaaaaaa");
         w <- Seq(1, 3, 5)) {
      val got = GramHashes.compute(UTF8String.fromString(s), w).toLongArray.toSeq
      assert(got == bruteHashes(s, w), s"s='$s' w=$w")
    }
  }

  test("gram_hashes: code-point indexed, not byte- or UTF-16-unit-indexed") {
    val s = "ñandú ñandú" // multi-byte UTF-8, 11 code points
    val w = 5
    val got = GramHashes.compute(UTF8String.fromString(s), w).toLongArray.toSeq
    assert(got.length == s.length - w + 1) // code-point windows, so 7
    assert(got == bruteHashes(s, w))
    // equal grams at different positions hash equal: "ñandú" at 0 and 6
    assert(got.head == got.last)
    // supplementary plane: 🚀 is ONE code point (two UTF-16 units) — the
    // window count must follow code points, the unit substring() uses
    val astral = "a🚀b🚀a🚀b"
    val got2 = GramHashes.compute(UTF8String.fromString(astral), 3).toLongArray.toSeq
    assert(got2.length == 5) // 7 code points, not 11 chars
    assert(got2 == bruteHashes(astral, 3))
    assert(got2(0) == got2(4)) // "a🚀b" recurs at code points 0 and 4
  }

  test("gram_hashes: shorter-than-window text yields an empty array") {
    assert(GramHashes.compute(UTF8String.fromString("ab"), 3).numElements() == 0)
  }

  // ------------------------------------------------ gram_hashes_winnowed
  /** Independent reference winnow: per window of `w` consecutive gram
    * hashes take the rightmost unsigned minimum; distinct positions. */
  private def bruteWinnow(s: String, gramLen: Int, w: Int): Seq[(Int, Long)] = {
    val hs = bruteHashes(s, gramLen)
    if (hs.isEmpty) Seq.empty
    else {
      val win = math.min(w, hs.length)
      (0 to hs.length - win).map { j =>
        (j until j + win).reduceLeft { (best, t) =>
          if (java.lang.Long.compareUnsigned(hs(t), hs(best)) <= 0) t else best
        }
      }.distinct.map(p => (p + 1, hs(p)))
    }
  }

  test("winnow: kernel equals the brute-force rightmost-min reference") {
    for (s <- Seq("", "a", "abcabcabcabcabc", "the quick brown fox jumps",
                  "aaaaaaaaaaaa", "abab" * 10);
         gl <- Seq(1, 3, 4); w <- Seq(1, 2, 4, 16)) {
      val got = GramHashes.winnow(UTF8String.fromString(s), gl, w)
      val rows = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2); (r.getInt(0), r.getLong(1))
      }
      assert(rows == bruteWinnow(s, gl, w), s"s='$s' gl=$gl w=$w")
    }
  }

  test("winnow: w=1 selects every position (degenerates to gram_hashes)") {
    val s = "the quick brown fox"
    val got = GramHashes.winnow(UTF8String.fromString(s), 4, 1)
    val all = GramHashes.compute(UTF8String.fromString(s), 4).toLongArray
    assert(got.numElements() == all.length)
    (0 until got.numElements()).foreach { i =>
      val r = got.getStruct(i, 2)
      assert(r.getInt(0) == i + 1 && r.getLong(1) == all(i))
    }
  }

  test("winnow: selection is content-local — identical windows select identically") {
    // the winnowing guarantee's mechanism: a shared substring with >= w
    // consecutive gram positions selects the same gram (by content) in
    // any embedding context
    val core = "WINNOWING-GUARANTEE-SHARED-REGION-0123456789"
    val a = "xxxx" + core + "yyyy"
    val b = "qqqqqqqq" + core + "rr"
    val gl = 8; val w = 4
    def sel(s: String) = {
      val got = GramHashes.winnow(UTF8String.fromString(s), gl, w)
      (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 2); (r.getInt(0), r.getLong(1))
      }
    }
    // grams fully inside core, by content (the substring the pos reads)
    def coreGrams(s: String) =
      sel(s).map { case (p, _) => s.substring(p - 1, p - 1 + gl) }
        .filter(g => core.contains(g)).toSet
    val shared = coreGrams(a).intersect(coreGrams(b))
    assert(shared.nonEmpty, "no common selected gram inside the shared region")
  }

  test("winnow: supplementary-plane positions stay code-point-indexed") {
    val astral = "x🚀y🚀x🚀y🚀x🚀y🚀x🚀y" // repeats "x🚀y🚀" — code points, not chars
    val got = GramHashes.winnow(UTF8String.fromString(astral), 3, 2)
    (0 until got.numElements()).foreach { i =>
      val r = got.getStruct(i, 2)
      val p = r.getInt(0)
      // the hash at pos p must equal the brute hash of the code-point gram
      assert(r.getLong(1) == bruteHashes(astral, 3)(p - 1))
    }
  }

  test("winnowed anchors are a subset of exact anchors, ~2/(w+1) dense") {
    val d = docsDf(
      1L -> ("abcdefghij" * 20),
      2L -> ("jihgfedcba" * 20),
      3L -> "completely different content here with no repeats at all")
    val exact = DupSpans.anchors(d, "text", "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val win = DupSpans.winnowedAnchors(d, "text", "doc_id", 8, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(win.subsetOf(exact))
    assert(win.size < exact.size / 3, s"${win.size} vs ${exact.size}")
  }

  test("winnowed report: every exact span >= L + w - 1 still detected") {
    // plant shared spans of length exactly L + w - 1 = 4 + 4 - 1 = 7 in
    // otherwise-unrelated documents; the winnowed pipeline must anchor
    // inside every one of them
    val shared1 = "SHAREDA"   // 7 chars
    val shared2 = "ZZCOMMQ"   // 7 chars
    val d = docsDf(
      1L -> ("aaa1bbb2ccc" + shared1 + "ddd3eee"),
      2L -> ("fff4ggg" + shared1 + "hhh5iii6" + shared2),
      3L -> ("jjj7kkk8lll" + shared2 + "mmm9nnn"))
    val L = 4; val w = 4
    val winAnchors = DupSpans.verifiedAnchors(d, "text", "doc_id", L, w)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // each planted span, in each doc containing it, must contain an anchor
    val docs = Map(1L -> ("aaa1bbb2ccc" + shared1 + "ddd3eee"),
      2L -> ("fff4ggg" + shared1 + "hhh5iii6" + shared2),
      3L -> ("jjj7kkk8lll" + shared2 + "mmm9nnn"))
    for ((id, text) <- docs; sh <- Seq(shared1, shared2)
         if text.contains(sh)) {
      val start = text.indexOf(sh) + 1 // 1-based
      val inSpan = winAnchors.exists { case (d0, p) =>
        d0 == id && p >= start && p + L <= start + sh.length }
      assert(inSpan, s"doc $id span '$sh' at $start has no winnowed anchor")
    }
  }

  test("winnowed == exact when winnowWindow = 1") {
    val d = docsDf(
      1L -> "ABCDEFGHxxxxZZZZ",
      2L -> "yyABCDEFGHyyyyZZZZy")
    val exact = DupSpans.report(d, "text", "doc_id", 4, "n_chars")
      .collect().map(_.toSeq).toList
    val win1 = DupSpans.report(d, "text", "doc_id", 4, "n_chars",
      winnowWindow = 1)
      .collect().map(_.toSeq).toList
    assert(exact == win1)
  }

  test("winnow: short docs (< w grams) anchor their minimal gram — exact short dups detectable") {
    val d = docsDf(1L -> "ABCDE", 2L -> "ABCDE") // 2 grams at L=4, w=16
    val got = DupSpans.report(d, "text", "doc_id", 4, "n_chars",
      winnowWindow = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got.nonEmpty && got.forall(_._2 >= 1L), s"got $got")
  }

  // -------------------------------------------------------- dropSpans
  test("dropSpans: non-owners lose covered spans, the owner keeps its text") {
    // docs 1 and 2 share "ABCDEFGH"; doc 1 (smallest id) owns it
    val d = docsDf(
      1L -> "ABCDEFGHxx",
      2L -> "yyABCDEFGHzz",
      3L -> "no dup here")
    val got = DupSpans.dropSpans(d, "text", "doc_id", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    assert(got == List(
      (1L, 0L, "ABCDEFGHxx"),          // owner untouched
      (2L, 8L, "yyzz"),                // covered span [3,11) cut
      (3L, 0L, "no dup here")))        // untouched doc passes through
  }

  test("dropSpans: disjoint spans stitch the gaps back in order") {
    // doc 2 shares two separate regions with doc 1: "AAAA" and "BBBB"
    val d = docsDf(
      1L -> "AAAAxBBBB",
      2L -> "1AAAA23BBBB4")
    val got = DupSpans.dropSpans(d, "text", "doc_id", 4)
      .filter(col("doc_id") === 2L).head()
    assert(got.getLong(1) == 8L)
    assert(got.getString(2) == "1234")
  }

  test("dropSpans: a cut anchor overrides an overlapping OWNED gram's chars") {
    // d2 owns gram "CDQQ" (shared with d3, min id = 2) but its C and D
    // chars are also covered by the non-owned "ABCD" anchor (owner d1) —
    // the policy is char-level: covered-by-any-non-owned-anchor cuts, so
    // d2 keeps only the QQ tail of its owned gram
    val d = docsDf(
      1L -> "ABCD",
      2L -> "PPABCDQQ",
      3L -> "CDQQZZZZ")
    val got = DupSpans.dropSpans(d, "text", "doc_id", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    assert(got == List(
      (1L, 0L, "ABCD"),     // owner of ABCD
      (2L, 4L, "PPQQ"),     // [3,7) cut; owned CDQQ keeps only chars 7-8
      (3L, 4L, "ZZZZ")))    // CDQQ owned by d2, so d3's copy [1,5) is cut
  }

  test("dropSpans: a fully-covered document becomes the empty string") {
    val d = docsDf(1L -> "ABCD", 2L -> "ABCD")
    val got = DupSpans.dropSpans(d, "text", "doc_id", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    assert(got == List((1L, 0L, "ABCD"), (2L, 4L, "")))
  }

  // ---------------------------------------------- dropSpans (winnowed)
  /** Independent reference for the winnowed apply: cut positions = chars
    * covered by a winnow-SELECTED gram whose owner (min doc_id over the
    * docs that SELECTED it) is another document — the same ownership law
    * as the engine, recomputed from bruteWinnow. */
  private def bruteWinnowDrop(docs: Map[Long, String], L: Int,
                              w: Int): Map[Long, (Long, String)] = {
    val selected = docs.toSeq.flatMap { case (id, t) =>
      bruteWinnow(t, L, w).map { case (p, _) =>
        (id, p, t.substring(p - 1, p - 1 + L)) } }
    val byGram = selected.groupBy(_._3)
    docs.map { case (id, t) =>
      val cut = selected.collect { case (d, p, g)
        if d == id && byGram(g).map(_._1).distinct.size >= 2 &&
          byGram(g).map(_._1).min != id => p }
        .flatMap(p => p until p + L).toSet
      id -> (cut.size.toLong,
        t.zipWithIndex.collect { case (c, i) if !cut.contains(i + 1) => c }
          .mkString)
    }
  }

  test("dropSpans winnowed: equals the independent brute reference") {
    // mixed corpus: a long shared span (>= L + w - 1, must cut), a short
    // shared gram (may or may not anchor), an internal repeat (never
    // cuts), a clean doc — plus ownership chains across three docs
    val docs = Map(
      1L -> ("alpha START-OF-A-LONG-SHARED-REGION-123456 tail one"),
      2L -> ("two START-OF-A-LONG-SHARED-REGION-123456 mid SHORTDUP x"),
      3L -> ("three SHORTDUP and then something else entirely here"),
      4L -> ("clean document with no duplication whatsoever in it"),
      5L -> ("repeatrepeatrepeatrepeat internal only internal only"))
    val L = 6; val w = 4
    val expect = bruteWinnowDrop(docs, L, w)
    val got = DupSpans.dropSpans(docsDf(docs.toSeq: _*), "text", "doc_id",
        L, winnowWindow = w)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(got == expect)
  }

  test("dropSpans winnowed: spans >= L + w - 1 cut except <= w - 1 chars per edge") {
    val span = "GUARANTEED-CUT-SPAN-abcdefghijklmnop" // length 36
    val L = 8; val w = 4 // threshold L + w - 1 = 11 << 36
    val d = docsDf(
      1L -> ("owner doc " + span + " keeps it"),
      2L -> ("the copy " + span + " loses it"))
    val got = DupSpans.dropSpans(d, "text", "doc_id", L, winnowWindow = w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    val owner = got.find(_._1 == 1L).get
    val copy = got.find(_._1 == 2L).get
    assert(owner._2 == 0L && owner._3 == "owner doc " + span + " keeps it")
    // the guaranteed-cut interior: span minus w-1 chars at each edge
    val interior = span.substring(w - 1, span.length - (w - 1))
    assert(!copy._3.contains(interior), s"interior survived: ${copy._3}")
    assert(copy._2 >= span.length - 2L * (w - 1), s"n_cut ${copy._2}")
    // and the non-span text survives
    assert(copy._3.startsWith("the copy ") && copy._3.endsWith(" loses it"))
  }

  test("dropSpans winnowed: w = 1 degenerates to the exact form") {
    val d = docsDf(
      1L -> "ABCDEFGHxx",
      2L -> "yyABCDEFGHzz",
      3L -> "no dup here")
    val exact = DupSpans.dropSpans(d, "text", "doc_id", 4)
      .collect().map(_.toSeq).toList
    val win1 = DupSpans.dropSpans(d, "text", "doc_id", 4, winnowWindow = 1)
      .collect().map(_.toSeq).toList
    assert(exact == win1)
  }

  // -------------------------------------------------------- dup spans
  private def docsDf(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("verifiedAnchors: only cross-document grams anchor") {
    // L=4: "WXYZ" shared by docs 1 and 2; "QQQQ..." repeats only inside doc 3
    val d = docsDf(
      1L -> "aaWXYZbb",
      2L -> "ccccWXYZ",
      3L -> "QQQQQQQQ")
    val got = DupSpans.verifiedAnchors(d, "text", "doc_id", 4)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((1L, 3), (2L, 5)), s"got $got")
  }

  test("report: overlapping anchors merge into one span, disjoint stay separate") {
    // docs 1 and 2 share "ABCDEFGH" (8 chars) -> with L=4, doc 1 anchors at
    // pos 1..5 overlap into ONE island of 8 chars; they also share a
    // disjoint "ZZZZ" at the tail of doc 1
    val d = docsDf(
      1L -> "ABCDEFGHxxxxZZZZ",
      2L -> "yyABCDEFGHyyyyZZZZy")
    val got = DupSpans.report(d, "text", "doc_id", 4, "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // doc 1: anchors 1..5 (ABCD..EFGH) + anchor 13 (ZZZZ) = 6 anchors,
    // coverage 8 + 4 = 12; doc 2: anchors 3..7 + 15 = 6 anchors, 12 chars
    assert(got == List((1L, 6L, 12L), (2L, 6L, 12L)), s"got $got")
  }

  test("report: dup_ratio is exact coverage over n_chars") {
    val d = docsDf(1L -> "ABCD1234", 2L -> "ABCDxxxx")
    val row = DupSpans.report(d, "text", "doc_id", 4, "n_chars")
      .filter(col("doc_id") === 1L).head()
    assert(row.getLong(2) == 4L && row.getLong(3) == 8L)
    assert(row.getDouble(4) == 0.5)
  }

  test("report: document shorter than L never appears") {
    val d = docsDf(1L -> "ABCDE", 2L -> "ABCDE", 3L -> "AB")
    val ids = DupSpans.report(d, "text", "doc_id", 4, "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L))
  }

  // ------------------------------------------------- incremental spans
  test("flagIncrement: asymmetric — inc-vs-corpus anchors only, zeros for clean docs") {
    // doc 13 shares "ABCDEFGH" with corpus doc 1; docs 23 and 33 share a
    // gram only with EACH OTHER (inc-vs-inc — must NOT flag); doc 43 is
    // clean and must still appear with zeros
    val corpus = docsDf(1L -> "ABCDEFGHxx", 2L -> "unrelated corpus text")
    val inc = docsDf(
      13L -> "yyABCDEFGH",
      23L -> "WWWWQQQQRRRR",
      33L -> "zzWWWWQQQQ",
      43L -> "totally clean")
    val got = DupSpans.flagIncrement(inc, corpus, "text", "doc_id", 4,
      "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // doc 13: grams ABCD..EFGH at pos 3..7 -> 5 anchors, 8 chars covered
    assert(got == List((13L, 5L, 8L), (23L, 0L, 0L), (33L, 0L, 0L),
      (43L, 0L, 0L)), s"got $got")
  }

  // Independent brute reference for the increment APPLY side: an
  // increment position is cut iff a selected increment anchor covering
  // it has its gram among the corpus's SELECTED grams (the corpus owns).
  private def bruteIncDrop(inc: Map[Long, String], cor: Map[Long, String],
                           L: Int, w: Int): Map[Long, (Long, String)] = {
    val corGrams = cor.values.flatMap(t =>
      bruteWinnow(t, L, w).map { case (p, _) => t.substring(p - 1, p - 1 + L) })
      .toSet
    inc.map { case (id, t) =>
      val cut = bruteWinnow(t, L, w)
        .collect { case (p, _) if corGrams.contains(t.substring(p - 1, p - 1 + L)) => p }
        .flatMap(p => p until p + L).toSet
      id -> (cut.size.toLong,
        t.zipWithIndex.collect { case (c, i) if !cut.contains(i + 1) => c }
          .mkString)
    }
  }

  test("dropIncrement: corpus owns — inc-vs-corpus spans cut, inc-internal dup kept") {
    // doc 13 shares a region with corpus doc 1 (must cut, corpus keeps);
    // docs 23/33 share a gram only with EACH OTHER (inc-internal — must
    // NOT cut); doc 43 is clean and passes through byte-identical
    val corpus = docsDf(1L -> "ABCDEFGHxx", 2L -> "unrelated corpus text")
    val inc = docsDf(
      13L -> "yyABCDEFGH",
      23L -> "WWWWQQQQRRRR",
      33L -> "zzWWWWQQQQ",
      43L -> "totally clean")
    val got = DupSpans.dropIncrement(inc, corpus, "text", "doc_id", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    assert(got == List((13L, 8L, "yy"), (23L, 0L, "WWWWQQQQRRRR"),
      (33L, 0L, "zzWWWWQQQQ"), (43L, 0L, "totally clean")), s"got $got")
  }

  private val bruteCor = Map(
    1L -> "alpha START-OF-A-LONG-SHARED-REGION-123456 tail one",
    2L -> "corpus also holds SHORTDUP and other content here")
  private val bruteInc = Map(
    13L -> "copy START-OF-A-LONG-SHARED-REGION-123456 suffix",
    23L -> "has SHORTDUP twice via SHORTDUP repetition",
    33L -> "an entirely clean increment document sits here")

  test("dropIncrement: equals the independent brute reference (exact and winnowed)") {
    for (w <- Seq(1, 4)) {
      val expect = bruteIncDrop(bruteInc, bruteCor, L = 6, w = w)
      val got = DupSpans.dropIncrement(docsDf(bruteInc.toSeq: _*),
          docsDf(bruteCor.toSeq: _*), "text", "doc_id", L = 6, winnowWindow = w)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
        .toMap
      assert(got == expect, s"w=$w")
      assert(got(13L)._1 > 0L, "the shared region must cut")
    }
  }

  test("flagIncrement: dup_chars equals the brute reference's cut count") {
    // flag and apply share the verified-anchor core: the chars the apply
    // side cuts are exactly the coverage the flag side reports
    for (w <- Seq(1, 4)) {
      val expect = bruteIncDrop(bruteInc, bruteCor, L = 6, w = w)
        .map { case (id, (nCut, _)) => id -> nCut }
      val got = DupSpans.flagIncrement(docsDf(bruteInc.toSeq: _*),
          docsDf(bruteCor.toSeq: _*), "text", "doc_id", L = 6,
          nCharsCol = "n_chars", winnowWindow = w)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expect, s"w=$w")
      assert(got(13L) > 0L && got(33L) == 0L)
    }
  }

  // -------------------------------------------------- weighted sample
  test("weighted sample: equals the window-rank formulation and is partition-stable") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (s"g${i % 3}", i, 10L + (i * 7) % 90))
      .toDF("source", "doc_id", "n_chars")
    def run(d: org.apache.spark.sql.DataFrame) =
      WeightedSample.perGroup(d, Seq("source"), "doc_id", "n_chars", 5)
        .orderBy(col("source"), col("rk"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toList
    val expected = {
      val pri = WeightedSample.priority(col("n_chars"), col("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(pri.desc, col("doc_id").asc)
      df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .orderBy(col("source"), col("rk"))
        .collect().map(r => (r.getString(0), r.getAs[Int]("rk"), r.getLong(1))).toList
    }
    val one = run(df.repartition(1))
    val many = run(df.repartition(16))
    assert(one == expected)
    assert(many == expected) // merge path: map-side partials agree
  }

  test("top_k_double: k past group size returns the whole group, best-first") {
    val s = spark
    import s.implicits._
    val df = Seq((1.0, 10L), (3.0, 30L), (2.0, 20L), (3.0, 5L)).toDF("q", "id")
    val got = df.agg(call_function("top_k_double", col("q"), col("id"), lit(9)))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1))).toList
    // ties on score=3.0 break by payload ascending
    assert(got == List((3.0, 5L), (3.0, 30L), (2.0, 20L), (1.0, 10L)))
  }

  test("top_k_double: NaN scores totally ordered (largest), never corrupt the heap") {
    val s = spark
    import s.implicits._
    val df = Seq((Double.NaN, 1L), (5.0, 2L), (Double.NaN, 3L), (7.0, 4L),
      (1.0, 5L)).toDF("q", "id")
    val got = df.agg(call_function("top_k_double", col("q"), col("id"), lit(3)))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0).isNaN, r.getLong(1))).toList
    // Double.compare puts NaN above every number; ties by payload asc
    assert(got == List((true, 1L), (true, 3L), (false, 4L)))
  }

  test("top_k_double: wrong argument types fail at analysis time") {
    val s = spark
    import s.implicits._
    val df = Seq(("x", 1L)).toDF("q", "id")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(call_function("top_k_double", col("q"), col("id"), lit(2))).head()
    }
    assert(e.getMessage.contains("top_k_double score must be DOUBLE"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(call_function("top_k_double", lit(1.0), col("q"), lit(2))).head()
    }
    assert(e2.getMessage.contains("top_k_double payload must be BIGINT"))
  }

  test("hashNumerator: overflow-free split multiply matches BigInt at any id") {
    val s = spark
    import s.implicits._
    val ids = Seq(0L, 1L, 7L, 3470000000L, Int.MaxValue.toLong,
      1L << 40, Long.MaxValue - 1, Long.MaxValue)
    val got = ids.toDF("id")
      .select(col("id"), WeightedSample.hashNumerator(col("id")).as("num"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    ids.foreach { id =>
      val expect = ((BigInt(id) * WeightedSample.HashMul) %
        WeightedSample.HashMod).toLong + 1
      assert(got(id) == expect, s"id=$id")
      assert(got(id) >= 1 && got(id) <= WeightedSample.HashMod)
    }
  }
}
