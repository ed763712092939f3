package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-substring detection across a corpus (SURVEY §2
  * row 80) — the hash-anchored re-expression of Lee et al. 2022's
  * suffix-array ExactSubstr dedup, built for a shuffle-bound engine.
  *
  * A position p in document d is a *duplicate anchor* when the L-character
  * gram starting at p also occurs in some OTHER document. The pipeline:
  *
  *  1. Anchor pass — `gram_hashes(text, L)` (native codegen, O(chars))
  *     explodes to (doc_id, pos, h) rows: the corpus-wide exchange
  *     carries 8-byte hashes, never gram strings.
  *  2. Cross-doc candidates — group by h keeping min/max doc_id; a hash
  *     seen in two distinct documents has min != max. No count(distinct),
  *     no set state: two longs per group, fully map-side combinable.
  *  3. Verify — only candidate anchors (a tiny fraction of the corpus)
  *     join back to their text and materialize the real gram via
  *     substring(); grouping by the gram string discards hash collisions
  *     (kept iff >= 2 distinct documents genuinely share the gram).
  *  4. Span union — verified anchors cover [pos, pos+L); overlapping
  *     anchors merge into maximal islands with the classic
  *     running-max-end window (one doc_id exchange, no per-position
  *     explode), yielding exact duplicated-character coverage per doc.
  *
  * At 100 TB: passes 1–2 are one scan + one hash-keyed exchange of
  * fixed-width rows; pass 3 touches only collision groups; pass 4 is
  * proportional to verified anchors. Nothing is quadratic in corpus size
  * and no stage carries document text beyond its own partition except for
  * the candidate re-read.
  */
object DupSpans {

  /** (doc_id, pos, h) for every L-gram window; pos is the 1-based code-point
    * position `substring(text, pos, L)` reads back. */
  def anchors(docs: DataFrame, textCol: String, idCol: String, L: Int): DataFrame = {
    docs
      .filter(length(col(textCol)) >= L)
      .select(col(idCol).as("doc_id"),
        posexplode(call_function("gram_hashes", col(textCol), lit(L)))
          .as(Seq("idx", "h")))
      .select(col("doc_id"), (col("idx") + 1).as("pos"), col("h"))
  }

  /** WINNOWED (doc_id, pos, h) anchors — Schleimer–Wilkerson–Aiken 2003:
    * per window of `w` consecutive gram hashes keep only the rightmost
    * minimum (unsigned order), cutting the corpus-wide anchor exchange
    * ~ (w+1)/2 × while GUARANTEEING that any substring shared by two
    * documents with code-point length >= L + w - 1 still produces a
    * common selected gram in both (the shared region contains a full
    * window of w identical gram hashes, and the selection is a pure
    * function of the window's contents). This is the scale lever for the
    * exact-substring pipeline: the exact anchor pass shuffles one 8-byte
    * hash PER CHARACTER POSITION (~1.6× the corpus in exchange bytes at
    * 100 TB); the winnowed pass shuffles ~1/8 of that at w = 16, at the
    * cost of only detecting duplicated spans >= L + w - 1 (plus whatever
    * shorter spans happen to anchor). Selection runs inside the
    * gram_hashes_winnowed codegen kernel — O(chars) per document,
    * scan-fused, nothing explodes before the winnow. */
  def winnowedAnchors(docs: DataFrame, textCol: String, idCol: String,
                      L: Int, w: Int): DataFrame = {
    docs
      .filter(length(col(textCol)) >= L)
      .select(col(idCol).as("doc_id"),
        explode(call_function("gram_hashes_winnowed", col(textCol), lit(L),
          lit(w))).as("a"))
      .select(col("doc_id"), col("a.pos").as("pos"), col("a.h"))
  }

  /** Hashes whose anchor set spans >= 2 distinct documents (collision
    * candidates; verified against real grams downstream). */
  def crossDocHashes(anchorDf: DataFrame): DataFrame =
    anchorDf.groupBy(col("h"))
      .agg(min(col("doc_id")).as("d_min"), max(col("doc_id")).as("d_max"))
      .filter(col("d_min") =!= col("d_max"))
      .select(col("h"))

  /** Verified duplicate anchors: (doc_id, pos) whose ACTUAL L-gram occurs
    * in >= 2 distinct documents. `docs` must still carry idCol/textCol.
    *
    * Verification is a WINDOW over the candidate set, not an agg +
    * self-join: min/max(doc_id) over (partition by gram) computes the
    * cross-doc test in the same pass that keeps the anchor rows, so the
    * candidate pipeline (explode → hash agg → broadcast semi → text
    * join) plans ONCE — the agg/join form replayed that whole subtree,
    * including the corpus-wide hash exchange, a second time for the
    * join's right side (measured 2× the shuffle at the 10× slice). The
    * window's gram exchange carries only collision candidates. */
  def verifiedAnchors(docs: DataFrame, textCol: String, idCol: String,
                      L: Int, winnowWindow: Int = 1): DataFrame =
    candidateAnchorsWithOwner(docs, textCol, idCol, L, winnowWindow)
      .filter(col("g_min") =!= col("g_max"))
      .select(col("doc_id"), col("pos"))

  /** Every anchor ([[anchors]]) or, for `winnowWindow > 1`, the winnowed
    * subset ([[winnowedAnchors]]). */
  private def selectedAnchors(docs: DataFrame, textCol: String, idCol: String,
                              L: Int, winnowWindow: Int): DataFrame =
    if (winnowWindow <= 1) anchors(docs, textCol, idCol, L)
    else winnowedAnchors(docs, textCol, idCol, L, winnowWindow)

  /** Collision-candidate anchors with their gram's ownership stats:
    * (doc_id, pos, g_min, g_max) where g_min/g_max are the smallest and
    * largest doc_ids sharing the anchor's ACTUAL gram. g_min != g_max
    * certifies a cross-document duplicate; g_min is the canonical owner
    * the drop policy keeps. `winnowWindow > 1` runs the whole candidate
    * pipeline over the winnowed anchor subset ([[winnowedAnchors]]).
    *
    * Candidate anchors re-read their text to materialize the gram; the
    * candidate set is collision-group-sized, so the join input is small.
    * The text re-read joins two candidate-/table-sized sides, BOTH of
    * which grow with the corpus — broadcasting either is a driver-memory
    * cliff (measured: the planner picked a candidate-anchor broadcast at
    * the 100x slice and died at the default heap). shuffle_hash keeps it
    * an executor-side join keyed on doc_id: two bounded exchanges, no
    * cliff at any corpus size. (The dup-hash semi stays broadcast: that
    * set is dup-gram-sized, the q34 IN-set pattern — on a
    * duplicate-heavy corpus AQE's runtime size demotes it.) */
  private def candidateAnchorsWithOwner(docs: DataFrame, textCol: String,
                                        idCol: String, L: Int,
                                        winnowWindow: Int = 1): DataFrame = {
    val a = selectedAnchors(docs, textCol, idCol, L, winnowWindow)
    val candidates = crossDocHashes(a)
    val candAnchors = a.join(candidates, Seq("h"), "left_semi")
      .join(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
        .hint("shuffle_hash"),
        Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        substring_index_safe(col("__text"), col("pos"), L).as("gram"))
    // Verification is a WINDOW over the candidate set, not an agg +
    // self-join: min/max(doc_id) over (partition by gram) computes the
    // cross-doc test in the same pass that keeps the anchor rows, so the
    // candidate pipeline (explode → hash agg → broadcast semi → text
    // join) plans ONCE — the agg/join form replayed that whole subtree,
    // including the corpus-wide hash exchange, a second time for the
    // join's right side (measured 2× the shuffle at the 10× slice).
    // MEASURED (r12): the gram-keyed exchange is the fast form. The
    // hash-keyed variant (explicit repartition(h) + window over (h,
    // gram)) was tried to shrink the exchange KEY to 8 bytes, but the
    // rows carry the gram string either way, so the byte saving was nil
    // and the isolated 10×-slice walls went 6.3→15.3 s (q80) / 7.3→14.7 s
    // (q83) — the user-specified repartition pins 32 post-shuffle
    // partitions and blocks AQE's coalesce/skew replan of the candidate
    // exchange, and the extra h column rides every window row. Reverting
    // to the gram-keyed window restored 10.6/9.4 s in the same
    // environment window (unchanged-query smear band 1.2–1.75×).
    val wg = Window.partitionBy(col("gram"))
    candAnchors
      .withColumn("g_min", min(col("doc_id")).over(wg))
      .withColumn("g_max", max(col("doc_id")).over(wg))
  }

  /** Maximal disjoint spans per doc from (doc_id, pos) anchors covering
    * [pos, pos+L): the running-max-end island merge. Output
    * (doc_id, isla, ini, fin, n_anclas), fin exclusive. */
  private def islandSpans(anchorDf: DataFrame, L: Int): DataFrame = {
    val va = anchorDf.withColumn("fin0", col("pos") + L)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevMaxEnd = max(col("fin0")).over(byDoc.rowsBetween(
      Window.unboundedPreceding, -1))
    va.withColumn("nueva", when(prevMaxEnd.isNull || col("pos") > prevMaxEnd, 1L)
        .otherwise(0L))
      .withColumn("isla", sum(col("nueva")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isla"))
      .agg(min(col("pos")).as("ini"), max(col("fin0")).as("fin"),
        count(lit(1)).as("n_anclas"))
  }

  // substring with a Column start — functions.substring takes literal
  // ints only; expr-level Substring accepts columns
  private def substring_index_safe(text: Column, pos: Column, len: Int): Column =
    text.substr(pos, lit(len))

  /** Per-document duplicated-span report: number of duplicate anchors,
    * exact duplicated-char coverage (union of [pos, pos+L) intervals via
    * the running-max-end island merge), and the coverage ratio.
    * `winnowWindow > 1` reports over the winnowed anchor subset — every
    * span of length >= L + winnowWindow - 1 still detected, exchange
    * ~ (winnowWindow+1)/2 × smaller. */
  def report(docs: DataFrame, textCol: String, idCol: String, L: Int,
             nCharsCol: String, winnowWindow: Int = 1): DataFrame = {
    val spans = islandSpans(
      verifiedAnchors(docs, textCol, idCol, L, winnowWindow), L)
      .withColumn("span_chars", col("fin") - col("ini"))
    spans.groupBy(col("doc_id"))
      .agg(sum(col("n_anclas")).as("n_dup_anchors"),
        sum(col("span_chars")).as("dup_chars"))
      .join(docs.select(col(idCol).as("doc_id"),
        col(nCharsCol).cast("long").as("n_chars")), Seq("doc_id"))
      .withColumn("dup_ratio",
        col("dup_chars").cast("double") / col("n_chars").cast("double"))
      .select(col("doc_id"), col("n_dup_anchors"), col("dup_chars"),
        col("n_chars"), col("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Asymmetric (increment-vs-corpus) exact-substring dedup — the
    * daily-ingest shape of q80 (the q60 pattern for gram anchors): an
    * increment anchor at (doc_id, pos) is a duplicate iff its ACTUAL
    * L-gram occurs anywhere in the STANDING corpus. Corpus × corpus is
    * never compared; corpus-internal duplication is invisible here by
    * design (it was adjudicated when those docs were ingested).
    *
    * Output: one row per increment document — (doc_id, n_dup_anchors,
    * dup_chars, n_chars, dup_ratio), zeros for clean docs (unlike
    * [[report]], which only emits documents that anchored — an ingest
    * gate needs the clean rows to admit).
    *
    * Scale shape: the corpus side is probed with a SEMI join on the
    * increment's 8-byte hash set (churn-sized, broadcastable for a daily
    * increment — AQE decides), gram strings materialize only for hash
    * hits on BOTH sides, and the final verify is a (h, gram) semi join —
    * collision can never fabricate a duplicate. */
  def flagIncrement(increment: DataFrame, corpus: DataFrame,
                    textCol: String, idCol: String, L: Int,
                    nCharsCol: String, winnowWindow: Int = 1): DataFrame = {
    val agg = islandSpans(incrementDupAnchors(increment, corpus, textCol,
        idCol, L, winnowWindow), L)
      .withColumn("span_chars", col("fin") - col("ini"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_anclas")).as("n_dup_anchors"),
        sum(col("span_chars")).as("dup_chars"))
    increment
      .select(col(idCol).as("doc_id"),
        col(nCharsCol).cast("long").as("n_chars"))
      .join(agg, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_anchors", "dup_chars"))
      .withColumn("dup_ratio",
        col("dup_chars").cast("double") / col("n_chars").cast("double"))
      .select(col("doc_id"), col("n_dup_anchors"), col("dup_chars"),
        col("n_chars"), col("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** VERIFIED increment-vs-corpus duplicate anchors — the shared core of
    * the flag ([[flagIncrement]]) and apply ([[dropIncrement]]) sides:
    * (doc_id, pos) for every increment anchor whose ACTUAL L-gram occurs
    * in the standing corpus. Corpus grams are resolved by doc_id, so only
    * hash-hit documents' text is touched. */
  private def incrementDupAnchors(increment: DataFrame, corpus: DataFrame,
                                  textCol: String, idCol: String,
                                  L: Int, winnowWindow: Int): DataFrame = {
    val incA = selectedAnchors(increment, textCol, idCol, L, winnowWindow)
    val corpusAnchors = selectedAnchors(corpus, textCol, idCol, L, winnowWindow)
    // probe: hashes on both sides (bounded by the increment's churn).
    // BOTH probe semi joins are hinted shuffle_hash — the q80 lesson,
    // re-learned at the 100x slice: the corpus-anchor side is
    // corpus-proportional (150M 8-byte rows at 100x), and a planner
    // broadcast of EITHER side is a driver-memory cliff (measured:
    // the unhinted form collected ~1 GB of task results and OOMed the
    // 8 GB driver at the 100x catalog slice, where the "increment" is
    // 10% of the corpus). An executor-side hash join is safe at every
    // increment size; for a genuinely tiny daily batch the extra
    // exchange is churn-sized, i.e. trivial.
    val incHashes = incA.select(col("h")).distinct()
    val candInc = incA.join(corpusAnchors.select(col("h")).hint("shuffle_hash"),
      Seq("h"), "left_semi")
    val candCor = corpusAnchors.join(incHashes.hint("shuffle_hash"),
      Seq("h"), "left_semi")
    // grams materialize only for hash hits; text joins stay executor-side
    def withGram(cand: DataFrame, text: DataFrame) = cand
      .join(text.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
        .hint("shuffle_hash"), Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("h"),
        substring_index_safe(col("__text"), col("pos"), L).as("gram"))
    val incG = withGram(candInc, increment)
    val corG = withGram(candCor, corpus).select(col("h"), col("gram"))
    // verified: the increment anchor's ACTUAL gram occurs in the corpus
    incG.join(corG, Seq("h", "gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
  }

  /** The APPLY side of exact-substring dedup (Lee et al. 2022's actual
    * transform): rewrite each document with its duplicated spans CUT,
    * keeping the canonical occurrence. The drop policy is deterministic
    * and simple: a character is cut iff it is covered by a duplicate
    * anchor whose gram's canonical owner (the SMALLEST doc_id sharing
    * the gram) is a different document — so exactly one document keeps
    * each duplicated region, and it is always the same one.
    *
    * Output: (doc_id, n_cut, new_text) for EVERY input document —
    * untouched docs pass through with n_cut = 0. The rebuild is pure
    * Column algebra over the per-doc sorted span array (bounded by the
    * doc's own length), so the whole transform stays executor-side; no
    * driver text surgery, no UDF.
    *
    * `winnowWindow > 1` runs the cut over the WINNOWED anchor subset
    * ([[winnowedAnchors]]) — the q84 scale lever applied to the
    * transform itself (~(w+1)/2 × smaller corpus-wide exchange). The
    * relaxed contract, both directions pinned by spec against the exact
    * form (DupSpansSpec):
    *   - every duplicated span of code-point length >= L + w - 1 is
    *     still CUT in every non-owner document (the shared region holds
    *     a full window of identical gram hashes, selection is a pure
    *     function of the window, so both docs anchor the same gram);
    *   - a cut region may RETAIN up to w - 1 characters at EACH edge
    *     (the first selected in-span anchor sits up to w - 1 positions
    *     in from the left edge, and the last selected gram can end up
    *     to w - 1 short of the right edge; the interior is contiguous
    *     for w <= L because consecutive selections are <= w apart), and
    *     spans shorter than L + w - 1 are cut only if they happen to
    *     anchor.
    * The canonical-owner rule is UNCHANGED: g_min over the SELECTED
    * grams — still exactly one surviving copy of every cut region, and
    * owner choice is a pure function of the corpus (winnow selection
    * does not depend on partitioning). */
  def dropSpans(docs: DataFrame, textCol: String, idCol: String,
                L: Int, winnowWindow: Int = 1): DataFrame = {
    val cutAnchors = candidateAnchorsWithOwner(docs, textCol, idCol, L,
        winnowWindow)
      .filter(col("g_min") =!= col("g_max") && col("doc_id") =!= col("g_min"))
      .select(col("doc_id"), col("pos"))
    cutAndRebuild(docs, textCol, idCol, cutAnchors, L)
  }

  /** The shared rebuild tail of the apply side ([[dropSpans]] /
    * [[dropIncrement]]): island-merge `cutAnchors` (doc_id, pos) into
    * disjoint spans and rewrite every doc in `docs` with those spans
    * cut — (doc_id, n_cut, new_text), untouched docs passing through
    * with n_cut = 0. Pure Column algebra over the per-doc sorted span
    * array; executor-side, no UDF. */
  private def cutAndRebuild(docs: DataFrame, textCol: String, idCol: String,
                            cutAnchors: DataFrame, L: Int): DataFrame = {
    val spansPerDoc = islandSpans(cutAnchors, L)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("ini"), col("fin")))).as("sp"),
        sum(col("fin") - col("ini")).as("n_cut"))
    val t = col("__text")
    val s = col("sp")
    val n = size(s)
    // kept text = head-before-first-span + gaps-between-spans + tail:
    // piece 0 = [1, s1), piece i = [e_i, s_{i+1}), piece n = [e_n, len]
    val pieces = transform(sequence(lit(0), n), i =>
      when(i === lit(0),
        t.substr(lit(1), element_at(s, 1)("ini") - 1))
        .when(i === n,
          t.substr(element_at(s, n)("fin"),
            length(t) - element_at(s, n)("fin") + 1))
        .otherwise(
          t.substr(element_at(s, i)("fin"),
            element_at(s, i + 1)("ini") - element_at(s, i)("fin"))))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(spansPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        when(col("sp").isNull, t)
          .otherwise(array_join(pieces, "")).as("new_text"))
      .orderBy(col("doc_id"))
  }

  /** The APPLY side of increment-vs-corpus dedup — the daily-ingest
    * transform ([[flagIncrement]]'s rewrite twin): each increment
    * document is emitted with every span whose L-gram occurs in the
    * STANDING corpus cut out. The ownership rule is the asymmetric
    * contract's: the corpus owns — an increment anchor whose gram the
    * corpus holds is always cut (the surviving copy is the corpus
    * one), increment-internal duplication is untouched (run
    * [[dropSpans]] WITHIN the increment for that), and corpus ×
    * corpus is never compared.
    *
    * Output: (doc_id, n_cut, new_text) for EVERY increment document.
    * Scale shape identical to [[flagIncrement]] (churn-bounded probe
    * semis, grams only for hash hits, (h, gram) collision-proof
    * verify) plus the [[dropSpans]] rebuild (per-doc Column algebra,
    * executor-side). `winnowWindow > 1` winnows BOTH sides — the q84
    * lever; every shared span >= L + w - 1 still cut, up to w - 1
    * chars may survive at each edge (the [[dropSpans]] relaxed
    * contract), selection a pure function of the text so both sides
    * anchor the same grams. */
  def dropIncrement(increment: DataFrame, corpus: DataFrame,
                    textCol: String, idCol: String, L: Int,
                    winnowWindow: Int = 1): DataFrame =
    cutAndRebuild(increment, textCol, idCol,
      incrementDupAnchors(increment, corpus, textCol, idCol, L,
        winnowWindow), L)
}
