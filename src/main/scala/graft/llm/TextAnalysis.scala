package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Text-analysis primitives for large-scale corpus curation: counts,
  * quality ratios, token estimates, marker-based language ID.
  *
  * Everything here is built-in-function composition (split / regexp_count /
  * size / arithmetic) so the whole stage stays inside whole-stage codegen —
  * no UDFs, no serialization wall. At 100 TB these run as a pure map over
  * the document scan: no shuffle at all until an aggregation asks for one.
  */
object TextAnalysis {
  /** Whitespace word count. */
  def wordCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast(IntegerType)

  /** Occurrences of any of `words` as whole words (Java \b semantics —
    * Unicode-aware boundaries; agrees with RE2 engines on ASCII text),
    * via the native byte-scan kernel (graft.functions.MarkerCountExpr). */
  def markerCount(text: Column, words: Seq[String]): Column =
    call_function("marker_count", text, lit(words.mkString("|")))

  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.,!?;:]", "")).cast(IntegerType)

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for")

  /** Composite quality score in [0,1]-ish: rewards stopword presence and
    * sane word length, penalizes punctuation soup. Pure double arithmetic
    * with a fixed operation order (portable across engines). */
  def qualityScore(text: Column): Column = {
    val nw = wordCount(text).cast(DoubleType)
    val sw = markerCount(text, EnglishStopwords).cast(DoubleType)
    val pc = punctCount(text).cast(DoubleType)
    val ch = length(text).cast(DoubleType)
    (sw / nw) * lit(0.5) + (lit(1.0) - pc / ch) * lit(0.3) +
      least(nw / lit(200.0), lit(1.0)) * lit(0.2)
  }

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = wordCount(text)

  /** BPE-ish token count: runs of alphanumerics or single symbols — the
    * standard pre-tokenizer shape. Native byte-scan expression with the
    * exact semantics of regex `[A-Za-z0-9]+|[^A-Za-z0-9\s]` but without a
    * regex engine pass (graft.functions.TokenCount). */
  def reTokens(text: Column): Column = call_function("token_count", text)

  /** Crude BPE estimate: ~4 chars/token. */
  def bpeEstimate(text: Column): Column =
    ceil(length(text).cast(DoubleType) / lit(4.0)).cast(IntegerType)

  /** PII patterns for corpus scrubbing. Conservative syntax (no
    * backreferences/lookaround) so the same patterns run on Java regex and
    * RE2-family engines identically. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    // order matters: IPs must be rewritten before the phone pattern can
    // misread a dotted quad as a digit group
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b" -> "<IP>",
    "\\b(?:\\+?[0-9]{1,3}[-. ])?(?:\\([0-9]{2,4}\\)[-. ]?)?[0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}\\b" -> "<PHONE>",
    "\\b[0-9]{13,19}\\b" -> "<CARD>")

  /** Replace emails/phones/IPs/card-like numbers with typed placeholders —
    * the standard pre-training scrub pass. Pure regexp_replace cascade:
    * codegen'd, one map stage, no shuffle. */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Count of PII hits (for filtering/reporting rather than rewriting). */
  def piiCount(text: Column): Column =
    PiiPatterns.map { case (pat, _) => regexp_count(text, lit(pat)) }
      .reduce((a, b) => a + b).cast(IntegerType)

  /** Marker vocabularies per language for the heuristic language ID.
    * Priority order = tie-break order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den"),
    "zh" -> Seq("的", "了", "是", "我", "不"))

  /** Per-language marker scores. */
  def langScores(text: Column): Seq[(String, Column)] =
    LangMarkers.map { case (lang, ws) => lang -> markerCount(text, ws) }

  /** Argmax over scores with declaration-order tie-break, expressed as a
    * CASE cascade (portable to ANSI SQL, no struct-compare dependency). */
  def predictLang(text: Column): Column = {
    val scores = langScores(text)
    val cases = scores.zipWithIndex.map { case ((lang, s), i) =>
      val later = scores.drop(i + 1)
      val cond = later.foldLeft(lit(true)) { case (acc, (_, s2)) => acc && s >= s2 }
      (cond, lang)
    }
    cases.dropRight(1).foldRight(lit(scores.last._1): Column) {
      case ((cond, lang), els) => when(cond, lit(lang)).otherwise(els)
    }
  }
}
