package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders — pure `Column` functions (codegen'd
  * builtins + higher-order array functions; zero UDFs, so every expression
  * stays inside whole-stage codegen and distributes trivially).
  *
  * These power the training-data-pipeline operators (language ID, quality
  * scoring, token counting, fingerprinting) that extend the engine beyond
  * the reference's surface (SURVEY §7.3 extension ops).
  */
object TextFunctions {

  /** Canonical code of a free-text name: whitespace runs collapsed and
    * ends trimmed, then looked up in `aliases` (a literal map Catalyst
    * folds once), else its uppercase letters. */
  def aliasCode(raw: Column, aliases: Map[String, String]): Column = {
    val clean = trim(regexp_replace(raw, "\\s+", " "))
    coalesce(try_element_at(typedlit(aliases), clean),
      upper(regexp_replace(clean, "[^A-Z]", "")))
  }

  /** Whitespace tokens with empties dropped (leading/trailing whitespace
    * would otherwise yield "" entries). Codegen'd native scanner
    * ([[Native.Tokens]]); [[tokensHof]] is the built-in reference
    * formulation, asserted identical in NativeSpec. */
  def tokens(text: Column): Column = Native.tokensNative(text)

  /** split + filter-lambda reference formulation of [[tokens]] (the filter
    * lambda is interpreted per element — kept for parity testing). */
  def tokensHof(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  /** Count of tokens matching a fixed word set — the stopword/marker-hit
    * primitive for language ID and quality scoring. */
  def wordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(w => t === lit(w)).reduce(_ || _)))

  val EnMarkers = Seq("the", "a", "and", "of", "to", "is")
  val EsMarkers = Seq("el", "la", "los", "de", "que", "y")
  val DeMarkers = Seq("der", "die", "das", "und", "ist")
  val FrMarkers = Seq("le", "la", "les", "et", "est")

  /** N-gram-style heuristic language ID: marker-word hit counts per language,
    * argmax with fixed precedence (en > es > de > fr > unknown). */
  def langId(toks: Column): Column = {
    val en = wordHits(toks, EnMarkers)
    val es = wordHits(toks, EsMarkers)
    val de = wordHits(toks, DeMarkers)
    val fr = wordHits(toks, FrMarkers)
    when(en >= es && en >= de && en >= fr && en > 0, "en")
      .when(es >= de && es >= fr && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("unknown")
  }

  /** Sum of token lengths (int) via array aggregate — no UDF. */
  def sumTokenLen(toks: Column): Column =
    aggregate(toks, lit(0), (acc, t) => acc + length(t))

  /** Characters removed by a regex class, as a count (punct/alpha ratios). */
  def charClassCount(text: Column, clazz: String): Column =
    length(text) - length(regexp_replace(text, clazz, ""))
}
