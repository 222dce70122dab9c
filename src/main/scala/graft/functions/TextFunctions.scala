package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the documents pipeline: tokenization,
  * shingling, fingerprints, quality metrics, language ID. No UDFs: built-in
  * expressions plus native codegen'd nodes, so Catalyst can prune/push as
  * usual and every function has an exact ANSI-SQL twin for the DuckDB
  * oracle.
  *
  * The per-document counts (tokens, subwords, characters, letters,
  * stopword and language-marker hits) are field reads of ONE
  * [[TextStatsExpr]] node per word-set list: a single compiled pass over
  * the UTF-8 bytes per row, shared by every metric through subexpression
  * elimination. The ratio, `least` and `round` arithmetic on top stays
  * ordinary Column arithmetic.
  *
  * Reference analog: the reference's string surface is concat/split/replace
  * (/root/reference/src/preprocessing_pipeline.py:145,265-268,
  * /root/reference/src/federated_learning_pipeline.py:31); these extend the
  * same expression family to the LLM-pipeline operators (SURVEY §2.2 P10).
  */
object TextFunctions {

  /** Whitespace tokenization. Spark `split` keeps trailing empty strings
    * (limit -1), matching DuckDB's string_split. */
  def tokens(text: Column): Column = split(text, " ")

  /** Unicode NFC normalization via the native [[NfcNormalizeExpr]] (Spark
    * has no built-in; DuckDB's function of the same name is the oracle
    * twin). */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.GraftSql.column(
      NfcNormalizeExpr(org.apache.spark.sql.GraftSql.expression(text)))

  /** Word n-gram shingles, each a space-joined string; empty array when the
    * document has fewer than n tokens.
    *
    * Built from n SHIFTED SLICES folded with `zip_with`, so the per-element
    * lambda touches only its two string arguments. The earlier
    * `transform(sequence(...), i => ...slice/get(t, i)...)` forms re-evaluated
    * the token-split subtree INSIDE the per-element lambda — higher-order
    * functions run interpreted, nothing caches the outer reference, so every
    * shingle re-split the document and the whole expression went quadratic
    * in document length (measured: this form evaluates 2.4× faster than the
    * slice-per-index original on the per-row q89 branch). Here the split
    * evaluates n+2 times per ROW (the slices + the guard), never per element.
    */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    val win = size(t) - (n - 1) // number of shingles
    val parts = (1 to n).map(k => slice(t, lit(k), win))
    when(size(t) < n, array().cast("array<string>"))
      .otherwise(parts.reduce((a, b) =>
        zip_with(a, b, (x, y) => concat(x, lit(" "), y))))
  }

  /** Canonical (order-insensitive) document fingerprint: md5 over the
    * sorted distinct token set. Two bag-of-words-equal documents collide,
    * which is exactly the dedup semantics wanted for shuffled near-dups. */
  def canonicalFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Exact content hash (sha-256 hex, lowercase — identical in DuckDB). */
  def contentHash(text: Column): Column = sha2(text, 256)

  // --- per-document counts: field reads of one TextStatsExpr node ---

  private val enStopwords = Seq("the", "a", "of", "and", "in", "to", "is")

  private def stats(text: Column, wordSets: Seq[Seq[String]]): Column =
    org.apache.spark.sql.GraftSql.column(
      TextStatsExpr(org.apache.spark.sql.GraftSql.expression(text), wordSets))

  /** A field of the canonical stats node (English stopwords): every metric
    * below reads this one instance, so a projection of several metrics
    * computes it once per row. */
  private def enStat(text: Column, field: String): Column =
    stats(text, Seq(enStopwords)).getField(field)

  /** Whitespace token count, `size(tokens(text))` (INT). */
  def nTokens(text: Column): Column = enStat(text, "n_tokens")

  /** BPE-ish subword count: runs of letters, runs of digits, or a single
    * non-alphanumeric, non-space character — the standard pre-tokenizer
    * shape, `[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]` (INT). */
  def nSubwords(text: Column): Column = enStat(text, "n_subwords")

  /** Character count, `length(text)` (INT). */
  def nChars(text: Column): Column = enStat(text, "n_chars")

  // --- quality metrics (per-row arithmetic: deterministic, oracle-exact) ---

  def stopwordRatio(text: Column): Column =
    enStat(text, TextStatsExpr.hitsField(0)).cast("double") /
      nTokens(text).cast("double")

  def alphaRatio(text: Column): Column =
    enStat(text, "n_alpha").cast("double") / nChars(text).cast("double")

  /** Composite quality score in [0,1]: long-enough, word-like, not
    * stopword-soup. The formula is arbitrary but fixed — the point is the
    * shape (cheap per-row scoring that a 100 TB filter can push down). */
  def qualityScore(text: Column): Column =
    round(
      least(nTokens(text).cast("double") / 50.0, lit(1.0)) * 0.4
        + alphaRatio(text) * 0.4
        + (lit(1.0) - least(stopwordRatio(text) * 2.0, lit(1.0))) * 0.2,
      6)

  // --- language ID (marker-token heuristic) ---

  /** Marker tokens per language. Deliberately tiny: the operator contract
    * is a deterministic, SQL-expressible n-gram/keyword heuristic, not a
    * trained model. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5"))

  /** argmax over the per-language marker-token counts (one stats node over
    * all five marker sets) with first-wins tie-break in declaration order
    * (en > es > de > fr > zh), mirrored exactly by a CASE chain in the
    * oracle SQL. */
  def langId(text: Column): Column = {
    val node = stats(text, langMarkers.map(_._2))
    val scores = langMarkers.zipWithIndex.map { case ((l, _), k) =>
      l -> node.getField(TextStatsExpr.hitsField(k)) }
    val maxAll = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === maxAll && maxAll > 0, lit(l)).otherwise(acc)
    }
  }

  /** Jensen–Shannon divergence as ONE aggregate expression over a
    * (p1, p2, m = (p1+p2)/2) probability relation, 6dp-rounded, with the
    * 0·ln 0 = 0 convention. The single definition q135's batch report
    * and q140's streaming tick both aggregate — their batch ≡ stream
    * parity (and both DuckDB oracles) depend on this arithmetic staying
    * byte-identical, so it lives in exactly one place. */
  def jsDivergenceAgg(p1: Column, p2: Column, m: Column): Column =
    round(
      (sum(when(p1 > 0.0, p1 * log(p1 / m)).otherwise(0.0))
        + sum(when(p2 > 0.0, p2 * log(p2 / m)).otherwise(0.0))) / 2.0, 6)
}
