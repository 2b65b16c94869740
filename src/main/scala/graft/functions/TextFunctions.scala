package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline surface
  * (BASELINE.json north star): tokenization, shingling, quality metrics,
  * fingerprinting. All pure `org.apache.spark.sql.functions` compositions
  * — codegen-friendly, no UDFs.
  */
object TextFunctions {

  /** Whitespace tokenization (documents are single-space separated). */
  def words(text: Column): Column = split(text, " ")

  /** Occurrences of tokens from a fixed marker list (language-ID /
    * stopword score). Native expression: the declarative
    * `size(filter(ws, w -> w.isin(...)))` is an interpreted HOF costing
    * ~50× the scan (CodegenFallback + per-token In over the literals). */
  def markerCount(wordsCol: Column, markers: Seq[String]): Column =
    expressions.GraftExpressions.markerCount(wordsCol, markers)

  /** Canonical-form fingerprint: md5 of the lowercased, punctuation-
    * stripped, whitespace-collapsed text. Equal fingerprints = exact
    * dups modulo formatting. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " ")))

  /** Bag-of-words fingerprint: md5 over the sorted distinct token set —
    * order-insensitive near-dup canonical form. */
  def bagFingerprint(wordsCol: Column): Column =
    md5(array_join(array_sort(array_distinct(wordsCol)), " "))

  /** PII-shape redaction: replace every match of `pattern` with
    * `token` and report the match count — the scrub stage of a
    * cleaning pipeline (emails, phone numbers, numeric ids…). Patterns
    * must stay in the regex subset common to Java and RE2 (char
    * classes, quantifiers — no backrefs/lookaround) so the operation
    * reproduces identically outside Spark; count and rewrite are two
    * scans of the same codegen'd builtin, no UDF. The token is
    * inserted literally: Java replacement metacharacters ($, \) are
    * quoted, where RE2 engines would already treat them literally —
    * without the quoting a token like "<$>" throws in Spark and
    * diverges cross-engine. */
  def redact(c: Column, pattern: String, token: String): Column =
    struct(
      regexp_replace(c, pattern,
        java.util.regex.Matcher.quoteReplacement(token)).as("redacted"),
      regexp_count(c, lit(pattern)).cast("long").as("n_redacted"))

  /** Both fingerprints from ONE scan of the text: struct(fp, bag_fp).
    * Semantically identical to
    * `struct(fingerprint(text), bagFingerprint(words(text)))`, but the
    * chained-regex + tokenize/sort/join passes are fused into a single
    * native evaluation per row (the q26 hot path — each regexp pass
    * re-reads every byte). md5 remains the codegen'd builtin. */
  def fingerprintPair(text: Column): Column = {
    val c = expressions.GraftExpressions.canonicalForms(text)
    struct(md5(c.getField("norm")).as("fp"), md5(c.getField("bag")).as("bag_fp"))
  }
}
