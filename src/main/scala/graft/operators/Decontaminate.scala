package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{TextFunctions => T}

/** Benchmark decontamination: flag training documents that share exact
  * word n-grams with a held-out evaluation set — the standard guard
  * against test-set leakage in a training corpus (the 13-gram overlap
  * check of GPT-3 appendix C / Gopher section A.8; n is a parameter
  * here and the test queries use 4 so the synthetic corpus produces a
  * non-trivial hit set).
  *
  * Scale shape: the benchmark side is tiny relative to the corpus
  * (eval suites are MBs; the corpus is TBs), so its distinct n-gram set
  * BROADCASTS into a corpus-side stream: the corpus is scanned once,
  * n-grams are deduplicated per document inside the row
  * (`array_distinct` before `explode` — no shuffle spent on dedup),
  * and the only shuffle is the final per-document count, which sees
  * only rows that matched a benchmark gram. Nothing in the plan scales
  * with corpus × benchmark.
  */
object Decontaminate {

  /** Space-joined word n-grams of a tokenized column (empty array when
    * the document is shorter than n). */
  def wordNgrams(ws: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be positive, got $n")
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** (doc_id, n_hits) for every corpus document sharing at least one
    * distinct word n-gram with the benchmark set; n_hits counts the
    * DISTINCT contaminated grams. Dropping (or auditing) the flagged
    * ids is an anti-join away. */
  def ngramHits(corpus: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col("doc_id"), T.words(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(wordNgrams(col("ws"), n))).as("g"))
    val bench = grams(benchmark).select("g").distinct()
    grams(corpus)
      .join(broadcast(bench), Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(LongType).as("n_hits"))
  }
}
