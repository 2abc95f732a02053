package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shingling / n-gram helpers — pure builtin-expression combinators (stay
  * in whole-stage codegen; no UDFs). */
object TextShingles {

  /** Word tokens (single-space split — matches the corpus format). */
  def words(text: Column): Column = split(text, " ")

  /** Word bigrams "w_i w_{i+1}" as an array column; empty array when the
    * document has fewer than two words. */
  def wordBigrams(text: Column): Column = wordNgrams(text, 2)

  /** Word n-grams joined by single spaces — native fused expression
    * (graft.functions.WordNgrams): one tokenize per row, all grams in
    * one pass. The combinator form is kept only as the oracle for the
    * parity spec (`KernelReferences.wordNgrams` in the test sources):
    * its transform lambda is CodegenFallback AND the interpreter
    * re-evaluates the split(text) subtree per emitted gram, so
    * shingling a document costs O(tokens²) characters. */
  def wordNgrams(text: Column, n: Int): Column =
    graft.functions.TextFunctions.wordNgrams(text, n)

  /** Character n-grams (classic MinHash shingles). */
  def charNgrams(text: Column, n: Int): Column = {
    val len = length(text)
    when(len < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), len - lit(n - 1)),
        i => text.substr(i, lit(n))))
  }
}
