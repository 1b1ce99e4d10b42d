package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column-level text primitives for the training-data-pipeline
  * operators (tokenizing, language-ID, quality). Everything
  * here is a pure Catalyst expression — codegen'd, no UDFs — so filters
  * and projections using these stay inside whole-stage codegen and the
  * DuckDB oracle can reproduce them exactly.
  *
  * The reference's only text processing is driver-side pandas
  * (data_utils.py:160-215); these are its distributed, scale-first
  * replacements plus the LLM-pipeline text ops the reference lacks.
  */
object TextFeatures {

  /** Whitespace tokenizer — the `documents` fixture is single-space
    * delimited; a BPE-ish regex split is `tokensRegex`. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish tokenizer: word runs and individual punctuation marks as
    * tokens (cheap proxy for subword tokenizers' pre-tokenization
    * pass). RE2-compatible — no lookahead — so the oracle engine can
    * run the identical pattern. */
  def tokensRegex(text: Column): Column =
    regexp_extract_all(text, lit("""\w+|[^\w\s]"""), lit(0))

  /** Fraction of tokens that appear in `set` (e.g. stopword ratio). */
  def ratioIn(toks: Column, set: Seq[String]): Column =
    size(filter(toks, w => w.isInCollection(set))) / size(toks)
}
