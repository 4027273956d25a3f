package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The text front end every DataFrame operator shares: one word tokenizer
  * and one positional n-gram window. Changing the token rule, or swapping in
  * a dedicated kernel, happens here and nowhere else. The DuckDB oracle SQL
  * spells the same rule on its own (`string_split_regex(lower(text), '\s+')`
  * with empty strings dropped) and is the reference these are checked
  * against.
  */
object Text {

  /** Lowercased whitespace tokens with empty strings dropped (leading or
    * trailing whitespace yields one empty token each); null text gives a null
    * array. `array_remove` rather than `filter(_ =!= "")`: the two give the
    * same arrays, because `split` never yields null elements, but
    * `ArrayFilter` evaluates its lambda interpreted (CodegenFallback) while
    * `ArrayRemove` generates code. */
  def words(text: Column): Column =
    array_remove(split(lower(text), "\\s+"), "")

  /** The positional n-token windows of a token array, in order, each joined
    * with a single space and mapped by `digest` inside the same lambda (so
    * a hashed gram array is still one higher-order-function pass).
    *
    * `toks` must be a projected column, not a `words(...)` expression: the
    * window lambda reads it once per position, and a lambda body is exempt
    * from subexpression elimination, so an inline tokenizer would re-split
    * the whole document for every gram. Callers guard short documents
    * (`size(toks) >= n`) before reaching this: for fewer than `n` tokens
    * Spark's `sequence(1, size - n + 1)` counts down, not to empty. */
  def grams(toks: Column, n: Int, digest: Column => Column = identity): Column =
    transform(sequence(lit(1), size(toks) - (n - 1)),
      i => digest(concat_ws(" ", slice(toks, i, lit(n)))))
}
