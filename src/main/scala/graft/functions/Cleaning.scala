package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Scalar cleaning/derivation functions re-expressing the reference's
  * value-canonicalization semantics (see SURVEY.md §2.8; reference
  * process_aspep/assets.py:35-39,153-163,351-356) as codegen-friendly
  * Spark column expressions — no UDFs, so every one of these stays
  * inside whole-stage codegen and is usable verbatim at 100 TB.
  */
object Cleaning {

  /** Null-safe division: divide-by-zero and null divisor yield NULL
    * instead of inf/NaN (reference assets.py:351-356 scrubs ±inf to
    * NaN after the fact; guarding up front gives identical results
    * for finite inputs without a second pass).
    */
  def safeDiv(num: Column, den: Column): Column =
    when(den.isNull || den === 0, lit(null)).otherwise(num / den)

  /** De-format messy numeric strings (reference assets.py:153-163):
    *   - strip thousands separators ","
    *   - canonicalize Unicode minus / en-dash / em-dash to "-"
    *   - accounting negatives "(1,234)" -> "-1234"
    * then null-coercing cast to double (assets.py:163 `errors="coerce"`).
    */
  def cleanNumericStr(c: Column): Column = NumClean.cleanNumericStr(c)

  /** The composed regex form — the DuckDB-oracle contract the native
    * [[CleanNumeric]] kernel is pinned against (NumCleanSpec).
    */
  def cleanNumericStrComposed(c: Column): Column = {
    val noCommas = regexp_replace(c, ",", "")
    val asciiMinus = regexp_replace(noCommas, "[−–—]", "-")
    regexp_replace(asciiMinus, "^\\((.*)\\)$", "-$1")
  }

  /** cleanNumericStr + null-coercing cast (try_cast survives ANSI mode). */
  def cleanNumeric(c: Column): Column =
    cleanNumericStr(c).try_cast(DoubleType)

  /** Classifier pattern from reference assets.py:35-39 ("US" ->
    * national, else state), generalized: a chain of when/otherwise.
    */
  def classify(c: Column, cases: Seq[(String, String)], default: String): Column =
    cases.foldRight(lit(default): Column) { case ((matched, label), acc) =>
      when(c === matched, lit(label)).otherwise(acc)
    }

  /** Map-literal value recode with pass-through for unmatched values
    * (reference J2, assets.py:306 + constants.py:66-189). Constant
    * folding turns the literal map into a Catalyst expression — no
    * join, no broadcast, executor-local.
    */
  def recode(c: Column, mapping: Map[String, String]): Column =
    coalesce(element_at(typedlit(mapping), c), c)
}
