package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text hot-path expressions (same rationale as [[VectorExprs]]): the HOF
  * formulation of distinct word n-grams —
  * `array_distinct(transform(sequence(...), i -> array_join(slice(toks,
  * i+1, n), ' ')))` — is CodegenFallback with a lambda dispatch, an array
  * slice, and a join allocation PER POSITION. On dedup/decontamination
  * sweeps that expression dominates the scan. This expression makes one
  * pass: lowercase+trim via UTF8String (bit-identical to `lower`/`trim`),
  * one whitespace split, one StringBuilder per gram, first-occurrence
  * dedup — semantically identical to the HOF chain (equivalence is
  * property-tested against it).
  */
object TextExprs {

  // compiled once: String.split("\\s+") would recompile the regex per row
  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** Space-joined word n-grams of `trim(lower(text))` split on `\s+`;
    * empty array when the doc has fewer than `n` tokens. `distinct=true`
    * (the dedup/decontamination shape) keeps first occurrences only;
    * `distinct=false` keeps every positional gram WITH multiplicity — the
    * input repetition profiling needs. */
  case class WordNGrams(child: Expression, n: Int, distinct: Boolean = true)
      extends UnaryExpression with CodegenFallback {
    require(n > 0, s"n must be positive: $n")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_ngrams needs string, got ${child.dataType}")

    override def nullSafeEval(input: Any): Any = {
      // UTF8String lower/trim match the Lower/StringTrim expressions
      val s = input.asInstanceOf[UTF8String].toLowerCase.trim.toString
      // limit -1 matches Spark's StringSplit exactly: leading/trailing
      // \s runs (trim strips only 0x20) produce empty tokens, as the HOF
      // chain did — Java's one-arg split would silently drop trailing ones
      val toks = WS.split(s, -1)
      if (toks.length < n) new GenericArrayData(Array.empty[Any])
      else {
        // LinkedHashSet preserves array_distinct's first-occurrence order;
        // the non-distinct path keeps positional multiplicity
        val out: mutable.Growable[String] with Iterable[String] =
          if (distinct) new mutable.LinkedHashSet[String]
          else new mutable.ArrayBuffer[String](toks.length - n + 1)
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i <= toks.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          out += sb.toString
          i += 1
        }
        new GenericArrayData(
          out.iterator.map(UTF8String.fromString(_): Any).toArray)
      }
    }

    override protected def withNewChildInternal(c: Expression): WordNGrams =
      copy(child = c)
    override def prettyName: String = "word_ngrams"
  }

  def wordNGrams(col: Column, n: Int, distinct: Boolean = true): Column =
    GraftBridge.column(WordNGrams(GraftBridge.expression(col), n, distinct))
}
