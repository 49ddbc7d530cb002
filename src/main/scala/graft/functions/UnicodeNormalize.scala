package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode canonical normalization (NFC) as a native codegen
  * expression — the text-cleanup stage every web-scale corpus needs
  * before dedup/tokenization: the same visible string can arrive as
  * precomposed `é` (U+00E9) or decomposed `e`+U+0301, and every
  * downstream exact-hash operator (dedup keys, shingles, minhash)
  * treats them as different documents unless normalized first.
  *
  * Spark itself ships no normalizer function (reference pipelines
  * reach for a Python UDF here — `etl.py`'s string cleanup stays
  * ASCII-only at lines 33-46); this keeps the stage inside
  * whole-stage codegen. The implementation delegates to the JDK's
  * `java.text.Normalizer` (the ICU/Unicode-spec NFC), with an
  * `isNormalized` fast path so the overwhelmingly-ASCII common case
  * costs one scan and zero allocation.
  *
  * Form is fixed to NFC (the web canonical form, and the one the
  * DuckDB oracle's `nfc_normalize` implements — an NFKC variant would
  * be oracle-blind). Null in → null out.
  */
case class UnicodeNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnicodeNormalize {

  /** NFC-normalize a UTF8String. Two-tier fast path: a pure-ASCII
    * byte scan (no decode, no allocation — virtually all real corpus
    * bytes take this exit), then `Normalizer.isNormalized` (one
    * forward scan, still alloc-free beyond the decode) before paying
    * for an actual normalization pass.
    */
  def nfc(s: UTF8String): UTF8String = {
    if (s.isFullAscii) return s // ASCII is NFC by construction
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  def builder(exprs: Seq[Expression]): Expression =
    UnicodeNormalize(FnArgs.arity("unicode_normalize", exprs, Seq(1)).head)

  /** Column form (requires [[GraftExtensions]] on the session). */
  def unicode_normalize(c: Column): Column = call_function("unicode_normalize", c)
}
