package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `nfc_normalize(string) → string` — Unicode NFC canonical composition as
  * a native Catalyst expression.
  *
  * Why it exists: training corpora mix composed ("café", U+00E9) and
  * decomposed ("cafe" + U+0301) forms of the same text; every downstream
  * dedup/fingerprint/token operator in this engine hashes bytes, so the two
  * spellings of one word would hash apart and silently survive dedup. The
  * reference normalizes text only incidentally (Python str equality is
  * codepoint-based, same bug); a corpus pipeline needs the normalization
  * explicit, before fingerprinting.
  *
  * A native expression (not a UDF) keeps the call inside whole-stage
  * codegen: `doGenCode` emits the same `java.text.Normalizer` call the
  * interpreted path uses. `Normalizer.normalize` is a pure JDK primitive —
  * deterministic on every JVM (the Unicode composition tables ship with the
  * platform), so the result is oracle-comparable against DuckDB's
  * `nfc_normalize` (both implement canonical composition per UAX #15).
  * The fast path: NFC-checking a string that is already composed (the
  * overwhelming case in real corpora) is a single pass with no allocation
  * (`Normalizer.isNormalized`), so the expression costs ~one scan per value
  * at 100 TB, not a rewrite.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string input, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override def prettyName: String = "nfc_normalize"

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  import java.text.Normalizer

  /** Shared by the interpreted and generated paths. Already-NFC input (the
    * common case) returns the input object unchanged — zero copies. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  /** Column API wrapper; needs no function registration. */
  def column(c: Column): Column = ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
}
