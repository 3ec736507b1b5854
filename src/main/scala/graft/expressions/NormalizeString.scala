package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a codegen'd Catalyst expression — Spark
  * has no built-in for it, yet it's the FIRST step of any serious text
  * pipeline: visually-identical strings with different codepoint
  * sequences ("café" composed vs decomposed) break exact dedup,
  * fingerprinting and token counting unless every document is brought
  * to one canonical form. Wrapping java.text.Normalizer in a Scala UDF
  * would lose codegen and pay serialization per row; this stays inside
  * the stage loop (same pattern as DotProduct).
  *
  * Forms: NFC/NFD/NFKC/NFKD (java.text.Normalizer semantics, which
  * match DuckDB's nfc_normalize for NFC — the q_normalize oracle).
  */
case class NormalizeString(child: Expression, form: String)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType if NormalizeString.forms.contains(form) =>
        TypeCheckResult.TypeCheckSuccess
      case StringType =>
        TypeCheckResult.TypeCheckFailure(s"unknown normalization form $form")
      case other =>
        TypeCheckResult.TypeCheckFailure(s"normalize needs a string, got $other")
    }

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(NormalizeString.normalize(s.asInstanceOf[UTF8String].toString, form))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.expressions.NormalizeString.normalize($s.toString(), "$form"));""".stripMargin
    })

  override protected def withNewChildInternal(c: Expression): NormalizeString =
    copy(child = c)
}

object NormalizeString {
  val forms = Set("NFC", "NFD", "NFKC", "NFKD")

  /** Called from both interpreted eval and generated code. */
  def normalize(s: String, form: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.valueOf(form))

  private[expressions] val face =
    new FnRegistry("normalize_string", exprs => {
      val form = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType) => v.toString
        case _ => "NFC"
      }
      NormalizeString(exprs.head, form)
    })

  def normalizeString(spark: SparkSession, c: Column, form: String = "NFC"): Column =
    face.column(spark, c, org.apache.spark.sql.functions.lit(form))
}
