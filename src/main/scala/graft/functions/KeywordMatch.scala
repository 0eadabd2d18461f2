package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Native Catalyst case-insensitive regex FIND of a fixed keyword: true
  * when `(?i)keyword` matches anywhere in the string — the same
  * `Pattern.matcher(text).find(0)` call `text RLIKE '(?i)keyword'` makes.
  *
  * `RLike` with a literal pattern escapes the regex into the generated
  * source (`Pattern.compile("<regex>")`), so every distinct keyword is a
  * distinct whole-stage class and pays a Janino compile. Here the pattern
  * is compiled on the driver and handed to the generated code as a
  * reference object, so the class source is the same for every keyword
  * and the codegen cache serves all of them from one compile.
  *
  * A null string yields null (NullIntolerant). A malformed keyword throws
  * `PatternSyntaxException` when the plan is evaluated or code-generated.
  */
case class KeywordMatch(child: Expression, keyword: String) extends UnaryExpression {

  @transient private lazy val pattern: Pattern = Pattern.compile("(?i)" + keyword)

  override def dataType: DataType = BooleanType

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"keyword match expects a string input, got ${dt.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    pattern.matcher(input.toString).find(0)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("keywordPattern", pattern, classOf[Pattern].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $p.matcher($s.toString()).find(0);")
  }

  override protected def withNewChildInternal(newChild: Expression): KeywordMatch =
    copy(child = newChild)
}

object KeywordMatch {

  /** Column surface (the [[Vectors.dot]] bridge pattern). */
  def matches(text: Column, keyword: String): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(KeywordMatch(ColumnBridge.expression(text), keyword))
  }
}
