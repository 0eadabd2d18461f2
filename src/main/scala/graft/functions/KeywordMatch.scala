package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst case-insensitive regex FIND of a keyword: true when
  * `(?i)keyword` matches anywhere in the string — the same
  * `Pattern.matcher(text).find(0)` call `text RLIKE '(?i)keyword'` makes.
  *
  * `RLike` with a literal pattern escapes the regex into the generated
  * source (`Pattern.compile("<regex>")`), so every distinct keyword is a
  * distinct whole-stage class and pays a Janino compile. Here the keyword
  * is an expression (a literal or a [[Param]]) and the pattern is
  * compiled in the task, the first time a row needs it and again only if
  * the keyword changes, so the class source is the same for every
  * keyword and the codegen cache serves all of them from one compile.
  *
  * A null string or keyword yields null (NullIntolerant). A malformed
  * keyword throws `PatternSyntaxException` when the plan is evaluated.
  */
case class KeywordMatch(left: Expression, right: Expression) extends BinaryExpression {

  @transient private var keyword: UTF8String = _
  @transient private var pattern: Pattern = _

  override def dataType: DataType = BooleanType

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"keyword match expects string inputs, got ${l.catalogString} and ${r.catalogString}")
  }

  override protected def nullSafeEval(text: Any, kw: Any): Any = {
    if (keyword == null || keyword != kw) {
      pattern = KeywordMatch.compile(kw.asInstanceOf[UTF8String])
      keyword = kw.asInstanceOf[UTF8String].clone()
    }
    pattern.matcher(text.toString).find(0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addMutableState(classOf[Pattern].getName, "keywordPattern")
    val k = ctx.addMutableState("UTF8String", "keyword")
    nullSafeCodeGen(ctx, ev, (text, kw) =>
      s"""if ($k == null || !$k.equals($kw)) {
         |  $p = ${classOf[KeywordMatch].getName}.compile($kw);
         |  $k = $kw.clone();
         |}
         |${ev.value} = $p.matcher($text.toString()).find(0);""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KeywordMatch =
    copy(left = newLeft, right = newRight)
}

object KeywordMatch {

  def compile(keyword: UTF8String): Pattern = Pattern.compile("(?i)" + keyword.toString)

  /** Column surface (the [[Vectors.dot]] bridge pattern). */
  def matches(text: Column, keyword: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(KeywordMatch(ColumnBridge.expression(text), ColumnBridge.expression(keyword)))
  }
}
