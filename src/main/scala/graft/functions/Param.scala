package graft.functions

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A request value that reaches the tasks of a job as the job-local
  * property `graft.param.<name>`, not as a literal: a plan over `Param`s
  * is analyzed, optimized, planned and code-generated once and then
  * re-run with new values ([[graft.api.Engine]]'s prepared scans).
  *
  * The value is a string, read in the task from
  * `TaskContext.getLocalProperty`; [[Param.bind]] sets it on the calling
  * thread around the job. A `Param` with no bound value throws, so an
  * unbound request can never match everything.
  */
case class Param(name: String) extends LeafExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = Param.read(name)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.addReferenceObj("paramName", name)
    ev.copy(
      code = code"final UTF8String ${ev.value} = ${classOf[Param].getName}.read($n);",
      isNull = FalseLiteral)
  }
}

object Param {

  /** Prefix of the job-local properties that carry parameter values. */
  val Prefix = "graft.param."

  def column(name: String): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(Param(name))
  }

  /** The value bound to `name` for the running task's job. */
  def read(name: String): UTF8String = {
    val task = TaskContext.get()
    val v = if (task == null) null else task.getLocalProperty(Prefix + name)
    if (v == null) throw new IllegalStateException(s"parameter '$name' has no bound value")
    UTF8String.fromString(v)
  }

  /** Runs `body` with `values` bound on this thread, so the jobs it starts
    * read them; afterwards every touched property has its old value
    * again, whether `body` returned or threw. Other properties of the
    * thread are left alone.
    */
  def bind[T](sc: SparkContext, values: Seq[(String, String)])(body: => T): T = {
    val old = values.map { case (k, _) => k -> sc.getLocalProperty(Prefix + k) }
    try {
      values.foreach { case (k, v) => sc.setLocalProperty(Prefix + k, v) }
      body
    } finally old.foreach { case (k, v) => sc.setLocalProperty(Prefix + k, v) }
  }
}

/** Evaluates `child` once per task and serves that value to every row.
  *
  * For an expression that depends on no column, only on literals and
  * [[Param]]s: e.g. `to_date(param, fmt)` or `from_json(param, type)`,
  * which would otherwise parse the same string again on every row. Over
  * literals it is foldable, so constant folding replaces it with the
  * literal, as it would the bare child.
  */
case class TaskConstant(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def nullable: Boolean = child.nullable

  override def foldable: Boolean = child.foldable

  @transient private var computed = false
  @transient private var value: Any = _

  override def eval(input: InternalRow): Any = {
    if (!computed) { value = child.eval(input); computed = true }
    value
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val computed = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "taskConstantComputed")
    val isNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "taskConstantIsNull")
    val value = ctx.addMutableState(CodeGenerator.javaType(dataType), "taskConstant")
    ev.copy(
      code = code"""
        |if (!$computed) {
        |  ${c.code}
        |  $isNull = ${c.isNull};
        |  $value = ${c.value};
        |  $computed = true;
        |}""".stripMargin,
      isNull = JavaCode.isNullGlobal(isNull),
      value = JavaCode.global(value, dataType))
  }

  override protected def withNewChildInternal(newChild: Expression): TaskConstant =
    copy(child = newChild)
}

object TaskConstant {
  def of(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(TaskConstant(ColumnBridge.expression(c)))
  }
}
