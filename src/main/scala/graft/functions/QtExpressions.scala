package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for RDF-star decomposition: extracts the
  * subject/predicate/object component of a TermLex-encoded quoted triple.
  *
  * This is the one place the compiler previously fell back to a Scala UDF
  * (SURVEY §7.3 listed codegen'd term decode as the candidate custom
  * `Expression`): a UDF breaks whole-stage codegen for the entire stage
  * and pays per-row encoder round-trips, while this expression stays
  * inside the fused loop and calls a static decode on UTF8String.
  * Returns null for non-quoted inputs (isTRIPLE filters usually guard it).
  */
final case class QtComponent(child: Expression, idx: Int) extends UnaryExpression {
  require(idx >= 0 && idx <= 2, "idx must be 0 (subject), 1 (predicate) or 2 (object)")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = Seq("qt_subject", "qt_predicate", "qt_object")(idx)

  override def nullSafeEval(input: Any): Any =
    QtComponent.componentOrNull(input.asInstanceOf[UTF8String], idx)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.QtComponent.componentOrNull($c, $idx);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QtComponent =
    copy(child = newChild)
}

object QtComponent {
  /** Static decode entry used by both interpreted and generated code. */
  def componentOrNull(s: UTF8String, idx: Int): UTF8String = {
    if (s == null) return null
    graft.model.TermLex.decodeQuoted(s.toString) match {
      case Some((a, b, c)) =>
        UTF8String.fromString(idx match { case 0 => a; case 1 => b; case _ => c })
      case None => null
    }
  }

  val names = Seq("qt_subject", "qt_predicate", "qt_object")

  /** The ONE SQL builder per component both registration routes resolve
    * through (see [[CosineSimilarity.builder]]). */
  def builder(idx: Int)(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 1,
      s"${names(idx)} expects 1 argument (a quoted triple), got ${exprs.size}")
    QtComponent(exprs.head, idx)
  }

  /** Register the three decomposition functions in the session's registry
    * (the public route to a custom Expression as a Column). Once per
    * session: a name the registry already holds — from an earlier call or
    * the extensions route — is left as it is, so every `Compiler`
    * construction and quoted rule scan that calls this neither replaces
    * the builders nor logs a replacement warning. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    names.zipWithIndex.foreach { case (n, i) =>
      if (!registry.functionExists(FunctionIdentifier(n)))
        registry.createOrReplaceTempFunction(n, builder(i), "built-in")
    }
  }

  def subject(c: Column): Column = call_function("qt_subject", c)
  def predicate(c: Column): Column = call_function("qt_predicate", c)
  def obj(c: Column): Column = call_function("qt_object", c)
}
