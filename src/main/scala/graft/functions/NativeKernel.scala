package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** How a kernel answers null beyond a null input. */
private[functions] sealed trait NullRule
private[functions] object NullRule {
  /** Null only when an input is null. */
  case object Strict extends NullRule
  /** The kernel's own result says null: a null reference, or NaN for a
    * double result. */
  case object Result extends NullRule
  /** The boolean SketchKernels method `kernel`, given the leading
    * arguments of the kernel call, says whether the row has a value;
    * the kernel itself runs only when it does. */
  final case class Guard(kernel: String) extends NullRule
}

/** The one shape of the engine's native scalar expressions (SURVEY
  * §2.9). A kernel expression declares its name (`prettyName`), the
  * input types it accepts, its result type (`dataType`), its
  * plan-static operands and the ONE [[SketchKernels]] method that
  * computes it, null rule included; this trait derives Catalyst's
  * protocol from that declaration:
  *
  *  - the analysis-time type check (a wrong-typed child would
  *    otherwise misread unsafe array bytes and return plausible
  *    garbage, or die per row in a running scan);
  *  - nullability, from the null rule;
  *  - interpreted eval, which calls the kernel through reflection;
  *  - codegen, which emits one static call to the same kernel with
  *    unboxed arguments and result, so the surrounding operators stay
  *    inside one whole-stage-codegen span.
  *
  * Both paths run the same method, so eval and codegen cannot drift.
  * The kernel's parameters are the children's values followed by the
  * operands; an Int, Long or Boolean operand is inlined into the
  * generated source, any other operand rides `addReferenceObj` (so a
  * plan that differs only in, say, its weights shares one compiled
  * class). */
private[functions] trait NativeKernel extends Expression {

  /** Accepted child types, one signature per alternative; an array's
    * element nullability is ignored. */
  protected def inputTypes: Seq[Seq[DataType]]
  /** The [[SketchKernels]] method both paths call. */
  protected def kernel: String
  protected def operands: Seq[Any] = Nil
  protected def nullRule: NullRule = NullRule.Strict

  final override def nullable: Boolean =
    nullRule != NullRule.Strict || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    def accepts(want: DataType, got: DataType): Boolean = (want, got) match {
      case (ArrayType(w, _), ArrayType(g, _)) => w == g
      case _ => want == got
    }
    def describe(ts: Seq[String]): String = ts match {
      case Seq(t) => t
      case Seq(a, b) if a == b => s"two $a"
      case _ => ts.mkString("(", ", ", ")")
    }
    val got = children.map(_.dataType)
    if (inputTypes.exists(sig => sig.length == got.length &&
        sig.zip(got).forall { case (w, g) => accepts(w, g) })) TypeCheckResult.TypeCheckSuccess
    else {
      val expected = inputTypes.map(sig => describe(sig.map(_.catalogString)))
      val gotNames = got.map(_.catalogString)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects ${expected.mkString(" or ")}, got " +
        (if (expected.forall(_.startsWith("("))) gotNames.mkString("(", ", ", ")")
         else gotNames.mkString(", ")))
    }
  }

  @transient private lazy val method: Method = NativeKernel.method(kernel)
  @transient private lazy val guard: Option[Method] = nullRule match {
    case NullRule.Guard(g) => Some(NativeKernel.method(g))
    case _ => None
  }
  @transient private lazy val boxedOperands: Array[AnyRef] =
    operands.map(_.asInstanceOf[AnyRef]).toArray

  final override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + boxedOperands.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    System.arraycopy(boxedOperands, 0, args, children.length, boxedOperands.length)
    val valid = guard.forall(g => NativeKernel.invoke(g, args.take(g.getParameterCount))
      .asInstanceOf[java.lang.Boolean].booleanValue)
    if (!valid) null
    else NativeKernel.invoke(method, args) match {
      case d: java.lang.Double if nullRule == NullRule.Result && d.isNaN => null
      case r => r
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val inputs = children.map(_.genCode(ctx))
    val statics = operands.zip(method.getParameterTypes.drop(children.length)).map {
      case (v: Long, _) => s"${v}L"
      case (v, p) if p.isPrimitive => v.toString
      case (v, p) => ctx.addReferenceObj(kernel, v, p.getCanonicalName)
    }
    val args = inputs.map(_.value.toString) ++ statics
    def call(m: String, as: Seq[String]) = s"graft.functions.SketchKernels.$m(${as.mkString(", ")})"
    val compute = s"${ev.value} = ${call(kernel, args)};"
    val body = (nullRule, guard) match {
      case (NullRule.Guard(g), Some(gm)) =>
        s"if (!${call(g, args.take(gm.getParameterCount))}) { ${ev.isNull} = true; } else { $compute }"
      case (NullRule.Result, _) =>
        val isNull = if (dataType == DoubleType) s"Double.isNaN(${ev.value})" else s"${ev.value} == null"
        s"$compute\n${ev.isNull} = $isNull;"
      case _ => compute
    }
    // an input's code runs only once every earlier input is non-null
    val evaluated = inputs.zip(children).foldRight(
        if (nullable) s"${ev.isNull} = false;\n$body" else body) {
      case ((in, c), rest) => s"${in.code}\n" + ctx.nullSafeExec(c.nullable, in.isNull.toString)(rest)
    }
    val javaType = CodeGenerator.javaType(dataType)
    val init = s"$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (nullable) ev.copy(code = code"boolean ${ev.isNull} = true;\n$init\n$evaluated")
    else ev.copy(code = code"$init\n$evaluated", isNull = FalseLiteral)
  }
}

private[functions] object NativeKernel {
  private def method(name: String): Method =
    SketchKernels.getClass.getMethods.filter(_.getName == name) match {
      case Array(m) => m
      case ms => throw new IllegalStateException(
        s"SketchKernels.$name must name exactly one method, found ${ms.length}")
    }

  // a kernel's own exception (cms_estimate's layout check) surfaces
  // as itself, as it does from generated code
  private def invoke(m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(SketchKernels, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
}
