package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import scala.reflect.{ClassTag, classTag}
import scala.util.Try

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** One argument slot of a kernel entry point. */
sealed trait Slot extends Serializable

/** A column argument: `accepts` is its analysis-time type check and `what`
  * names the accepted type in the failure message.
  */
final case class In(what: String, accepts: DataType => Boolean) extends Slot

/** A parameter fixed when the plan is built. A primitive one (`javaClass`
  * int, long or boolean) is inlined into the generated call; any other is
  * passed as a codegen reference object, the value `build` makes from it
  * once per expression instance. Expression equality compares the
  * parameter (an immutable value), never the built object.
  *
  * @param accept   the values this slot takes, normalized (an Int for a long)
  * @param fromSql  reads the parameter from a SQL literal argument
  *                 (function name, arguments, position)
  * @param sqlValue the value SQL calls always pass: the slot is then no
  *                 SQL argument
  */
final case class Param(
    javaClass: Class[_],
    accept: PartialFunction[Any, Any],
    build: Any => AnyRef,
    fromSql: Option[(String, Seq[Expression], Int) => Any],
    sqlValue: Option[Any] = None) extends Slot {
  def inlined: Boolean = javaClass.isPrimitive
  def inSql(v: Any): Param = copy(sqlValue = Some(v))
}

object Param {
  def primitive(javaClass: Class[_], fromSql: (String, Seq[Expression], Int) => Any)(
      accept: PartialFunction[Any, Any]): Param =
    Param(javaClass, accept, _.asInstanceOf[AnyRef], Some(fromSql))

  /** A parameter of type `P`, passed to the entry point as `build(p)`. */
  def ref[P: ClassTag, R <: AnyRef: ClassTag](build: P => R,
      fromSql: Option[(String, Seq[Expression], Int) => Any] = None): Param =
    Param(classTag[R].runtimeClass, { case p: P => p }, p => build(p.asInstanceOf[P]), fromSql)
}

/** A compiled kernel, declared once (see [[Kernels]]): its SQL-facing
  * name, output type, argument slots and entry point. The entry point is
  * the static method `owner.method` or, when `receiver` is set, the
  * method on that first parameter's built object; `methods` lists
  * overloads by input type ("parse|parseStr"), the first whose Java
  * signature fits the input types wins. Applying it builds a
  * [[KernelExpr]] from the columns, then the parameters, in slot order.
  */
final class Kernel private[functions] (
    val name: String,
    val dataType: DataType,
    owner: Option[Class[_]],
    receiver: Option[Param],
    methods: Seq[String],
    slots: Seq[Slot],
    val orNull: Boolean,
    requires: PartialFunction[Seq[Any], Unit],
    val sqlName: Option[String]) extends Serializable {

  val inputs: Seq[In] = slots.collect { case i: In => i }
  val params: Seq[Param] = receiver.toSeq ++ slots.collect { case p: Param => p }

  /** The kernel over `args`: its columns, then its parameters. */
  def apply(args: Any*): Column = ColumnBridge.column(expr(args.map {
    case c: Column => ColumnBridge.expression(c)
    case other => other
  }: _*))

  def expr(args: Any*): KernelExpr = {
    require(args.length == inputs.length + params.length,
      s"$name takes ${inputs.length} column(s) and ${params.length} parameter(s), " +
        s"got ${args.length} arguments")
    val (cols, ps) = args.splitAt(inputs.length)
    val children = cols.map {
      case e: Expression => e
      case other => throw new IllegalArgumentException(s"$name: $other is not a column")
    }
    val values = params.zip(ps).map { case (p, v) =>
      p.accept.applyOrElse(v, (_: Any) => throw new IllegalArgumentException(
        s"$name: $v is not a ${CodeGenerator.typeName(p.javaClass)} parameter"))
    }
    requires.applyOrElse(values, (_: Seq[Any]) => ())
    KernelExpr(this, children, values)
  }

  private[functions] def checkInputs(types: Seq[DataType]): TypeCheckResult =
    if (inputs.zip(types).forall { case (i, t) => i.accepts(t) }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      if (inputs.length == 1) s"$name requires ${inputs.head.what}, got ${types.head.catalogString}"
      else s"$name requires (${inputs.map(_.what).mkString(", ")}), " +
        s"got (${types.map(_.catalogString).mkString(", ")})")

  /** The entry point for these input types. */
  private[functions] def entry(types: Seq[DataType]): Method = {
    val ts = types.iterator
    val classes = slots.map {
      case _: In => CodeGenerator.javaClass(ts.next())
      case p: Param => p.javaClass
    }
    val on: Class[_] = receiver.fold[Class[_]](owner.get)(_.javaClass)
    methods.iterator.flatMap(m => Try(on.getMethod(m, classes: _*)).toOption).nextOption()
      .getOrElse(throw new IllegalStateException(s"$name: no ${on.getName}." +
        s"${methods.mkString("|")}(${classes.map(CodeGenerator.typeName).mkString(", ")})"))
  }

  /** Calls `entry` on evaluated inputs and built parameters (interpreted). */
  private[functions] def invoke(entry: Method, ins: Array[AnyRef], built: Seq[AnyRef]): Any = {
    val (target, args) = arguments(ins.toSeq, built)
    try entry.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  /** The Java source of the call (codegen). */
  private[functions] def javaCall(ctx: CodegenContext, entry: Method, ins: Seq[String],
      values: Seq[Any], built: Seq[AnyRef]): String = {
    val code = params.zip(values).zip(built).map { case ((p, v), b) =>
      if (p.inlined) v match {
        case l: Long => s"${l}L"
        case other => other.toString
      } else ctx.addReferenceObj(name, b, CodeGenerator.typeName(p.javaClass))
    }
    val (target, args) = arguments(ins, code)
    s"${Option(target).getOrElse(owner.get.getName)}.${entry.getName}(${args.mkString(", ")})"
  }

  /** Slot-ordered arguments from inputs and parameters, after the
    * receiver (null for a static entry point).
    */
  private def arguments[T >: Null](ins: Seq[T], ps: Seq[T]): (T, Seq[T]) = {
    val (target, rest) = if (receiver.isDefined) (ps.head, ps.tail) else (null, ps)
    val i = ins.iterator
    val p = rest.iterator
    (target, slots.map { case _: In => i.next(); case _: Param => p.next() })
  }

  override def equals(o: Any): Boolean = o match {
    case k: Kernel => k.name == name
    case _ => false
  }
  override def hashCode: Int = name.hashCode
}

/** The one Catalyst expression for every [[Kernel]]: input type check,
  * interpreted evaluation and code generation, each through the kernel's
  * single entry point. In whole-stage codegen a kernel is one static call
  * (or one call on a reference object) with its primitive parameters
  * inlined and its object parameters as codegen references — no UDF, no
  * reflection, no boxed arguments. Interpreted evaluation (constant
  * folding, codegen fallback) calls the same entry point reflectively.
  * Null in gives null out; a kernel declared `orNull` may also return
  * null for non-null input.
  */
case class KernelExpr(kernel: Kernel, children: Seq[Expression], params: Seq[Any])
    extends Expression {

  override def prettyName: String = kernel.name
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.orNull || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  // EXPLAIN reads `name(inputs..., params...)`
  override protected def stringArgs: Iterator[Any] = children.iterator ++ params.iterator
  override def checkInputDataTypes(): TypeCheckResult = kernel.checkInputs(children.map(_.dataType))

  @transient private[graft] lazy val entryPoint: Method = kernel.entry(children.map(_.dataType))
  @transient private lazy val built: Seq[AnyRef] =
    kernel.params.zip(params).map { case (p, v) => p.build(v) }

  override def eval(input: InternalRow): Any = {
    val ins = new Array[AnyRef](children.length)
    var i = 0
    while (i < ins.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      ins(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    kernel.invoke(entryPoint, ins, built)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ins = children.map(_.genCode(ctx))
    val call = kernel.javaCall(ctx, entryPoint, ins.map(_.value.toString), params, built)
    val javaType = CodeGenerator.javaType(dataType)
    val assign =
      if (!entryPoint.getReturnType.isPrimitive && CodeGenerator.isPrimitiveType(dataType)) {
        // a boxed result: null is the kernel's "no value"
        val boxed = ctx.freshName("boxed")
        s"""${entryPoint.getReturnType.getName} $boxed = $call;
           |if ($boxed == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $boxed.${javaType}Value();
           |}""".stripMargin
      } else if (kernel.orNull) s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
      else s"${ev.value} = $call;"
    if (nullable) {
      val guarded = children.zip(ins).foldRight(s"${ev.isNull} = false;\n$assign") {
        case ((c, in), body) => in.code.toString + ctx.nullSafeExec(c.nullable, in.isNull)(body)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $guarded""")
    } else {
      ev.copy(code = code"""
        ${Block.blocksToBlock(ins.map(_.code))}
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $assign""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelExpr = copy(children = newChildren)
}
