package graft.geo.expr

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** One engine function as a Catalyst expression: `method` called on a
  * Scala object or on a plan-time reference object, with the column
  * inputs (`children`) first and the plan-time constants (`consts`)
  * after them.  A Scala object is held as its module class (an object
  * need not be serializable) and a reference object as itself.
  *
  * Generated code is the direct call: a Scala object through its
  * `MODULE$`, a reference object and every non-primitive constant
  * through `addReferenceObj`, primitive constants as literals, so a row
  * pays no reflection and no boxing.  The interpreted path invokes the
  * same method reflectively, so the two paths run one body.  Both turn a
  * `String` result into a UTF8String and a primitive array into a
  * GenericArrayData.  Null in, null out.
  *
  * `castInputs` picks the input-type rule: implicit casts to `argTypes`
  * (Catalyst's rule casts for an ImplicitCastInputTypes whose
  * `inputTypes` is non-empty) or a strict check (the types are hidden
  * from that rule and checked here). */
case class StaticCall(override val prettyName: String, target: AnyRef,
                      method: String, children: Seq[Expression], consts: Seq[Any],
                      override val dataType: DataType,
                      argTypes: Seq[DataType], castInputs: Boolean)
    extends Expression with ImplicitCastInputTypes {

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def inputTypes = if (castInputs) argTypes else Nil
  override def checkInputDataTypes(): TypeCheckResult =
    ExpectsInputTypes.checkInputDataTypes(children, argTypes)
  override protected def stringArgs: Iterator[Any] = (children ++ consts).iterator

  @transient private lazy val receiver: AnyRef = target match {
    case c: Class[_] => c.getField("MODULE$").get(null)
    case o => o
  }

  @transient private lazy val fn: Method = {
    val ms = receiver.getClass.getMethods.filter(m =>
      m.getName == method && m.getParameterCount == children.length + consts.length)
    require(ms.length == 1, s"$prettyName: ${ms.length} methods " +
      s"${receiver.getClass.getName}.$method of ${children.length + consts.length} arguments")
    ms(0)
  }

  @transient private lazy val returnsString = fn.getReturnType == classOf[String]
  @transient private lazy val returnsPrimitiveArray =
    fn.getReturnType.isArray && fn.getReturnType.getComponentType.isPrimitive

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + consts.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    consts.foreach { c => args(i) = c.asInstanceOf[AnyRef]; i += 1 }
    val r = try fn.invoke(receiver, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
    if (returnsString) UTF8String.fromString(r.asInstanceOf[String])
    else if (returnsPrimitiveArray) new GenericArrayData(r: Any)
    else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ins = children.map(_.genCode(ctx))
    val recv = target match {
      case c: Class[_] => s"${c.getName}.MODULE$$"
      case o => ctx.addReferenceObj("callee", o, StaticCall.javaName(o.getClass))
    }
    val args = ins.map(_.value.toString) ++ consts.map {
      case c: Char => s"(char)${c.toInt}"
      case v @ (_: Int | _: Long | _: Double | _: Boolean) =>
        Literal(v).genCode(ctx).value.toString
      case o => ctx.addReferenceObj("const", o, StaticCall.javaName(o.getClass))
    }
    val call = s"$recv.$method(${args.mkString(", ")})"
    val result =
      if (returnsString) s"${classOf[UTF8String].getName}.fromString($call)"
      else if (returnsPrimitiveArray) s"new ${classOf[GenericArrayData].getName}($call)"
      else call
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    if (nullable) {
      // the shape of Spark's nullSafeCodeGen: each input is evaluated only
      // when the ones before it are non-null
      val body = ins.zip(children).foldRight(
        s"${ev.isNull} = false;\n${ev.value} = $result;") { case ((in, c), inner) =>
        in.code.toString + ctx.nullSafeExec(c.nullable, in.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $body""")
    } else
      ev.copy(code = code"""
        ${ins.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $default;
        ${ev.value} = $result;""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object StaticCall {
  /** `target.method(inputs..., consts...)` as a column named `name`;
    * each input carries the type it is cast to (`castInputs`) or checked
    * against. */
  def column(name: String, dataType: DataType, target: AnyRef, method: String,
             castInputs: Boolean, inputs: Seq[(Column, DataType)],
             consts: Any*): Column =
    GraftSqlShim.column(StaticCall(name, holder(target), method,
      inputs.map(i => GraftSqlShim.expression(i._1)), consts, dataType,
      inputs.map(_._2), castInputs))

  /** A Scala object becomes its module class; anything else is kept. */
  private def holder(target: AnyRef): AnyRef = {
    val c = target.getClass
    if (scala.util.Try(c.getField("MODULE$").get(null) eq target).getOrElse(false)) c
    else target
  }

  private def javaName(c: Class[_]): String =
    if (c.isArray) javaName(c.getComponentType) + "[]" else c.getName
}
