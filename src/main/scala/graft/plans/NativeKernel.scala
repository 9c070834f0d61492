package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/**
 * The input kinds a native kernel accepts, one per child.
 *
 * Array kinds accept `containsNull = true`: [[graft.sim.NormalizedVector]]
 * emits such arrays and SemDedup feeds them to [[graft.sim.NearestCentroids]].
 * The vector kernels read elements with `getDouble`/`getFloat`, so a null
 * element reads as 0.0 — the quantizer and hyperplane kernels compute as if
 * it were 0.0. Two kernels say otherwise in their own docs:
 * [[graft.sim.DotProduct]] skips a pair with a null element (it contributes
 * 0), and [[graft.sim.NormalizedVector]] returns an all-null array.
 */
sealed abstract class KernelInput(elements: DataType*) {
  def sql: String = elements.map(_.sql).mkString("ARRAY<", "|", ">")
  def accepts(t: DataType): Boolean = t match {
    case ArrayType(e, _) => elements.contains(e)
    case _ => false
  }
}

object KernelInput {
  case object Text extends KernelInput() {
    override def sql: String = StringType.sql
    override def accepts(t: DataType): Boolean = t == StringType
  }
  case object Doubles extends KernelInput(DoubleType)
  /** FLOAT elements are widened per element; kernels get `isFloat`. */
  case object Vector extends KernelInput(DoubleType, FloatType)
  case object Ints extends KernelInput(IntegerType)
  case object Longs extends KernelInput(LongType)
  case object Strings extends KernelInput(StringType)

  /** True when `t` is ARRAY<FLOAT> (the [[Vector]] kind's widening flag). */
  def isFloat(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == FloatType
}

/**
 * One base for the engine's native Catalyst kernels (SURVEY §7.3 allows a
 * custom `Expression` only where built-ins cannot do the job). Each kernel
 * keeps its algorithm in one static `compute` on its companion object; the
 * kernel's `nullSafeEval` calls that `compute`, and the generated code calls
 * the very same method, so interpreted and compiled results cannot drift.
 *
 * `compute` takes the child values (`UTF8String` / `ArrayData`) followed by
 * [[constants]]. It does its own input conversion and result wrapping, and
 * returns the Java type of `dataType` (primitive results stay unboxed). A
 * kernel whose `compute` may return null for non-null inputs sets
 * [[mayReturnNull]]; its result then uses the boxed type.
 */
trait NativeKernel extends Expression {
  /** Accepted kind of each child, in child order. */
  protected def inputKinds: Seq[KernelInput]

  /** Trailing `compute` arguments. Int, Long and Boolean values are inlined
    * into the generated code; anything else (broadcasts, coefficient arrays,
    * plane matrices) is passed once per generated class as a reference. */
  protected def constants: Seq[Any] = Nil

  /** True when `compute` may return null for non-null inputs. */
  protected def mayReturnNull: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType).corresponds(inputKinds)((t, k) => k.accepts(t)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${inputKinds.map(_.sql).mkString("(", ", ", ")")}, " +
        s"got ${children.map(_.dataType.sql).mkString("(", ", ", ")")}")

  /** Java statement that stores `compute(values ++ constants)` in `ev`. */
  protected final def computeCode(ctx: CodegenContext, ev: ExprCode,
      values: String*): String = {
    val args = values ++ constants.map {
      case i: Int => i.toString
      case l: Long => s"${l}L"
      case b: Boolean => b.toString
      case bc: Broadcast[_] =>
        ctx.addReferenceObj("broadcast", bc, classOf[Broadcast[_]].getName)
      case o => ctx.addReferenceObj("constant", o, CodeGenerator.typeName(o.getClass))
    }
    val call = s"${getClass.getName}.compute(${args.mkString(", ")})"
    if (!mayReturnNull) s"${ev.value} = $call;"
    else {
      val r = ctx.freshName("result")
      s"""${CodeGenerator.boxedType(dataType)} $r = $call;
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    }
  }
}

/** [[NativeKernel]] over one child. */
trait UnaryKernel extends UnaryExpression with NativeKernel {
  override def nullable: Boolean = mayReturnNull || child.nullable

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => computeCode(ctx, ev, c))
}

/** [[NativeKernel]] over two children. */
trait BinaryKernel extends BinaryExpression with NativeKernel {
  override def nullable: Boolean = mayReturnNull || left.nullable || right.nullable

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => computeCode(ctx, ev, l, r))
}
