package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.LongType

/** The one codegen stub of graft's fixed-arity native expressions.
  *
  * An expression mixing this in writes its row-local work once, as a
  * kernel method of its own: the method named [[kernelName]] takes the
  * values of [[rowInputs]] (the children read per row, in argument
  * order; every other child is a literal the kernel unpacks once per
  * task) and returns the result as the Java type of `dataType`, a
  * primitive unboxed. Interpreted `eval` and the generated code run
  * that same method. The generated code evaluates the row inputs, is
  * null when any of them is, and otherwise calls the kernel on this
  * (referenced) instance: the hot loop is compiled Scala, and the
  * projection stays inside whole-stage codegen.
  *
  * A kernel that can return null for non-null inputs sets
  * [[kernelNulls]] and returns null, or [[NativeKernel.NullLong]] when
  * its result is a long.
  */
trait NativeKernel extends Expression {

  /** The children read per row, in the kernel's argument order. */
  protected def rowInputs: Seq[Expression]

  /** Name of the kernel method the generated code calls. */
  protected def kernelName: String

  /** The same kernel applied to the non-null row input values. */
  protected def callKernel(in: Seq[Any]): Any

  /** Whether the kernel can return null for non-null inputs. */
  protected def kernelNulls: Boolean = false

  override def nullable: Boolean = kernelNulls || rowInputs.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val in = rowInputs.map(_.eval(input))
    if (in.contains(null)) return null
    val out = callKernel(in)
    if (kernelNulls && dataType == LongType && out == NativeKernel.NullLong) null else out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(kernelName, this, getClass.getName)
    val ins = rowInputs.map(_.genCode(ctx))
    val outNull =
      if (!kernelNulls) ""
      else if (dataType == LongType) s"${ev.isNull} = ${ev.value} == ${NativeKernel.NullLong}L;"
      else s"${ev.isNull} = ${ev.value} == null;"
    ev.copy(code =
      code"""
        ${blocksToBlock(ins.map(_.code))}
        boolean ${ev.isNull} = ${ins.map(_.isNull).mkString(" || ")};
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!${ev.isNull}) {
          ${ev.value} = $self.$kernelName(${ins.map(_.value).mkString(", ")});
          $outNull
        }
      """)
  }
}

object NativeKernel {
  /** What a nullable kernel with a long result returns for null. */
  val NullLong: Long = Long.MinValue
}
