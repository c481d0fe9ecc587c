package graft.eval

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** One mask chunk: bit `i` is set when predicate `i` is false or NULL.
  *
  * The generated code evaluates each fixed group of at most
  * [[RuleMask.GroupSize]] predicates in its own private method, so no
  * method outgrows HotSpot's 8,000-byte huge-method limit, past which a
  * method is never JIT-compiled and every row runs in the interpreter.
  * Inside whole-stage codegen each method takes the
  * local input variables as parameters, as `HashAggregateExec`'s split
  * aggregate functions do, and falls back to inline code when they
  * would exceed the JVM's parameter limit; outside it, Spark's
  * `splitExpressions` splits over the input row.
  */
final case class RuleMask(children: Seq[Expression])
    extends Expression {

  require(children.size <= 64, "a mask chunk holds at most 64 predicates")

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != BooleanType) match {
      case Some(p) => TypeCheckResult.TypeCheckFailure(
        s"a rule must be a boolean expression, got ${p.dataType.simpleString}: ${p.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "rule_mask"

  override def eval(input: InternalRow): Any = {
    var mask = 0L
    var bit = 0
    children.foreach { p =>
      val v = p.eval(input)
      if (v == null || !v.asInstanceOf[Boolean]) mask |= 1L << bit
      bit += 1
    }
    mask
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mask = ev.value.toString
    val groups = children.zipWithIndex.grouped(RuleMask.GroupSize).toSeq
    val body =
      if (ctx.currentVars == null)
        ctx.splitExpressionsWithCurrentInputs(
          expressions = groups.map(groupCode(ctx, _, mask)),
          funcName = "ruleMask",
          returnType = "long",
          makeSplitFunction = b => s"long $mask = 0L;\n$b\nreturn $mask;",
          foldFunctions = _.map(call => s"$mask |= $call;").mkString("\n"))
      else groups.map(wholeStageGroup(ctx, _, mask)).mkString("\n")
    ev.copy(
      code = code"long ${ev.value} = 0L;\n$body",
      isNull = FalseLiteral)
  }

  /** Code OR-ing the failed bits of `group` into `mask`. */
  private def groupCode(ctx: CodegenContext, group: Seq[(Expression, Int)],
                        mask: String): String =
    group.map { case (p, bit) =>
      val e = p.genCode(ctx)
      s"""${e.code}
         |if (${e.isNull} || !${e.value}) $mask |= 1L << $bit;""".stripMargin
    }.mkString("\n")

  /** One group as a method over the local variables it reads. Inputs
    * not yet evaluated are evaluated here, before the call, so the
    * method sees them as parameters.
    */
  private def wholeStageGroup(ctx: CodegenContext, group: Seq[(Expression, Int)],
                              mask: String): String = {
    val inputs = group.map { case (p, _) =>
      CodeGenerator.getLocalInputVariableValues(ctx, p, GraftCodegenBridge.subExprs(ctx))
    }
    val params = inputs.flatMap(_._1).distinct
    val evalInputs = inputs.flatMap(_._2).map(_.code.toString).mkString("\n")
    val body = groupCode(ctx, group, mask)
    if (!CodeGenerator.isValidParamLength(
        CodeGenerator.calculateParamLengthFromExprValues(params)))
      return s"$evalInputs\n$body"
    val fn = ctx.freshName("ruleMaskGroup")
    val argList = params.map(v =>
      s"${CodeGenerator.typeName(v.javaType)} ${v.variableName}").mkString(", ")
    val name = ctx.addNewFunction(fn,
      s"""private long $fn($argList) {
         |  long $mask = 0L;
         |  $body
         |  return $mask;
         |}""".stripMargin)
    s"$evalInputs\n$mask |= $name(${params.map(_.variableName).mkString(", ")});"
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RuleMask = copy(children = newChildren)
}

object RuleMask {
  /** Predicates per generated method. */
  val GroupSize = 8
}

/** Every pipeline count in one aggregate: `[n, err, drop, c_0..c_{N-1}]`
  * — input rows, rows failing any rule, rows failing a rule whose bit is
  * in `dropMasks`, and per-rule failed rows (rule `i` is bit `i % 64` of
  * mask `i / 64`). The state is one `long[3 + nRules]` per partition and
  * an update walks only the set bits. (N + 3 separate `sum`s would be no
  * faster generated: past `spark.sql.codegen.maxFields` aggregates lose
  * whole-stage codegen.)
  */
final case class MaskCounts(
    masks: Seq[Expression],
    dropMasks: Seq[Long],
    nRules: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(masks.size == dropMasks.size && nRules <= masks.size * 64,
    "one drop mask per mask chunk, at most 64 rules per chunk")

  @transient private lazy val maskArr = masks.toArray
  @transient private lazy val dropArr = dropMasks.toArray

  override def createAggregationBuffer(): Array[Long] = new Array[Long](3 + nRules)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    buf(0) += 1
    var err = false
    var drop = false
    var ci = 0
    while (ci < maskArr.length) {
      val v = maskArr(ci).eval(input)
      if (v != null) {
        var m = v.asInstanceOf[Long]
        if (m != 0L) {
          err = true
          if ((m & dropArr(ci)) != 0L) drop = true
          val base = 3 + ci * 64
          while (m != 0L) {
            buf(base + java.lang.Long.numberOfTrailingZeros(m)) += 1
            m &= m - 1
          }
        }
      }
      ci += 1
    }
    if (err) buf(1) += 1
    if (drop) buf(2) += 1
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = masks
  override def prettyName: String = "mask_counts"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MaskCounts = copy(masks = newChildren)
  override def withNewMutableAggBufferOffset(newOffset: Int): MaskCounts =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MaskCounts =
    copy(inputAggBufferOffset = newOffset)
}
