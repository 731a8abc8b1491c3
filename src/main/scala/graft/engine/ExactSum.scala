package graft.engine

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `sum_exact(x)`: the value of `CAST(SUM(CAST(x AS DECIMAL(38,10))) AS
  * DOUBLE)`, bit for bit, without a BigDecimal per row.
  *
  * The buffer is a 128-bit two's-complement total in units of 10^-10, held
  * as two longs (`hi`, `lo`). Its range covers DECIMAL(38,10)'s, and `hi`
  * has two values no total can reach: [[Exact.Empty]] (no non-null input
  * yet) and [[Exact.Overflow]] (the running total left DECIMAL(38,10), where
  * the decimal buffer would have gone null). A double with |x| < 2^18 that
  * is not near a rounding midpoint is scaled in a few flops
  * ([[Exact.scale]]); every other input goes through Spark's own `Cast` to
  * DECIMAL(38,10), and its unscaled value joins the same total. The result
  * is Spark's own decimal path over the exact total: `CheckOverflowInSum`,
  * then the decimal→double `Cast`.
  *
  * Being declarative, it keeps `HashAggregateExec` and whole-stage codegen,
  * and it works as a window function. The per-row step is two expressions,
  * [[ExactLo]] and [[ExactHi]]; `ExactHi` reads `ExactLo`'s output, so
  * subexpression elimination evaluates the scale and the low word once.
  */
case class ExactSum(
    child: Expression,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends DeclarativeAggregate with UnaryLike[Expression] with SupportQueryContext {

  override def prettyName: String = "sum_exact"
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires numeric input, not ${t.catalogString}")
  }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val scaled = ExactScale(child)
  private lazy val side = Cast(child, Exact.Dec, None, evalMode)
  private lazy val loNext = ExactLo(lo, scaled, side)

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(Exact.Empty), Literal(0L))
  override lazy val updateExpressions: Seq[Expression] =
    Seq(ExactHi(hi, lo, loNext, scaled, side), loNext)
  override lazy val mergeExpressions: Seq[Expression] = Seq(
    ExactMerge(hi.left, lo.left, hi.right, lo.right, high = true),
    ExactMerge(hi.left, lo.left, hi.right, lo.right, high = false))
  override lazy val evaluateExpression: Expression =
    If(EqualTo(hi, Literal(Exact.Empty)), Literal(null, DoubleType),
      Cast(CheckOverflowInSum(ExactTotal(hi, lo), Exact.Dec,
        evalMode != EvalMode.ANSI, getContextOrNull()), DoubleType))

  override def flatArguments: Iterator[Any] = Iterator(child)

  override def initQueryContext(): Option[QueryContext] =
    if (evalMode == EvalMode.ANSI) Some(origin.context) else None

  override protected def withNewChildInternal(newChild: Expression): ExactSum =
    copy(child = newChild)
}

/** The fast-path scaled value of `x` ([[Exact.scale]]), or one of the two
  * off-path markers. Non-double inputs are always [[Exact.OffBig]]. */
case class ExactScale(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "exact_scale"

  override protected def nullSafeEval(input: Any): Any = child.dataType match {
    case DoubleType => Exact.scale(input.asInstanceOf[Double])
    case _ => Exact.OffBig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case DoubleType => defineCodeGen(ctx, ev, c => s"graft.engine.Exact.scale($c)")
      case _ => defineCodeGen(ctx, ev, _ => s"${Exact.OffBig}L")
    }

  override protected def withNewChildInternal(newChild: Expression): ExactScale =
    copy(child = newChild)
}

/** Low word of the total after one input row. `side` (the DECIMAL(38,10)
  * cast) is evaluated only when the row is off the fast path. */
case class ExactLo(lo: Expression, scaled: Expression, side: Expression)
    extends Expression with ConditionalExpression {
  override def children: Seq[Expression] = Seq(lo, scaled, side)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def alwaysEvaluatedInputs: Seq[Expression] = Seq(lo, scaled)
  override def withNewAlwaysEvaluatedInputs(e: Seq[Expression]): ExactLo =
    copy(lo = e(0), scaled = e(1))
  override def branchGroups: Seq[Seq[Expression]] = Nil

  override def eval(input: InternalRow): Any = {
    val l = lo.eval(input).asInstanceOf[Long]
    val s = scaled.eval(input)
    if (s == null) l
    else {
      val v = s.asInstanceOf[Long]
      if (v > Exact.OffSmall) l + v
      else {
        val d = side.eval(input)
        if (d == null) l else l + Exact.lowWord(d.asInstanceOf[Decimal])
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = lo.genCode(ctx)
    val s = scaled.genCode(ctx)
    val d = side.genCode(ctx)
    ev.copy(code = code"""
      |${l.code}
      |${s.code}
      |long ${ev.value} = ${l.value};
      |if (!${s.isNull}) {
      |  if (${s.value} > ${Exact.OffSmall}L) {
      |    ${ev.value} = ${l.value} + ${s.value};
      |  } else {
      |    ${d.code}
      |    if (!${d.isNull}) {
      |      ${ev.value} = ${l.value} + graft.engine.Exact.lowWord(${d.value});
      |    }
      |  }
      |}""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ExactLo =
    copy(lo = c(0), scaled = c(1), side = c(2))
}

/** High word of the total after one input row, given the new low word
  * `loNext`. The high word of the addend is the fast value's sign, or
  * `loNext − lo` for an off-path value that fits a long
  * ([[Exact.OffSmall]]), so only a large or non-double input evaluates
  * `side` here. */
case class ExactHi(hi: Expression, lo: Expression, loNext: Expression,
    scaled: Expression, side: Expression)
    extends Expression with ConditionalExpression {
  override def children: Seq[Expression] = Seq(hi, lo, loNext, scaled, side)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def alwaysEvaluatedInputs: Seq[Expression] = Seq(hi, lo, loNext, scaled)
  override def withNewAlwaysEvaluatedInputs(e: Seq[Expression]): ExactHi =
    copy(hi = e(0), lo = e(1), loNext = e(2), scaled = e(3))
  override def branchGroups: Seq[Seq[Expression]] = Nil

  override def eval(input: InternalRow): Any = {
    val h = hi.eval(input).asInstanceOf[Long]
    val l = lo.eval(input).asInstanceOf[Long]
    val ln = loNext.eval(input).asInstanceOf[Long]
    val s = scaled.eval(input)
    if (h == Exact.Overflow || s == null) h
    else {
      val v = s.asInstanceOf[Long]
      if (v > Exact.OffSmall) Exact.stepHi(h, l, ln, v >> 63)
      else if (v == Exact.OffSmall) Exact.stepHi(h, l, ln, (ln - l) >> 63)
      else {
        val d = side.eval(input)
        if (d == null) h
        else Exact.stepHi(h, l, ln, Exact.highWord(d.asInstanceOf[Decimal]))
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = hi.genCode(ctx)
    val l = lo.genCode(ctx)
    val ln = loNext.genCode(ctx)
    val s = scaled.genCode(ctx)
    val d = side.genCode(ctx)
    val k = "graft.engine.Exact"
    ev.copy(code = code"""
      |${h.code}
      |${l.code}
      |${ln.code}
      |${s.code}
      |long ${ev.value} = ${h.value};
      |if (${h.value} != ${Exact.Overflow}L && !${s.isNull}) {
      |  if (${s.value} > ${Exact.OffSmall}L) {
      |    ${ev.value} = $k.stepHi(${h.value}, ${l.value}, ${ln.value}, ${s.value} >> 63);
      |  } else if (${s.value} == ${Exact.OffSmall}L) {
      |    ${ev.value} = $k.stepHi(${h.value}, ${l.value}, ${ln.value},
      |      (${ln.value} - ${l.value}) >> 63);
      |  } else {
      |    ${d.code}
      |    if (!${d.isNull}) {
      |      ${ev.value} = $k.stepHi(${h.value}, ${l.value}, ${ln.value},
      |        $k.highWord(${d.value}));
      |    }
      |  }
      |}""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ExactHi =
    copy(hi = c(0), lo = c(1), loNext = c(2), scaled = c(3), side = c(4))
}

/** One word of the sum of two partial totals ([[Exact.mergeHi]]; the low
  * word is a wrapping add). */
case class ExactMerge(hiL: Expression, loL: Expression, hiR: Expression,
    loR: Expression, high: Boolean) extends Expression {
  override def children: Seq[Expression] = Seq(hiL, loL, hiR, loR)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val Seq(hl, ll, hr, lr) = children.map(_.eval(input).asInstanceOf[Long])
    if (high) Exact.mergeHi(hl, ll, hr, lr) else ll + lr
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(hl, ll, hr, lr) = children.map(_.genCode(ctx))
    val value =
      if (high) s"graft.engine.Exact.mergeHi(${hl.value}, ${ll.value}, ${hr.value}, ${lr.value})"
      else s"${ll.value} + ${lr.value}"
    ev.copy(code = code"""
      |${hl.code}
      |${ll.code}
      |${hr.code}
      |${lr.code}
      |long ${ev.value} = $value;""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ExactMerge =
    copy(hiL = c(0), loL = c(1), hiR = c(2), loR = c(3))
}

/** The total as a DECIMAL(38,10) value; null once it has overflowed, which
  * `CheckOverflowInSum` turns into Spark's own error (or null without
  * ANSI). */
case class ExactTotal(hi: Expression, lo: Expression) extends BinaryExpression {
  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = Exact.Dec
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any =
    Exact.total(hi.eval(input).asInstanceOf[Long], lo.eval(input).asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = hi.genCode(ctx)
    val l = lo.genCode(ctx)
    ev.copy(code = code"""
      |${h.code}
      |${l.code}
      |Decimal ${ev.value} = graft.engine.Exact.total(${h.value}, ${l.value});
      |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExactTotal =
    copy(hi = newLeft, lo = newRight)
}
