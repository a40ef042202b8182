package graft.curve

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.sql.functions._

/** Native Catalyst expressions for the curve kernels, with whole-stage
  * codegen (`doGenCode` emits a call to the static kernel — stays inside
  * the WholeStageCodegen span, unlike a Scala UDF which breaks it).
  *
  * Children are pre-normalized integer coordinates in [0, 2^bits); use
  * [[CurveExpressions.rankNormalizedCol]] to build them from raw columns.
  */
abstract class CurveExpr extends Expression {
  def bits: Int
  def kernelName: String // static method on graft.curve.Curves

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override lazy val foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (children.isEmpty)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"$prettyName requires at least one coordinate")
    else if (!children.forall(_.dataType == LongType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"$prettyName coordinates must be BIGINT")
    else if (children.length * bits > 63)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"$prettyName: ${children.length} dims x $bits bits > 63")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  protected def kernel(coords: Array[Long]): Long

  override def eval(input: InternalRow): Any = {
    val n = children.length
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null) return null
      arr(i) = v.asInstanceOf[Long]
      i += 1
    }
    kernel(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val arr = ctx.freshName("coords")
    val anyNull =
      if (nullable) gens.map(_.isNull).mkString(" || ") else "false"
    val assigns = gens.zipWithIndex
      .map { case (g, i) => s"$arr[$i] = ${g.value};" }
      .mkString("\n")
    val code =
      code"""
        ${gens.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = $anyNull;
        long ${ev.value} = 0L;
        if (!${ev.isNull}) {
          long[] $arr = new long[${children.length}];
          $assigns
          ${ev.value} = graft.curve.Curves.$kernelName($arr, $bits);
        }
      """
    ev.copy(code = code)
  }
}

case class ZValueExpr(children: Seq[Expression], bits: Int) extends CurveExpr {
  override def prettyName: String = "graft_zvalue"
  override def kernelName: String = "zValue"
  override protected def kernel(c: Array[Long]): Long = Curves.zValue(c, bits)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

case class HilbertValueExpr(children: Seq[Expression], bits: Int) extends CurveExpr {
  override def prettyName: String = "graft_hilbertvalue"
  override def kernelName: String = "hilbertValue"
  override protected def kernel(c: Array[Long]): Long = Curves.hilbertValue(c, bits)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Equi-depth bucket index of a DOUBLE child against pre-computed sorted
  * cut points (rank normalization for curve coordinates). Codegen'd: the
  * cuts array rides along as a referenced object and the per-row work is
  * one binary search, inside the whole-stage span.
  */
case class BucketIndexExpr(child: Expression, cuts: Array[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "graft_bucket_index"
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"$prettyName input must be DOUBLE")

  override protected def nullSafeEval(v: Any): Any =
    Curves.bucketIndex(cuts, v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cutsRef = ctx.addReferenceObj("cuts", cuts, "double[]")
    defineCodeGen(ctx, ev, v => s"graft.curve.Curves.bucketIndex($cutsRef, $v)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CurveExpressions {

  /** Column wrapper: z-value of pre-normalized BIGINT coordinate columns. */
  def zvalue(bits: Int, coords: Column*): Column =
    Bridge.column(ZValueExpr(coords.map(Bridge.expression), bits))

  /** Column wrapper: Hilbert index of pre-normalized coordinate columns. */
  def hilbertvalue(bits: Int, coords: Column*): Column =
    Bridge.column(HilbertValueExpr(coords.map(Bridge.expression), bits))

  /** Raw equi-depth bucket index (count of cuts <= value, in
    * [0, cuts.length]) of a DOUBLE column — `cuts` must be sorted
    * distinct. Monotone in the input, so routing rows by it
    * reproduces the cut boundaries exactly.
    */
  def bucketIndexCol(c: Column, cuts: Array[Double]): Column =
    coalesce(Bridge.column(BucketIndexExpr(Bridge.expression(c), cuts)), lit(0L))

  /** Rank-normalized curve coordinate: equi-depth bucket index against
    * `cuts` (sorted distinct quantile boundaries), spread over the full
    * [0, 2^bits) domain so distinct-poor columns keep their interleave
    * weight. Nulls map to 0, the curve origin.
    */
  def rankNormalizedCol(c: Column, cuts: Array[Double], bits: Int): Column = {
    val idx = Bridge.column(BucketIndexExpr(Bridge.expression(c), cuts))
    val n = cuts.length + 1
    val scale = (1L << bits).toDouble / n
    coalesce(floor(idx * lit(scale)).cast("long"), lit(0L))
  }

  /** Register graft_zvalue / graft_hilbertvalue for SQL use:
    * `graft_zvalue(bits, c1, c2, ...)` — first arg must be a foldable INT.
    */
  def register(spark: SparkSession): Unit = {
    def builder(make: (Seq[Expression], Int) => Expression)
        : Seq[Expression] => Expression = {
      case Literal(b: Int, IntegerType) +: coords if coords.nonEmpty =>
        make(coords, b)
      case _ =>
        throw new IllegalArgumentException(
          "usage: f(bits INT literal, coord BIGINT, ...)")
    }
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(
      FunctionIdentifier("graft_zvalue"),
      new ExpressionInfo(classOf[ZValueExpr].getName, "graft_zvalue"),
      builder(ZValueExpr(_, _)))
    reg.registerFunction(
      FunctionIdentifier("graft_hilbertvalue"),
      new ExpressionInfo(classOf[HilbertValueExpr].getName, "graft_hilbertvalue"),
      builder(HilbertValueExpr(_, _)))
  }
}
