package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for the hot vector kernels (SURVEY.md
  * §7.2's optional perf tier): unlike Scala UDFs they read `ArrayData`
  * in place (no per-row array materialization, no boxing) and generate Java
  * directly into whole-stage codegen, fusing with the surrounding join/agg
  * loop. The fold is the same left-to-right IEEE order as the declarative
  * `aggregate(zip_with(...))` form and the DuckDB oracle — bit-identical.
  */
abstract class ArrayFoldExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  /** Java source for one element step: updates accumulator `s` from `a`,`b`,`i`. */
  protected def stepJava(s: String, a: String, b: String, i: String): String
  protected def stepEval(x: ArrayData, y: ArrayData, i: Int): Double

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += stepEval(x, y, i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${stepJava(s, a, b, i)}
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}

/** Σ a[i]·b[i] */
case class ArrayDot(left: Expression, right: Expression) extends ArrayFoldExpression {
  override protected def stepJava(s: String, a: String, b: String, i: String): String =
    s"$s += $a.getDouble($i) * $b.getDouble($i);"
  override protected def stepEval(x: ArrayData, y: ArrayData, i: Int): Double =
    x.getDouble(i) * y.getDouble(i)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayDot = copy(l, r)
  override def prettyName: String = "array_dot"
}

/** Σ (a[i]−b[i])² */
case class ArraySqDist(left: Expression, right: Expression) extends ArrayFoldExpression {
  override protected def stepJava(s: String, a: String, b: String, i: String): String =
    s"""double d = $a.getDouble($i) - $b.getDouble($i); $s += d * d;"""
  override protected def stepEval(x: ArrayData, y: ArrayData, i: Int): Double = {
    val d = x.getDouble(i) - y.getDouble(i); d * d
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArraySqDist = copy(l, r)
  override def prettyName: String = "array_sqdist"
}

/** Index of the nearest of K prototypes (squared L2) to an `array<double>`
  * row: the SOM best-matching-unit search as ONE expression. The K×d
  * prototypes are one row-major `double[]` handed to codegen as a
  * reference object, so the generated code and the plan string are the
  * same size for any K.
  *
  * Float discipline: each distance is the left-to-right fold of
  * [[ArraySqDist]] (bit-identical to `Vectors.sqdist` and the oracle's
  * sums); the argmin keeps the FIRST minimum and orders NaN above every
  * number, exactly like `array_position(d, array_min(d))` and the oracle's
  * `row_number() OVER (ORDER BY d2, cell)`: ties go to the lower index, an
  * all-NaN row maps to 0. A null row yields null; a row whose length is not
  * d throws. Interpreted eval and codegen both call [[ArrayArgminSqDist.argmin]].
  */
case class ArrayArgminSqDist(child: Expression, prototypes: Array[Double], dim: Int)
    extends UnaryExpression {
  require(dim > 0 && prototypes.nonEmpty && prototypes.length % dim == 0,
    s"prototypes must be a non-empty K×$dim matrix, got ${prototypes.length} values")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<double> argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any =
    ArrayArgminSqDist.argmin(v.asInstanceOf[ArrayData], prototypes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("prototypes", prototypes, "double[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.ArrayArgminSqDist.argmin($v, $p, $dim)")
  }

  override def toString: String = s"$prettyName($child, K=${prototypes.length / dim}, d=$dim)"
  override protected def withNewChildInternal(c: Expression): ArrayArgminSqDist = copy(child = c)
  override def prettyName: String = "array_argmin_sqdist"
}

object ArrayArgminSqDist {
  /** Row-major copy of K equal-length prototypes, the layout the kernel reads. */
  def flatten(prototypes: Seq[Array[Double]]): Array[Double] = {
    require(prototypes.nonEmpty && prototypes.forall(_.length == prototypes.head.length),
      s"prototypes must be non-empty and of equal length, got lengths " +
        prototypes.map(_.length).distinct.mkString(","))
    Array.concat(prototypes: _*)
  }

  /** The one loop both eval paths run: the row is copied out once (d
    * doubles), then the K distances are scanned over primitive arrays. */
  def argmin(x: ArrayData, prototypes: Array[Double], dim: Int): Int = {
    val n = x.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"array_argmin_sqdist: feature array has $n elements but the prototypes have $dim")
    val a = x.toDoubleArray()
    var best = 0
    var bestD = Double.NaN
    var c = 0
    var off = 0
    while (off < prototypes.length) {
      var s = 0.0
      var i = 0
      while (i < dim) {
        val d = a(i) - prototypes(off + i)
        s += d * d
        i += 1
      }
      // s < bestD with NaN ordered last: a number always beats NaN
      if (s == s && !(s >= bestD)) { best = c; bestD = s }
      c += 1
      off += dim
    }
    best
  }
}

object ArrayVectorExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def arrayDot(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def arraySqDist(a: Column, b: Column): Column =
    ColumnBridge.column(ArraySqDist(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** BMU index of `features` among the row-major K×`dim` `prototypes`. */
  def argminSqDist(features: Column, prototypes: Array[Double], dim: Int): Column =
    ColumnBridge.column(ArrayArgminSqDist(ColumnBridge.expression(features), prototypes, dim))

  /** Make `array_dot` / `array_sqdist` callable from `spark.sql(...)` text. */
  def registerSqlFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    ColumnBridge.registerFunction(spark, "array_dot", args => ArrayDot(args(0), args(1)))
    ColumnBridge.registerFunction(spark, "array_sqdist", args => ArraySqDist(args(0), args(1)))
  }

  /** Runtime registration of EVERY graft native kernel on a live session —
    * the post-build sibling of [[graft.GraftExtensions]] (same function
    * names, same constructors). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    registerSqlFunctions(spark)
    ColumnBridge.registerFunction(spark, "space_tokens", args => SpaceTokens(args(0)))
    ColumnBridge.registerFunction(spark, "shingles3", args => Shingles3(args(0)))
    ColumnBridge.registerFunction(spark, "rolling_hash", args => RollingHash(args(0)))
    ColumnBridge.registerFunction(spark, "md5_prefix60", args => Md5Prefix60(args(0)))
    ColumnBridge.registerFunction(spark, "bpe_count", args => BpeCount(args(0)))
    ColumnBridge.registerFunction(spark, "bpe_tokenize", args => BpeTokenize(args(0)))
    ColumnBridge.registerFunction(spark, "nfc_normalize", args => NfcNormalize(args(0)))
    ColumnBridge.registerFunction(spark, "segments_n", args =>
      SegmentsN(args(0), args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(w, _) =>
          w.toString.toInt
        case other => throw new IllegalArgumentException(
          s"segments_n width must be a literal, got $other")
      }))
    // the custom AGGREGATE: the registry builder returns the raw
    // AggregateFunction and the analyzer wraps it (distinct/filter)
    ColumnBridge.registerFunction(spark, "kmv_agg", args =>
      KmvAgg(args(0), args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(k, _) =>
          k.toString.toInt
        case other => throw new IllegalArgumentException(
          s"kmv_agg k must be a literal, got $other")
      }))
  }
}
