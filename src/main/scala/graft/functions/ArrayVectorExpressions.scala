package graft.functions

import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
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

/** The nearest of K prototypes (squared L2) to an `array<double>` or
  * VectorUDT row, read in place: the SOM best-matching-unit search as ONE
  * expression, giving the cell index (`int`) or with `distance` its
  * squared distance (`double`). The K×d prototypes are one row-major
  * `double[]` handed to codegen as a reference object, so the generated
  * code and the plan string are the same size for any K.
  *
  * Both eval paths run the one BMU kernel, [[ArrayArgminSqDist.nearest]]:
  * its argmin orders exactly like `array_position(d, array_min(d))` and the
  * oracle's `row_number() OVER (ORDER BY d2, cell)`. A null row, or an
  * `array<double>` row holding a null element, yields null; a row whose
  * length is not d throws.
  */
case class ArrayArgminSqDist(child: Expression, prototypes: Array[Double], dim: Int,
                             distance: Boolean = false)
    extends UnaryExpression {
  require(dim > 0 && prototypes.nonEmpty && prototypes.length % dim == 0,
    s"prototypes must be a non-empty K×$dim matrix, got ${prototypes.length} values")

  override def dataType: DataType = if (distance) DoubleType else IntegerType

  /** Rows of an array type that admits null elements are scanned for them. */
  private def elementNulls: Boolean = PartialFunction.cond(child.dataType) { case ArrayType(_, n) => n }
  override def nullable: Boolean = child.nullable || elementNulls

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | SQLDataTypes.VectorType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<double> or vector argument, got ${other.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = {
    import ArrayArgminSqDist._
    val x = v match { case r: InternalRow => features(r); case a: ArrayData => features(a, elementNulls) }
    if (x == null) null else if (distance) minSqDist(x, prototypes, dim) else argmin(x, prototypes, dim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("prototypes", prototypes, "double[]")
    val (o, out) = ("graft.functions.ArrayArgminSqDist", if (distance) "minSqDist" else "argmin")
    val x = ctx.freshName("x")
    val nulls = if (child.dataType.isInstanceOf[ArrayType]) s", $elementNulls" else ""
    val onNull = if (elementNulls) s"if ($x == null) ${ev.isNull} = true; else " else ""
    nullSafeCodeGen(ctx, ev, v =>
      s"double[] $x = $o.features($v$nulls);\n$onNull${ev.value} = $o.$out($x, $p, $dim);")
  }

  override def toString: String =
    s"$prettyName($child, K=${prototypes.length / dim}, d=$dim${if (distance) ", distance" else ""})"
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

  /** One `array<double>` row, copied out once (d doubles); null when `nulls`
    * is set and the row holds a null element, which the copy reads as 0.0. */
  def features(x: ArrayData, nulls: Boolean): Array[Double] = {
    var i = 0
    while (nulls && i < x.numElements()) { if (x.isNullAt(i)) return null; i += 1 }
    x.toDoubleArray()
  }

  /** One VectorUDT row `(type, size, indices, values)` as `Vector.toArray`
    * gives it: dense values copied once, a sparse row densified. */
  def features(v: InternalRow): Array[Double] = {
    val values = v.getArray(3)
    if (v.getByte(0) == 1) return values.toDoubleArray()
    val (out, indices) = (new Array[Double](v.getInt(1)), v.getArray(2))
    var i = 0
    while (i < indices.numElements()) { out(indices.getInt(i)) = values.getDouble(i); i += 1 }
    out
  }

  /** The index of, or the squared distance to, the prototype nearest to `x`. */
  def argmin(x: Array[Double], prototypes: Array[Double], dim: Int): Int = nearest(x, prototypes, dim)._1
  def minSqDist(x: Array[Double], prototypes: Array[Double], dim: Int): Double = nearest(x, prototypes, dim)._2

  /** The one best-matching-unit kernel, behind every SOM argmin: (index,
    * squared distance) of the prototype nearest to `x` among the row-major
    * K×`dim` `prototypes`. [[nearestOf]] over every prototype. */
  def nearest(x: Array[Double], prototypes: Array[Double], dim: Int): (Int, Double) =
    nearestOf(x, prototypes, dim, null, prototypes.length / dim)

  /** The exact fold behind [[nearest]] and the training scan's refine
    * (`graft.som.BlockNearest`): the nearest of the first `n` prototypes
    * listed in `cells` (ascending), or of prototypes 0 until `n` when
    * `cells` is null. Four prototypes share each pass over `x`, each with
    * its own accumulator, so four add chains overlap; the `n` mod 4 tail
    * takes one at a time. Each accumulator is the left-to-right `Σ(a−p)²`
    * fold, bit-identical to `Vectors.sqdist`. Distances are compared in
    * list order with NaN above every number: the first minimum wins, and a
    * row with no non-NaN distance maps to (first listed, NaN). A row whose
    * length is not `dim` throws, naming both lengths. */
  private[graft] def nearestOf(x: Array[Double], prototypes: Array[Double], dim: Int,
                               cells: Array[Int], n: Int): (Int, Double) = {
    if (x.length != dim) throw new IllegalArgumentException(
      s"feature array has ${x.length} elements but the prototypes have $dim")
    @inline def cell(j: Int): Int = if (cells == null) j else cells(j)
    var best = cell(0)
    var bestD = Double.NaN
    var j = 0
    while (j + 4 <= n) {
      val c0 = cell(j); val c1 = cell(j + 1); val c2 = cell(j + 2); val c3 = cell(j + 3)
      val o0 = c0 * dim; val o1 = c1 * dim; val o2 = c2 * dim; val o3 = c3 * dim
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var i = 0
      while (i < dim) {
        val a = x(i)
        val d0 = a - prototypes(o0 + i); s0 += d0 * d0
        val d1 = a - prototypes(o1 + i); s1 += d1 * d1
        val d2 = a - prototypes(o2 + i); s2 += d2 * d2
        val d3 = a - prototypes(o3 + i); s3 += d3 * d3
        i += 1
      }
      if (closer(s0, bestD)) { best = c0; bestD = s0 }
      if (closer(s1, bestD)) { best = c1; bestD = s1 }
      if (closer(s2, bestD)) { best = c2; bestD = s2 }
      if (closer(s3, bestD)) { best = c3; bestD = s3 }
      j += 4
    }
    while (j < n) {
      val c = cell(j); val o = c * dim; var s = 0.0; var i = 0
      while (i < dim) { val d = x(i) - prototypes(o + i); s += d * d; i += 1 }
      if (closer(s, bestD)) { best = c; bestD = s }
      j += 1
    }
    (best, bestD)
  }

  /** s < bestD with NaN ordered last: a number always beats NaN. */
  @inline private def closer(s: Double, bestD: Double): Boolean = s == s && !(s >= bestD)
}

object ArrayVectorExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def arrayDot(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def arraySqDist(a: Column, b: Column): Column =
    ColumnBridge.column(ArraySqDist(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** BMU index (or with `distance` its squared distance) of `features`
    * among the row-major K×`dim` `prototypes`. */
  def argminSqDist(features: Column, prototypes: Array[Double], dim: Int,
                   distance: Boolean = false): Column =
    ColumnBridge.column(ArrayArgminSqDist(ColumnBridge.expression(features), prototypes, dim, distance))

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
