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

  /** Arrays of a type that admits null elements are scanned for them: a
    * null element scores null, as in `ArrayArgminSqDist`. */
  private def elementNulls(e: Expression): Boolean =
    PartialFunction.cond(e.dataType) { case ArrayType(_, n) => n }
  override def nullable: Boolean =
    left.nullable || right.nullable || elementNulls(left) || elementNulls(right)

  /** Java source for one element step: updates accumulator `s` from `a`,`b`,`i`. */
  protected def stepJava(s: String, a: String, b: String, i: String): String
  protected def stepEval(x: ArrayData, y: ArrayData, i: Int): Double

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) throw lengthMismatch(n, y.numElements())
    val (xNulls, yNulls) = (elementNulls(left), elementNulls(right))
    var s = 0.0
    var i = 0
    while (i < n) {
      if ((xNulls && x.isNullAt(i)) || (yNulls && y.isNullAt(i))) return null
      s += stepEval(x, y, i)
      i += 1
    }
    s
  }

  /** Arrays of different lengths are an error, not a fold over the shorter
    * (or past its end). */
  def lengthMismatch(n: Int, m: Int): IllegalArgumentException =
    new IllegalArgumentException(s"$prettyName: the arrays have $n and $m elements")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val Seq(i, n, s, hasNull) = Seq("i", "n", "s", "hasNull").map(ctx.freshName)
      val self = ctx.addReferenceObj("fold", this)
      val nullTests = Seq(left -> a, right -> b).collect { case (e, v) if elementNulls(e) => s"$v.isNullAt($i)" }
      val (onNull, result) =
        if (nullTests.isEmpty) ("", s"${ev.value} = $s;")
        else (s"if (${nullTests.mkString(" || ")}) { $hasNull = true; break; }",
          s"if ($hasNull) ${ev.isNull} = true; else ${ev.value} = $s;")
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) throw $self.lengthMismatch($n, $b.numElements());
         |double $s = 0.0;
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  $onNull
         |  ${stepJava(s, a, b, i)}
         |}
         |$result
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
  * squared distance (`double`). The prototypes are a [[BmuFold]] handed to
  * codegen as a reference object, so the generated code and the plan string
  * are the same size for any K; generated code keeps one K-double distance
  * buffer per instance (a partition), interpreted eval allocates one per
  * row.
  *
  * Both eval paths run the one BMU kernel, [[BmuFold.argmin]]: its argmin
  * orders exactly like `array_position(d, array_min(d))` and the oracle's
  * `row_number() OVER (ORDER BY d2, cell)`. A null row, or an
  * `array<double>` row holding a null element, yields null; a row whose
  * length is not d throws.
  */
case class ArrayArgminSqDist(child: Expression, prototypes: BmuFold, distance: Boolean = false)
    extends UnaryExpression {

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
    if (x == null) return null
    val acc = new Array[Double](prototypes.k)
    val cell = prototypes.argmin(x, acc)
    if (distance) acc(cell) else cell
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("prototypes", prototypes)
    val acc = ctx.addMutableState("double[]", "bmuDistances", v => s"$v = new double[${prototypes.k}];")
    val Seq(x, cell) = Seq("x", "cell").map(ctx.freshName)
    val nulls = if (child.dataType.isInstanceOf[ArrayType]) s", $elementNulls" else ""
    val onNull = if (elementNulls) s"if ($x == null) ${ev.isNull} = true; else " else ""
    nullSafeCodeGen(ctx, ev, v =>
      s"""double[] $x = graft.functions.ArrayArgminSqDist.features($v$nulls);
         |$onNull{
         |  int $cell = $p.argmin($x, $acc);
         |  ${ev.value} = ${if (distance) s"$acc[$cell]" else cell};
         |}""".stripMargin)
  }

  override def toString: String =
    s"$prettyName($child, K=${prototypes.k}, d=${prototypes.dim}${if (distance) ", distance" else ""})"
  override protected def withNewChildInternal(c: Expression): ArrayArgminSqDist = copy(child = c)
  override def prettyName: String = "array_argmin_sqdist"
}

object ArrayArgminSqDist {
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
}

/** The one best-matching-unit kernel, behind every SOM argmin (`fit`,
  * `transform`, `computeCost`, `predict` and the catalog's prototype
  * assignment) and every k-means distance: K prototypes of d components,
  * held component-major — `columns(i)(k)` is component i of prototype k —
  * built once per model, broadcast or expression and only read after, so
  * one instance serves any number of threads. [[BmuFold.cosine]] ranks
  * the same prototypes by cosine instead. */
sealed class BmuFold private[functions] (protected val columns: Array[Array[Double]])
    extends Serializable {
  val dim: Int = columns.length
  val k: Int = columns(0).length

  /** The index of the prototype nearest to `x` (squared L2). `acc`, K
    * doubles of the caller's scratch, is overwritten with every prototype's
    * squared distance, so `acc(index)` is the winner's.
    *
    * Each pass reads four components of `x` and adds their four squared
    * differences into every prototype's accumulator: the inner loop runs
    * over the K prototypes, so the JIT vectorises it across them, and
    * `acc + t0² + t1² + t2² + t3²` adds left to right, so each `acc(k)` is
    * the left-to-right `Σ(x_i − p_ki)²` fold of `Vectors.sqdist`, bit for
    * bit. One index-order pass then picks the smallest with NaN above every
    * number: the first minimum wins, and a row with no non-NaN distance
    * maps to (0, NaN). A row whose length is not d throws, naming both
    * lengths. */
  def argmin(x: Array[Double], acc: Array[Double]): Int = {
    if (x.length != dim) throw lengthMismatch(x)
    java.util.Arrays.fill(acc, 0, k, 0.0)
    var i = 0
    while (i + 4 <= dim) {
      val x0 = x(i); val x1 = x(i + 1); val x2 = x(i + 2); val x3 = x(i + 3)
      val p0 = columns(i); val p1 = columns(i + 1); val p2 = columns(i + 2); val p3 = columns(i + 3)
      var c = 0
      while (c < k) {
        val t0 = x0 - p0(c); val t1 = x1 - p1(c); val t2 = x2 - p2(c); val t3 = x3 - p3(c)
        acc(c) = acc(c) + t0 * t0 + t1 * t1 + t2 * t2 + t3 * t3
        c += 1
      }
      i += 4
    }
    while (i < dim) {
      val xi = x(i); val p = columns(i)
      var c = 0
      while (c < k) { val t = xi - p(c); acc(c) += t * t; c += 1 }
      i += 1
    }
    nearest(acc)
  }

  protected final def lengthMismatch(x: Array[Double]) = new IllegalArgumentException(
    s"feature array has ${x.length} elements but the prototypes have $dim")

  /** The index of the smallest of the K distances in `acc`, NaN above every
    * number, the first minimum on ties. */
  protected final def nearest(acc: Array[Double]): Int = {
    var best = 0
    var bestD = Double.NaN
    var c = 0
    while (c < k) {
      val s = acc(c)
      if (s == s && !(s >= bestD)) { best = c; bestD = s } // s < bestD, NaN last
      c += 1
    }
    best
  }
}

/** [[BmuFold]] ranked by negated cosine: `argmin` fills `acc(k)` with
  * `-(dot(x, p_k) / (norm2(x) * norm2(p_k)))`, each dot product and norm
  * the left-to-right fold of `array_dot`, so the value is the negation of
  * `dotFast(x, p) / (norm2Fast(x) * norm2Fast(p))` bit for bit and the
  * index is the relational `ORDER BY cos DESC, cell` pick. Where Spark
  * divides by zero (a zero-norm row or prototype) it throws an
  * IllegalArgumentException naming the prototype and both norms. */
private final class CosineFold(cols: Array[Array[Double]], norms: Array[Double])
    extends BmuFold(cols) {
  override def argmin(x: Array[Double], acc: Array[Double]): Int = {
    if (x.length != dim) throw lengthMismatch(x)
    java.util.Arrays.fill(acc, 0, k, 0.0)
    var xx = 0.0
    var i = 0
    while (i < dim) {
      val xi = x(i); val p = columns(i)
      xx += xi * xi
      var c = 0
      while (c < k) { acc(c) += xi * p(c); c += 1 }
      i += 1
    }
    val nx = math.sqrt(xx)
    var c = 0
    while (c < k) {
      if (nx * norms(c) == 0.0) throw new IllegalArgumentException(
        s"cosine to prototype $c is undefined: the feature row has norm $nx and the prototype ${norms(c)}")
      acc(c) = -(acc(c) / (nx * norms(c)))
      c += 1
    }
    nearest(acc)
  }
}

object BmuFold {
  /** K equal-length prototypes (each a row of d components), transposed once. */
  def apply(prototypes: Seq[Array[Double]]): BmuFold = new BmuFold(transpose(prototypes))

  /** [[apply]]'s prototypes ranked by cosine similarity, most similar first. */
  def cosine(prototypes: Seq[Array[Double]]): BmuFold = new CosineFold(transpose(prototypes),
    prototypes.map(p => math.sqrt(p.foldLeft(0.0)((s, x) => s + x * x))).toArray)

  private def transpose(prototypes: Seq[Array[Double]]): Array[Array[Double]] = {
    require(prototypes.nonEmpty && prototypes.head.nonEmpty &&
      prototypes.forall(_.length == prototypes.head.length),
      s"prototypes must be a non-empty K×d matrix, got lengths " +
        prototypes.map(_.length).distinct.mkString(","))
    Array.tabulate(prototypes.head.length)(i => prototypes.map(_(i)).toArray)
  }
}

object ArrayVectorExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def arrayDot(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def arraySqDist(a: Column, b: Column): Column =
    ColumnBridge.column(ArraySqDist(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** BMU index (or with `distance` its squared distance) of `features`
    * among `prototypes`. */
  def argminSqDist(features: Column, prototypes: BmuFold, distance: Boolean = false): Column =
    ColumnBridge.column(ArrayArgminSqDist(ColumnBridge.expression(features), prototypes, distance))

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
