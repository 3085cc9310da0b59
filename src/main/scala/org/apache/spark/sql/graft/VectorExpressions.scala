package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over ArrayType(DoubleType)
  * columns (ArrayType(FloatType) inputs are implicitly up-cast).
  *
  * These run inside whole-stage codegen — a tight primitive loop per row —
  * instead of the boxed per-element lambda evaluation that
  * `zip_with`+`aggregate` higher-order functions pay. On a 100 TB
  * embedding corpus the dot-product inner loop is the single hottest
  * instruction stream in similarity search, which is why this is a
  * custom `Expression` and not a UDF (UDFs also break codegen and
  * serialize row-by-row).
  *
  * Lives under `org.apache.spark.sql` because `AbstractDataType` /
  * `ImplicitCastInputTypes` are `private[sql]` in Spark 4 — the usual
  * placement for extension libraries that define native expressions.
  */
object VectorExpressions {

  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_dot"

    protected override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** cos(a,b) = dot(a,b) / (||a||·||b||), one fused pass over both arrays. */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_cosine"

    protected override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = x.getDouble(i); val yv = y.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
           |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  case class L2Norm(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_norm"

    protected override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
      math.sqrt(s)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val v = ctx.freshName("v")
        s"""
           |int $n = $a.numElements();
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $v = $a.getDouble($i); $s += $v * $v;
           |}
           |${ev.value} = java.lang.Math.sqrt($s);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** |a ∩ b| for two SORTED ArrayType(LongType) columns via a two-pointer
    * merge — zero allocation, runs inside whole-stage codegen. Spark's
    * built-in `array_intersect` materializes a hash set per row (~100×
    * slower on small primitive arrays), which makes it the bottleneck of
    * set-similarity verify joins; this is the codegen'd replacement.
    * Inputs MUST be sorted ascending (e.g. via `array_sort`) — the
    * caller owns that invariant. */
  case class SortedIntersectSize(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_sorted_isect"

    protected override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val nx = x.numElements(); val ny = y.numElements()
      var i = 0; var j = 0; var c = 0
      while (i < nx && j < ny) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv < yv) i += 1
        else if (xv > yv) j += 1
        else { c += 1; i += 1; j += 1 }
      }
      c
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        val nx = ctx.freshName("nx")
        val ny = ctx.freshName("ny")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        s"""
           |int $nx = $a.numElements(); int $ny = $b.numElements();
           |int $i = 0; int $j = 0; int $c = 0;
           |while ($i < $nx && $j < $ny) {
           |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
           |  if ($xv < $yv) { $i++; }
           |  else if ($xv > $yv) { $j++; }
           |  else { $c++; $i++; $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** All 8 sign-LSH band codes of a vector in ONE codegen'd pass:
    * code_b = Σ_k 2^k·[dot(v, plane_{b·8+k}) ≥ 0]. The 64 md5-derived
    * ±1 hyperplanes live in a static flat matrix referenced once per
    * generated class — expressing the same thing as 64 separate
    * dot-product expressions generates a method too large for JIT and
    * silently runs interpreted (~30× slower per row; measured on the
    * v08 band build). Long codes also make the band self-join key a
    * primitive (band, code) pair instead of a string. */
  case class LshBandCodes(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    import LshBandCodes._
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "graft_lsh_bands"

    protected override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), Dim)
      val codes = new Array[Long](Bands)
      var b = 0
      while (b < Bands) {
        var code = 0L
        var k = 0
        while (k < Bits) {
          val off = (b * Bits + k) * Dim
          var s = 0.0
          var g = 0
          while (g < n) { s += x.getDouble(g) * Planes(off + g); g += 1 }
          if (s >= 0) code |= 1L << k
          k += 1
        }
        codes(b) = code
        b += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val planes = ctx.addReferenceObj("lshPlanes", Planes, "double[]")
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n")
        val codes = ctx.freshName("codes")
        val b = ctx.freshName("b")
        val k = ctx.freshName("k")
        val g = ctx.freshName("g")
        val s = ctx.freshName("s")
        val code = ctx.freshName("code")
        val off = ctx.freshName("off")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $Dim);
           |long[] $codes = new long[$Bands];
           |for (int $b = 0; $b < $Bands; $b++) {
           |  long $code = 0L;
           |  for (int $k = 0; $k < $Bits; $k++) {
           |    int $off = ($b * $Bits + $k) * $Dim;
           |    double $s = 0.0;
           |    for (int $g = 0; $g < $n; $g++) {
           |      $s += $a.getDouble($g) * $planes[$off + $g];
           |    }
           |    if ($s >= 0) $code |= 1L << $k;
           |  }
           |  $codes[$b] = $code;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object LshBandCodes {
    val Bands = 8
    val Bits = 8
    val Dim = 64
    /** Flat (plane-major) ±1 matrix: entry (j, g) is the parity of
      * md5("g:j")'s first hex digit — reproducible integer-exactly in
      * DuckDB (`substr(md5(...), 1, 1)`), cryptographically
      * decorrelated across planes. */
    val Planes: Array[Double] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = new Array[Double](Bands * Bits * Dim)
      var j = 0
      while (j < Bands * Bits) {
        var g = 0
        while (g < Dim) {
          val hex = md.digest(s"$g:$j".getBytes("UTF-8"))
          md.reset()
          out(j * Dim + g) = if (((hex(0) >> 4) & 1) == 0) 1.0 else -1.0
          g += 1
        }
        j += 1
      }
      out
    }
  }

  /** Typed Column constructors: how DataFrame code calls these
    * expressions. Each builds its case class directly, so a query writes
    * no session state and resolves no name. SQL reaches the same classes
    * by name through [[GraftExtensions]]. */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
  def norm(a: Column): Column = column(L2Norm(expression(a)))
  def sortedIsect(a: Column, b: Column): Column =
    column(SortedIntersectSize(expression(a), expression(b)))
  def lshBands(v: Column): Column = column(LshBandCodes(expression(v)))

  /** Every `graft_*` SQL function — name, expression class (for the
    * injected `ExpressionInfo`), builder — read by [[GraftExtensions]]. */
  private[graft] val builders
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct], es => DotProduct(es(0), es(1))),
    ("graft_cosine", classOf[CosineSimilarity],
      es => CosineSimilarity(es(0), es(1))),
    ("graft_norm", classOf[L2Norm], es => L2Norm(es.head)),
    ("graft_sorted_isect", classOf[SortedIntersectSize],
      es => SortedIntersectSize(es(0), es(1))),
    ("graft_lsh_bands", classOf[LshBandCodes], es => LshBandCodes(es.head)),
  )
}

/** `withExtensions(new GraftExtensions)` on a session builder — the
  * library-style injection point, equivalent to
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    VectorExpressions.builders.foreach { case (name, cls, b) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), b))
    }
}
