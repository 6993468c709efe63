package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Decimal-accumulated dot product — the codegen form of the
  * cross-engine-reproducible scoring fold
  * {{{
  * aggregate(zip_with(a, b, (x, y) => (x * y).cast("decimal(18,6)")),
  *           lit(BigDecimal(0)).cast("decimal(28,6)"),
  *           (acc, z) => (acc + z).cast("decimal(28,6)")).cast("double")
  * }}}
  * measured (PERF.md finding 40, x400 rung; the deleted DecProfile:
  * `git show 2262a09:src/main/scala/graft/tools/DecProfile.scala`) at
  * 4.99 s where the same projection in double HOFs costs 0.69 s and a
  * codegen loop 0.16 s: ~86% of the cost is the per-element decimal
  * boxing (Double.toString → BigDecimal → Decimal per product, plus
  * boxed lambda plumbing), the rest interpreted HOF evaluation
  * (finding 1/16). This expression keeps the VALUE SEMANTICS of the
  * fold bit-for-bit and drops both costs:
  *
  *  - fast path: each product quantizes to its 6-dp scaled long by
  *    primitive arithmetic, summed exactly in a long (a decimal(28,6)
  *    accumulator cannot overflow while its unscaled value fits a
  *    long, so no per-step precision check is needed);
  *  - the quantization matches Spark's double→decimal cast EXACTLY:
  *    the cast rounds the SHORTEST DECIMAL REPRESENTATION of the
  *    double (BigDecimal.valueOf semantics) HALF_UP, which primitive
  *    arithmetic reproduces whenever the scaled value is not within
  *    (1e-9 + |r|·1e-14) of a .5 tie — ~30× the combined double
  *    representation+scaling error bound of ~3.3e-16·|r| — and any
  *    element NEAR a tie falls back to the exact BigDecimal path;
  *  - every anomaly the fold handles specially — null elements or
  *    length mismatch (zip_with pads with nulls: the whole result is
  *    NULL), non-finite products, products at decimal(18,6) overflow
  *    risk (|p| ≥ 1e11), a long-overflowing accumulator — reroutes the
  *    WHOLE row to a slow path that replays the fold through Spark's
  *    own [[org.apache.spark.sql.types.Decimal]] ops, including the
  *    evaluate-all-products-then-fold order (a later element's ANSI
  *    cast error must surface even when an earlier null already made
  *    the result NULL) and ANSI throw/non-ANSI null on overflow.
  *
  * Inputs must already be array<double> (the [[DecFunctions]] wrappers
  * cast — float arrays widen exactly, matching the HOF's x.cast). Norm
  * is `decDot(a, a)`: the HOF norm quantizes x² per element exactly
  * like the dot quantizes x·y. Bit-identity is pinned by
  * DecExpressionsSpec's property run against the literal HOF chain.
  *
  * SCOPE of the bit-identity claim (ADVICE r20): it covers VALUES and
  * null/overflow BEHAVIOR, not the error SURFACE — the ANSI slow path
  * throws a bare [[ArithmeticException]] with a dec_dot-prefixed
  * message where the HOF fold throws Spark's classed errors
  * (NUMERIC_VALUE_OUT_OF_RANGE / CAST_OVERFLOW with SQLSTATE). Callers
  * matching Spark error classes or SQLSTATEs on this path will see the
  * graft message instead; DecExpressionsSpec's overflow test matches
  * loosely BY DESIGN. No registered query catches these errors (ANSI
  * overflow here means the query fails either way). */
case class DecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    DecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = graft.functions.DecDot.dot($x, $y);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DecDot =
    copy(left = newLeft, right = newRight)
}

object DecDot {

  /** One static call per row (the WinnowFingerprints pattern): the fast
    * path allocates nothing; null means the SQL fold's NULL. */
  def dot(x: ArrayData, y: ArrayData): java.lang.Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    if (nx != ny) return slowDot(x, y) // zip_with pads with nulls
    var acc = 0L
    var i = 0
    while (i < nx) {
      if (x.isNullAt(i) || y.isNullAt(i)) return slowDot(x, y)
      val p = x.getDouble(i) * y.getDouble(i)
      // anomalies reroute: non-finite (cast error/null), decimal(18,6)
      // overflow risk, or a scaled value near a .5 tie where primitive
      // rounding could diverge from shortest-repr rounding
      if (!(java.lang.Math.abs(p) < 1e11)) return slowDot(x, y)
      val r = p * 1e6
      val fl = java.lang.Math.floor(r)
      val f = r - fl
      if (java.lang.Math.abs(f - 0.5) <= 1e-9 + java.lang.Math.abs(r) * 1e-14)
        return slowDot(x, y)
      val q = fl.toLong + (if (f > 0.5) 1L else 0L)
      val next = acc + q
      // overflow check (|q| < 1e17 and |acc| would need ~1e17 terms to
      // wrap, but stay exact): hand the row to the slow path on wrap
      if (((acc ^ next) & (q ^ next)) < 0) return slowDot(x, y)
      acc = next
      i += 1
    }
    java.lang.Double.valueOf(
      java.math.BigDecimal.valueOf(acc, 6).doubleValue())
  }

  /** The reference fold through Spark's own Decimal ops — zip_with's
    * evaluate-every-product order first (ANSI errors surface even past
    * a null), then the fold with the per-step decimal(28,6) precision
    * check. Runs only for anomalous rows. */
  private def slowDot(x: ArrayData, y: ArrayData): java.lang.Double = {
    import org.apache.spark.sql.types.Decimal
    val ansi = org.apache.spark.sql.graft.ColumnShim.ansiEnabled
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.max(nx, ny)
    val products = new Array[Decimal](n) // null slot = null product
    var anyNull = false
    var i = 0
    while (i < n) {
      if (i >= nx || i >= ny || x.isNullAt(i) || y.isNullAt(i)) anyNull = true
      else {
        val p = x.getDouble(i) * y.getDouble(i)
        if (java.lang.Double.isNaN(p) || java.lang.Double.isInfinite(p)) {
          // Spark's double→decimal cast: error under ANSI, null else
          if (ansi) throw new ArithmeticException(
            s"dec_dot: cannot cast non-finite product $p to DECIMAL(18,6) " +
              "under ANSI mode (the aggregate(zip_with(..)) fold this " +
              "expression replaces throws here too)")
          anyNull = true
        } else {
          val d = Decimal(p)
          if (!d.changePrecision(18, 6)) {
            if (ansi) throw new ArithmeticException(
              s"dec_dot: product $p out of range for DECIMAL(18,6) under " +
                "ANSI mode (the fold this expression replaces throws here too)")
            anyNull = true
          } else products(i) = d
        }
      }
      i += 1
    }
    if (anyNull) return null
    var acc = Decimal(scala.math.BigDecimal(0), 28, 6)
    i = 0
    while (i < n) {
      acc = acc + products(i)
      if (!acc.changePrecision(28, 6)) {
        if (ansi) throw new ArithmeticException(
          "dec_dot: accumulator out of range for DECIMAL(28,6) under ANSI " +
            "mode (the fold this expression replaces throws here too)")
        return null
      }
      i += 1
    }
    java.lang.Double.valueOf(acc.toDouble)
  }
}

/** Column-level entry points, the [[VecFunctions]] shape. */
object DecFunctions {
  private def d(c: Column): Expression =
    ColumnShim.expression(c.cast("array<double>"))
  /** Σ round6(aᵢ·bᵢ) as an exact decimal fold, emitted as double. */
  def decDot(a: Column, b: Column): Column = ColumnShim.column(DecDot(d(a), d(b)))
  /** Σ round6(aᵢ²) — the self-dot. */
  def decNorm(a: Column): Column = { val e = d(a); ColumnShim.column(DecDot(e, e)) }
}
