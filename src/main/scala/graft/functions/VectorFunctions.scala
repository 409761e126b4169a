package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the similarity-search hot loop.
  *
  * `zip_with` + `aggregate` express a dot product correctly but
  * allocate an intermediate array and evaluate a lambda per element;
  * this expression generates a tight primitive loop instead
  * (preference order (b) from the build brief: custom `Expression`
  * over UDF). Falls back to an interpreted path when codegen is off.
  *
  * Inputs must be `array<double>` (cast at the call site). The result
  * is NULL for arrays of different lengths or with a null element, as
  * the `aggregate(zip_with(...))` form gives (see
  * [[VectorFunctions.raggedOrNull]]).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (VectorFunctions.raggedOrNull(x, y)) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |if (graft.functions.VectorFunctions.raggedOrNull($a, $b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 norm — the single-traversal form of `VecDot(x, x)`.
  * Exists because codegen evaluates each child of a BinaryExpression
  * independently: `vec_dot(x, x)` materializes/loads the array twice,
  * while this reads it once. Produced by [[SelfDotToNorm]], so it keeps
  * `VecDot`'s NULL for an array with a null element. */
case class VecNorm2(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (VectorFunctions.hasNull(x)) return null
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      val v = x.getDouble(i)
      s += v * v
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |if (graft.functions.VectorFunctions.hasNull($a)) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    double $v = $a.getDouble($i);
         |    $s += $v * $v;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Squared L2 distance Σ(aᵢ−bᵢ)² as a tight codegen'd loop — the
  * k-means / PQ assignment hot path. The `aggregate(zip_with(a, b,
  * (x, y) -> (x−y)·(x−y)), 0D, (acc, v) -> acc + v)` form it replaces
  * allocates an intermediate array and evaluates TWO interpreted
  * lambdas per element (higher-order functions never enter
  * whole-stage codegen); the accumulation order here is the identical
  * left fold (s += (aᵢ−bᵢ)² in index order, starting from 0.0), so
  * every result is BIT-IDENTICAL to the lambda form and the DuckDB
  * oracles that unroll it — argmin/rounding decisions cannot move.
  * Ragged or null-element inputs give NULL, as the lambda form does. */
case class VecSqDist(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (VectorFunctions.raggedOrNull(x, y)) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |if (graft.functions.VectorFunctions.raggedOrNull($a, $b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All SRP (signed-random-projection) bucket assignments of a vector
  * in ONE pass: for each of `nTables` tables, the `nBits` hyperplane
  * dot-product signs packed into an int bucket id. Returns
  * `array<int>` of length `nTables`.
  *
  * Exists because the composable form — nTables × nBits separate
  * `when(vec_dot(v, lit(plane)) > 0, 1 << j)` columns — evaluates 64+
  * independent expression trees per row, each re-loading the vector,
  * and the resulting projection is too large for tight codegen: the
  * bucket scan measured ~3 s for 10k rows at (8 bits × 8 tables),
  * dominating the whole bucketed near-dup join. This expression walks
  * the flattened plane matrix in one cache-friendly loop (planes ride
  * along as a codegen reference object, not 64 array literals):
  * the same scan drops to ~0.1 s. Plane layout and per-dot float
  * semantics are IDENTICAL to the composable form (sequential
  * multiply-add over i), so bucket ids — and therefore every
  * downstream candidate pair — are bit-for-bit unchanged. */
case class SrpBuckets(child: Expression, planes: Array[Double],
    nBits: Int, nTables: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(planes.length == nTables * nBits * dim, "flattened plane matrix size")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    val out = new Array[Int](nTables)
    var t = 0
    while (t < nTables) {
      var b = 0
      var j = 0
      while (j < nBits) {
        val base = (t * nBits + j) * dim
        var s = 0.0
        var i = 0
        while (i < n) { s += planes(base + i) * v.getDouble(i); i += 1 }
        if (s > 0) b |= 1 << j
        j += 1
      }
      out(t) = b
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val p = ctx.addReferenceObj("planes", planes, "double[]")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val b = ctx.freshName("b")
      val base = ctx.freshName("base")
      s"""
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |int[] $out = new int[$nTables];
         |for (int $t = 0; $t < $nTables; $t++) {
         |  int $b = 0;
         |  for (int $j = 0; $j < $nBits; $j++) {
         |    int $base = ($t * $nBits + $j) * $dim;
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $s += $p[$base + $i] * $a.getDouble($i);
         |    }
         |    if ($s > 0) $b |= 1 << $j;
         |  }
         |  $out[$t] = $b;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Optimizer rule: `vec_dot(x, x)` → `vec_norm2(x)` when both sides
  * are semantically the same expression — halves array evaluation in
  * every norm computation (used by all cosine queries). Added to the
  * session through `experimental.extraOptimizations` by
  * [[VectorFunctions.register]], since the caller owns session
  * construction. */
object SelfDotToNorm
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.transformAllExpressions {
      case VecDot(a, b) if a.semanticEquals(b) => VecNorm2(a)
    }
}

object VectorFunctions {
  val fnName = "graft_vec_dot"
  val srpName = "graft_srp_buckets"
  val sqDistName = "graft_vec_sqdist"

  /** True when `a` holds a null element. */
  def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** True when a pairwise fold over `a` and `b` is NULL in the
    * `aggregate(zip_with(...))` form: `zip_with` pads the shorter array
    * with nulls, and one null term makes the whole fold NULL. */
  def raggedOrNull(a: ArrayData, b: ArrayData): Boolean =
    a.numElements() != b.numElements() || hasNull(a) || hasNull(b)

  /** Idempotently register the expression with the session's function
    * registry (the supported way to reach a custom Expression from the
    * public Column API in Spark 4) and hook [[SelfDotToNorm]] into the
    * session's optimizer. Skips when already registered — re-running
    * createOrReplaceTempFunction is harmless but logs a
    * "replaced a previously registered function" WARN per call, which
    * drowned the round-2 bench tail. */
  def register(spark: SparkSession): Unit = {
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(fnName)))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        fnName, exprs => VecDot(exprs(0), exprs(1)), "scala_udf")
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(srpName)))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        srpName, exprs => {
          // planes/nBits/nTables/dim arrive as literals from srpBuckets
          import org.apache.spark.sql.catalyst.expressions.Literal
          val planes = exprs(1).asInstanceOf[Literal]
            .value.asInstanceOf[ArrayData].toDoubleArray()
          def intOf(e: Expression): Int =
            e.asInstanceOf[Literal].value.asInstanceOf[Int]
          SrpBuckets(exprs(0), planes,
            intOf(exprs(2)), intOf(exprs(3)), intOf(exprs(4)))
        }, "scala_udf")
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(sqDistName)))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        sqDistName, exprs => VecSqDist(exprs(0), exprs(1)), "scala_udf")
    if (!spark.experimental.extraOptimizations.contains(SelfDotToNorm))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SelfDotToNorm
  }

  /** Dot product of two array<double> columns via the native expression.
    * Call [[register]] on the session first. */
  def vecDot(a: Column, b: Column): Column = call_function(fnName, a, b)

  /** Squared L2 distance of two array<double> columns ([[VecSqDist]] —
    * bit-identical to the aggregate(zip_with(...)) left fold it
    * replaces). Call [[register]] on the session first. */
  def vecSqDist(a: Column, b: Column): Column = call_function(sqDistName, a, b)

  /** All nTables SRP bucket ids of a vector column in one fused pass
    * (see [[SrpBuckets]]). `planes` is indexed [table × bit][dim].
    * Call [[register]] on the session first. */
  def srpBuckets(v: Column, planes: Array[Array[Double]],
      nBits: Int, nTables: Int, dim: Int): Column =
    call_function(srpName, v,
      org.apache.spark.sql.functions.typedlit(planes.flatten.toSeq),
      org.apache.spark.sql.functions.lit(nBits),
      org.apache.spark.sql.functions.lit(nTables),
      org.apache.spark.sql.functions.lit(dim))
}
