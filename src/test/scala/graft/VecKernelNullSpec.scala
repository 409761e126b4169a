package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{VecDot, VecSqDist, VectorFunctions}

/** `VecDot`, `VecSqDist` and the `VecNorm2` that `vec_dot(x, x)`
  * becomes must give exactly what the `aggregate(zip_with(...))` lambda
  * forms they replace give: bit-identical doubles for equal-length
  * arrays, and NULL for ragged arrays, arrays with a null element and
  * null arrays — on the interpreted and the generated-code path. */
class VecKernelNullSpec extends SparkSpec {
  VectorFunctions.register(spark)

  private val arr = ArrayType(DoubleType, containsNull = true)
  private val schema = StructType(Seq(StructField("id", IntegerType),
    StructField("kind", StringType), StructField("a", arr), StructField("b", arr)))

  /** Seeded random inputs: equal-length, ragged, null-element, null. */
  private val rows: Seq[Row] = {
    val rnd = new scala.util.Random(20261017)
    def value(): java.lang.Double =
      rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)
    def vec(n: Int): Seq[java.lang.Double] = Seq.fill(n)(value())
    def withNull(v: Seq[java.lang.Double]): Seq[java.lang.Double] =
      v.updated(rnd.nextInt(v.size), null)
    (0 until 400).map { id =>
      val n = rnd.nextInt(70)
      id % 4 match {
        case 0 | 1 => Row(id, "equal", vec(n), vec(n))
        case 2 =>
          val m = n + 1 + rnd.nextInt(5)
          if (rnd.nextBoolean()) Row(id, "ragged", vec(n), vec(m))
          else Row(id, "ragged", vec(m), vec(n))
        case _ =>
          val k = n + 1
          rnd.nextInt(4) match {
            case 0 => Row(id, "null_elem", withNull(vec(k)), vec(k))
            case 1 => Row(id, "null_elem", vec(k), withNull(vec(k)))
            case 2 => Row(id, "null_elem", withNull(vec(k)), withNull(vec(k)))
            case _ => Row(id, "null_array", if (rnd.nextBoolean()) null else vec(k), null)
          }
      }
    }
  }

  // an RDD source, so the optimizer cannot fold the projection into a
  // local relation: the kernels run in the physical plan
  private def input = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def lambda(term: String) =
    expr(s"aggregate(zip_with(a, b, (x, y) -> $term), 0D, (acc, v) -> acc + v)")

  private def results(codegen: Boolean): Seq[Row] = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try input.select(col("id"), col("kind"),
        VectorFunctions.vecDot(col("a"), col("b")), lambda("x * y"),
        VectorFunctions.vecSqDist(col("a"), col("b")), lambda("(x - y) * (x - y)"),
        VectorFunctions.vecDot(col("a"), col("a")),
        expr("aggregate(a, 0D, (acc, v) -> acc + v * v)"))
      .orderBy("id").collect().toSeq
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def same(x: Any, y: Any): Boolean = (x, y) match {
    case (null, null) => true
    case (p: Double, q: Double) =>
      java.lang.Double.doubleToRawLongBits(p) == java.lang.Double.doubleToRawLongBits(q)
    case _ => false
  }

  for (codegen <- Seq(false, true)) {
    val path = if (codegen) "generated-code" else "interpreted"
    test(s"$path path: kernels match the lambda forms on random inputs") {
      val rs = results(codegen)
      assert(rs.size == rows.size)
      rs.foreach { r =>
        val kind = r.getString(1)
        for ((k, l) <- Seq((2, 3), (4, 5), (6, 7)))
          assert(same(r.get(k), r.get(l)),
            s"row ${r.getInt(0)} ($kind) col $k: ${r.get(k)} vs lambda ${r.get(l)}")
        if (kind == "equal") assert(!r.isNullAt(2) && !r.isNullAt(4))
        if (kind == "ragged" || kind == "null_elem" || kind == "null_array")
          assert(r.isNullAt(2) && r.isNullAt(4), s"row ${r.getInt(0)} ($kind)")
      }
      // every kind was exercised
      assert(rs.map(_.getString(1)).toSet ==
        Set("equal", "ragged", "null_elem", "null_array"))
    }
  }

  test("non-unsafe arrays: ragged and null elements give NULL, equal " +
      "lengths the left fold") {
    def eval(e: (BoundReference, BoundReference) => org.apache.spark.sql.catalyst.expressions.Expression,
        a: Array[Any], b: Array[Any]): Any =
      e(BoundReference(0, arr, nullable = true), BoundReference(1, arr, nullable = true))
        .eval(InternalRow(new GenericArrayData(a), new GenericArrayData(b)))
    val a = Array[Any](1.5, -2.0, 3.25)
    val b = Array[Any](0.5, 4.0, -1.0)
    assert(eval(VecDot, a, b) == ((0.0 + 1.5 * 0.5) + -2.0 * 4.0) + 3.25 * -1.0)
    assert(eval(VecSqDist, a, b) == ((0.0 + 1.0) + 36.0) + 4.25 * 4.25)
    assert(eval(VecDot, a, b.take(2)) == null)
    assert(eval(VecSqDist, a.take(2), b) == null)
    assert(eval(VecDot, a, Array[Any](0.5, null, -1.0)) == null)
    assert(eval(VecSqDist, Array[Any](null, 4.0, -1.0), b) == null)
    assert(eval(VecDot, Array[Any](), Array[Any]()) == 0.0)
  }
}
