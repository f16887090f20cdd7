package graft.functions

import graft.clustering.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins graft.functions.L2DistArr elementwise-bitwise to the composed
  * per-center formulation it fuses in the high-dim assign kernel:
  *   array(sqrt(squared_l2d(xs, c_1)), ..., sqrt(squared_l2d(xs, c_K)))
  * — K separate trees whose inlined codegen overflowed janino's 64 KB
  * method limit on the IVF batch-assign stage (PlanAuditSpec gates the
  * fallback). Bitwise: compared via =!= on raw doubles, no tolerance. */
class L2DistArrSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("fused dist array equals the composed per-center trees bitwise") {
    import org.apache.spark.sql.functions._
    val pts = graft.clustering.Points.embeddings64(spark, sf)
    val ds = graft.clustering.Points.embedDims
    val centers = graft.clustering.Points.firstKCenters(pts, 8, ds)
    val composed = centers.map { c =>
      sqrt(GraftFunctions.squaredL2D(col("__xs"), typedLit(c)))
    }
    val both = pts.withColumn("__xs", array(ds.map(col): _*))
      .select(
        GraftFunctions.l2DistArr(col("__xs"), centers).as("fused"),
        array(composed: _*).as("composed"))
    val bad = both.filter(
      size(col("fused")) =!= size(col("composed")) ||
        exists(zip_with(col("fused"), col("composed"),
          (a, b) => a =!= b || a.isNull =!= b.isNull), x => x))
    assert(bad.count() == 0,
      "fused multi-center distances must equal the composed trees bitwise")
  }

  test("assign over 64-dim centers is unchanged by the fused kernel") {
    import org.apache.spark.sql.functions._
    val pts = graft.clustering.Points.embeddings64(spark, sf)
    val ds = graft.clustering.Points.embedDims
    val centers = graft.clustering.Points.firstKCenters(pts, 4, ds)
    val native = graft.clustering.KMeans.assign(pts, centers, ds)
      .select(col("pid"), col("k"), col("dist"))
    val composedDist = centers.map { c =>
      sqrt(GraftFunctions.squaredL2D(col("__xs"), typedLit(c)))
    }
    val composed = pts.withColumn("__xs", array(ds.map(col): _*))
      .withColumn("dist_arr", array(composedDist: _*))
      .withColumn("dist", array_min(col("dist_arr")))
      .withColumn("k", (array_position(col("dist_arr"), col("dist")) - 1).cast("int"))
      .select(col("pid").as("c_pid"), col("k").as("c_k"), col("dist").as("c_dist"))
    val joined = native.join(composed, col("pid") === col("c_pid"))
    assert(joined.filter(col("k") =!= col("c_k") || col("dist") =!= col("c_dist"))
      .count() == 0, "assign must be bitwise-unchanged by the fused kernel")
    assert(joined.count() == native.count())
  }

  test("null point and length mismatch mirror the composed null semantics") {
    import org.apache.spark.sql.functions._
    val centers = Array(Array(1.0, 2.0), Array(0.0, 0.0))
    val df = Seq(
      (1L, Some(Array(1.0, 2.0))),
      (2L, Some(Array(1.0))), // length mismatch -> K null elements
      (3L, None)) // null point -> null result
      .toDF("id", "xs")
    val out = df.select(col("id"), GraftFunctions.l2DistArr(col("xs"), centers).as("d"))
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Any](1))
      }.toMap
    assert(out(1L) == Seq(0.0, math.sqrt(5.0)))
    assert(out(2L) == Seq(null, null))
    assert(out(3L) == null)
  }

  test("two instances built from equal centers are semanticEquals") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val xs = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val a = L2DistArr(xs, Array(Array(1.0, 2.0), Array(3.0, 4.0)))
    val b = L2DistArr(xs, Array(Array(1.0, 2.0), Array(3.0, 4.0)))
    assert(a.semanticEquals(b))
    assert(a.semanticHash() == b.semanticHash())
    assert(!a.semanticEquals(L2DistArr(xs, Array(Array(1.0, 2.0), Array(3.0, 5.0)))))
    // the same flattened values split into different centers differ
    assert(!a.semanticEquals(L2DistArr(xs, Array(Array(1.0, 2.0, 3.0, 4.0)))))
  }

  test("empty centers throw IllegalArgumentException") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val xs = BoundReference(0, ArrayType(DoubleType), nullable = true)
    intercept[IllegalArgumentException](L2DistArr(xs, Array.empty[Array[Double]]))
    intercept[IllegalArgumentException](L2DistArr(xs, Array(Array(1.0), Array(1.0, 2.0))))
  }
}
