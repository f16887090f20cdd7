package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expression: exact integer squared-L2 distance of two
  * `array<bigint>` columns (the MicroGrid-quantized embedding vectors).
  *
  * Why a custom Expression: the per-pair distance is THE hot loop of
  * the k-NN eval family (`embed_knn_classify`, `embed_knn_outliers`,
  * `simsearch_matryoshka`) — ~corpus x eval-set evaluations per query —
  * and the declarative formulation
  *
  *   aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
  *             0L, (acc, v) -> acc + v)
  *
  * does not participate in whole-stage codegen: each pair pays boxed
  * lambda dispatch per element plus an intermediate products array
  * (the CosineSimilarity / WinnowedPositions lesson, both measured).
  * doGenCode emits one fused primitive loop that inlines into the
  * surrounding generated code.
  *
  * Semantics are BITWISE identical to the HOF formulation the oracles
  * mirror: per-element difference and square in Long arithmetic, summed
  * left-to-right in a Long register (exact and order-free on integers;
  * the call sites bound |elements| so no sum approaches 2^63).
  * Length-mismatched arrays return NULL (zip_with pads the short side
  * with null, the lambda nulls the product, and the fold nulls the
  * sum); a null element likewise yields NULL. SquaredL2Spec pins the
  * equivalence on real embeddings.
  */
case class SquaredL2(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "squared_l2"

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> inputs, " +
        s"got (${left.dataType}, ${right.dataType})")

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    SquaredL2.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)
}

object SquaredL2 {
  /** Static core shared by eval (and reused by the prefix variant):
    * null on length mismatch or null element, else the exact Long sum. */
  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Prefix-bounded variant: the fused form of
    * `aggregate(zip_with(slice(a,1,p), slice(b,1,p), ...), 0L, ...)` —
    * slice(x, 1, p) keeps min(p, n) elements, so the effective lengths
    * are compared post-truncation exactly as zip_with would see them. */
  def computePrefix(a: ArrayData, b: ArrayData, p: Int): Any = {
    if (p < 0) return null // slice would error; the call sites never pass p < 0
    val na = math.min(p, a.numElements())
    val nb = math.min(p, b.numElements())
    if (na != nb) return null
    var s = 0L
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }
}

/** [[SquaredL2]] over `array<double>` inputs — the fused form of the
  * DOUBLE fold
  *
  *   aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
  *             0.0D, (acc, v) -> acc + v)
  *
  * that the generic k-means `assign` uses for high-dim (> 16 dims)
  * point sets: the per-(row, center) distance of the 64-dim embedding
  * Lloyd loops and of every IVF/PQ coarse-quantizer training pass.
  * Bitwise identical to the HOF: the per-element difference and square
  * and the LEFT-TO-RIGHT double accumulation starting from 0.0 are the
  * exact same fp operation sequence (0.0 + v1 == v1; no
  * reassociation), so oracles over the unrolled per-dim SQL are
  * unaffected. Null semantics mirror zip_with + aggregate: a length
  * mismatch (zip_with pads with null), a null element, or a null array
  * yields NULL. SquaredL2DSpec pins the equivalence. */
case class SquaredL2D(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "squared_l2d"

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> inputs, " +
        s"got (${left.dataType}, ${right.dataType})")

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    SquaredL2D.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2D =
    copy(left = newLeft, right = newRight)
}

object SquaredL2D {
  /** Static core shared by eval: null on length mismatch or null
    * element, else the exact left-to-right double fold. */
  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }
}

/** [[SquaredL2]] over the first `p` components only — the fused form of
  * the Matryoshka prefix-distance
  * `aggregate(zip_with(slice(a, 1, p), slice(b, 1, p), ...), 0L, ...)`,
  * avoiding the two slice allocations per pair on top of the HOF cost. */
case class SquaredL2Prefix(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "squared_l2_prefix"

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(first.dataType) && isLongArray(second.dataType) &&
        third.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>, int), " +
        s"got (${first.dataType}, ${second.dataType}, ${third.dataType})")

  override def eval(input: InternalRow): Any = {
    val a = first.eval(input)
    if (a == null) return null
    val b = second.eval(input)
    if (b == null) return null
    val p = third.eval(input)
    if (p == null) return null
    SquaredL2.computePrefix(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], p.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, p) => {
      val i = ctx.freshName("i")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $na = java.lang.Math.min($p, $a.numElements());
         |int $nb = java.lang.Math.min($p, $b.numElements());
         |if ($p < 0 || $na != $nb) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $na; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): SquaredL2Prefix =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Native Catalyst expression: the K sqrt'd L2 distances of a packed
  * `array<double>` point to K fixed centers, in one fused double loop —
  * the multi-center form of [[SquaredL2D]].
  *
  * Why a fused form when [[SquaredL2D]] already exists: the assign
  * kernel builds `array(sqrt(squared_l2d(xs, c1)), ..., sqrt(...cK))` —
  * K separate expression trees. Fused into the surrounding whole-stage
  * method (a Project feeding a HashAggregate inlines EVERYTHING into
  * `hashAgg_doAggregateWithKeys`), K copies of the per-center code
  * overflowed janino's 64 KB method limit on the IVF batch-assign
  * stage (8 cells x 64 dims + the aggregate), silently dropping the
  * stage to interpreted execution — the round-9 PQEncode finding
  * recurring one level up. This expression is one nested loop with the
  * centers as a flattened reference object (the PQEncode pattern):
  * generated code is O(1) in K, and the janino gate (PlanAuditSpec)
  * stays green.
  *
  * Semantics are BITWISE identical to the composed formulation the
  * oracles mirror (L2DistArrSpec pins it): per center the squared
  * diffs accumulate left-to-right in dimension order (SquaredL2D's
  * fold), each distance is sqrt'd exactly as the composed SQRT, and
  * the output array feeds the SAME array_min / array_position argmin.
  * Null cases mirror the composed tree: a null point yields a null
  * result (each composed element would be null, and array_min /
  * array_position over all-nulls reduce to null just like over a null
  * array); a length-mismatched or null-element point yields an array
  * of K null elements exactly as each squared_l2d call would. */
case class L2DistArr(child: Expression, centers: Array[Array[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with Serializable {

  require(centers.nonEmpty && centers.forall(_.length == centers.head.length),
    "l2_dist_arr needs at least one center, all of one dimension")

  private val kk = centers.length
  private val nd = centers.head.length

  /** Flattened [j*D + d] layout for the generated loop. */
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](kk * nd)
    var i = 0
    var j = 0
    while (j < kk) {
      var d = 0
      while (d < nd) { a(i) = centers(j)(d); i += 1; d += 1 }
      j += 1
    }
    a
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "l2_dist_arr"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    if (xs.numElements() != nd)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](kk))
    var i = 0
    while (i < nd) {
      if (xs.isNullAt(i))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](kk))
      i += 1
    }
    val out = new Array[Double](kk)
    var j = 0
    while (j < kk) {
      var acc = 0.0
      var d = 0
      while (d < nd) {
        val diff = xs.getDouble(d) - flat(j * nd + d)
        acc += diff * diff
        d += 1
      }
      out(j) = math.sqrt(acc)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val cb = ctx.addReferenceObj("l2Centers", flat, "double[]")
      val bad = ctx.freshName("bad")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val diff = ctx.freshName("diff")
      val out = ctx.freshName("out")
      s"""
         |boolean $bad = ($xs.numElements() != $nd);
         |if (!$bad) {
         |  for (int $i = 0; $i < $nd; $i++) {
         |    if ($xs.isNullAt($i)) { $bad = true; break; }
         |  }
         |}
         |if ($bad) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    new Object[$kk]);
         |} else {
         |  double[] $out = new double[$kk];
         |  for (int $j = 0; $j < $kk; $j++) {
         |    double $acc = 0.0;
         |    for (int $d = 0; $d < $nd; $d++) {
         |      double $diff = $xs.getDouble($d) - $cb[$j * $nd + $d];
         |      $acc += $diff * $diff;
         |    }
         |    $out[$j] = java.lang.Math.sqrt($acc);
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  /** Equality over the flattened centers, not the arrays' identity, so
    * two instances built from equal centers are semantically equal
    * (subexpression elimination, exchange reuse). */
  override def equals(other: Any): Boolean = other match {
    case o: L2DistArr => child == o.child && kk == o.kk && java.util.Arrays.equals(flat, o.flat)
    case _ => false
  }

  override def hashCode(): Int = 31 * child.hashCode() + java.util.Arrays.hashCode(flat)

  override protected def withNewChildInternal(newChild: Expression): L2DistArr =
    copy(child = newChild)
}
