package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point registering this library's
  * native expressions, so `spark.sql("SELECT hamming(a, b)")` works
  * when sessions are built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("hamming"),
      new ExpressionInfo(classOf[HammingDistance].getName, "hamming"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "hamming(a, b) takes exactly 2 arguments")
        HammingDistance(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(a, b) takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("squared_l2"),
      new ExpressionInfo(classOf[SquaredL2].getName, "squared_l2"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3,
          "squared_l2(a, b[, p]) takes 2 or 3 arguments")
        if (children.length == 2) SquaredL2(children.head, children(1))
        else SquaredL2Prefix(children.head, children(1), children(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("squared_l2d"),
      new ExpressionInfo(classOf[SquaredL2D].getName, "squared_l2d"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "squared_l2d(a, b) takes exactly 2 arguments")
        SquaredL2D(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("unit_micro_quant"),
      new ExpressionInfo(classOf[UnitMicroQuant].getName, "unit_micro_quant"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "unit_micro_quant(e) takes exactly 1 argument")
        UnitMicroQuant(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("intersect_size"),
      new ExpressionInfo(classOf[IntersectSize].getName, "intersect_size"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "intersect_size(a, b) takes exactly 2 arguments")
        IntersectSize(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("distinct_bigram_count"),
      new ExpressionInfo(classOf[DistinctBigramCount].getName, "distinct_bigram_count"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "distinct_bigram_count(ws) takes exactly 1 argument")
        DistinctBigramCount(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "nfc_normalize(s) takes exactly 1 argument")
        NfcNormalize(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("normalize_text"),
      new ExpressionInfo(classOf[NormalizeText].getName, "normalize_text"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "normalize_text(s) takes exactly 1 argument")
        NormalizeText(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "minhash_sig(s, h) takes a string and a constant member count")
        MinHashSig(children.head, children(1).eval().asInstanceOf[Int])
      }))
    // declarative row_number-top-k rewrites to the bounded-heap
    // operator; the strategy makes the node plannable in this session
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}

/** Column-API access to the native expressions (no registration
  * needed). */
object GraftFunctions {
  import org.apache.spark.sql.GraftBridge

  def hamming(a: Column, b: Column): Column =
    GraftBridge.column(HammingDistance(GraftBridge.expression(a), GraftBridge.expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))

  def squaredL2(a: Column, b: Column): Column =
    GraftBridge.column(SquaredL2(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Squared-L2 over two `array<double>` columns (the 64-dim assign
    * kernel); bitwise the zip_with + aggregate double fold. */
  def squaredL2D(a: Column, b: Column): Column =
    GraftBridge.column(SquaredL2D(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** The K sqrt'd L2 distances of a packed array<double> point to K
    * fixed centers in one fused loop (the multi-center assign kernel);
    * elementwise bitwise the composed sqrt(squaredL2D(xs, c_j)). The
    * centers ride as driver-side state, not a child (the pqEncode
    * shape), so generated code is O(1) in K. */
  def l2DistArr(xs: Column, centers: Array[Array[Double]]): Column =
    GraftBridge.column(L2DistArr(GraftBridge.expression(xs), centers))

  /** Squared-L2 over the first `p` components (Matryoshka curve). */
  def squaredL2Prefix(a: Column, b: Column, p: Column): Column =
    GraftBridge.column(SquaredL2Prefix(
      GraftBridge.expression(a), GraftBridge.expression(b), GraftBridge.expression(p)))

  /** struct(qs array<bigint>, t bigint) of a unit-normalized,
    * micro-quantized embedding; NULL when the norm is not > 0. */
  def unitMicroQuant(e: Column): Column =
    GraftBridge.column(UnitMicroQuant(GraftBridge.expression(e)))

  def intersectSize(a: Column, b: Column): Column =
    GraftBridge.column(IntersectSize(GraftBridge.expression(a), GraftBridge.expression(b)))

  def distinctBigramCount(ws: Column): Column =
    GraftBridge.column(DistinctBigramCount(GraftBridge.expression(ws)))

  def nfcNormalize(s: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(s)))

  def normalizeText(s: Column): Column =
    GraftBridge.column(NormalizeText(GraftBridge.expression(s)))

  /** The h-member MinHash signature (array<string> of md5 hex minima)
    * of an already-normalized text column. */
  def minhashSig(s: Column, h: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(s), h))

  /** Content-defined chunks of a text column (window w, divisor div). */
  def cdcChunks(s: Column, w: Int, div: Int): Column =
    GraftBridge.column(CdcChunks(GraftBridge.expression(s), w, div))

  /** 1-based winnowing-selected k-gram positions of a text column. */
  def winnowedPositions(s: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowedPositions(GraftBridge.expression(s), k, w))

  /** PQ nearest-centroid codes of a packed array<double> point; the
    * trained codebook rides as driver-side state, not a child. */
  def pqEncode(xs: Column, codebooks: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PQEncode(GraftBridge.expression(xs), codebooks))

  /** PQ assigned (min) distance per subspace — the fused companion of
    * pqEncode for distortion reporting; same codebook-as-state shape. */
  def pqMinDists(xs: Column, codebooks: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PQMinDists(GraftBridge.expression(xs), codebooks))
}
