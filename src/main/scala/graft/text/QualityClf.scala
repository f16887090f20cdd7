package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.Exact.r6

/** Trained quality-classifier scoring — the fastText/DCLM-style stage
  * the rule bundles (Gopher) and LM scores (unigram/bigram/KN) sit
  * next to in every public curation stack: a DISCRIMINATIVE model
  * trained to tell a curated reference slice from the raw remainder,
  * then applied to every document as the keep/drop (or curriculum)
  * signal. Here the reference slice is the corpus's English documents
  * (the learned language/reference filter — the one label with a
  * genuinely distinct word-frequency profile in this corpus),
  * features are hashed word unigrams over a BOUNDED space —
  * F=32 md5-nibble buckets + bias, the same cross-engine row hash
  * every pipeline gate uses (Splits.nibbleHashSql) — and training is
  * batch gradient descent with a fixed iteration count.
  *
  * Determinism (the kmeans/Holt oracle discipline): the per-doc
  * logit folds 33 products in index order and rounds 6; the sigmoid
  * rounds 6 (libm-vs-Java exp differ <= 1 ulp — invisible at round
  * 6); each weight update rounds the WHOLE expression
  * w - LR*grad/N once. The update must NOT round the gradient first:
  * r6(grad) lands on the 1e-6 grid, and an exactly-representable LR
  * like 0.5 maps every odd grid point onto a 0.5e-6 rounding MIDPOINT
  * — a structural cross-engine tie where sub-ulp noise picks the side
  * (measured: 8 of 33 weights diverged at iteration 1 before the fix).
  * Rounding once leaves only the generic sub-ulp-near-boundary risk
  * every rounded aggregate in this repo carries. Both engines then
  * walk the same 10-step weight trajectory, so scores compare
  * EXACTLY.
  *
  * Scale shape: featurization is one corpus pass into a staged
  * 33-double vector per doc (per-row HOF work, no shuffle); each GD
  * iteration is ONE map + 34-aggregate reduce over the staged
  * features (10 iterations = 10 cheap passes, the standard batch-GD
  * shape — at 100 TB you'd train on a sampled slice and score the
  * full corpus, which is exactly the one-pass scoring step here);
  * weights live driver-side (33 doubles, the lloyd literal-frame
  * pattern). */
object QualityClf extends graft.Registry {

  private val F = 32 // hashed unigram buckets; index F is the bias
  private val ITERS = 10
  // exactly-representable learning rate: 0.5 * g is a pure exponent
  // shift, so the update w - LR*g loses no precision before its round
  private val LR = "0.5"


  /** Per-doc label + feature vector: y = reference-slice indicator
    * (lang = 'en'), x = 32 normalized hashed-unigram frequencies
    * + bias 1.0. Takes any frame with (doc_id, source, lang, text)
    * so specs can train on crafted corpora. */
  /** Wordless (empty/whitespace-only) documents are DROPPED from
    * featurization — the explode of an empty word list yields no row
    * here, and the oracle's featsBody filters `len(ws) > 0`
    * explicitly, so both engines exclude the same rows (a wordless
    * doc's features would otherwise be a 0/0 NaN division). */
  private[graft] def featurizeDocs(docs: DataFrame): DataFrame = {
    // wordcount shape, not per-bucket HOF scans: the first formulation
    // ran `filter(bks, b -> b = f)` once per bucket — 32 array
    // allocations per document — and measured 2.7 ms/doc (13.5 s of
    // the sf0.1 training wall). explode -> count -> map-lookup builds
    // the same exact vector in one linear pass + two doc_id-local
    // aggregations; values are bit-identical (cnt/n exact division),
    // so the oracle is untouched.
    val words = docs
      .withColumn("y", expr("CAST(lang = 'en' AS DOUBLE)"))
      .select(col("doc_id"), col("y"),
        explode(expr("filter(split(text, ' '), w -> w != '')")).as("w"))
      .withColumn("b", expr(s"${graft.pipeline.Splits.nibbleHashSql("w")} % $F"))
    words
      .groupBy("doc_id", "y", "b").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "y")
      .agg(expr("map_from_entries(collect_list(struct(b, cnt)))").as("m"),
        sum("cnt").as("n"))
      .withColumn("x", expr(
        s"""concat(
           |  transform(sequence(0, ${F - 1}),
           |    f -> coalesce(CAST(m[f] AS DOUBLE), CAST(0.0 AS DOUBLE)) / n),
           |  array(CAST(1.0 AS DOUBLE)))""".stripMargin))
      .select(col("doc_id"), col("y"), col("x"))
  }

  private def features(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(spark, dir, "clf-features")(featurizeDocs(t(spark, dir, "documents")))

  /** Index-order 33-term dot product of x with the given weight
    * literals, rounded 6, then the rounded sigmoid. */
  private def scoreExpr(w: Array[Double]): String = {
    val wLits = w.map(_.toString).mkString(", ")
    s"""round(1.0 / (1.0 + exp(-round(
       |  aggregate(zip_with(x, array($wLits), (a, b) -> a * b),
       |            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6))), 6)""".stripMargin
  }

  /** The 10-step GD weight trajectory (driver-side, each step one
    * Spark aggregate over the feature frame). */
  private[graft] def trainOn(feats: DataFrame): Array[Double] = {
    var w = Array.fill(F + 1)(0.0)
    for (_ <- 1 to ITERS) {
      // one per-row residual-scaled feature ARRAY, then one grouped
      // sum per component. The first formulation ran 33 separate
      // sum((p - y) * x[f]) aggregates, and Catalyst's CollapseProject
      // inlined the whole 33-term sigmoid fold into EVERY aggregate —
      // a ~33x-duplicated codegen body per iteration, measured 16 s
      // cold at sf0.1 / 152 s at sf1 for the full training loop.
      // posexplode keeps the sigmoid computed once per row and the
      // component sums are one partial-aggregated 33-group shuffle;
      // the loop is now linear with small constants (1.9 s cold sf0.1).
      val r = feats.withColumn("p", expr(scoreExpr(w)))
        .select(expr("posexplode(transform(x, xi -> (p - y) * xi))"),
          col("p"))
        .groupBy("pos")
        .agg(sum("col").as("g"), count(lit(1)).as("n"))
        .collect()
      require(r.nonEmpty, "empty training corpus — no featurized documents")
      val n = r.head.getLong(2).toDouble
      val g = r.map(row => row.getInt(0) -> row.getDouble(1)).toMap
      w = Array.tabulate(F + 1) { f =>
        r6(w(f) - 0.5 * (g(f) / n))
      }
    }
    w
  }

  /** Per-doc classifier score over the full corpus with the trained
    * weights — the curation stack's learned keep signal. */
  /** Scores any feature frame with the given weights. */
  private[text] def scoreOn(feats: DataFrame, w: Array[Double]): DataFrame =
    feats
      .withColumn("clf_score", expr(scoreExpr(w)))
      .select(col("doc_id"), col("y").cast("int").as("label"),
        col("clf_score"), (col("clf_score") >= 0.5).as("keep"))

  /** Scores the corpus with weights trained once per (JVM, dir,
    * split) — the staged-index discipline applied to model state: the
    * corpus query, the calibration report and the eval query share one
    * training run instead of re-walking the 10-job GD chain each
    * (training is deterministic, so staging cannot change results). */
  def qQualityClf(spark: SparkSession, dir: String): DataFrame = {
    val feats = features(spark, dir)
    scoreOn(feats, graft.Memo.value(dir, "clf-weights-full")(trainOn(feats)))
  }

  /** Calibration/reliability report over the trained scores — the
    * ML-ops gate before anyone uses clf_score as a keep threshold: a
    * probability-calibrated classifier's mean score per bin tracks the
    * bin's empirical label rate. Scores bin on their EXACT decimal
    * (CAST to DECIMAL(18,6) then scale by 10 — grid values never
    * straddle a bin edge as doubles might), per-bin mean scores sum
    * DECIMAL-exact per the §4 grid-sum rule, and the expected
    * calibration error (bin-mass-weighted |mean - rate|) repeats per
    * row like the IVF retrain flag. One groupBy over the scored
    * corpus. */
  def qClfCalibration(spark: SparkSession, dir: String): DataFrame =
    calibrationOf(qQualityClf(spark, dir))

  /** The report over any scored frame (label, clf_score) — separated
    * so specs can calibrate crafted score distributions. */
  private[text] def calibrationOf(scored: DataFrame): DataFrame = {
    val binned = scored.withColumn("bin",
      least(floor(expr("CAST(clf_score AS DECIMAL(18,6)) * 10")).cast("int"), lit(9)))
    // mean_score/ece divide a 6-dp-exact DECIMAL sum by a count: scale
    // the numerator to micro-units and both by 1e6 so the quotient is
    // pure integer and the HALF_UP idiom applies (c*a DIV c*b = a DIV
    // b, so the common 1e6 factor cancels exactly); label_rate is a
    // plain integer rate. abs_gap stays round(): the difference of two
    // 6-dp values is never near a 0.5e-6 midpoint.
    val rep = binned.groupBy("bin").agg(
      count(lit(1)).as("n_docs"),
      sum(expr("CAST(clf_score AS DECIMAL(18,6))")).as("ssum"),
      sum("label").cast("long").as("npos"))
      .withColumn("mean_score", expr(graft.functions.Exact.rate6(
        "CAST(ssum * 1000000 AS DECIMAL(38,0))",
        "CAST(n_docs AS DECIMAL(38,0)) * 1000000")))
      .withColumn("label_rate", expr(graft.functions.Exact.rate6("npos", "n_docs")))
      .withColumn("abs_gap", round(abs(col("mean_score") - col("label_rate")), 6))
    val ece = rep.agg(
      sum(expr("CAST(abs_gap AS DECIMAL(18,6)) * n_docs")).as("gsum"),
      sum("n_docs").as("nd"))
      .select(expr(graft.functions.Exact.rate6(
        "CAST(gsum * 1000000 AS DECIMAL(38,0))",
        "CAST(nd AS DECIMAL(38,0)) * 1000000")).as("ece"))
    rep.crossJoin(broadcast(ece))
      .select("bin", "n_docs", "mean_score", "label_rate", "abs_gap", "ece")
  }

  /** Brier score + skill vs the base-rate forecaster — the proper
    * scoring rule beside the calibration table: brier = mean((p-y)²),
    * brier_base = r(1-r) for base rate r = n_pos/n (the score of
    * always predicting the prevalence), skill = 1 - brier/brier_base
    * (the Brier skill score; > 0 means the classifier beats the
    * prior). Exactness: clf_score is 6-dp by construction, so its
    * micro-unit integer k = round(score·1e6) is EXACT and
    * (k - y·1e6)² sums as exact integers (DECIMAL(38,0)-widened);
    * brier, brier_base and skill are each ONE exact HALF_UP division
    * of integers — skill via cross-multiplication, so no rounded
    * intermediate feeds another round. One scan, one 1-row rollup. */
  def qClfBrier(spark: SparkSession, dir: String): DataFrame =
    brierOf(qQualityClf(spark, dir))

  /** The report over any scored (label, clf_score) frame. */
  private[text] def brierOf(scored: DataFrame): DataFrame =
    scored
      .withColumn("k", expr("CAST(round(clf_score * 1000000.0) AS BIGINT)"))
      .withColumn("d", expr("k - label * 1000000"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("label")).cast("long").as("n_pos"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("sse"))
      .select(col("n_docs"), col("n_pos"),
        expr(graft.functions.Exact.rate6("sse",
          "CAST(n_docs AS DECIMAL(38,0)) * 1000000000000")).as("brier"),
        expr("CASE WHEN n_pos = 0 OR n_pos = n_docs THEN CAST(NULL AS DOUBLE) ELSE " +
          graft.functions.Exact.rate6("CAST(n_pos AS DECIMAL(38,0)) * (n_docs - n_pos)",
            "CAST(n_docs AS DECIMAL(38,0)) * n_docs") + " END").as("brier_base"),
        expr("CASE WHEN n_pos = 0 OR n_pos = n_docs THEN CAST(NULL AS DOUBLE) ELSE " +
          graft.functions.Exact.srate6(
            "CAST(n_pos AS DECIMAL(38,0)) * (n_docs - n_pos) * 1000000000000 - CAST(sse AS DECIMAL(38,0)) * n_docs",
            "CAST(n_pos AS DECIMAL(38,0)) * (n_docs - n_pos) * 1000000000000") +
          " END").as("skill"))

  /** Held-out evaluation — the train/eval hygiene a classifier-scored
    * release requires: train on the SAME deterministic 80% hash split
    * every pipeline gate uses (nibble bucket < 80, pipeline_split's
    * exact convention), score the held-out 20%, and report accuracy
    * plus the tie-corrected Mann-Whitney AUC. The AUC runs over
    * PER-DISTINCT-SCORE aggregates: U = sum_s pos_s*(negBelow_s +
    * neg_s/2) — all integer/half-integer arithmetic, exact in both
    * engines — and the one unpartitioned cumulative window is bounded
    * by the round-6 score grid (<= 1e6+1 distinct values at ANY corpus
    * size), not by the corpus. */
  def qClfEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = features(spark, dir).withColumn("b",
      expr(s"${graft.pipeline.Splits.nibbleHashSql("CAST(doc_id AS STRING)")} % 100"))
    val trainF = feats.filter(col("b") < 80)
    val evalF = feats.filter(col("b") >= 80)
    val w = graft.Memo.value(dir, "clf-weights-train80")(trainOn(trainF))
    val scored = scoreOn(evalF, w)
    val u = aucParts(scored)
    val acc = scored.agg(
      count(lit(1)).as("n_eval"),
      sum(when((col("clf_score") >= 0.5) === (col("label") === 1), 1L)
        .otherwise(0L)).as("n_correct"))
    val nTrain = trainF.agg(count(lit(1)).as("n_train"))
    nTrain.crossJoin(broadcast(acc)).crossJoin(broadcast(u))
      .select(col("n_train"), col("n_eval"), col("n_pos").as("n_pos_eval"),
        expr(graft.functions.Exact.rate6("n_correct", "n_eval")).as("accuracy"),
        // u is an exact half-integer (tie term n/2), so 2u is an exact
        // integer and auc = 2u / (2*n_pos*n_neg) is a pure integer rate
        expr(graft.functions.Exact.rate6("CAST(2 * u AS DECIMAL(38,0))",
          "2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg")).as("auc"))
  }

  /** Tie-corrected Mann-Whitney U over per-distinct-score aggregates
    * (exposed for specs): one row (u, n_pos, n_neg); AUC = u/(n1*n0).
    * All terms integer/half-integer — exact in any summation order. */
  private[text] def aucParts(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perScore = scored.groupBy("clf_score").agg(
      sum("label").cast("long").as("pos"),
      count(lit(1)).as("tot"))
      .withColumn("neg", col("tot") - col("pos"))
    val win = Window.orderBy("clf_score")
      .rowsBetween(Window.unboundedPreceding, -1)
    perScore
      .withColumn("neg_below", coalesce(sum("neg").over(win), lit(0L)))
      .agg(sum(col("pos") * (col("neg_below").cast("double") + col("neg") * 0.5))
        .as("u"),
        sum("pos").as("n_pos"), sum("neg").as("n_neg"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_quality_clf" -> (qQualityClf _),
    "text_quality_clf_calibration" -> (qClfCalibration _),
    "text_quality_clf_brier" -> (qClfBrier _),
    "text_quality_clf_eval" -> (qClfEval _))

  /** DuckDB mirror: the same feature build, then the 10 GD steps as
    * an unrolled MATERIALIZED CTE chain (feats and every w_k are
    * referenced more than once — without the hint DuckDB re-inlines
    * the whole training history per reference). The dot product runs
    * in list index order like the Spark fold. */
  val oracleSql: Map[String, String] = {
    val nib = graft.pipeline.Splits.nibbleHashSql("w")
    val dot = (wRef: String) =>
      s"round(list_sum(list_transform(range(1, ${F + 2}), i -> x[CAST(i AS INT)] * $wRef[CAST(i AS INT)])), 6)"
    val sig = (wRef: String) => s"round(1.0 / (1.0 + exp(-${dot(wRef)})), 6)"
    // DuckDB rejects subqueries inside lambda bodies, so every step
    // CROSS JOINs the one-row weight CTE in and indexes the column
    val steps = (1 to ITERS).map { k =>
      s"""p$k AS (SELECT doc_id, y, x, ${sig("wl")} AS p
         |  FROM feats CROSS JOIN w${k - 1}),
         |g$k AS (SELECT ff.f,
         |    sum((p.p - p.y) * p.x[ff.f + 1]) / (SELECT count(*) FROM feats) AS g
         |  FROM p$k p, range(0, ${F + 1}) ff(f) GROUP BY ff.f),
         |w$k AS MATERIALIZED (SELECT list(
         |    round(wl[f + 1] - $LR * g, 6) ORDER BY f) AS wl
         |  FROM g$k CROSS JOIN w${k - 1})""".stripMargin
    }.mkString(",\n")
    // the raw per-doc feature build; `extra` threads additional
    // columns (the eval split bucket) through the nesting
    def featsBody(extra: String): String =
      s"""SELECT doc_id,$extra
         |    CAST(lang = 'en' AS DOUBLE) AS y,
         |    list_append(list_transform(range(0, $F),
         |      f -> CAST(len(list_filter(bks, b -> b = f)) AS DOUBLE) / len(ws)),
         |      CAST(1.0 AS DOUBLE)) AS x
         |  FROM (SELECT doc_id, lang, ws,
         |          list_transform(ws, w -> $nib % $F) AS bks
         |        FROM (SELECT doc_id, lang,
         |                list_filter(string_split(text, ' '), w -> w != '') AS ws
         |              FROM documents)
         |        WHERE len(ws) > 0)""".stripMargin
    val w0Sql =
      s"""w0 AS (SELECT list_transform(range(0, ${F + 1}),
         |         i -> CAST(0.0 AS DOUBLE)) AS wl)""".stripMargin
    val clfSql =
      s"""WITH feats AS MATERIALIZED (
         |  ${featsBody("")}),
         |$w0Sql,
         |$steps
         |SELECT doc_id, CAST(y AS INT) AS label,
         |  ${sig("wl")} AS clf_score,
         |  ${sig("wl")} >= 0.5 AS keep
         |FROM feats CROSS JOIN w$ITERS""".stripMargin
    // eval: the training chain's `feats` IS the 80% train split; the
    // held-out 20% scores against the final weights
    val evalSql =
      s"""WITH afeats AS MATERIALIZED (
         |  ${featsBody(
             s"""
                |    ${graft.pipeline.Splits.nibbleHashSql("CAST(doc_id AS VARCHAR)")} % 100 AS b,""".stripMargin)}),
         |feats AS MATERIALIZED (SELECT doc_id, y, x FROM afeats WHERE b < 80),
         |$w0Sql,
         |$steps,
         |escored AS MATERIALIZED (SELECT doc_id, CAST(y AS INT) AS label,
         |    ${sig("wl")} AS clf_score
         |  FROM (SELECT doc_id, y, x FROM afeats WHERE b >= 80) ef
         |  CROSS JOIN w$ITERS),
         |per AS (SELECT clf_score,
         |    CAST(sum(label) AS BIGINT) AS pos, count(*) AS tot
         |  FROM escored GROUP BY clf_score),
         |cum AS (SELECT *, tot - pos AS neg,
         |    coalesce(sum(tot - pos) OVER (ORDER BY clf_score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
         |  FROM per),
         |uu AS (SELECT sum(pos * (CAST(neg_below AS DOUBLE) + neg * 0.5)) AS u,
         |    CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg
         |  FROM cum),
         |aa AS (SELECT count(*) AS n_eval,
         |    CAST(sum(CASE WHEN (clf_score >= 0.5) = (label = 1)
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |  FROM escored),
         |tt AS (SELECT count(*) AS n_train FROM feats)
         |SELECT n_train, n_eval, n_pos AS n_pos_eval,
         |  ${graft.functions.Exact.duck6("n_correct", "n_eval")} AS accuracy,
         |  ${graft.functions.Exact.duck6("CAST(2 * u AS HUGEINT)",
              "2 * CAST(n_pos AS HUGEINT) * n_neg")} AS auc
         |FROM tt CROSS JOIN aa CROSS JOIN uu""".stripMargin
    Map(
      "text_quality_clf" -> clfSql,
      "text_quality_clf_eval" -> evalSql,
      "text_quality_clf_brier" ->
        s"""WITH clf AS MATERIALIZED (SELECT * FROM ($clfSql) q),
           |m AS (SELECT label,
           |    CAST(round(clf_score * 1000000.0) AS BIGINT) - label * 1000000 AS d
           |  FROM clf),
           |a AS (SELECT count(*) AS n_docs,
           |    CAST(sum(label) AS BIGINT) AS n_pos,
           |    sum(CAST(d AS HUGEINT) * d) AS sse
           |  FROM m)
           |SELECT n_docs, n_pos,
           |  ${graft.functions.Exact.duck6("sse",
                "CAST(n_docs AS HUGEINT) * 1000000000000")} AS brier,
           |  CASE WHEN n_pos = 0 OR n_pos = n_docs THEN CAST(NULL AS DOUBLE)
           |    ELSE ${graft.functions.Exact.duck6(
                  "CAST(n_pos AS HUGEINT) * (n_docs - n_pos)",
                  "CAST(n_docs AS HUGEINT) * n_docs")} END AS brier_base,
           |  CASE WHEN n_pos = 0 OR n_pos = n_docs THEN CAST(NULL AS DOUBLE)
           |    ELSE ${graft.functions.Exact.sduck6(
                  "CAST(n_pos AS HUGEINT) * (n_docs - n_pos) * 1000000000000 - CAST(sse AS HUGEINT) * n_docs",
                  "CAST(n_pos AS HUGEINT) * (n_docs - n_pos) * 1000000000000")} END AS skill
           |FROM a""".stripMargin,
      "text_quality_clf_calibration" ->
        s"""WITH clf AS MATERIALIZED (SELECT * FROM ($clfSql) q),
           |binned AS (SELECT *,
           |    least(CAST(floor(CAST(clf_score AS DECIMAL(18,6)) * 10) AS INT), 9) AS bin
           |  FROM clf),
           |rep AS MATERIALIZED (SELECT bin,
           |    count(*) AS n_docs,
           |    ${graft.functions.Exact.duck6(
                  "CAST(sum(CAST(clf_score AS DECIMAL(18,6))) * 1000000 AS HUGEINT)",
                  "count(*) * 1000000")} AS mean_score,
           |    ${graft.functions.Exact.duck6("sum(label)", "count(*)")} AS label_rate
           |  FROM binned GROUP BY bin),
           |g AS MATERIALIZED (SELECT *,
           |    round(abs(mean_score - label_rate), 6) AS abs_gap FROM rep),
           |e AS (SELECT ${graft.functions.Exact.duck6(
                  "CAST(sum(CAST(abs_gap AS DECIMAL(18,6)) * n_docs) * 1000000 AS HUGEINT)",
                  "sum(n_docs) * 1000000")} AS ece FROM g)
           |SELECT bin, n_docs, mean_score, label_rate, abs_gap, ece
           |FROM g CROSS JOIN e""".stripMargin)
  }
}
