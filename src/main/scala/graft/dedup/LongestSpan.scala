package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** The duplicate-SPAN family (round-16): detect → measure → act at
  * the span grain, the public exact-substring-dedup program (Lee et
  * al. 2022, "Deduplicating Training Data Makes Language Models
  * Better" — dedup at the span grain, not the document grain).
  *
  *   - `dedup_longest_span` (detect): per doc, the LENGTH of the
  *     longest substring provably shared with any OTHER doc — the
  *     number that decides span-level vs doc-level dedup for a
  *     release.
  *   - `dedup_span_mass` (measure): per doc, the TOTAL chars covered
  *     by any cross-doc-shared window (exact union-of-intervals over
  *     the matched windows) and its fraction of the doc — the
  *     corpus-level duplicated-char KPI the release report carries.
  *   - `dedup_span_rebuild` (act): the corpus REBUILT with each
  *     losing doc's maximal shared span (>= MIN_CUT chars) excised —
  *     the span-grain sibling of #144's line-level dedup rebuild.
  *
  * Method: anchor on the SAME strided 64-char window hashes #139
  * censuses (width 64, stride 8, raw text), then extend anchors to
  * maximal runs in CLOSED FORM — for a fixed (doc, partner, alignment
  * offset), matched window positions form stride-8 arithmetic runs,
  * and a gaps-and-islands pass (position minus stride x row_number is
  * constant exactly on a consecutive run) yields every maximal run in
  * one window pass, no iterative extension join. A run of k
  * consecutive matched windows proves a shared span of 64 + 8(k-1)
  * chars starting at the run's first position. Windows held by more
  * than CAP total occurrences corpus-wide are boilerplate and
  * excluded before pairing (the CDC posting-cap discipline) — at
  * 100 TB a viral license header would otherwise quadratically
  * explode the match join.
  *
  * Grid granularity: spans are measured on the stride-8 hash grid,
  * so a planted aligned copy of length L reports >= L - 7 when
  * grid-aligned (LongestSpanSpec pins >= L - stride on aligned
  * plants) and >= L - 14 in the worst grid phase; unaligned copies
  * are the stride trade-off every strided fingerprinting scheme
  * (winnowing included) makes for a 1/stride index.
  *
  * Staging (§2 #112): all three family members consume the SAME
  * (da, db, pa, off) matched-window frame — one corpus projection
  * into strided hashes, one census, one cap-bounded equi-join —
  * materialized to parquet once per (JVM, dir), exactly as a
  * deployment stores window-match postings at ingest.
  *
  * Determinism: md5 window hashes, integer run/interval arithmetic,
  * (span DESC, partner ASC, off ASC, start ASC) row_number picks, and
  * the one ratio is the exact HALF_UP rate6L (numerator = a union of
  * in-doc intervals, <= len(text) by construction — Rate6LBoundSpec
  * pins the bound). Scale shape: per-doc codegen HOF projection
  * (zero shuffle), hash-key census, CAP-bounded match join, then
  * bounded window passes partitioned by (doc, partner, offset) or
  * (doc); never a global window. */
object LongestSpan extends graft.Registry {

  private val WIDTH = 64
  private val STRIDE = 8
  private val CAP = 16
  /** Minimum maximal-run length the rebuild excises: two grid widths,
    * so a lone 64-char match never mutilates a doc (Lee et al. cut at
    * 50 tokens; 128 chars is the same order on the char grid). */
  private val MIN_CUT = 128

  /** The (doc_id, p, wh) strided window projection. */
  private def windowsOf(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= WIDTH)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, length(text) - ${WIDTH - 1}, $STRIDE), " +
          s"i -> named_struct('p', i, 'wh', md5(substring(text, i, $WIDTH))))"))
        .as("w"))
      .select(col("doc_id"), col("w.p").as("p"), col("w.wh").as("wh"))

  /** The cap-bounded cross-doc matched-window frame (da, db, pa, off). */
  private[dedup] def matchesOf(docs: DataFrame): DataFrame = {
    val wins = windowsOf(docs)
    val eligible = wins.join(
      wins.groupBy("wh").agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") <= CAP)
        .select("wh"),
      "wh")
    eligible
      .select(col("wh"), col("doc_id").as("da"), col("p").as("pa"))
      .join(eligible.select(col("wh"), col("doc_id").as("db"), col("p").as("pb")),
        "wh")
      .filter(col("da") =!= col("db"))
      .select(col("da"), col("db"), col("pa"), (col("pb") - col("pa")).as("off"))
  }

  private def stagedMatches(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(spark, dir, "span-matches") {
      matchesOf(t(spark, dir, "documents"))
    }

  /** Maximal runs (doc_id, partner, start, span) from a match frame. */
  private def runsOf(matches: DataFrame): DataFrame = {
    val byRun = Window.partitionBy("da", "db", "off").orderBy("pa")
    matches
      .withColumn("grp", col("pa") - lit(STRIDE) * row_number().over(byRun))
      .groupBy("da", "db", "off", "grp")
      .agg(count(lit(1)).as("k"), min("pa").as("start"))
      .select(col("da").as("doc_id"), col("db").as("partner"),
        col("off"), col("start").cast("long").as("start"),
        (lit(WIDTH.toLong) + lit(STRIDE.toLong) * (col("k") - 1))
          .cast("long").as("span"))
  }

  private def longestFromRuns(runs: DataFrame): DataFrame = {
    val perPartner = runs.groupBy("doc_id", "partner")
      .agg(max("span").as("span"))
    val pick = Window.partitionBy("doc_id")
      .orderBy(col("span").desc, col("partner").asc)
    perPartner
      .withColumn("__r", row_number().over(pick))
      .filter(col("__r") === 1)
      .select(col("doc_id"), col("partner"), col("span").as("longest_span"))
  }

  def qLongestSpan(spark: SparkSession, dir: String): DataFrame =
    longestFromRuns(runsOf(stagedMatches(spark, dir)))

  /** The report over any (doc_id, text) frame (spec entry point). */
  private[dedup] def longestSpanOf(docs: DataFrame): DataFrame =
    longestFromRuns(runsOf(matchesOf(docs)))

  /** Exact union-of-intervals duplicated-char mass per doc: each
    * matched position proves [p, p+width) shared, positions with gap
    * <= width merge into one covered island. `width` is the match
    * grain — the grid's WIDTH, or WK for winnowed anchors (where
    * consecutive selected positions inside a shared region gap
    * <= WW < WK, so one shared region is one contiguous island). */
  private def spanMassFrom(matches: DataFrame, docs: DataFrame,
                           width: Int = WIDTH): DataFrame = {
    val pos = matches.select(col("da").as("doc_id"), col("pa")).distinct()
    val byDoc = Window.partitionBy("doc_id").orderBy("pa")
    val islands = pos
      .withColumn("brk",
        when(col("pa") - lag("pa", 1).over(byDoc) > width, 1).otherwise(0))
      .withColumn("island", sum("brk").over(
        Window.partitionBy("doc_id").orderBy("pa")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg((max("pa") - min("pa") + width).cast("long").as("ilen"))
    islands.groupBy("doc_id")
      .agg(count(lit(1)).as("n_islands"),
        sum("ilen").as("dup_span_chars"))
      .join(docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars")), "doc_id")
      .select(col("doc_id"), col("n_islands"), col("dup_span_chars"),
        col("n_chars"),
        expr(graft.functions.Exact.rate6L("dup_span_chars", "n_chars"))
          .as("dup_span_frac"))
  }

  def qSpanMass(spark: SparkSession, dir: String): DataFrame =
    spanMassFrom(stagedMatches(spark, dir), t(spark, dir, "documents"))

  private[graft] def spanMassOf(docs: DataFrame): DataFrame =
    spanMassFrom(matchesOf(docs), docs)

  /** The MEASURE stage over winnowed anchors — the duplicated-char
    * KPI robust to unaligned copies, completing the winnowed
    * detect/measure/act triple symmetric with the grid family. */
  def qSpanWinnowedMass(spark: SparkSession, dir: String): DataFrame =
    spanMassFrom(stagedWinnowedMatches(spark, dir),
      t(spark, dir, "documents"), WK)

  private[dedup] def spanWinnowedMassOf(docs: DataFrame): DataFrame =
    spanMassFrom(winnowedMatchesOf(docs), docs, WK)

  /** Corpus rebuild: each LOSING doc (doc_id > partner) has its
    * maximal shared run excised when the run is >= MIN_CUT chars;
    * winners and clean docs pass through untouched, so the output is
    * the full corpus with per-doc audit columns. */
  private def rebuildFrom(matches: DataFrame, docs: DataFrame): DataFrame = {
    val pick = Window.partitionBy("doc_id")
      .orderBy(col("span").desc, col("partner").asc,
        col("off").asc, col("start").asc)
    val cuts = runsOf(matches)
      .filter(col("doc_id") > col("partner") && col("span") >= MIN_CUT)
      .withColumn("__r", row_number().over(pick))
      .filter(col("__r") === 1)
      .select(col("doc_id"), col("start"), col("span"))
    docs.select(col("doc_id"), col("text"))
      .join(cuts, Seq("doc_id"), "left")
      .withColumn("new_text",
        when(col("span").isNull, col("text"))
          .otherwise(expr(
            "concat(substring(text, 1, CAST(start AS INT) - 1), " +
              "substring(text, CAST(start + span AS INT)))")))
      .select(col("doc_id"),
        col("span").isNotNull.as("cut"),
        coalesce(col("start"), lit(0L)).as("cut_start"),
        coalesce(col("span"), lit(0L)).as("cut_len"),
        length(col("new_text")).cast("long").as("n_chars_after"),
        md5(col("new_text")).as("new_md5"))
  }

  def qSpanRebuild(spark: SparkSession, dir: String): DataFrame =
    rebuildFrom(stagedMatches(spark, dir), t(spark, dir, "documents"))

  private[dedup] def spanRebuildOf(docs: DataFrame): DataFrame =
    rebuildFrom(matchesOf(docs), docs)

  /** Multi-cut corpus rebuild (round-17, verdict-16 demand #5):
    * excise EVERY qualifying shared run from each losing doc, not just
    * the maximal one — a doc sharing three disjoint 200-char spans
    * loses all three. All (doc_id > partner, span >= MIN_CUT) runs
    * become [start, start+span) intervals, the per-doc interval UNION
    * is taken with the same gaps-and-islands frame the span-mass KPI
    * uses (break when an interval starts past the running max end),
    * and the merged intervals are multi-spliced out with one bounded
    * aggregate-HOF fold over the per-doc interval list (intervals per
    * doc <= len/MIN_CUT — single digits — so the collect_list is
    * doc-bounded, never corpus-sized). Winners and clean docs pass
    * through; per-doc audit = cuts, chars cut, chars after, md5. */
  private def rebuildAllFrom(matches: DataFrame, docs: DataFrame): DataFrame =
    rebuildAllFromRuns(runsOf(matches), docs)

  /** The multi-cut splice over ANY (doc_id, partner, start, span) runs
    * frame — shared by the grid variant and the winnowed variant (the
    * winnowed runs prove their spans exactly, so excision is as sound
    * there as on the grid). */
  private def rebuildAllFromRuns(runs: DataFrame, docs: DataFrame): DataFrame = {
    val iv = runs
      .filter(col("doc_id") > col("partner") && col("span") >= MIN_CUT)
      .select(col("doc_id"), col("start").as("s"),
        (col("start") + col("span")).as("e"))
      .distinct()
    val byDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    val merged = iv
      .withColumn("brk", when(col("s") > max("e").over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)), 1).otherwise(0))
      .withColumn("isl", sum("brk").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "isl")
      .agg(min("s").as("s"), max("e").as("e"))
    val perDoc = merged.groupBy("doc_id").agg(
      count(lit(1)).as("n_cuts"),
      sum(col("e") - col("s")).as("cut_chars"),
      sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    docs.select(col("doc_id"), col("text"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("new_text",
        when(col("ivs").isNull, col("text"))
          .otherwise(expr(
            """aggregate(ivs, named_struct('pos', CAST(1 AS BIGINT), 'acc', ''),
              |  (st, iv) -> named_struct(
              |    'pos', iv.e,
              |    'acc', concat(st.acc,
              |      substring(text, CAST(st.pos AS INT),
              |        CAST(iv.s - st.pos AS INT)))),
              |  st -> concat(st.acc, substring(text, CAST(st.pos AS INT))))"""
              .stripMargin)))
      .select(col("doc_id"),
        coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"),
        length(col("new_text")).cast("long").as("n_chars_after"),
        md5(col("new_text")).as("new_md5"))
  }

  def qSpanRebuildAll(spark: SparkSession, dir: String): DataFrame =
    rebuildAllFrom(stagedMatches(spark, dir), t(spark, dir, "documents"))

  private[dedup] def spanRebuildAllOf(docs: DataFrame): DataFrame =
    rebuildAllFrom(matchesOf(docs), docs)

  // ---- Winnowing-anchored spans (round-17, verdict-16 demand #4) ----
  //
  // The stride-8 grid above misses copies inserted at arbitrary offsets
  // when edits recur every < WIDTH chars (each 64-char grid window then
  // straddles an edit). Winnowing selection (Schleimer/Wilkerson/Aiken
  // 2003 — the engine's #200 text_winnowing) is position-INDEPENDENT:
  // which k-grams are selected depends only on a local w-window of
  // content, so a copied region selects the same anchors in both docs
  // no matter where it lands. Anchoring the same closed-form run
  // extension on winnowing-selected k-grams makes span detection
  // robust to unaligned copies: any shared substring of length >=
  // WK + WW - 1 = 47 chars shares a selected anchor, and consecutive
  // selected positions inside a shared region are <= WW apart — since
  // WW <= WK the matched k-grams OVERLAP, so a gaps-and-islands run
  // (break on gap > WW) proves the whole claimed span is shared, and a
  // planted copy of length L reports >= L - (WK + WW) regardless of
  // grid phase (LongestSpanSpec plants at a deliberately non-grid
  // offset). Match keys are md5 of the anchored k-gram (exact), the
  // 31-poly hash is only the selection rule — one false-anchor class
  // fewer than matching on the selection hash itself.
  //
  // Scale shape mirrors the grid family: per-doc codegen HOF selection
  // (zero shuffle, ~2/(WW+1) anchor density vs the grid's 1/STRIDE),
  // anchor-key census, CAP-bounded match join, bounded (doc, partner,
  // offset) windows.

  private val WK = 32          // anchor k-gram length
  private val WW = 16          // winnowing window (density 2/(WW+1))
  private val WPACK = 1L << 21 // (hash, pos) packing — Winnowing.scala

  /** Winnowing-selected anchors (doc_id, p, ah): the rightmost-min
    * selection of Winnowing.scala at span-grain (WK, WW), with the
    * selected POSITION unpacked and the k-gram md5'd for exact
    * matching. The selection runs through the native
    * [[graft.functions.WinnowedPositions]] codegen expression — the
    * declarative HOF form pays ~n*(WK+WW) interpreted lambda
    * evaluations per doc (measured 219 s on the adversarial 50k-doc
    * sf1 corpus vs ~2 s compiled); the DuckDB oracle keeps the full
    * declarative mirror, which pins the expression's semantics. */
  private def winnowedAnchorsOf(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= WK + WW - 1)
      .withColumn("p", explode(
        graft.functions.GraftFunctions.winnowedPositions(col("text"), WK, WW)))
      .select(col("doc_id"), col("p"),
        expr(s"md5(substring(text, p, $WK))").as("ah"))

  /** Cap-bounded cross-doc matched-ANCHOR frame (da, db, pa, off). */
  private[dedup] def winnowedMatchesOf(docs: DataFrame): DataFrame = {
    val anchors = winnowedAnchorsOf(docs)
    val eligible = anchors.join(
      anchors.groupBy("ah").agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") <= CAP)
        .select("ah"),
      "ah")
    eligible
      .select(col("ah"), col("doc_id").as("da"), col("p").as("pa"))
      .join(eligible.select(col("ah"), col("doc_id").as("db"), col("p").as("pb")),
        "ah")
      .filter(col("da") =!= col("db"))
      .select(col("da"), col("db"), col("pa"), (col("pb") - col("pa")).as("off"))
  }

  /** Maximal anchored runs: winnowing guarantees consecutive selected
    * positions in a shared region gap <= WW, so break on gap > WW;
    * WW <= WK keeps consecutive matched k-grams overlapping, making
    * every claimed span exactly proven. */
  private def winnowedRunsOf(matches: DataFrame): DataFrame = {
    val byOff = Window.partitionBy("da", "db", "off").orderBy("pa")
    matches
      .withColumn("brk",
        when(col("pa") - lag("pa", 1).over(byOff) > WW, 1).otherwise(0))
      .withColumn("run", sum("brk").over(
        byOff.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("da", "db", "off", "run")
      .agg(min("pa").as("pmin"), max("pa").as("pmax"))
      .select(col("da").as("doc_id"), col("db").as("partner"),
        col("off"), col("pmin").cast("long").as("start"),
        (col("pmax") - col("pmin") + WK).cast("long").as("span"))
  }

  /** Winnowed matches staged per (JVM, dir) like the grid family's
    * match frame — the anchor projection is referenced four times
    * through the census + self-join, so materializing the match frame
    * once is the ingest-time index a deployment would store. */
  private def stagedWinnowedMatches(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(spark, dir, "span-winnowed-matches") {
      winnowedMatchesOf(t(spark, dir, "documents"))
    }

  def qSpanWinnowed(spark: SparkSession, dir: String): DataFrame =
    longestFromRuns(winnowedRunsOf(stagedWinnowedMatches(spark, dir)))

  /** The winnowed report over any (doc_id, text) frame (spec entry). */
  private[dedup] def spanWinnowedOf(docs: DataFrame): DataFrame =
    longestFromRuns(winnowedRunsOf(winnowedMatchesOf(docs)))

  /** The ACT stage for UNALIGNED duplicates: the multi-cut rebuild
    * driven by the winnowed runs instead of the grid runs — a copy
    * pasted at an arbitrary offset (the grid's blind spot) still gets
    * excised from the losing doc. Same loser rule, MIN_CUT, interval
    * union and splice as [[qSpanRebuildAll]]. */
  def qSpanRebuildWinnowed(spark: SparkSession, dir: String): DataFrame =
    rebuildAllFromRuns(winnowedRunsOf(stagedWinnowedMatches(spark, dir)),
      t(spark, dir, "documents"))

  private[dedup] def spanRebuildWinnowedOf(docs: DataFrame): DataFrame =
    rebuildAllFromRuns(winnowedRunsOf(winnowedMatchesOf(docs)), docs)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_longest_span" -> (qLongestSpan _),
    "dedup_span_mass" -> (qSpanMass _),
    "dedup_span_rebuild" -> (qSpanRebuild _),
    "dedup_span_rebuild_all" -> (qSpanRebuildAll _),
    "dedup_span_rebuild_winnowed" -> (qSpanRebuildWinnowed _),
    "dedup_span_winnowed" -> (qSpanWinnowed _),
    "dedup_span_winnowed_mass" -> (qSpanWinnowedMass _))

  /** Shared CTE chain: strided windows -> posting-cap -> match frame. */
  private val matchCtes =
    s"""w0 AS (SELECT doc_id, unnest(range(1, len(text) - ${WIDTH - 2}, $STRIDE)) AS p, text
       |  FROM documents WHERE len(text) >= $WIDTH),
       |w AS (SELECT doc_id, p,
       |    md5(substr(text, CAST(p AS INT), $WIDTH)) AS wh FROM w0),
       |elig AS (SELECT w.doc_id, w.p, w.wh FROM w
       |  JOIN (SELECT wh FROM w GROUP BY wh HAVING count(*) <= $CAP) c
       |  USING (wh)),
       |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa,
       |    b.p - a.p AS off
       |  FROM elig a JOIN elig b ON a.wh = b.wh AND a.doc_id != b.doc_id)""".stripMargin

  private val runCtes =
    s"""$matchCtes,
       |rgrp AS (SELECT da, db, off, pa,
       |    pa - $STRIDE * row_number() OVER (
       |      PARTITION BY da, db, off ORDER BY pa) AS grp
       |  FROM m),
       |runs AS (SELECT da AS doc_id, db AS partner, off,
       |    CAST(min(pa) AS BIGINT) AS start,
       |    CAST($WIDTH + $STRIDE * (count(*) - 1) AS BIGINT) AS span
       |  FROM rgrp GROUP BY da, db, off, grp)""".stripMargin

  /** Run CTEs + the loser-pick — shared with the span-savings rollup. */
  private[dedup] val rebuildCtes =
    s"""$runCtes,
       |losers AS (SELECT doc_id, partner, off, start, span,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY span DESC, partner ASC, off ASC, start ASC) AS r
       |  FROM runs WHERE doc_id > partner AND span >= $MIN_CUT),
       |cuts AS (SELECT doc_id, start, span FROM losers WHERE r = 1)""".stripMargin

  /** Winnowed-anchor CTE chain (mirrors Winnowing.scala's oracle with
    * (WK, WW) + the md5 anchor, then the grid family's run shape). */
  private val winnowedRunCtes =
    s"""wdoc AS (
       |  SELECT doc_id, text,
       |    length(text) - ${WK - 1} AS n_kgrams,
       |    list_transform(range(1, length(text) - ${WK - 1} + 1), i ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(range(i, i + $WK),
       |            j -> CAST(ascii(substring(text, CAST(j AS INT), 1)) AS BIGINT))),
       |        (h, c) -> (h * 31 + c) % 1000000007)) AS hs
       |  FROM documents WHERE length(text) >= ${WK + WW - 1}),
       |wsel AS (
       |  SELECT doc_id, text,
       |    list_distinct(list_transform(range(1, n_kgrams - ${WW - 1} + 1), s ->
       |      list_min(list_transform(range(s, s + $WW),
       |        j -> hs[CAST(j AS INT)] * $WPACK + (${WPACK - 1} - j))))) AS sel
       |  FROM wdoc),
       |wa AS (
       |  SELECT doc_id,
       |    CAST(${WPACK - 1} - (x % $WPACK) AS INT) AS p,
       |    md5(substr(text, CAST(${WPACK - 1} - (x % $WPACK) AS INT), $WK)) AS ah
       |  FROM (SELECT doc_id, text, unnest(sel) AS x FROM wsel)),
       |welig AS (SELECT wa.doc_id, wa.p, wa.ah FROM wa
       |  JOIN (SELECT ah FROM wa GROUP BY ah HAVING count(*) <= $CAP) c
       |  USING (ah)),
       |wm AS (SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa,
       |    b.p - a.p AS off
       |  FROM welig a JOIN welig b ON a.ah = b.ah AND a.doc_id != b.doc_id),
       |wbrk AS (SELECT da, db, off, pa,
       |    CASE WHEN pa - lag(pa) OVER (PARTITION BY da, db, off ORDER BY pa)
       |      > $WW THEN 1 ELSE 0 END AS brk
       |  FROM wm),
       |wisl AS (SELECT da, db, off, pa,
       |    sum(brk) OVER (PARTITION BY da, db, off ORDER BY pa
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM wbrk),
       |wruns AS (SELECT da AS doc_id, db AS partner,
       |    CAST(min(pa) AS BIGINT) AS start,
       |    CAST(max(pa) - min(pa) + $WK AS BIGINT) AS span
       |  FROM wisl GROUP BY da, db, off, run)""".stripMargin

  /** The multi-cut interval-union + splice CTEs over any runs CTE
    * (doc_id, partner, start, span) — shared by the grid and winnowed
    * rebuild-all oracles and the savings rollup. */
  private[dedup] def multiCutCtes(runsCte: String): String =
    s"""qiv AS (SELECT DISTINCT doc_id, start AS s, start + span AS e
       |  FROM $runsCte WHERE doc_id > partner AND span >= $MIN_CUT),
       |mbrk AS (SELECT doc_id, s, e,
       |    CASE WHEN s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    THEN 1 ELSE 0 END AS brk
       |  FROM qiv),
       |misl AS (SELECT doc_id, s, e,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM mbrk),
       |merged AS (SELECT doc_id, min(s) AS s, max(e) AS e
       |  FROM misl GROUP BY doc_id, isl),
       |lagged AS (SELECT doc_id, s, e,
       |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS prev_e
       |  FROM merged),
       |pieces AS (
       |  SELECT l.doc_id, l.s AS ord,
       |    substr(d.text, CAST(l.prev_e AS INT),
       |      CAST(l.s - l.prev_e AS INT)) AS piece
       |  FROM lagged l JOIN documents d USING (doc_id)
       |  UNION ALL
       |  SELECT m.doc_id, CAST(1000000000 AS BIGINT),
       |    substr(d.text, CAST(max(m.e) AS INT)) AS piece
       |  FROM merged m JOIN documents d USING (doc_id)
       |  GROUP BY m.doc_id, d.text),
       |rebuilt AS (SELECT doc_id,
       |    string_agg(piece, '' ORDER BY ord) AS new_text
       |  FROM pieces GROUP BY doc_id),
       |stats AS (SELECT doc_id, count(*) AS n_cuts,
       |    CAST(sum(e - s) AS BIGINT) AS cut_chars
       |  FROM merged GROUP BY doc_id)""".stripMargin

  private def multiCutSql(runsCte: String): String =
    s"""${multiCutCtes(runsCte)}
       |SELECT d.doc_id,
       |  CAST(coalesce(s.n_cuts, 0) AS BIGINT) AS n_cuts,
       |  CAST(coalesce(s.cut_chars, 0) AS BIGINT) AS cut_chars,
       |  len(coalesce(r.new_text, d.text)) AS n_chars_after,
       |  md5(coalesce(r.new_text, d.text)) AS new_md5
       |FROM documents d
       |LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
       |LEFT JOIN stats s ON s.doc_id = d.doc_id""".stripMargin

  /** Grid run CTEs, shared with the savings rollup (ReleaseGate). */
  private[dedup] def gridRunCtes: String = runCtes

  val oracleSql: Map[String, String] = Map(
    "dedup_span_winnowed" ->
      s"""WITH $winnowedRunCtes,
         |wper AS (SELECT doc_id, partner, max(span) AS span
         |  FROM wruns GROUP BY doc_id, partner),
         |wrk AS (SELECT doc_id, partner, span, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY span DESC, partner ASC) AS r
         |  FROM wper)
         |SELECT doc_id, partner, span AS longest_span FROM wrk WHERE r = 1""".stripMargin,
    "dedup_longest_span" ->
      s"""WITH $runCtes,
         |per AS (SELECT doc_id, partner, max(span) AS span
         |  FROM runs GROUP BY doc_id, partner),
         |rk AS (SELECT doc_id, partner, span, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY span DESC, partner ASC) AS r
         |  FROM per)
         |SELECT doc_id, partner, span AS longest_span FROM rk WHERE r = 1""".stripMargin,
    "dedup_span_mass" ->
      s"""WITH $matchCtes,
         |pos AS (SELECT DISTINCT da AS doc_id, pa FROM m),
         |brks AS (SELECT doc_id, pa,
         |    CASE WHEN pa - lag(pa) OVER (PARTITION BY doc_id ORDER BY pa)
         |      > $WIDTH THEN 1 ELSE 0 END AS brk
         |  FROM pos),
         |isl AS (SELECT doc_id, pa,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pa
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM brks),
         |ilens AS (SELECT doc_id, island,
         |    CAST(max(pa) - min(pa) + $WIDTH AS BIGINT) AS ilen
         |  FROM isl GROUP BY doc_id, island),
         |per AS (SELECT doc_id, count(*) AS n_islands,
         |    CAST(sum(ilen) AS BIGINT) AS dup_span_chars
         |  FROM ilens GROUP BY doc_id)
         |SELECT p.doc_id, p.n_islands, p.dup_span_chars,
         |  len(d.text) AS n_chars,
         |  ${graft.functions.Exact.duck6("p.dup_span_chars", "len(d.text)")}
         |    AS dup_span_frac
         |FROM per p JOIN documents d ON d.doc_id = p.doc_id""".stripMargin,
    "dedup_span_rebuild_all" ->
      s"WITH $runCtes,\n${multiCutSql("runs")}",
    "dedup_span_rebuild_winnowed" ->
      s"WITH $winnowedRunCtes,\n${multiCutSql("wruns")}",
    "dedup_span_winnowed_mass" ->
      s"""WITH $winnowedRunCtes,
         |wpos AS (SELECT DISTINCT da AS doc_id, pa FROM wm),
         |wmbrk AS (SELECT doc_id, pa,
         |    CASE WHEN pa - lag(pa) OVER (PARTITION BY doc_id ORDER BY pa)
         |      > $WK THEN 1 ELSE 0 END AS brk
         |  FROM wpos),
         |wmisl AS (SELECT doc_id, pa,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pa
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM wmbrk),
         |wilens AS (SELECT doc_id, island,
         |    CAST(max(pa) - min(pa) + $WK AS BIGINT) AS ilen
         |  FROM wmisl GROUP BY doc_id, island),
         |wper AS (SELECT doc_id, count(*) AS n_islands,
         |    CAST(sum(ilen) AS BIGINT) AS dup_span_chars
         |  FROM wilens GROUP BY doc_id)
         |SELECT p.doc_id, p.n_islands, p.dup_span_chars,
         |  len(d.text) AS n_chars,
         |  ${graft.functions.Exact.duck6("p.dup_span_chars", "len(d.text)")}
         |    AS dup_span_frac
         |FROM wper p JOIN documents d ON d.doc_id = p.doc_id""".stripMargin,
    "dedup_span_rebuild" ->
      s"""WITH $rebuildCtes
         |SELECT d.doc_id,
         |  c.span IS NOT NULL AS cut,
         |  COALESCE(c.start, 0) AS cut_start,
         |  COALESCE(c.span, 0) AS cut_len,
         |  len(CASE WHEN c.span IS NULL THEN d.text
         |    ELSE substr(d.text, 1, CAST(c.start AS INT) - 1)
         |      || substr(d.text, CAST(c.start + c.span AS INT)) END)
         |    AS n_chars_after,
         |  md5(CASE WHEN c.span IS NULL THEN d.text
         |    ELSE substr(d.text, 1, CAST(c.start AS INT) - 1)
         |      || substr(d.text, CAST(c.start + c.span AS INT)) END)
         |    AS new_md5
         |FROM documents d LEFT JOIN cuts c ON c.doc_id = d.doc_id""".stripMargin)
}
