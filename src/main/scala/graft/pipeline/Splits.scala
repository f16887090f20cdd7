package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Deterministic dataset splitting and sampling — at 100 TB both must
  * be pure per-row hash functions (no RNG state, no global sort, no
  * sampling pass): every row decides its own fate from its key, so
  * the split is stable across reruns, executors, and engines.
  *
  * The shared hash is the first 3 hex nibbles of md5(key) read as an
  * integer (0..4095) — cheap, uniform enough for bucketing, and
  * computable identically in Spark and DuckDB (both have md5/instr/
  * substr; neither needs a hex-parse builtin).
  */
object Splits extends graft.Registry {

  /** 0..15 from the hex nibble at (1-based) SQL position `pos` of
    * `hexExpr` (SQL string holding a lowercase hex digest) — the one
    * spelling of the instr() hex parse, which Spark and DuckDB read
    * identically (neither needs a hex-parse builtin). */
  private[graft] def nibbleSql(hexExpr: String, pos: String): String =
    s"(instr('0123456789abcdef', substr($hexExpr, $pos, 1)) - 1)"

  /** 0..16^n-1 from the `n` hex nibbles of `hexExpr` starting at
    * position `from`, most significant first. */
  private[graft] def nibblesSql(hexExpr: String, from: Int = 1, n: Int = 3): String =
    (0 until n).map(i =>
      s"${nibbleSql(hexExpr, (from + i).toString)} * ${BigInt(16).pow(n - 1 - i)}")
      .mkString("(", " + ", ")")

  /** 0..4095 from the first 3 md5 nibbles of `keyExpr` (SQL string).
    * Shared with Mix — the one cross-engine row hash every
    * deterministic gate in the pipeline uses. */
  private[graft] def nibbleHashSql(keyExpr: String): String =
    nibblesSql(s"md5($keyExpr)")

  private def nibbleHash(keyExpr: String): Column = expr(nibbleHashSql(keyExpr))

  /** 80/10/10 train/val/test split of the documents corpus by content
    * id hash; output is the per-split row count + id range (stable,
    * small, and enough for the oracle to prove the assignment). */
  def qSplit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("bucket", pmod(nibbleHash("cast(doc_id as string)"), lit(100)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))

  /** Cross-split leakage audit: train documents sharing >= 10 distinct
    * word-8-grams with any held-out (val/test) document — the
    * decontamination pass run ACROSS the engine's own deterministic
    * splits, the audit every training run owes its eval set.
    *
    * LONG word grams are what make this scale (and what public
    * decontamination practice uses — 8-to-13-word windows): an 8-word
    * window is near-unique except inside genuinely duplicated
    * passages (measured on this corpus: 224k distinct grams in 235k
    * rows, max document frequency 4), so the gram equi-join's fan-out
    * is bounded by that tiny df and the plan is a plain co-partitioned
    * shuffle join on the gram key — no broadcast needed, both sides
    * scale. The round-5 char-5-gram formulation had ~2k distinct grams
    * with median df ~300: every gram matched hundreds of documents per
    * side and the join exploded quadratically (measured 36 s at sf0.1;
    * this shape is 0.6 s and is the one that survives 100 TB). */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    // the 8-gram explode below is derived TWICE (train side, held-out
    // side), each a CPU-heavy single-task pass over the one-row-group
    // text scan — spread the scan so both branches parallelize
    val docs = graft.Tables.docsSpread(spark, dir)
      .withColumn("bucket", pmod(nibbleHash("cast(doc_id as string)"), lit(100)))
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 8)
    val grams = expr(
      "array_distinct(transform(sequence(1, size(ws) - 7), " +
        "i -> array_join(slice(ws, i, 8), ' ')))")
    def gramsOf(df: org.apache.spark.sql.DataFrame, idAs: String) =
      df.select(col("doc_id").as(idAs), explode(grams).as("g"))
    val heldOut = gramsOf(docs.filter(col("bucket") >= 80), "held_id")
    gramsOf(docs.filter(col("bucket") < 80), "train_id")
      .join(heldOut, "g")
      .groupBy("train_id", "held_id")
      // grams are per-doc distinct, so a plain count is the
      // distinct-shared-gram count
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 10)
  }

  /** Cluster-aware (dedup-family-atomic) train/val/test split — the
    * leakage-PROOF split, where the id-hash split above needs the
    * leakage AUDIT after the fact: every member of a VERIFIED
    * near-dup family (converged components over the Jaccard >= 0.8
    * pairs — band-collision chains alone merge this corpus into one
    * giant component) hashes on its family's cluster label
    * (singletons on their own id), so near-duplicates can never
    * straddle train and held-out — the eval-integrity rule real LLM
    * data pipelines enforce at split time. Rides the staged verified
    * cluster labels (one co-partitioned left join on doc_id); the
    * gate stays a pure per-row hash, rerun-stable. Output: per
    * split, documents, distinct hash groups and clustered members. */
  def qSplitByCluster(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .join(graft.dedup.Dedup.stagedVerifiedClusters(spark, dir), Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", pmod(nibbleHash("cast(grp as string)"), lit(100)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("grp").as("n_groups"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L)).as("n_clustered"))

  /** Deterministic ~10% sample of the events stream, stratum counts by
    * event type — the hash gate is a pure row-local filter evaluated
    * before the partial aggregate (no sampling pass, no extra shuffle;
    * being an expression it cannot become a parquet PushedFilter, but
    * rows die in the scan's own stage). */
  def qSampleEvents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .filter(pmod(nibbleHash("cast(event_id as string)"), lit(10)) === 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_sampled"))

  /** Epochs / shards for the epoch-shuffle report (literals so the
    * oracle reproduces; a production loader would run hundreds of
    * shards — the mechanism is shard-count-agnostic). */
  private val EPOCHS = 3
  private val SHARDS = 8

  /** Deterministic per-epoch shuffle + shard assignment — the
    * training-loader primitive: epoch e's order for a document is
    * md5("e" + e + ":" + doc_id), so every epoch is a fresh,
    * rerun-stable permutation with NO RNG state, no global sort and
    * no coordination — each row derives its own (shard, position)
    * from its key, and a preempted/re-run job lands every document
    * in the identical slot. Shard = first-3-nibble hash of the same
    * key; within-shard order = the full digest (readers stream shards
    * sequentially, so only the PER-SHARD sort matters — a partitioned
    * window, never a global one). Per (epoch, shard): doc count,
    * subtoken mass (the loader's batch-budget input), the first
    * document in shard order, and an order-sensitive checksum
    * sum(position * (hash % 997)) that changes if ANY two documents
    * swap places — the cross-engine proof the permutation itself
    * (not just the multiset) is identical. */
  def qEpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = t(spark, dir, "documents")
      .withColumn("nst",
        expr("aggregate(split(text, ' '), CAST(0 AS BIGINT), (a, w) -> a + ((length(w) + 3) div 4))"))
      .select(col("doc_id"), col("nst"),
        explode(expr(s"sequence(0, ${EPOCHS - 1})")).as("epoch"))
      .withColumn("okey", expr("md5(concat('e', epoch, ':', doc_id))"))
      .withColumn("hv", expr(nibblesSql("okey")))
      .withColumn("shard", col("hv") % SHARDS)
      .withColumn("ckey",
        expr("concat(okey, lpad(cast(doc_id as string), 12, '0'))"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("epoch", "shard").orderBy("ckey")))
    ranked.groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("nst").as("n_tokens"),
        expr("cast(substr(min(ckey), 33, 12) as bigint)").as("first_doc"),
        sum(col("pos").cast("long") * (col("hv") % 997)).as("order_sum"))
  }

  /** Deterministic minority-class oversampling — the class-rebalancing
    * step before training on an imbalanced corpus: each language class
    * replicates every document floor(max_class/n_class) times (an
    * integer factor >= 1, so the majority class keeps factor 1 and no
    * document is ever dropped). No RNG: replication is a bounded
    * explode(sequence(1, factor)), so reruns and engines agree row for
    * row. The report carries n_before/factor/n_after plus an
    * order-free replica checksum sum(doc_id * replica_idx) that proves
    * each replica materialized distinctly (a factor-multiplied count
    * could not fake it). Scale shape: class stats are a K-row bounded
    * aggregate broadcast back; the explode is the oversampling itself
    * (output-sized, irreducible); one final per-class rollup. */
  def qOversample(spark: SparkSession, dir: String): DataFrame =
    oversampleOf(t(spark, dir, "documents"))

  private[pipeline] def oversampleOf(docs: DataFrame): DataFrame = {
    val per = docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
    val mx = per.agg(max("n_before").as("mx"))
    val fac = per.crossJoin(broadcast(mx))
      .select(col("lang"), col("n_before"),
        expr("CAST(mx DIV n_before AS BIGINT)").as("factor"))
    docs.select("lang", "doc_id")
      .join(broadcast(fac), "lang")
      .select(col("lang"), col("n_before"), col("factor"), col("doc_id"),
        explode(expr("sequence(1, factor)")).as("rep"))
      .groupBy("lang", "n_before", "factor")
      .agg(count(lit(1)).as("n_after"),
        sum(col("doc_id") * col("rep")).as("replica_checksum"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_oversample" -> (qOversample _),
    "pipeline_epoch_shuffle" -> (qEpochShuffle _),
    "pipeline_split" -> (qSplit _),
    "pipeline_sample_events" -> (qSampleEvents _),
    "pipeline_split_by_cluster" -> (qSplitByCluster _),
    "pipeline_split_leakage" -> (qSplitLeakage _))

  val oracleSql: Map[String, String] = Map(
    "pipeline_oversample" ->
      """WITH per AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
        |mx AS (SELECT max(n_before) AS mx FROM per),
        |fac AS (SELECT lang, n_before, CAST(mx // n_before AS BIGINT) AS factor
        |  FROM per, mx),
        |rep AS (SELECT d.lang, f.n_before, f.factor, d.doc_id,
        |    unnest(range(1, f.factor + 1)) AS rep
        |  FROM documents d JOIN fac f USING (lang))
        |SELECT lang, n_before, factor, count(*) AS n_after,
        |  CAST(sum(doc_id * rep) AS BIGINT) AS replica_checksum
        |FROM rep GROUP BY lang, n_before, factor""".stripMargin,
    "pipeline_epoch_shuffle" ->
      s"""WITH d AS (SELECT doc_id,
         |    list_sum(list_transform(string_split(text, ' '),
         |      w -> (len(w) + 3) // 4)) AS nst
         |  FROM documents),
         |e AS (SELECT doc_id, nst, unnest(range(0, $EPOCHS)) AS epoch FROM d),
         |k AS (SELECT epoch, doc_id, nst,
         |    md5(concat('e', epoch, ':', doc_id)) AS okey FROM e),
         |k2 AS (SELECT *, ${nibblesSql("okey")} AS hv,
         |    okey || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS ckey FROM k),
         |k3 AS (SELECT *, hv % $SHARDS AS shard,
         |    row_number() OVER (PARTITION BY epoch, hv % $SHARDS
         |                       ORDER BY ckey) AS pos FROM k2)
         |SELECT epoch, shard, count(*) AS n_docs,
         |  CAST(sum(nst) AS BIGINT) AS n_tokens,
         |  CAST(substr(min(ckey), 33, 12) AS BIGINT) AS first_doc,
         |  CAST(sum(pos * (hv % 997)) AS BIGINT) AS order_sum
         |FROM k3 GROUP BY epoch, shard""".stripMargin,
    "pipeline_split_leakage" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
         |    ${nibbleHashSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |  FROM documents),
         |g AS (SELECT doc_id, bucket, unnest(list_distinct(list_transform(
         |    range(1, len(ws) - 6),
         |    i -> array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')))) AS g
         |  FROM d WHERE len(ws) >= 8)
         |SELECT tr.doc_id AS train_id, ho.doc_id AS held_id, count(*) AS n_shared
         |FROM g tr JOIN g ho ON tr.g = ho.g
         |WHERE tr.bucket < 80 AND ho.bucket >= 80
         |GROUP BY tr.doc_id, ho.doc_id
         |HAVING count(*) >= 10""".stripMargin,
    "pipeline_split" ->
      s"""SELECT split, count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |          ${nibbleHashSql("CAST(doc_id AS VARCHAR)")} % 100 AS b
         |        FROM documents))
         |GROUP BY split""".stripMargin,
    "pipeline_sample_events" ->
      s"""SELECT event_type, count(*) AS n_sampled FROM events
         |WHERE ${nibbleHashSql("CAST(event_id AS VARCHAR)")} % 10 = 0
         |GROUP BY event_type""".stripMargin,
    // verified-near-dup family labels via an unrolled 6-sweep
    // label-propagation chain: the verified-pair graph converges in
    // <= 5 sweeps at every tested SF (measured; min-propagation is
    // idempotent past the fixpoint, so extra sweeps are no-ops)
    "pipeline_split_by_cluster" -> {
      // every sweep reads its predecessor TWICE (join + union) — the
      // §4 DuckDB re-inlining trap: unhinted, l0's verify chain
      // re-evaluates 2^6 times (measured 23 s of a 3-row oracle)
      val sweep = (in: String, out: String) =>
        s"""$out AS MATERIALIZED (SELECT doc_id, min(lbl) AS lbl FROM (
           |  SELECT e2.d AS doc_id, p.lbl FROM e2 JOIN $in p ON p.doc_id = e2.s
           |  UNION ALL SELECT doc_id, lbl FROM $in) GROUP BY doc_id)""".stripMargin
      val sweeps = (1 to 6).map(i => sweep(s"l${i - 1}", s"l$i")).mkString(",\n")
      s"""WITH ${graft.dedup.Dedup.sigSql},
         |${graft.dedup.Dedup.bandsSql},
         |${graft.dedup.Dedup.candsSql},
         |w AS (SELECT doc_id, list_distinct(string_split(${graft.dedup.Dedup.NT}, ' ')) AS ws FROM documents),
         |vp AS MATERIALIZED (SELECT ia, ib FROM (
         |  SELECT ia, ib,
         |    CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
         |      / len(list_distinct(list_concat(wa.ws, wb.ws))) AS j
         |  FROM cands JOIN w wa ON ia = wa.doc_id JOIN w wb ON ib = wb.doc_id)
         |  WHERE j >= 0.8),
         |e2 AS MATERIALIZED (SELECT ia AS s, ib AS d FROM vp
         |       UNION ALL SELECT ib AS s, ia AS d FROM vp),
         |nodes AS (SELECT DISTINCT s AS doc_id FROM e2),
         |l0 AS (SELECT doc_id, doc_id AS lbl FROM nodes),
         |$sweeps,
         |lab AS (SELECT d.doc_id, l6.lbl AS cluster_id
         |  FROM documents d LEFT JOIN l6 ON l6.doc_id = d.doc_id),
         |g AS (SELECT doc_id, cluster_id,
         |    coalesce(cluster_id, doc_id) AS grp FROM lab),
         |s AS (SELECT doc_id, cluster_id, grp,
         |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT *, ${nibbleHashSql("CAST(grp AS VARCHAR)")} % 100 AS b FROM g))
         |SELECT split, count(*) AS n_docs,
         |  CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
         |  CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered
         |FROM s GROUP BY split""".stripMargin
    })
}
