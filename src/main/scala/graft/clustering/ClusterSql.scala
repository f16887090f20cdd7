package graft.clustering

/** Shared oracle-SQL generators for the clustering queries.
  *
  * Design constraint (SURVEY.md §4): the testdata has duplicate rows
  * per pid, so no oracle may rely on a unique row id. Centers are
  * pivoted into ONE wide row, cross-joined (a 1-row broadcast), and
  * argmin is a first-min CASE chain — one output row per input row.
  */
private[graft] object ClusterSql {

  val orderCols: String = ("pid" +: Points.dims).mkString(", ")

  /** Pivot a (k, c1..cD) centers CTE into one wide row {prefix}{k}_{j}.
    * A non-default prefix keeps column names distinct when several
    * widened codebooks join into one scope (the PQ ADC table). */
  def widenSql(k: Int, cIn: String, out: String,
               dims: Seq[String] = Points.dims, prefix: String = "k",
               mat: Boolean = false): String =
    s"$out AS ${if (mat) "MATERIALIZED " else ""}(${pivotSql(k, cIn, dims, prefix)})"

  private def pivotSql(k: Int, cIn: String, dims: Seq[String], prefix: String): String =
    "SELECT " + (0 until k).flatMap(ki => dims.indices.map(j =>
      s"max(CASE WHEN k = $ki THEN c${j + 1} END) AS $prefix${ki}_${j + 1}")).mkString(", ") +
      s" FROM $cIn"

  /** `cIn` widened like widenSql, except that a class with no row in
    * `cIn` takes its center from `prev`, an earlier widen: the engine's
    * reseed (KMeans.train), where an emptied cluster keeps its previous
    * center. */
  private def carrySql(k: Int, cIn: String, prev: String, out: String,
                       dims: Seq[String], mat: Boolean): String =
    s"$out AS ${if (mat) "MATERIALIZED " else ""}(SELECT " +
      (0 until k).flatMap(ki => dims.indices.map(j => s"k${ki}_${j + 1}"))
        .map(c => s"coalesce(n.$c, o.$c) AS $c").mkString(", ") +
      s" FROM (${pivotSql(k, cIn, dims, "k")}) n CROSS JOIN $prev o)"

  /** Euclidean distance to wide-row center k, matching Points.distTo's
    * operation order (left-fold adds, x*x). */
  def distExprSql(ki: Int, prefix: String = "k",
                  dims: Seq[String] = Points.dims): String =
    "sqrt(" + dims.zipWithIndex.map { case (d, j) =>
      s"($d - $prefix${ki}_${j + 1}) * ($d - $prefix${ki}_${j + 1})"
    }.mkString(" + ") + ")"

  /** One assign stage over wide centers: nearest-center k (ties ->
    * lowest k) and its distance, one row per input row of `src`.
    *
    * A class whose center columns are NULL (GKA's empty class, which
    * centersSql leaves out) gets distance +infinity, so both the
    * CASE-chain argmin and least() behave exactly like GKA's +inf
    * sentinel center (a raw NULL d$i would NULL-out whole CASE arms and
    * fall through to ELSE k-1, silently assigning the wrong class).
    * Lloyd never reaches it: lloydChainSql carries an emptied class's
    * previous center instead.
    *
    * `mat` materializes BOTH emitted CTEs — required where a consumer
    * references them repeatedly (the IVF probe union reads `acell_d`
    * once per cell; DuckDB re-inlines a plain CTE per reference, so
    * without the hint the whole upstream Lloyd chain re-evaluates
    * CELLS times — measured minutes-per-oracle at sf0.01). */
  def assignSql(k: Int, cwIn: String, out: String, src: String = "pts",
                dims: Seq[String] = Points.dims, mat: Boolean = false): String = {
    val m = if (mat) "MATERIALIZED " else ""
    val ds = (0 until k).map(ki =>
      s"coalesce(${distExprSql(ki, "k", dims)}, CAST('infinity' AS DOUBLE)) AS d$ki").mkString(", ")
    val caseArm = (0 until k - 1).map(i =>
      "WHEN " + (i + 1 until k).map(j => s"d$i <= d$j").mkString(" AND ") + s" THEN $i").mkString(" ")
    s"""${out}_d AS $m(
       |  SELECT p.*, $ds FROM $src p CROSS JOIN $cwIn),
       |$out AS $m(
       |  SELECT *, least(${(0 until k).map("d" + _).mkString(", ")}) AS dist,
       |    CASE $caseArm ELSE ${k - 1} END AS k
       |  FROM ${out}_d)""".stripMargin
  }

  /** Per-class mean centers (round 6) from an assignment column. */
  def centersSql(solCol: String, src: String, out: String,
                 dims: Seq[String] = Points.dims): String =
    s"""$out AS (
       |  SELECT $solCol AS k, ${dims.zipWithIndex.map { case (d, j) => s"round(avg($d), 6) AS c${j + 1}" }.mkString(", ")}
       |  FROM $src GROUP BY $solCol)""".stripMargin

  /** Whole-oracle generators, parametric in the point set and dims. */
  def c0Sql(k: Int, ptsSql: String, dims: Seq[String], out: String = "c0",
            src: String = "pts"): String = {
    val oc = ("pid" +: dims).mkString(", ")
    s"""$out AS (
       |  SELECT CAST(row_number() OVER (ORDER BY $oc) - 1 AS INT) AS k,
       |         ${dims.zipWithIndex.map { case (d, i) => s"$d AS c${i + 1}" }.mkString(", ")}
       |  FROM (SELECT * FROM $src ORDER BY $oc LIMIT $k))""".stripMargin
  }

  def updateSql(aIn: String, out: String, dims: Seq[String],
                mat: Boolean = false): String =
    s"""$out AS ${if (mat) "MATERIALIZED " else ""}(
       |  SELECT k, count(*) AS n,
       |         ${dims.zipWithIndex.map { case (d, i) => s"round(avg($d), 6) AS c${i + 1}" }.mkString(", ")}
       |  FROM $aIn GROUP BY k)""".stripMargin

  /** The Lloyd chain, unrolled: `iters` widen -> assign -> update CTE
    * triples over `src`, from the centers CTE `c0` to `${p}u$iters`
    * (KMeans.train's per-iteration step). Each widen after the first
    * carries the previous center of a class the update left empty, as
    * KMeans.train does. A widen that a later one carries from is read
    * twice (by its assign and by that carry), so it is MATERIALIZED:
    * DuckDB re-inlines a plain CTE per reference, which would re-run
    * the chain 2^iters times. A non-empty `finalAssign` also
    * emits the trained centers as one wide row `${p}fw` and `src`
    * assigned to them as `$p$finalAssign`; `mat` materializes both for
    * consumers that read them repeatedly. */
  def lloydChainSql(k: Int, iters: Int, c0: String, dims: Seq[String],
                    src: String = "pts", p: String = "",
                    finalAssign: String = "", mat: Boolean = false): String = {
    // the widen feeding assign i: c0's own pivot, then carried ones;
    // the next carry, when one follows, reads it a second time
    def widen(i: Int): String = if (i == 1) s"${c0}w" else s"${p}u${i - 1}w"
    def widenDef(i: Int, out: String, m: Boolean): String =
      if (i == 1) widenSql(k, c0, out, dims, mat = m)
      else carrySql(k, s"${p}u${i - 1}", widen(i - 1), out, dims, m)
    val stages = (1 to iters).map { i =>
      s"${widenDef(i, widen(i), i < iters || finalAssign.nonEmpty)},\n" +
        s"${assignSql(k, widen(i), s"${p}a$i", src, dims)},\n" +
        updateSql(s"${p}a$i", s"${p}u$i", dims)
    }
    val fin = if (finalAssign.isEmpty) Nil else Seq(
      widenDef(iters + 1, s"${p}fw", mat),
      assignSql(k, s"${p}fw", s"$p$finalAssign", src, dims, mat))
    (stages ++ fin).mkString(",\n")
  }

  def fullLloydSql(k: Int, iters: Int, ptsSql: String, dims: Seq[String]): String =
    s"""WITH pts AS ($ptsSql),
       |${c0Sql(k, ptsSql, dims)},
       |${lloydChainSql(k, iters, "c0", dims)}
       |SELECT * FROM u$iters""".stripMargin

  def assignOnlySql(k: Int, ptsSql: String, dims: Seq[String]): String =
    s"""WITH pts AS ($ptsSql),
       |${c0Sql(k, ptsSql, dims)},
       |${widenSql(k, "c0", "c0w", dims)},
       |${assignSql(k, "c0w", "a1", "pts", dims)}
       |SELECT pid, k, dist FROM a1""".stripMargin
}
