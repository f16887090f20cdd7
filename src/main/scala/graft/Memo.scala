package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Derived state built ONCE per (JVM, dataset) and reused by every
  * later consumer — the §2 #112 "derived index" discipline (build once
  * at ingest, query many times), shared by every staged family. Two
  * kinds:
  *   - [[frame]]: a derived DataFrame, written to a `graft-staged`
  *     temp parquet dir once and served as a plain parquet scan ever
  *     after (span matches, basket pairs, LSH candidates, IVF lists);
  *   - [[value]]: small driver-side state kept in memory (trained
  *     centers, codebooks, collected query vectors, classifier
  *     weights).
  *
  * The key is (name, dataset dir, FINGERPRINT of the dir) — entry
  * names + sizes + mtimes, not just the path: if the data under a dir
  * is regenerated within one JVM (re-scaled benches, test fixtures),
  * consumers rebuild rather than silently read state derived from the
  * old data (advice r16). Names are unique per dataset dir across both
  * kinds.
  *
  * Builds may nest (a frame built inside a value build, a stage read
  * inside another stage's derivation): the map only holds a once-only
  * cell per key and the build runs outside the map's lock. A build
  * that throws caches nothing; the next call builds again.
  *
  * [[misses]] counts builds of either kind; the bench snapshots it
  * around a query's first repetition, and a delta means that rep paid
  * a one-time build (excluded from min-of-reps timing, artifact row
  * `staged_rep1: true`). The staged dirs are deleted when the JVM
  * exits. */
object Memo {
  private val builds = new java.util.concurrent.atomic.AtomicLong
  /** Builds (of either kind) started in this JVM so far. */
  def misses: Long = builds.get

  /** One key's state, built at most once: concurrent callers of the
    * same key wait for the first; callers of other keys never do. */
  private final class Once(key: String) {
    private var built: Option[Any] = None
    private var building = false
    def apply(build: => Any): Any = synchronized {
      built.getOrElse {
        require(!building, s"$key needs itself to build")
        building = true
        builds.incrementAndGet()
        try { val v = build; built = Some(v); v }
        finally building = false
      }
    }
  }

  private val cells = new java.util.concurrent.ConcurrentHashMap[String, Once]()

  /** The in-memory value `name` derived from dataset `dir`: built once
    * per (JVM, dir, dir-fingerprint). */
  def value[T](dir: String, name: String)(build: => T): T = {
    val key = s"$name|$dir|${fingerprint(dir)}"
    cells.computeIfAbsent(key, new Once(_))(build).asInstanceOf[T]
  }

  /** The staged frame `name` derived from dataset `dir`: built and
    * written once per (JVM, dir, dir-fingerprint), read as parquet on
    * every call. The written schema is read back once, at build time,
    * so a later read runs no schema-inference job. */
  def frame(spark: SparkSession, dir: String, name: String)
           (build: => DataFrame): DataFrame = {
    val (path, schema) = value(dir, name) {
      val p = Files.createTempDirectory("graft-staged")
      staged.add(p)
      build.write.mode("overwrite").parquet(p.toString)
      (p.toString, spark.read.parquet(p.toString).schema)
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Every staged dir this JVM created, removed by one shutdown hook
    * (`deleteOnExit` cannot remove a non-empty parquet dir). */
  private val staged = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(staged.forEach { p =>
    try {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    } catch { case scala.util.control.NonFatal(_) => }
  })

  /** Cheap dataset-dir fingerprint: a bounded recursive walk hashing
    * every FILE's relative path + size + mtime. Recursive, not a
    * top-level listing — a table written as a parquet DIRECTORY whose
    * part files are overwritten in place leaves the subdir's own
    * size/mtime untouched, which a shallow listing would read as
    * "unchanged" and keep serving stale state. Spark/duckdb writers
    * also rename part files per write, so the name set alone moves on
    * any regeneration. Depth-bounded: dataset dirs are dir/table/part
    * shaped, never deep trees. */
  private def fingerprint(dir: String): String = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return "absent"
    val s = Files.walk(p, 4)
    try {
      import scala.jdk.CollectionConverters._
      val sig = s.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map { e =>
          val size = try Files.size(e) catch { case _: Throwable => -1L }
          val mtime = try Files.getLastModifiedTime(e).toMillis
            catch { case _: Throwable => -1L }
          s"${p.relativize(e)}:$size:$mtime"
        }.toSeq.sorted.mkString("|")
      Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sig))
    } finally s.close()
  }
}
