package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.CentsSum

/** Parquet table access + oracle-determinism helpers.
  *
  * Scale notes (100 TB design intent):
  *  - Readers return lazy DataFrames; column pruning / predicate pushdown
  *    reach the parquet scan because every query projects/filters on the
  *    DataFrame before any action.
  *  - Nothing here collects to the driver.
  *
  * Oracle-determinism: the driver hash-compares our parquet output against
  * DuckDB running `SparkEntry.oracleSql` on the same tables. Double
  * aggregation is order-sensitive (parallel sums differ in last ulps), so:
  *  - money/quantity style SUM/AVG take each value at its DECIMAL(18,2)
  *    value and sum exactly ([[dsum]], [[davg]], [[dsumProd]]), so both
  *    engines cast the same exact decimal back to DOUBLE at the end (the
  *    same double for certain while the unscaled sum is below 2^53: the
  *    cast is then one correctly rounded division in both);
  *  - per-row float math is rounded to 6 decimals (both engines see
  *    identical IEEE-754 inputs, so rounding is stable);
  *  - every query ORDER BYs a total (tie-broken) key.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** events.parquet has shipped `ts` in two physical forms across
    * testdata generations: TIMESTAMP(NANOS) (no native Spark type; the
    * session sets spark.sql.legacy.parquet.nanosAsLong and we rebuild a
    * micros timestamp — integer `div`, a double divide would lose
    * precision on ~1e18 nano values) and TIMESTAMP(MICROS) without UTC
    * adjustment, which Spark reads as TIMESTAMP_NTZ. Both normalize to
    * session-TZ TimestampType here — the session TZ is pinned UTC, so
    * the NTZ→instant cast is unambiguous and DuckDB (which reads the
    * same file as a plain timestamp) sees identical instants. Every
    * downstream unix_micros()/withWatermark() relies on this one spot. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** A JVM memo that keeps, per key, only the value for the latest data
    * version: a testdata regen (new [[dataVer]]) replaces the entry
    * instead of serving it stale or leaking the superseded one.
    * get-then-put, NOT compute(): values here are Spark jobs, and CHM's
    * contract requires mapping functions to be short — compute would
    * hold the bin lock for the whole job, blocking concurrent callers on
    * colliding keys (r13 ADVICE). Racing duplicates are harmless: both
    * compute the same value for the same version. */
  private[graft] final class VersionedMemo[K, V] {
    private val m = new java.util.concurrent.ConcurrentHashMap[K, (String, V)]()
    def apply(key: K, ver: String)(value: => V): V = {
      val cur = m.get(key)
      if (cur != null && cur._1 == ver) cur._2
      else { val v = value; m.put(key, (ver, v)); v }
    }
  }

  /** Base-table SCHEMA cache: `spark.read.parquet` re-reads footers to
    * infer the schema on EVERY call, and the suite resolves each base
    * table hundreds of times per bench run (180 entries × 2 passes ×
    * 1-3 tables). Caching the inferred StructType — keyed (dir, table),
    * value REPLACED when [[dataVer]] changes so a testdata regen
    * retargets — lets every later call resolve via `read.schema(...)`
    * with zero footer IO. Deliberately NOT a DataFrame cache: a
    * plan-valued cache would strongly retain every session that ever
    * resolved a table (each per-entry isolated streaming session, each
    * superseded version) for the JVM lifetime; a schema is a few
    * hundred bytes with no session reference. Schemas are JVM-stable
    * across sessions here because every builder pins the same parquet
    * confs (nanosAsLong, session TZ). */
  private val tblSchemaCache = new VersionedMemo[(String, String), StructType]

  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.schema(tblSchema(spark, dir, name)).parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** A base table's file schema, before [[normalizeTs]]: what a stream
    * over a byte copy of the table reads. */
  private[graft] def tblSchema(spark: SparkSession, dir: String, name: String): StructType =
    tblSchemaCache((dir, name), dataVer(dir, name))(
      spark.read.parquet(s"$dir/$name.parquet").schema)

  /** sf-conditional oracle-tractability sample (VERDICT r11 #2): the
    * three entries whose DuckDB ORACLE is O(N²) — dd_minhash_lsh,
    * st_stream_minhash (all-pairs Jaccard truth) and j_fuzzy_edit
    * (exact levenshtein cross join) — restrict BOTH engines to ids ≡ 0
    * (mod ceil(n/cap)), so the truth stays quadratic-in-a-bounded-
    * sample at any SF instead of quadratic-in-the-corpus (the r11
    * sf0.3 rehearsal: >55 CPU-min and counting on the unsampled
    * all-pairs oracle). At the shipped SFs n ≤ cap, so k = 1 and the
    * frame is returned UNTOUCHED — identical plan, identical hash;
    * above cap both sides shrink by the same deterministic predicate.
    * The count comes from [[tableCount]] — a driver-side footer-only
    * scan returning one long (metadata-sized by construction), MEMOIZED
    * per (dir, table) and re-read only when [[dataVer]] changes: the
    * r12 shape ran the count action at plan-construction time on every
    * entry invocation, and a corpus regenerated between two in-run
    * counts could have sampled different id sets than the oracle's
    * independent count(*) (r12 ADVICE, closed). The matching oracle
    * spelling is `id % ((SELECT (count(*) + cap - 1) // cap FROM t))
    * = 0` — the sampled-side OPERATORS are bucketed and scale-safe;
    * the sample bounds the oracle's cost, not the plan's. */
  private[graft] def modSample(df: DataFrame, idCol: String, cap: Long,
      n: Long): DataFrame = {
    val k = (n + cap - 1) / cap
    if (k <= 1) df else df.where(pmod(col(idCol), lit(k)) === 0)
  }

  /** Memoized base-table row count, keyed (dir, table), value replaced
    * when [[dataVer]] changes — the [[tblSchemaCache]] discipline.
    * Parquet count() is footer metadata, but it is still a Spark ACTION;
    * entries calling it at plan-construction time paid one job per
    * invocation and raced a mid-run testdata regen. */
  private val tblCountCache = new VersionedMemo[(String, String), Long]

  private[graft] def tableCount(spark: SparkSession, dir: String,
      name: String): Long =
    tblCountCache((dir, name), dataVer(dir, name))(tbl(spark, dir, name).count())

  /** Memoized max of a key column — [[tableCount]]'s twin. Exists for
    * DATA-DERIVED key lifts: an entry that plants "new" rows at
    * `key + CONSTANT` stops being injective the moment a bigger corpus reaches the constant (the
    * r14 sf1.0 rehearsal: o_upsert/o_cdc_apply's +1e6/+2e6 plants
    * landed on the 10× corpus's real custkeys, and the collision
    * tie-breaks diverged between engines). Lifting by a multiple of
    * the constant ABOVE max(key) keeps the plant injective at every
    * SF and is the identity at shipped SFs (max < constant there);
    * the oracle replays it as a scalar subquery. Parquet max(col) is
    * footer metadata — cheap, but still an action, hence the memo. */
  private val tblMaxCache = new VersionedMemo[(String, String, String), Long]

  private[graft] def tableMax(spark: SparkSession, dir: String,
      name: String, column: String): Long =
    tblMaxCache((dir, name, column), dataVer(dir, name))(
      tbl(spark, dir, name).agg(max(column)).head().getLong(0))

  /** Data-version token for derived-fixture cache keys: mtime+length of
    * the source parquet files. Folding this into every `target/tmp`
    * fixture key makes a regenerated testdata dir retarget the cache
    * instead of serving stale bytes against a fresh oracle (the r8
    * near-miss: fixtures survived a testdata rewrite on key alone). */
  def dataVer(dir: String, names: String*): String =
    hex(names.sorted.map { n =>
      val f = new java.io.File(s"$dir/$n.parquet")
      s"$n:${f.lastModified}:${f.length}"
    }.mkString(";"))

  private def hex(s: String): String =
    (scala.util.hashing.MurmurHash3.stringHash(s) & 0x7fffffff).toHexString

  private val fixtureSeq = new java.util.concurrent.atomic.AtomicLong()

  /** THE derived-fixture store (S5, main.py:92-115: load-if-exists else
    * compute + dump), one contract for every `target/tmp` fixture:
    *  - path: `target/tmp/<family>_<dirslug>_<key>`, key =
    *    hex(MurmurHash3(formula + ";" + [[dataVer]](d, sources))) — a
    *    formula bump or a testdata regen moves the fixture to a new dir;
    *    family-first so [[reapStaleSiblings]] reaps the orphaned ones;
    *  - complete means the directory exists: it is returned at once,
    *    with no marker probe;
    *  - otherwise `build` writes a fresh sibling `<path>.tmp.<pid>_<seq>`
    *    and [[publish]] renames it into place. A killed run leaves only
    *    a temp dir (same family prefix, so the hour-cold reap takes it),
    *    never a half-built `path`; a throwing build deletes its temp dir
    *    and rethrows; a lost race keeps the winner's dir.
    * `formula` names the generating constants: bump it whenever the
    * fixture's content formula changes. */
  def fixture(family: String, d: String, sources: Seq[String], formula: String)(
      build: java.nio.file.Path => Unit): String = {
    val fam = family + "_" + d.replaceAll("[^0-9a-zA-Z]", "_") + "_"
    val name = fam + hex(formula + ";" + dataVer(d, sources: _*))
    reapStaleSiblings(fam, name)
    val out = "target/tmp/" + name
    val dst = java.nio.file.Paths.get(out)
    if (!java.nio.file.Files.isDirectory(dst)) {
      val tmp = dst.resolveSibling(dst.getFileName.toString +
        s".tmp.${ProcessHandle.current().pid()}_${fixtureSeq.incrementAndGet()}")
      java.nio.file.Files.createDirectories(tmp)
      try build(tmp)
      catch { case e: Throwable => deleteRecursively(tmp.toFile); throw e }
      publish(tmp, dst)
    }
    published.put(fam, name)
    out
  }

  /** The fixture dir [[fixture]] last returned per family prefix (the
    * `<family>_<dirslug>_` part of its name) in this JVM. */
  private val published = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Inferred schemas of paths inside published fixtures, keyed (family
    * prefix, path inside the fixture dir): the [[tblSchemaCache]]
    * discipline, with the fixture dir's name as the version, so a
    * formula bump or a testdata regen replaces the entry. */
  private val fixtureSchemaCache = new VersionedMemo[(String, String), StructType]

  /** Read parquet at `path`, a published [[fixture]] dir or a file or
    * dir inside one, inferring its schema only on the first read. A
    * fixture is immutable once published (a pure function of its
    * name), so its schema is too; `spark.read.parquet` would otherwise
    * run one footer job per call to infer it again. Any other path is
    * refused: a per-run output (a stream sink, a recovery dir) changes
    * under the same path and must never be memoized. */
  def readFixture(spark: SparkSession, path: String): DataFrame = {
    val root = java.nio.file.Paths.get("target/tmp").toAbsolutePath.normalize
    val rel = root.relativize(java.nio.file.Paths.get(path).toAbsolutePath.normalize)
    val name = rel.getName(0).toString
    val fam = name.take(name.lastIndexOf('_') + 1)
    require(!rel.startsWith("..") && fam.nonEmpty && published.get(fam) == name,
      s"readFixture: $path is not inside a published Tables.fixture dir")
    val inside = if (rel.getNameCount > 1) rel.subpath(1, rel.getNameCount).toString else ""
    val schema = fixtureSchemaCache((fam, inside), name)(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Publish a finished `tmp` (file or directory) at `dst` in one atomic
    * rename. If `dst` already exists a concurrent builder won: its bytes
    * stay (both are the same pure function of the key) and `tmp` is
    * deleted. The exists probe matters for files — rename(2) silently
    * replaces a file, while it refuses a non-empty target directory. */
  private[graft] def publish(tmp: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    try {
      if (!java.nio.file.Files.exists(dst))
        java.nio.file.Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case _: java.nio.file.FileSystemException if java.nio.file.Files.exists(dst) => ()
    } finally deleteRecursively(tmp.toFile)

  /** Delete a file or a directory tree; a missing path is a no-op. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Reap SUPERSEDED fixture cache dirs: same family prefix, different
    * version suffix — the dirs a testdata regen (new [[dataVer]]) or a
    * formula bump orphans under target/tmp, plus the temp dirs of killed
    * builds. Without this, every regen leaks the full fixture footprint
    * forever. Only dirs untouched for an hour are removed (same guard as
    * the bucketed-table reaper): a CONCURRENT process on the same key set
    * writes the same new name, and nothing legitimately reads an
    * hour-cold dir whose source changed. Call right before using `keep`. */
  private[graft] def reapStaleSiblings(prefix: String, keep: String): Unit = {
    val base = new java.io.File("target/tmp")
    val staleMs = System.currentTimeMillis() - 3600L * 1000
    Option(base.listFiles()).foreach(_.filter(f =>
      // the pre-dataVer generation named dirs exactly the family (no
      // version suffix) — `startsWith(prefix)` alone never matched
      // them (r9 advice), leaking one dir per family forever
      (f.getName.startsWith(prefix) || f.getName == prefix.stripSuffix("_")) &&
        f.getName != keep && f.lastModified() < staleMs)
      .foreach(deleteRecursively))
  }

  /** Exact sum of a money or quantity double column. Each value counts
    * as its DECIMAL(18,2) value (whole cents, HALF_UP from
    * `Double.toString`; NaN, ±Inf and |x| ≥ 1e16 count as null),
    * the sum is exact — `sum(CAST(c AS DECIMAL(18,2)))`, Decimal(28,2) —
    * and one cast to DOUBLE rounds it. The kernel is
    * [[graft.plans.CentsSum]]: the cents add in a long with an exact
    * carry, no BigDecimal per row. */
  def dsum(c: Column): Column = CentsSum.sum(c).cast("double")

  /** Exact avg built from dsum / count — final division is one IEEE op on
    * identical operands in both engines. */
  def davg(c: Column): Column = (dsum(c) / count(c)).cast("double")

  /** Exact sum of the product of two money doubles: each operand at its
    * DECIMAL(18,2) value, the products and their sum exact at scale 4 —
    * `sum(CAST(a AS DECIMAL(18,2)) * CAST(b AS DECIMAL(18,2)))`,
    * Decimal(38,4) — then one cast to DOUBLE. */
  def dsumProd(a: Column, b: Column): Column = CentsSum.sum(a, b).cast("double")

  /** DuckDB SQL spellings of the same helpers (kept adjacent so the two
    * stay in sync). */
  def sqlDsum(e: String): String =
    s"CAST(sum(CAST($e AS DECIMAL(18,2))) AS DOUBLE)"
  def sqlDavg(e: String): String =
    s"(CAST(sum(CAST($e AS DECIMAL(18,2))) AS DOUBLE) / count($e))"
  def sqlDsumProd(a: String, b: String): String =
    s"CAST(sum(CAST($a AS DECIMAL(18,2)) * CAST($b AS DECIMAL(18,2))) AS DOUBLE)"
}
