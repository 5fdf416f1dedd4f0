package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Ingest, SarFixture, SparkEntry, Verify}

/** Closed-loop suite runner: one client runs a workload's entries one
  * after another, each built by `SparkEntry.queries(name)(spark, dir)`
  * and written through the `noop` sink.
  *
  * Phases of one run:
  *  1. set-up: session, fixtures and one untimed cold pass, which
  *     writes every entry's output for the oracle compare
  *     (`--verify-out`);
  *  2. `--passes` timed passes, each in a seeded entry order; with
  *     `--trace 1` untraced (odd) and traced (even) passes alternate,
  *     so the tracing cost is measured in the same process.
  *
  * The last stdout line is one JSON object; `perfbench/run.py` turns it
  * into the benchmark result. */
object Suite {
  final case class Opts(
      data: String = "",
      entries: Seq[String] = Nil,
      seed: Long = 0L,
      passes: Int = 0,
      trace: Boolean = false,
      verifyOut: String = "",
      plant: Option[String] = None,
      t0Ms: Long = 0L)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--entries" :: v :: t => parse(t, o.copy(entries = v.split(",").toSeq.filter(_.nonEmpty)))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--passes" :: v :: t => parse(t, o.copy(passes = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--verify-out" :: v :: t => parse(t, o.copy(verifyOut = v))
    case "--plant-count" :: v :: t => parse(t, o.copy(plant = Some(v)))
    case "--t0-ms" :: v :: t => parse(t, o.copy(t0Ms = v.toLong))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  /** Cores of the local master; fixed so every host runs the same plan. */
  val Cores = 4

  def session(trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.debug.maxToStringFields", "1000")
      .config("spark.driver.maxResultSize", "8g")
    if (trace) b
      .config("spark.extraListeners", classOf[JobTrace].getName)
      .config("spark.sql.queryExecutionListeners", classOf[SqlTrace].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName)
    b.getOrCreate()
  }

  /** Run `body` with every job it starts tagged to `tag`; with tracing
    * on, drain the listener bus before the tag is cleared, outside the
    * caller's timer. */
  def tagged[T](sc: org.apache.spark.SparkContext, tag: String, phase: String)(body: => T): T = {
    sc.setLocalProperty(Trace.TagKey, tag)
    sc.setLocalProperty(Trace.PhaseKey, phase)
    Trace.currentTag = tag
    try body
    finally {
      if (Trace.enabled) org.apache.spark.sql.GraftPlanBridge.drainListenerBus(sc)
      sc.setLocalProperty(Trace.TagKey, null)
      sc.setLocalProperty(Trace.PhaseKey, null)
      Trace.currentTag = null
    }
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9
  /** Accumulated JIT compile time of the JVM's compiler threads. */
  def jitMillis(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def gcMillis(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  /** Heap in use after a full GC. The first GC lets Spark's
    * ContextCleaner see unreachable RDDs, shuffles and broadcasts; the
    * second collects what the cleaner released. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Janino compile counters (process-wide; read as deltas per entry). */
  def codegen(): (Double, Double) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  /** Entry order of pass `pass`: a permutation fixed by (seed, pass). */
  def order(entries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(entries.sorted)

  /** One entry's run: its timed build and exec phases, and the process
    * CPU, GC and JIT time from its start to its end (after the
    * harness's own GC, so that GC is not counted). */
  final case class EntryRun(buildS: Double, execS: Double, cpuS: Double, gcMs: Double,
      jitMs: Double, error: Option[String])

  final case class Pass(index: Int, traced: Boolean, entryS: Map[String, Double], cpuS: Double,
      gcMs: Double, jitMs: Double, heapMb: Double, failed: Seq[String]) {
    def wallS: Double = entryS.values.sum
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    require(o.verifyOut.nonEmpty && o.t0Ms > 0 && o.passes > 0,
      "--verify-out, --t0-ms and --passes are required")
    Verify.quietDeliberateWindowWarn()
    val spark = session(o.trace)
    spark.sparkContext.setLogLevel("WARN")
    Verify.quietDeliberateWindowWarn()
    val sc = spark.sparkContext
    val fns = SparkEntry.queries
    val missing = o.entries.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(",")}")
    Trace.enabled = o.trace

    def runEntry(pass: String, name: String): EntryRun = {
      val tag = s"$pass/$name"
      // Untimed GC before every entry, as Bench.scala does: without it an
      // entry pays for its predecessors' garbage and for the cleanup of
      // their shuffles, broadcasts and checkpoints, so its time depends
      // on the seeded order.
      System.gc()
      Thread.sleep(50)
      val cpu0 = cpuSeconds(); val gc0 = gcMillis(); val jit0 = jitMillis()
      val (cgMs0, cgN0) = codegen()
      var buildS, execS = 0.0
      val err = tagged(sc, tag, "build") {
        try {
          val t0 = System.nanoTime()
          val df = fns(name)(spark, o.data)
          val t1 = System.nanoTime()
          sc.setLocalProperty(Trace.PhaseKey, "exec")
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          buildS = (t1 - t0) / 1e9; execS = (t2 - t1) / 1e9
          if (o.plant.contains(name)) sc.parallelize(1 to 10, 2).count(): Unit
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      }
      graft.streaming.StreamMetrics.drainPending(): Unit
      if (Trace.enabled) {
        val (cgMs1, cgN1) = codegen()
        Trace.add(tag, "codegen_compile_ms", cgMs1 - cgMs0)
        Trace.add(tag, "codegen_classes", cgN1 - cgN0)
        Trace.add(tag, "build_s", buildS)
        Trace.add(tag, "exec_s", execS)
      }
      EntryRun(buildS, execS, cpuSeconds() - cpu0, gcMillis() - gc0, jitMillis() - jit0, err)
    }

    // ------------------------------------------------------------ set-up
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def mark(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - o.t0Ms) / 1000.0}%.1f s")
    mark("session ready")
    SarFixture.ensure()
    mark("fixtures ready")
    // The cold pass is also the output check's pass, so a run spends no
    // extra pass on the check.
    val verify = dumpOutputs(spark, o, order(o.entries, o.seed, 0), errors, mark)
    val setupS = (System.currentTimeMillis() - o.t0Ms) / 1000.0
    retainedHeapMb(): Unit

    // ------------------------------------------------------ timed passes
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    for (i <- 1 to o.passes) {
      val traced = o.trace && i % 2 == 0
      Trace.enabled = traced
      val runs = order(o.entries, o.seed, i).map(n => n -> runEntry(s"p$i", n))
      val rs = runs.map(_._2)
      val failed = runs.collect { case (n, r) if r.error.isDefined =>
        errors.getOrElseUpdate(n, s"pass $i: ${r.error.get}"); n }
      passes += Pass(i, traced, runs.map(r => r._1 -> (r._2.buildS + r._2.execS)).toMap,
        rs.map(_.cpuS).sum, rs.map(_.gcMs).sum, rs.map(_.jitMs).sum, retainedHeapMb(), failed)
    }
    Trace.enabled = o.trace

    val geomNsPerPx = if (o.trace) tagged(sc, "setup", "setup")(geometryNsPerPx(spark)) else 0.0

    // ------------------------------------------------------------ report
    val sb = new StringBuilder
    sb ++= "{" ++= s""""setup_s": ${num(setupS)}, "cores": $Cores, "passes": ["""
    sb ++= passes.map { p =>
      val traceFields = if (!p.traced) "" else {
        val tags = o.entries.map(n => s"p${p.index}/$n")
        val sum = tags.flatMap(Trace.of).groupMapReduce(_._1)(_._2)(_ + _)
        val trig = tags.flatMap(Trace.triggers)
        s""", "layers": ${obj(sum)}, "triggers_ms": [${trig.map(num).mkString(",")}]"""
      }
      s"""{"index": ${p.index}, "traced": ${p.traced}, "wall_s": ${num(p.wallS)}, "entry_s": ${obj(p.entryS)}, "cpu_s": ${num(p.cpuS)}, """ +
        s""""gc_ms": ${num(p.gcMs)}, "jit_ms": ${num(p.jitMs)}, "heap_mb": ${num(p.heapMb)}, "failed": ${strs(p.failed)}$traceFields}"""
    }.mkString(", ")
    sb ++= "]"
    passes.filter(_.traced).lastOption.foreach { p =>
      sb ++= """, "entries": {""" ++= o.entries.sorted.map { n =>
        s"${str(n)}: ${obj(Trace.of(s"p${p.index}/$n"))}"
      }.mkString(", ") ++= "}"
    }
    sb ++= s""", "unbooked_jobs": ${Trace.unbookedJobs}, "geom_ns_per_px": ${num(geomNsPerPx)}"""
    sb ++= ", \"errors\": " ++= obj0(errors.toSeq.map { case (k, v) => k -> str(v) })
    sb ++= ", \"verify\": " ++= verify
    sb ++= "}"
    println(sb.toString)
    spark.stop()
  }

  /** Untimed cold pass over `names`, in that order: each entry is
    * written as parquet under `--verify-out`/<name> for the DuckDB
    * oracle compare, with `oracle_sql.json` beside it. Entries without
    * an oracle are written twice and reported with row count and an
    * order-free digest of both copies. */
  def dumpOutputs(spark: SparkSession, o: Opts, names: Seq[String],
      errors: scala.collection.mutable.Map[String, String], mark: String => Unit): String = {
    val out = o.verifyOut
    val oracles = SparkEntry.oracleSql
    def dump(name: String, dir: String): Option[String] =
      tagged(spark.sparkContext, s"cold/$name", "cold") {
      try {
        SparkEntry.queries(name)(spark, o.data).coalesce(1).write.mode("overwrite").parquet(dir)
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally graft.streaming.StreamMetrics.drainPending(): Unit
    }
    val rowsOnly = names.flatMap { n =>
      mark(s"cold $n")
      dump(n, s"$out/$n").foreach(e => errors.getOrElseUpdate(n, "cold: " + e))
      if (oracles.contains(n) || errors.contains(n)) None
      else {
        val again = dump(n, s"$out.rep/$n")
        again.foreach(e => errors.getOrElseUpdate(n, "cold repeat: " + e))
        if (again.isDefined) None
        else tagged(spark.sparkContext, s"cold/$n", "cold") {
          Some(n -> s"""{"digests": [${str(digest(spark, s"$out/$n"))}, ${str(digest(spark, s"$out.rep/$n"))}]}""")
        }
      }
    }
    val json = o.entries.filter(oracles.contains).sorted
      .map(n => s"${str(n)}: ${str(oracles(n))}").mkString("{", ", ", "}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), json)
    obj0(rowsOnly)
  }

  /** Row count and order-free digest of a parquet dump. */
  def digest(spark: SparkSession, dir: String): String = {
    val df = spark.read.parquet(dir)
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h")), bit_xor(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }

  /** Median ns per input pixel of the three image-geometry kernels the
    * SAR entries call (resize 75→38, ten-crop 64, full affine
    * augmentation), timed directly on the SAR fixture bands. */
  def geometryNsPerPx(spark: SparkSession): Double = {
    import graft.functions.ImageGeometry._
    val W = SarFixture.W
    val bands = Ingest.readSarJson(spark, SarFixture.path).select("band_1", "band_2").collect()
      .flatMap(r => Seq(r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
    def rep(): Double = {
      val t0 = System.nanoTime()
      var calls = 0L
      while (System.nanoTime() - t0 < 200000000L) {
        bands.zipWithIndex.foreach { case (b, i) =>
          sink += bilinearResize(b, W, W, 38, 38)(0)
          sink += tenCrop(b, W, W, 64, 64)(9)(0)
          sink += augmentFull(b, W, i.toLong, 0)(0)
          calls += 3
        }
      }
      (System.nanoTime() - t0).toDouble / (calls * W * W)
    }
    rep(): Unit // JIT warm-up
    Seq.fill(5)(rep()).sorted.apply(2)
  }

  /** Written by the geometry timing loop so the kernels' results stay live. */
  @volatile private var sink = 0.0

  // --------------------------------------------------------------- JSON
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ", ", "]")
  def obj(m: Map[String, Double]): String = obj0(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def obj0(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
