package graft

import graft.streaming.EphemeralCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The RAM checkpoint manager behind the single-use streaming
  * checkpoints (r14): the CheckpointFileManager contract surface the
  * offset log / commit log / HDFS-backed state store actually use,
  * plus an end-to-end streaming equality run vs the default
  * filesystem manager. */
class EphemeralCkptSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def mgr(root: String) =
    new EphemeralCheckpointFileManager(new Path(root), new Configuration())

  test("createAtomic publishes on close, not before; cancel never publishes") {
    val root = s"/eck_test_${System.nanoTime()}"
    val m = mgr(root)
    val f = new Path(s"$root/offsets/0")
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("v1\nbatch0".getBytes("UTF-8"))
    m.exists(f) shouldBe false // atomic: invisible until close
    out.close()
    m.exists(f) shouldBe true
    val in = m.open(f)
    val buf = new Array[Byte](64)
    val n = in.read(buf)
    new String(buf, 0, n, "UTF-8") shouldBe "v1\nbatch0"
    // seek + positioned read (the offset-log reader's access pattern)
    in.seek(3)
    in.read() shouldBe 'b'.toInt
    val cancelled = m.createAtomic(new Path(s"$root/offsets/1"), false)
    cancelled.write("junk".getBytes("UTF-8"))
    cancelled.cancel()
    m.exists(new Path(s"$root/offsets/1")) shouldBe false
    // no-overwrite contract: a second atomic create of an existing file fails
    val dup = m.createAtomic(f, overwriteIfPossible = false)
    dup.write("x".getBytes("UTF-8"))
    an[org.apache.hadoop.fs.FileAlreadyExistsException] should be thrownBy dup.close()
    // overwrite allowed when asked (state-store snapshot rewrite path)
    val ow = m.createAtomic(f, overwriteIfPossible = true)
    ow.write("v2".getBytes("UTF-8")); ow.close()
    val in2 = m.open(f)
    val b2 = new Array[Byte](8)
    new String(b2, 0, in2.read(b2), "UTF-8") shouldBe "v2"
    // leave the JVM-global map as found (the totalFiles teardown guard
    // reads it across suites)
    EphemeralCheckpointFileManager.purge(root)
  }

  test("list returns direct children only; delete is recursive; purge frees the footprint") {
    val root = s"/eck_list_${System.nanoTime()}"
    val m = mgr(root)
    def put(p: String): Unit = { val o = m.createAtomic(new Path(p), true); o.write(1); o.close() }
    put(s"$root/offsets/0"); put(s"$root/offsets/1"); put(s"$root/state/0/1.delta")
    val names = m.list(new Path(s"$root/offsets")).map(_.getPath.getName).sorted
    names shouldBe Array("0", "1")
    // a dir child shows as a directory status, not a file
    val rootKids = m.list(new Path(root)).map(s => (s.getPath.getName, s.isDirectory))
    rootKids.toMap shouldBe Map("offsets" -> true, "state" -> true)
    m.delete(new Path(s"$root/offsets"))
    m.exists(new Path(s"$root/offsets/0")) shouldBe false
    m.exists(new Path(s"$root/state/0/1.delta")) shouldBe true
    EphemeralCheckpointFileManager.fileCount(root) shouldBe 1
    EphemeralCheckpointFileManager.purge(root)
    EphemeralCheckpointFileManager.fileCount(root) shouldBe 0
  }

  test("streaming run under the RAM manager equals the default-manager run") {
    // the same bounded stream (rate-limited memory-ish: a file source over
    // a small staged parquet) aggregated under both managers must produce
    // identical sink tables — the hashes-unchanged contract of the swap
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    def run(ephemeral: Boolean, tag: String): Seq[(java.sql.Timestamp, String, Long)] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "2")
      s.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      if (ephemeral)
        s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
          classOf[EphemeralCheckpointFileManager].getName)
      val src = s.read.parquet(s"$d/events.parquet")
      val stage = java.nio.file.Files.createTempDirectory(s"eck_$tag")
      src.limit(2000).coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val stream = Tables.normalizeTs(
        s.readStream.schema(src.schema).parquet(stage.toString))
      val name = s"eck_${tag}_${System.nanoTime()}"
      val ckpt = s"target/tmp/ckpt_$name"
      val q = stream.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      try q.processAllAvailable() finally {
        q.stop()
        EphemeralCheckpointFileManager.purge(ckpt)
      }
      import s.implicits._
      s.table(name).orderBy("ws", "event_type")
        .as[(java.sql.Timestamp, String, Long)].collect().toSeq
    }
    val ram = run(ephemeral = true, "ram")
    val fs = run(ephemeral = false, "fs")
    ram.nonEmpty shouldBe true
    ram shouldBe fs
  }

  test("harness-teardown contract: EVERY streaming entry leaves zero tracked RAM files") {
    // the leak latent (r14 ADVICE; a REAL purge-key bug found via this
    // contract in r15): the file map is JVM-global and an entry that
    // configures the manager but skips dropCheckpoint leaks its
    // checkpoint bytes for the JVM lifetime. r16 (VERDICT r15 #3):
    // iterate the WHOLE st_* family, not st_stream_exec alone — a
    // future entry that forgets its finally-purge fails HERE, by name,
    // not as a log line at the end of a Verify run. Relative
    // before/after per entry: suites run sequentially in the forked
    // JVM, so no other test mutates the map mid-flight.
    val stEntries = Queries.all.filter(_.name.startsWith("st_"))
    stEntries.size should be >= 17 // the family as of r16; grows, never shrinks
    for (e <- stEntries) {
      val before = EphemeralCheckpointFileManager.totalFiles
      val df = e.fn(spark, "/root/testdata/sf0.001")
      df.count() should be > 0L
      withClue(s"${e.name} left RAM-checkpoint files tracked — its " +
        "dropCheckpoint purge regressed (JVM-lifetime leak); tracked: " +
        EphemeralCheckpointFileManager.sampleKeys(20).mkString(" | ") + " : ") {
        EphemeralCheckpointFileManager.totalFiles shouldBe before
      }
    }
  }

  test("runToMemory failure path: a short stream throws by tag, stops and purges") {
    // the whole-family test above covers runs that succeed; this one
    // drives the runner's require failure (one staged file = one data
    // micro-batch < minDataBatches) and checks the finally still stops
    // the query and drops its RAM checkpoint
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[EphemeralCheckpointFileManager].getName)
    val stage = java.nio.file.Files.createTempDirectory("eck_short").toString
    s.range(10).toDF("id").coalesce(1).write.mode("overwrite").parquet(stage)
    val stream = s.readStream.schema(s.read.parquet(stage).schema).parquet(stage)
    val before = EphemeralCheckpointFileManager.totalFiles
    val e = the[IllegalArgumentException] thrownBy
      QueriesStreaming.runToMemory(s, "eck_short_run", stream, "append", minDataBatches = 2)
    e.getMessage should include("eck_short_run")
    s.streams.active shouldBe empty
    EphemeralCheckpointFileManager.totalFiles shouldBe before
    Tables.deleteRecursively(new java.io.File(stage))
  }

  test("trip test: a planted non-purged checkpoint turns the Verify round RED via the guard row") {
    // VERDICT r15 #3 done-criterion: a non-purging entry must turn a
    // round red. Plant exactly what such an entry leaves behind (a
    // tracked RAM file), run the harness guard, and assert it emits
    // the synthetic red row: a dump whose (leaked_files, leak_ok)
    // contradicts the returned oracle's (0, TRUE) — a guaranteed hash
    // mismatch in the driver's compare. Then purge and assert the
    // clean path removes the stale red row and returns no oracle pair,
    // so green rounds keep CORRECTNESS keys == Entry names.
    val out = java.nio.file.Files.createTempDirectory("leakguard_trip").toString
    val root = s"/leak_trip_${System.nanoTime()}"
    val m = mgr(root)
    val o = m.createAtomic(new Path(s"$root/offsets/0"), true)
    o.write(1); o.close()
    try {
      val pairs = Verify.ckptLeakGuard(spark, out)
      pairs.keySet shouldBe Set(Verify.LeakGuardKey)
      pairs(Verify.LeakGuardKey) should include("TRUE AS leak_ok")
      val row = spark.read.parquet(s"$out/${Verify.LeakGuardKey}").collect().head
      row.getAs[Long]("leaked_files") should be >= 1L
      row.getAs[Boolean]("leak_ok") shouldBe false
    } finally EphemeralCheckpointFileManager.purge(root)
    Verify.ckptLeakGuard(spark, out) shouldBe Map.empty
    new java.io.File(s"$out/${Verify.LeakGuardKey}").exists() shouldBe false
  }
}
