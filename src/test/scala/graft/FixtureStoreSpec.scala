package graft

import java.nio.file.{Files, Path}

/** [[Tables.fixture]] — the one derived-fixture store (S5 load-if-exists
  * else compute + dump): key = formula + source data version, an
  * existing directory is complete, builds publish by one atomic rename
  * of a temp sibling. */
class FixtureStoreSpec extends SparkSpec {
  import spark.implicits._

  private val base = new java.io.File("target/tmp")

  /** A data dir holding one "source table" (dataVer stats only the
    * file's mtime and length, so any bytes do). */
  private def dataDir(): java.io.File = {
    val d = Files.createTempDirectory("fxsrc").toFile
    Files.write(d.toPath.resolve("src.parquet"), Array[Byte](1, 2, 3))
    d
  }

  /** Everything under target/tmp the store wrote for `family`: the
    * published dirs and any temp siblings. */
  private def written(family: String): Seq[String] =
    Option(base.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(family + "_")).sorted

  private def withFamily(tag: String)(body: String => Unit): Unit = {
    val family = s"fxspec_${tag}_${ProcessHandle.current().pid()}"
    try body(family)
    finally written(family).foreach(n => Tables.deleteRecursively(new java.io.File(base, n)))
  }

  test("S5 fixture: computes once, then reads the parquet materialization") {
    withFamily("once") { family =>
      val d = dataDir().getPath
      var computes = 0
      def load() = Tables.fixture(family, d, Seq("src"), "f1") { tmp =>
        computes += 1
        Seq((1, "a"), (2, "b")).toDF("k", "v").write.mode("overwrite").parquet(tmp.toString)
      }
      val p1 = load()
      spark.read.parquet(p1).count() shouldBe 2
      val p2 = load()
      p2 shouldBe p1
      spark.read.parquet(p2).as[(Int, String)].collect().toSet shouldBe Set((1, "a"), (2, "b"))
      computes shouldBe 1
      p1 should startWith(s"target/tmp/${family}_")
      written(family) shouldBe Seq(new java.io.File(p1).getName)
    }
  }

  test("a different formula or a touched source gives a new path and rebuilds") {
    withFamily("key") { family =>
      val dir = dataDir()
      var builds = 0
      def load(formula: String) = Tables.fixture(family, dir.getPath, Seq("src"), formula) {
        tmp => builds += 1; Files.writeString(tmp.resolve("x"), formula): Unit
      }
      val a = load("a")
      val b = load("b")
      b should not be a
      builds shouldBe 2
      load("a") shouldBe a
      builds shouldBe 2
      // a testdata regen: same name, new mtime → new data version
      val src = new java.io.File(dir, "src.parquet")
      src.setLastModified(src.lastModified() + 60000) shouldBe true
      val a2 = load("a")
      a2 should not be a
      builds shouldBe 3
      Files.readString(java.nio.file.Paths.get(a2, "x")) shouldBe "a"
    }
  }

  test("a throwing build leaves no final or temp dir, and the next call builds") {
    withFamily("boom") { family =>
      val d = dataDir().getPath
      val err = intercept[IllegalStateException] {
        Tables.fixture(family, d, Seq("src"), "f") { tmp =>
          Files.writeString(tmp.resolve("half"), "partial")
          throw new IllegalStateException("boom")
        }
      }
      err.getMessage shouldBe "boom"
      written(family) shouldBe empty
      var builds = 0
      val p = Tables.fixture(family, d, Seq("src"), "f") { tmp =>
        builds += 1; Files.writeString(tmp.resolve("whole"), "ok"): Unit
      }
      builds shouldBe 1
      new java.io.File(p, "whole").isFile shouldBe true
      new java.io.File(p, "half").exists shouldBe false
      written(family) shouldBe Seq(new java.io.File(p).getName)
    }
  }

  test("a lost race returns the winner's directory and leaves no temp behind") {
    withFamily("race") { family =>
      val d = dataDir().getPath
      val p = Tables.fixture(family, d, Seq("src"), "f") { tmp =>
        // a concurrent builder publishes the final dir while this one builds
        val fin = tmp.resolveSibling(tmp.getFileName.toString.replaceAll("\\.tmp\\..*$", ""))
        Files.createDirectories(fin)
        Files.writeString(fin.resolve("x"), "winner")
        Files.writeString(tmp.resolve("x"), "loser"): Unit
      }
      Files.readString(java.nio.file.Paths.get(p, "x")) shouldBe "winner"
      written(family) shouldBe Seq(new java.io.File(p).getName)
    }
  }

  /** Spark jobs started while `body` runs, counted by a listener. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.GraftPlanBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.sql.GraftPlanBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("readFixture infers a fixture's schema once and refuses any other path") {
    withFamily("read") { family =>
      val d = dataDir().getPath
      def load(formula: String) = Tables.fixture(family, d, Seq("src"), formula) { tmp =>
        Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
      }
      val p = load("r1")
      val part = new java.io.File(p).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head
      // the dir and a file inside it: one inference each, then none
      jobsDuring(Tables.readFixture(spark, p)) should be > 0
      jobsDuring(Tables.readFixture(spark, p)) shouldBe 0
      jobsDuring(Tables.readFixture(spark, part)) should be > 0
      jobsDuring(Tables.readFixture(spark, new java.io.File(part).getAbsolutePath)) shouldBe 0
      Tables.readFixture(spark, p).as[(Int, String)].collect().toSet shouldBe
        Set((1, "a"), (2, "b"))
      // a superseded fixture and a file in it, a temp sibling, the
      // store root, a path outside it and a non-fixture dir under it
      val p2 = load("r2")
      p2 should not be p
      val outside = Files.createTempDirectory("fxout").toString
      val refused = Seq(p, part, s"$p2.tmp.1_1", "target/tmp", outside,
        "target/tmp/test-warehouse", s"$p2/../${family}_x")
      refused.foreach { path =>
        withClue(path) { an[IllegalArgumentException] should be thrownBy Tables.readFixture(spark, path) }
      }
    }
  }

  test("publish of a single file keeps an existing destination's bytes") {
    val dir = Files.createTempDirectory("fxpub")
    def file(name: String, text: String): Path = Files.writeString(dir.resolve(name), text)
    val dst = dir.resolve("dst.json")
    Tables.publish(file("t1", "first"), dst)
    Files.readString(dst) shouldBe "first"
    Tables.publish(file("t2", "second"), dst)
    Files.readString(dst) shouldBe "first"
    Files.exists(dir.resolve("t1")) shouldBe false
    Files.exists(dir.resolve("t2")) shouldBe false
  }
}
