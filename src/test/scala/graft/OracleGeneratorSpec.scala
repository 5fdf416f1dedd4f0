package graft

import graft.functions.ImageGeometry
import org.apache.spark.sql.functions._

/** The image-geometry, LCG and minhash head-sample oracle generators:
  * the flip entries label the rows their kernel flipped, the Column draw
  * is the kernel's draw, and no oracle outside the generators restates
  * their arithmetic. The same kind of source guard keeps the media
  * codecs to one writer and one walker per container format. */
class OracleGeneratorSpec extends SparkSpec {
  import OracleGeneratorSpec._

  /** An `embeddings` table of 8×8 images whose ids run past 2^16, so the
    * draw's id mask is exercised. */
  private lazy val embDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("geom_oracle").toString
    spark.range(0, 600).select((col("id") * 131).as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => sin(col("id") * 7 + j * 3 + 1).cast("float")).as("embedding"))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("a13_augment_flip / a13_augment_flipv: flipped = 1 exactly where the kernel flipped") {
    val w = 8
    val imgs = Tables.tbl(spark, embDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cases = Seq(
      (QueriesArrays.a13Augment, (a: Array[Double], id: Long) => ImageGeometry.augmentFlip(a, w, id, 0),
        (a: Array[Double]) => ImageGeometry.flipH(a, w)),
      (QueriesArrays.a13AugmentV, (a: Array[Double], id: Long) => ImageGeometry.augmentFlipV(a, w, id, 0),
        (a: Array[Double]) => ImageGeometry.flipV(a, w)))
    for ((entry, kernel, flip) <- cases) withClue(entry.name) {
      val rows = entry.fn(spark, embDir).collect()
      rows.length shouldBe imgs.size
      val labels = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("flipped"))
      val flippedIds = labels.collect { case (id, 1) => id }.toSet
      val kernelFlipped = imgs.collect {
        case (id, a) if java.util.Arrays.equals(kernel(a, id), flip(a)) =>
          // a symmetric image would read as flipped either way
          java.util.Arrays.equals(flip(a), a) shouldBe false
          id
      }.toSet
      labels.map(_._2).toSet shouldBe Set(0, 1)
      flippedIds shouldBe kernelFlipped
    }
  }

  test("ImageGeometry.draw is the kernel's masked-LCG draw") {
    val ids = spark.range(0, 200000, 97).select(col("id"))
    for (epoch <- Seq(0, 1); stream <- 0 to 5) {
      val got = ids.select(col("id"), ImageGeometry.draw(col("id"), epoch, stream))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      got.foreach { case (id, v) =>
        withClue(s"id $id epoch $epoch stream $stream") {
          v shouldBe ImageGeometry.lcg((id & 0xffffL) * 131071L + epoch * 31L + stream)
        }
      }
    }
  }

  test("source guard: geometry and LCG replays are spelled only in their generators") {
    planted.foreach { case (rule, text) =>
      withClue(rule) { patterns(rule).findFirstIn(text) should not be empty }
    }
    val hits = for {
      (f, text) <- mainSources
      (rule, re) <- patterns
      m <- re.findAllMatchIn(text)
      if !homes(rule)(f.getName) && !exempt(rule, text.take(m.start))
    } yield s"$rule at ${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}"
    hits shouldBe empty
  }

  test("source guard: one writer and one walker per media container, one dHash grid") {
    singletons.foreach { case (rule, (re, plant)) =>
      withClue(rule) { re.findFirstIn(plant) should not be empty }
    }
    val repeated = for {
      (rule, (re, _)) <- singletons.toSeq
      where = for ((f, text) <- mainSources; m <- re.findAllMatchIn(text))
        yield s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}"
      if where.size > 1
    } yield s"$rule at ${where.mkString(", ")}"
    repeated shouldBe empty
  }
}

object OracleGeneratorSpec {
  /** Every main source file with its text. */
  lazy val mainSources: Seq[(java.io.File, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
      .map(f => f -> java.nio.file.Files.readString(f.toPath))
  }

  /** Spellings `src/main` may hold at most once, by rule name, each
    * with a planted line it must match: the media containers' writers,
    * walkers and header checks, and the dHash sample grid. */
  val singletons: Map[String, (scala.util.matching.Regex, String)] = Map(
    "RIFF writer" -> ("""write\('R'\);\s*o\.write\('I'\)""".r,
      "o.write('R'); o.write('I'); o.write('F'); o.write('F')"),
    "RIFF magic" -> ("""'R'\s*&&\s*b\(1\)\s*==\s*'I'""".r,
      "b(0) == 'R' && b(1) == 'I' && b(2) == 'F'"),
    "Y4M writer" -> ("""write\('F'\);\s*o\.write\('R'\)""".r,
      "o.write('F'); o.write('R'); o.write('A'); o.write('M')"),
    "Y4M parameter line" -> ("""toks\(0\)\s*==\s*"YUV4MPEG2"""".r,
      """require(toks(0) == "YUV4MPEG2", "not a YUV4MPEG2 stream")"""),
    "Y4M FRAME marker" -> ("""b\(off\)\s*==\s*'F'""".r,
      "off + 5 <= b.length && b(off) == 'F' && b(off + 1) == 'R'"),
    "BMP magic" -> ("""b\(0\)\s*==\s*'B'""".r,
      "b.length >= 54 && b(0) == 'B' && b(1) == 'M'"),
    "dHash sample index" -> ("""\(x\s*\+\s*1\)\s*\*\s*w\s*/\s*9""".r,
      "val cur = px(sy * w + (x + 1) * w / 9)"))

  /** Each replayed spelling, by rule name. */
  val patterns: Map[String, scala.util.matching.Regex] = Map(
    "bilinear clamp" -> """CAST\(floor\(s\.""".r,
    "masked draw" -> """\*\s*131071(L|\b)""".r,
    "LCG multiplier in SQL" -> """1103515245(?!L)""".r,
    "SAR fixture read" -> """read_json\(""".r,
    "Lcg constant in an oracle" -> """\$\{[^}]*Lcg\.(M|A|C|A2|C2)\b""".r,
    "minhash head sample" -> """LIMIT\s+\$MinhashOracleCap""".r)

  /** The files that hold each spelling's kernel and generator. */
  val homes: Map[String, Set[String]] = Map(
    "bilinear clamp" -> Set("ImageGeometry.scala"),
    "masked draw" -> Set("ImageGeometry.scala"),
    "LCG multiplier in SQL" -> Set("ImageGeometry.scala", "Lcg.scala"),
    "SAR fixture read" -> Set("SarFixture.scala"),
    "Lcg constant in an oracle" -> Set.empty,
    "minhash head sample" -> Set.empty)

  /** g_cms_sketch's hash-parameter VALUES list carries 1103515245 as one
    * of three count-min hash multipliers: a different kernel that only
    * shares the constant with the LCG. The head sample's home is one
    * generator, `QueriesPipeline.sqlBaseDocs`, not a whole file: its
    * copies sat in the same file. */
  def exempt(rule: String, before: String): Boolean = {
    def last(re: scala.util.matching.Regex) =
      re.findAllMatchIn(before).toSeq.lastOption.map(_.group(1))
    rule match {
      case "LCG multiplier in SQL" =>
        last("""Entry\("([a-z0-9_]+)"""".r).contains("g_cms_sketch")
      case "minhash head sample" =>
        last("""\b(?:val|def) (\w+)""".r).contains("sqlBaseDocs")
      case _ => false
    }
  }

  val planted: Seq[(String, String)] = Seq(
    "bilinear clamp" -> "x0 := greatest(0, least(7, CAST(floor(s.px) AS INT)))",
    "masked draw" -> "((((vec_id & 65535) * 131071 + 5) & 16777215)",
    "masked draw" -> """col("vec_id").bitwiseAND(lit(0xffffL)) * 131071L""",
    "LCG multiplier in SQL" -> "((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648",
    "SAR fixture read" -> "FROM read_json('/x/sar.json', columns = {id: 'VARCHAR'})",
    "Lcg constant in an oracle" -> "((doc_id % ${graft.functions.Lcg.M}) * ${graft.functions.Lcg.A}",
    "minhash head sample" -> "(SELECT doc_id FROM documents ORDER BY doc_id\n  LIMIT $MinhashOracleCap)")
}
