package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.functions.ArrayOps._
import graft.functions.ImageGeometry
import Queries.Entry
import Tables.tbl

/** SURVEY.md §2.3/§2.5 array-operator queries over
  * `embeddings.embedding` (64-float vectors; the testdata stand-in for
  * the reference's 5625-float SAR bands — FIXTURES.md §4).
  *
  * Every query is per-row array math (scan → project → order-by-key):
  * embarrassingly parallel, no shuffle except the determinism ORDER BY,
  * and the whole arithmetic family stays inside whole-stage codegen
  * (zip_with/transform/aggregate builtins). The geometry entries
  * (a8/a12/a13) run the ImageGeometry UDFs treating the 64-vector as an
  * 8×8 image; their oracles are generated index-arithmetic SQL, so even
  * the UDF family is hash-checked against DuckDB.
  *
  * Float determinism: embedding floats cast exactly to double; sums are
  * sequential folds in both engines; results round(…,6) (SURVEY §5.1).
  *
  * Reference semantics: band algebra main.py:63-86, normalize
  * main.py:104, iso/size main-newInput.py:79-97, row stats + median
  * sub_stacking.py:30-33, flip/crop/ten-crop 10-crop.py:233-255, resize
  * main.py:105, seeded augmentation main.py:149-168.
  */
object QueriesArrays {
  private val W = 8 // treat the 64-float embedding as an 8x8 image
  private def emb(s: org.apache.spark.sql.SparkSession, d: String) =
    tbl(s, d, "embeddings").withColumn("b1", asDouble(col("embedding")))

  /** DuckDB spelling of the double-cast embedding. */
  private val B1 = "CAST(embedding AS DOUBLE[])"

  // ------------------------------------------------------------------ A2-A5
  /** A2-A5 band algebra; the second band is reverse(b1) — a real second
    * signal with zero float ops, so both engines see identical inputs. */
  val a2BandAlgebra: Entry = Entry("a2_band_algebra",
    (s, d) => {
      val e = emb(s, d).withColumn("b2", reverse(col("b1")))
      e.select(col("vec_id"),
        round(arraySum(bandAvg(col("b1"), col("b2"))), 6).as("avg_sum"),
        round(arraySum(bandAbsDiff(col("b1"), col("b2"))), 6).as("absdiff_sum"),
        round(arraySum(bandMax(col("b1"), col("b2"))), 6).as("max_sum"),
        round(arraySum(bandMin(col("b1"), col("b2"))), 6).as("min_sum"))
        .orderBy("vec_id")
    },
    Some(s"""WITH e AS (SELECT vec_id, $B1 AS b1, list_reverse($B1) AS b2 FROM embeddings)
      |SELECT vec_id,
      | round(list_sum(list_transform(list_zip(b1, b2), s -> (s[1] + s[2]) / 2)), 6) AS avg_sum,
      | round(list_sum(list_transform(list_zip(b1, b2), s -> abs(s[1] - s[2]))), 6) AS absdiff_sum,
      | round(list_sum(list_transform(list_zip(b1, b2), s -> greatest(s[1], s[2]))), 6) AS max_sum,
      | round(list_sum(list_transform(list_zip(b1, b2), s -> least(s[1], s[2]))), 6) AS min_sum
      |FROM e ORDER BY vec_id""".stripMargin))

  // -------------------------------------------------------------------- A7
  val a7Normalize: Entry = Entry("a7_normalize",
    (s, d) => emb(s, d).select(col("vec_id"),
        round(arraySum(minMaxNormalize(col("b1"))), 6).as("norm_sum"))
      .orderBy("vec_id"),
    Some(s"""WITH e AS (SELECT vec_id, $B1 AS b1 FROM embeddings),
      | m AS (SELECT vec_id, b1, list_min(b1) AS mn, list_max(b1) AS mx FROM e)
      |SELECT vec_id,
      | round(list_sum(list_transform(b1,
      |   x -> CASE WHEN mx = mn THEN 0.0 ELSE (x - mn) / (mx - mn) END)), 6) AS norm_sum
      |FROM m ORDER BY vec_id""".stripMargin))

  // -------------------------------------------------------------------- A9
  /** Iso mask: keep pixels > mean + 2*std (population std). The oracle
    * spells the identical operation order (sum, sumsq, same formula) so
    * the threshold is the same IEEE double in both engines. */
  val a9IsoMask: Entry = Entry("a9_iso_mask",
    (s, d) => emb(s, d)
      // hoist the threshold to a column: HOF lambdas evaluate
      // interpreted, so an inline mean+2σ would be recomputed per
      // ELEMENT (O(n²) per row — measured 5× slower)
      .withColumn("thr", arrayMean(col("b1")) + lit(2.0) * arrayStd(col("b1")))
      .select(col("vec_id"),
        round(arraySum(transform(col("b1"),
          x => when(x > col("thr"), x).otherwise(lit(0.0)))), 6).as("iso_sum"),
        size(filter(col("b1"), x => x > col("thr"))).as("n_kept"))
      .orderBy("vec_id"),
    Some(s"""WITH e AS (SELECT vec_id, $B1 AS b1 FROM embeddings),
      | st AS (SELECT vec_id, b1,
      |   list_sum(b1) AS sm,
      |   list_sum(list_transform(b1, x -> x * x)) AS sq,
      |   CAST(len(b1) AS DOUBLE) AS n FROM e),
      | th AS (SELECT vec_id, b1,
      |   sm / n + 2.0 * sqrt((sq - sm * sm / n) / n) AS thr FROM st)
      |SELECT vec_id,
      | round(list_sum(list_transform(b1, x -> CASE WHEN x > thr THEN x ELSE 0.0 END)), 6) AS iso_sum,
      | CAST(len(list_filter(b1, x -> x > thr)) AS INT) AS n_kept
      |FROM th ORDER BY vec_id""".stripMargin))

  // ------------------------------------------------------------------- A10
  val a10SizeFeature: Entry = Entry("a10_size_feature",
    (s, d) => emb(s, d).select(col("vec_id"),
        sizeFeature(col("b1"), 0.0).as("frac_neg"),
        sizeFeature(col("b1"), -0.1).as("frac_lt_m01"))
      .orderBy("vec_id"),
    Some(s"""SELECT vec_id,
      | CAST(len(list_filter($B1, x -> x < 0.0)) AS DOUBLE) / len(embedding) AS frac_neg,
      | CAST(len(list_filter($B1, x -> x < -0.1)) AS DOUBLE) / len(embedding) AS frac_lt_m01
      |FROM embeddings ORDER BY vec_id""".stripMargin))

  // --------------------------------------------------------------- G5-G7/G9
  val gRowStats: Entry = Entry("g_row_stats",
    (s, d) => emb(s, d).select(col("vec_id"),
        round(array_max(col("b1")), 6).as("vmax"),
        round(array_min(col("b1")), 6).as("vmin"),
        round(arrayMean(col("b1")), 6).as("vmean"),
        round(arrayStd(col("b1")), 6).as("vstd"))
      .orderBy("vec_id"),
    Some(s"""WITH e AS (SELECT vec_id, $B1 AS b1 FROM embeddings),
      | st AS (SELECT vec_id, b1, list_sum(b1) AS sm,
      |   list_sum(list_transform(b1, x -> x * x)) AS sq,
      |   CAST(len(b1) AS DOUBLE) AS n FROM e)
      |SELECT vec_id,
      | round(list_max(b1), 6) AS vmax,
      | round(list_min(b1), 6) AS vmin,
      | round(sm / n, 6) AS vmean,
      | round(sqrt((sq - sm * sm / n) / n), 6) AS vstd
      |FROM st ORDER BY vec_id""".stripMargin))

  // -------------------------------------------------------------------- G8
  /** Exact median; the oracle spells our sorted-middle formula explicitly
    * (not list_median) so even/odd semantics are pinned. */
  val g8Median: Entry = Entry("g8_median",
    (s, d) => emb(s, d).select(col("vec_id"),
        round(arrayMedian(col("b1")), 6).as("med"))
      .orderBy("vec_id"),
    Some(s"""WITH e AS (SELECT vec_id, list_sort($B1) AS ls, len(embedding) AS n FROM embeddings)
      |SELECT vec_id,
      | round((ls[CAST(floor((n + 1) / 2) AS INT)] + ls[CAST(floor(n / 2) + 1 AS INT)]) / 2.0, 6) AS med
      |FROM e ORDER BY vec_id""".stripMargin))

  // ------------------------------------------------- A8/A11-A13 geometry
  // The UDF family checked by SQL from ImageGeometry's generators
  // (sqlFlipH/sqlFlipV/sqlTenCropSums/sqlDraw/sqlResize/sqlAugmentFull).
  // All crops/flips are exact integer index remaps; only the source
  // floats and the final sums carry float math, in the same order in
  // both engines.

  /** Ten-crop oracle rows (id, crop_id, crop_sum) of the n×n image `img`
    * in `src` with c×c crops. `f` carries the H-flipped image and is
    * read by all ten crop rows, so it is materialized. */
  private def sqlTenCropRows(src: String, id: String, img: String, n: Int, c: Int): String = {
    val unions = ImageGeometry.sqlTenCropSums(img, "fl", n, n, c, c).zipWithIndex
      .map { case (e, i) => s"SELECT $id, $i AS crop_id, round($e, 6) AS crop_sum FROM f" }
      .mkString("\n UNION ALL ")
    s"""WITH e AS ($src),
       | f AS MATERIALIZED (SELECT $id, $img, ${ImageGeometry.sqlFlipH(img, n)} AS fl FROM e)
       |$unions
       |ORDER BY $id, crop_id""".stripMargin
  }

  /** A12: ten-crop (4 corners + center) × {orig, flipped} of the 8×8
    * image, 4×4 crops; output (vec_id, crop_id, crop sum). */
  val a12TenCrop: Entry = {
    val cw = 4; val ch = 4
    val sparkFn: Queries.Q = (s, d) => {
      val e = emb(s, d).select(col("vec_id"),
        posexplode(ImageGeometry.tenCropUdf(col("b1"), lit(W), lit(W), lit(cw), lit(ch)))
          .as(Seq("crop_id", "crop")))
      e.select(col("vec_id"), col("crop_id"),
          round(arraySum(col("crop")), 6).as("crop_sum"))
        .orderBy("vec_id", "crop_id")
    }
    Entry("a12_ten_crop", sparkFn, Some(sqlTenCropRows(
      s"SELECT vec_id, $B1 AS b1 FROM embeddings", "vec_id", "b1", W, cw)))
  }

  /** A8: bilinear resize 8×8 → 4×4, replayed by the general resize
    * generator (a clean 2× downscale: every weight is exactly 0.25). */
  val a8Resize: Entry = Entry("a8_resize",
    (s, d) => emb(s, d).select(col("vec_id"),
        round(arraySum(ImageGeometry.bilinear_resize(col("b1"), W, W, 4, 4)), 6).as("resized_sum"))
      .orderBy("vec_id"),
    Some(s"""WITH e AS (SELECT vec_id, $B1 AS b1 FROM embeddings)
      |SELECT vec_id, round(list_sum(${ImageGeometry.sqlResize("b1", W.toString, W.toString, 4, 4)}), 6)
      |  AS resized_sum
      |FROM e ORDER BY vec_id""".stripMargin))

  /** A13 flip-decision entries: the augmented image's position-weighted
    * checksum (a plain sum cannot see a flip — it permutes pixels) and
    * `flipped` = 1 exactly where the kernel flipped. The oracle draws
    * the same masked-LCG stream, applies `sqlFlip` where `sqlTaken`
    * holds on the draw `l`, and replays the checksum. */
  private def flipEntry(name: String, kernel: UserDefinedFunction, stream: Int,
      taken: Column => Column, sqlTaken: String, sqlFlip: String => String): Entry = {
    val sparkFn: Queries.Q = (s, d) => {
      val e = emb(s, d).withColumn("aug", kernel(col("b1"), lit(W), col("vec_id"), lit(0)))
      e.select(col("vec_id"),
          when(taken(ImageGeometry.draw(col("vec_id"), 0, stream)), 1).otherwise(0).as("flipped"),
          round(arraySum(zip_with(col("aug"),
            sequence(lit(1), size(col("aug"))).cast("array<double>"),
            (x, i) => x * i)), 6).as("wsum"))
        .orderBy("vec_id")
    }
    Entry(name, sparkFn,
      Some(s"""WITH e AS (SELECT vec_id, $B1 AS b1,
        |   ${ImageGeometry.sqlDraw("vec_id", 0, stream)} AS l FROM embeddings),
        | f AS (SELECT vec_id, CASE WHEN $sqlTaken THEN 1 ELSE 0 END AS flipped,
        |   CASE WHEN $sqlTaken THEN ${sqlFlip("b1")} ELSE b1 END AS aug FROM e)
        |SELECT vec_id, flipped,
        | round(list_sum(list_transform(range(1, ${W * W + 1}), i -> aug[i] * CAST(i AS DOUBLE))), 6) AS wsum
        |FROM f ORDER BY vec_id""".stripMargin))
  }

  /** A13: LCG-seeded deterministic H-flip augmentation (epoch 0):
    * augmentFlip flips when the draw is even. */
  val a13Augment: Entry = flipEntry("a13_augment_flip", ImageGeometry.augmentFlipUdf,
    0, h => h % 2 === 0, "l % 2 = 0", ImageGeometry.sqlFlipH(_, W))

  /** A13: the VERTICAL-flip decision (main.py:150 vertical_flip=True —
    * the reference draws H and V flips independently; this gates the V
    * branch alone on augmentFull's stream-5 draw, taken below 2^30). */
  val a13AugmentV: Entry = flipEntry("a13_augment_flipv", ImageGeometry.augmentFlipVUdf,
    5, h => h < 0x40000000L, "l < 1073741824", ImageGeometry.sqlFlipV(_, W))

  /** G10: TTA mean — per-image mean over the ten crop means
    * (10-crop.py:327-337's accumulate/÷10, as explode → groupBy avg).
    * The 10 exploded rows of one image stay contiguous in one
    * partition, so the partial-agg fold order is deterministic and the
    * oracle can replay it as a left-assoc sum in crop order. */
  val g10TtaMean: Entry = {
    val cw = 4; val ch = 4
    val sparkFn: Queries.Q = (s, d) => {
      val e = emb(s, d).select(col("vec_id"),
        posexplode(ImageGeometry.tenCropUdf(col("b1"), lit(W), lit(W), lit(cw), lit(ch)))
          .as(Seq("crop_id", "crop")))
      e.select(col("vec_id"), arrayMean(col("crop")).as("m"))
        .groupBy("vec_id").agg(round(avg(col("m")), 6).as("tta_mean"))
        .orderBy("vec_id")
    }
    val meanExprs = ImageGeometry.sqlTenCropSums("b1", "fl", W, W, cw, ch)
      .map(cs => s"($cs / ${cw * ch})")
    Entry("g10_tta_mean", sparkFn,
      Some(s"""WITH e AS (SELECT vec_id, $B1 AS b1 FROM embeddings),
        | f AS (SELECT vec_id, b1, ${ImageGeometry.sqlFlipH("b1", W)} AS fl FROM e)
        |SELECT vec_id, round((${meanExprs.mkString(" + ")}) / 10, 6) AS tta_mean
        |FROM f ORDER BY vec_id""".stripMargin))
  }

  /** A13 (full): flip + rotate + zoom + shift affine augmentation,
    * LCG-parameterized per (id, epoch). The oracle replays the ENTIRE
    * pipeline through `ImageGeometry.sqlAugmentFull`: the masked-LCG
    * draw streams (exact integer arithmetic), both flip decisions,
    * theta/zoom/shift, cos/sin of -theta (DuckDB's libm agrees with
    * Math.cos/sin to the bit at round-6 granularity — verified 500/500;
    * AffineSpec pins the floor-boundary margin), and the inverse-map
    * bilinear sample per output pixel. Hash-green here means the full
    * affine resampler — not just its flip branch — is checked. */
  val a13Affine: Entry = Entry("a13_affine",
    (s, d) => emb(s, d).select(col("vec_id"),
        round(arraySum(ImageGeometry.augmentFullUdf(
          col("b1"), lit(W), col("vec_id"), lit(0))), 6).as("aug_sum"))
      .orderBy("vec_id"),
    Some(s"""WITH e AS (SELECT vec_id, $B1 AS b1 FROM embeddings),
      |${ImageGeometry.sqlAugmentFull("e", "b1", W, "vec_id")}
      |SELECT vec_id, round(list_sum(aug), 6) AS aug_sum
      |FROM ag ORDER BY vec_id""".stripMargin))

  /** The geometry family at the reference's NATIVE resolution: A7
    * normalize + A8 bilinear resize 75→38 + A9 iso mask over the
    * 40-row 75×75 SAR fixture (main.py:5,63-115 operates at exactly
    * this shape). The 8×8 embedding entries above prove the index
    * arithmetic is size-generic; this proves the same operators at
    * 5625-element arrays — allocation and codegen pressure included —
    * under a full DuckDB replay oracle. The resize oracle is the
    * general inverse-map generator over the 1444 output pixels: the
    * coordinates carry only *, /, +, − (no libm), and every sample
    * coordinate (75(2k+1)−38)/76 sits ≥ 1/76 from an integer, so no
    * floor-boundary flake is possible at any size. */
  val aNative75: Entry = {
    val S = SarFixture.W      // 75
    val O = 38                // output side: the 75→38 downscale
    Entry("a_native_75",
      (s, d) => {
        SarFixture.ensure()
        val df = Ingest.readSarJson(s, SarFixture.path)
          // hoist the iso threshold (same rationale as a9IsoMask)
          .withColumn("thr",
            arrayMean(col("band_2")) + lit(2.0) * arrayStd(col("band_2")))
        df.select(col("id"),
            round(arraySum(minMaxNormalize(col("band_1"))), 6).as("norm_sum"),
            round(arraySum(ImageGeometry.bilinear_resize(
              col("band_1"), S, S, O, O)), 6).as("resized_sum"),
            round(arraySum(transform(col("band_2"),
              x => when(x > col("thr"), x).otherwise(lit(0.0)))), 6).as("iso_sum"),
            size(filter(col("band_2"), x => x > col("thr"))).as("n_kept"))
          .orderBy("id")
      },
      Some(s"""WITH e AS (SELECT id, band_1, band_2 FROM ${SarFixture.sqlRead}),
        |nm AS (SELECT *, list_min(band_1) AS mn, list_max(band_1) AS mx FROM e),
        |st AS (SELECT *, list_sum(band_2) AS sm,
        |  list_sum(list_transform(band_2, x -> x * x)) AS sq,
        |  CAST(len(band_2) AS DOUBLE) AS n FROM nm),
        |th AS (SELECT *, sm / n + 2.0 * sqrt((sq - sm * sm / n) / n) AS thr FROM st)
        |SELECT id,
        | round(list_sum(list_transform(band_1,
        |   x -> CASE WHEN mx = mn THEN 0.0 ELSE (x - mn) / (mx - mn) END)), 6) AS norm_sum,
        | round(list_sum(${ImageGeometry.sqlResize("band_1", S.toString, S.toString, O, O)}), 6) AS resized_sum,
        | round(list_sum(list_transform(band_2,
        |   x -> CASE WHEN x > thr THEN x ELSE 0.0 END)), 6) AS iso_sum,
        | CAST(len(list_filter(band_2, x -> x > thr)) AS INT) AS n_kept
        |FROM th ORDER BY id""".stripMargin))
  }

  /** A12 at the reference's NATIVE shape: ten-crop 75→64 over the SAR
    * fixture (the reference crops 350→299, ~85% — 64/75 matches that
    * ratio; 10-crop.py:22-23,240-255). Completes the native-resolution
    * gate the 8×8 a12_ten_crop can't give: 10 × 4096-element crops per
    * row through the Array[Double] UDF + posexplode, each crop sum
    * replayed by the oracle as 64 concatenated row slices into ONE
    * list_sum (fold order = the JVM's row-major crop walk). */
  val aNativeTenCrop: Entry = {
    val S = SarFixture.W // 75
    val c = 64
    Entry("a_native_tencrop",
      (s, d) => {
        SarFixture.ensure()
        Ingest.readSarJson(s, SarFixture.path)
          .select(col("id"), posexplode(ImageGeometry.tenCropUdf(
            col("band_1"), lit(S), lit(S), lit(c), lit(c))).as(Seq("crop_id", "crop")))
          .select(col("id"), col("crop_id"),
            round(arraySum(col("crop")), 6).as("crop_sum"))
          .orderBy("id", "crop_id")
      },
      Some(sqlTenCropRows(s"SELECT id, band_1 FROM ${SarFixture.sqlRead}",
        "id", "band_1", S, c)))
  }

  /** A13 (full flip+rotate+zoom+shift) at NATIVE 75×75 resolution over
    * the SAR fixture. Same oracle generator as a13_affine at side 75,
    * center 37.0. Libm-drift safety at this scale is pinned by the
    * AffineSpec fixture-domain margin sweep (min distance of every
    * sample coordinate from a floor boundary > 1e-7 across all 40 ids
    * × 5625 px — the full-seed-domain guarantee cannot transfer to
    * 75×75, the fixture-domain one is what the oracle actually needs). */
  val aNativeAffine: Entry = {
    val S = SarFixture.W // 75
    Entry("a_native_affine",
      (s, d) => {
        SarFixture.ensure()
        Ingest.readSarJson(s, SarFixture.path)
          .select(substring(col("id"), 2, 3).cast("long").as("vec_id"), col("band_1"))
          .select(col("vec_id"),
            round(arraySum(ImageGeometry.augmentFullUdf(
              col("band_1"), lit(S), col("vec_id"), lit(0))), 6).as("aug_sum"))
          .orderBy("vec_id")
      },
      Some(s"""WITH e AS (SELECT CAST(substr(id, 2) AS BIGINT) AS vec_id, band_1 AS b
        |  FROM ${SarFixture.sqlRead}),
        |${ImageGeometry.sqlAugmentFull("e", "b", S, "vec_id")}
        |SELECT vec_id, round(list_sum(aug), 6) AS aug_sum
        |FROM ag ORDER BY vec_id""".stripMargin))
  }

  val all: Seq[Entry] = Seq(
    a2BandAlgebra, a7Normalize, a9IsoMask, a10SizeFeature,
    gRowStats, g8Median, a12TenCrop, a8Resize, a13Augment, a13AugmentV,
    g10TtaMean, a13Affine, aNative75, aNativeTenCrop, aNativeAffine)
}
