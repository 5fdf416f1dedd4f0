package graft

import graft.functions.ImageGeometry._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** A13 full augmentation: affine inverse-mapping resampler fixtures. */
class AffineSpec extends AnyFunSuite with Matchers {

  private val img3 = (1 to 9).map(_.toDouble).toArray // 3x3 [1..9]

  private def approxSeq(got: Seq[Double], want: Seq[Double], eps: Double = 1e-9): Unit = {
    got.length shouldBe want.length
    got.zip(want).foreach { case (g, w) => g shouldBe w +- eps }
  }

  test("identity transform returns the image") {
    approxSeq(affine(img3, 3, 3, 0.0, 1.0, 0.0, 0.0), img3)
  }

  test("90-degree rotation permutes the grid") {
    // out(0,0) samples source (0,2)=7; first row becomes [7,4,1]
    approxSeq(affine(img3, 3, 3, math.Pi / 2, 1.0, 0.0, 0.0),
      Seq(7.0, 4.0, 1.0, 8.0, 5.0, 2.0, 9.0, 6.0, 3.0), 1e-7)
  }

  test("zoom 2x samples the center neighborhood") {
    // out(0,0) samples (0.5, 0.5) -> mean of the TL 2x2 block
    val out = affine(img3, 3, 3, 0.0, 2.0, 0.0, 0.0)
    out(0) shouldBe (1.0 + 2.0 + 4.0 + 5.0) / 4 +- 1e-9
    out(4) shouldBe 5.0 +- 1e-9 // center invariant
  }

  test("shift by one pixel clamps at the edge") {
    // shiftX = 1/3 of width 3 -> source col = c-1, clamped at 0
    approxSeq(affine(img3, 3, 3, 0.0, 1.0, 1.0 / 3, 0.0),
      Seq(1.0, 1.0, 2.0, 4.0, 4.0, 5.0, 7.0, 7.0, 8.0))
  }

  test("rotation preserves the center pixel and value bounds") {
    for (deg <- Seq(10, 17, 30)) {
      val out = affine(img3, 3, 3, math.toRadians(deg), 1.0, 0.0, 0.0)
      out(4) shouldBe 5.0 +- 1e-9
      all(out) should (be >= 1.0 and be <= 9.0)
    }
  }

  test("a13_affine sample coords keep a safe margin from floor boundaries (libm-drift guard)") {
    // The a13_affine oracle replays cos/sin + floor in DuckDB SQL; its
    // green row was verified empirically on this data, but a different
    // DuckDB build/platform libm drifting 1 ulp near a floor() boundary
    // would surface as an unexplained hash-red. This pins the
    // precondition instead: over the FULL (id & 0xffff) seed domain —
    // a superset of every sf's vec_ids — and all 64 output pixels at
    // epoch 0, every bilinear sample coordinate (sx, sy) stays > 1e-9
    // from the nearest integer (empirical minimum: 5.9e-8), so no
    // sub-nanoscale libm disagreement can flip a floor. The parameter
    // and coordinate formulas mirror augmentFull/affine — the same
    // contract the oracle SQL encodes (ImageGeometry.sqlAugmentFull).
    val W = 8; val cx = 3.5; val cy = 3.5
    var minMargin = Double.MaxValue
    var id = 0L
    while (id < 65536L) {
      def draw(stream: Int): Double =
        lcg((id & 0xffffL) * 131071L + stream).toDouble / 0x80000000L.toDouble
      val theta = (draw(1) * 2 - 1) * math.toRadians(30)
      val zoom = 0.75 + draw(2) * 0.5
      val shX = (draw(3) * 2 - 1) * 0.2
      val shY = (draw(4) * 2 - 1) * 0.2
      val cosT = math.cos(-theta); val sinT = math.sin(-theta); val invZ = 1.0 / zoom
      var r = 0
      while (r < W) {
        var c = 0
        while (c < W) {
          val dx = c - cx - shX * W
          val dy = r - cy - shY * W
          val sx = (dx * cosT - dy * sinT) * invZ + cx
          val sy = (dx * sinT + dy * cosT) * invZ + cy
          val m = math.min(math.abs(sx - math.rint(sx)), math.abs(sy - math.rint(sy)))
          if (m < minMargin) minMargin = m
          c += 1
        }
        r += 1
      }
      id += 1
    }
    minMargin should be > 1e-9
  }

  test("a_native_affine fixture ids keep a safe floor margin at 75x75") {
    // The native-resolution affine entry (a_native_affine) replays
    // cos/sin + floor at 75×75. The FULL-domain sweep above cannot
    // transfer: 65536 seeds × 5625 px ≈ 368M samples would crowd the
    // fractional space to ~1e-9 of the boundaries. The entry, however,
    // evaluates exactly 40 fixture ids — this pins the margin for that
    // actual domain (expected ~1/(40·5625·2) ≈ 2e-6) so the oracle
    // stays libm-drift-proof on the data it runs on.
    val W = 75; val c0 = (W - 1) / 2.0
    var minMargin = Double.MaxValue
    var id = 1L
    while (id <= 40L) {
      def draw(stream: Int): Double =
        lcg((id & 0xffffL) * 131071L + stream).toDouble / 0x80000000L.toDouble
      val theta = (draw(1) * 2 - 1) * math.toRadians(30)
      val zoom = 0.75 + draw(2) * 0.5
      val shX = (draw(3) * 2 - 1) * 0.2
      val shY = (draw(4) * 2 - 1) * 0.2
      val cosT = math.cos(-theta); val sinT = math.sin(-theta); val invZ = 1.0 / zoom
      var r = 0
      while (r < W) {
        var c = 0
        while (c < W) {
          val dx = c - c0 - shX * W
          val dy = r - c0 - shY * W
          val sx = (dx * cosT - dy * sinT) * invZ + c0
          val sy = (dx * sinT + dy * cosT) * invZ + c0
          val m = math.min(math.abs(sx - math.rint(sx)), math.abs(sy - math.rint(sy)))
          if (m < minMargin) minMargin = m
          c += 1
        }
        r += 1
      }
      id += 1
    }
    minMargin should be > 1e-7
  }

  test("augmentFull is deterministic in (id, epoch) and varies across both") {
    val a = (1 to 64).map(_.toDouble).toArray
    augmentFull(a, 8, 7L, 2) shouldBe augmentFull(a, 8, 7L, 2)
    val byId = (0L to 10L).map(id => augmentFull(a, 8, id, 0).toSeq).toSet
    byId.size should be > 5
    augmentFull(a, 8, 7L, 0) should not be augmentFull(a, 8, 7L, 1)
  }
}
