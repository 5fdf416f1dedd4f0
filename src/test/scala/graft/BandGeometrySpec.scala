package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Pins the Hamming-LSH geometry parameterization (VERDICT r17 #1):
  * the sizing ladder, the pigeonhole recall guarantee derived from
  * the parameters, bit-exact equivalence of the B=4 rung with the
  * legacy shipped design (so existing oracles stay valid), and the
  * candidate-volume collapse that motivated the change (the sf30
  * rung measured n²/2^16-shaped saturation at 4.5M frames). */
class BandGeometrySpec extends AnyFunSuite {

  test("ladder: smallest geometry whose narrowest key has >= ceil(log2 n) bits") {
    assert(Dedup.geometryFor(1000) == Dedup.Geometry4x16)
    assert(Dedup.geometryFor(65536) == Dedup.Geometry4x16)
    val b5 = Dedup.geometryFor(65537)
    assert(b5.blocks == Seq(13, 13, 13, 13, 12))
    assert(b5.nTables == 10 && b5.minKeyBits == 25)
    assert(Dedup.geometryFor(8L * 1000 * 1000) == b5) // the video design size
    assert(Dedup.geometryFor(1L << 25) == b5)
    val b6 = Dedup.geometryFor((1L << 25) + 1)
    assert(b6.blocks == Seq(11, 11, 11, 11, 10, 10))
    assert(b6.nTables == 20 && b6.minKeyBits == 31)
    val b8 = Dedup.geometryFor(1L << 40)
    assert(b8.blocks == Seq.fill(8)(8) && b8.nTables == 56 && b8.minKeyBits == 40)
    // every rung: blocks partition the 64 bits, C(B, k) tables
    Seq(Dedup.Geometry4x16, b5, b6, b8).foreach { g =>
      assert(g.blocks.sum == 64)
      val bCount = g.blocks.length
      val expect = (1 to 3).foldLeft(1L)((a, i) => a * (bCount - i + 1) / i)
      assert(g.nTables.toLong == expect, s"C($bCount,3) tables")
    }
  }

  test("legacy equivalence: Geometry4x16 keys ARE the shipped (ph>>16b)&0xffff bands") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val ph = rnd.nextLong()
      (0 until 4).foreach { b =>
        assert(Dedup.Geometry4x16.key(ph, b) == ((ph >>> (16 * b)) & 0xffffL))
      }
    }
  }

  test("pigeonhole: any <=3-bit flip shares a table key at every ladder rung") {
    val rnd = new scala.util.Random(42)
    val geoms = Seq(1L, 1L << 20, 1L << 30, 1L << 40).map(Dedup.geometryFor(_))
    geoms.foreach { g =>
      (1 to 500).foreach { _ =>
        val ph = rnd.nextLong()
        val flips = 1 + rnd.nextInt(3)
        val other = (1 to flips).foldLeft(ph)((p, _) => p ^ (1L << rnd.nextInt(64)))
        assert((0 until g.nTables).exists(t => g.key(ph, t) == g.key(other, t)),
          s"missed <=3-flip catch under blocks=${g.blocks}")
      }
    }
  }

  test("hammingBandPairs under a sized geometry == brute force within the guarantee") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val base = (0 until 300).map(i => (i.toLong, rnd.nextLong()))
    val plants = base.collect { case (i, ph) if i % 5 == 0 =>
      (1000L + i,
        (1 to 1 + rnd.nextInt(3)).foldLeft(ph)((p, _) => p ^ (1L << rnd.nextInt(64))))
    }
    val all = base ++ plants
    val byId = all.toMap
    val got = Dedup.hammingBandPairs(all.toDF("id", "ph"), maxHamming = 3,
        Dedup.geometryFor(1L << 20))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = (for {
      (a, pa) <- all; (b, pb) <- all
      if a < b && java.lang.Long.bitCount(pa ^ pb) <= 3
    } yield (a, b)).toSet
    assert(got == brute, // completeness (pigeonhole) AND soundness (verify)
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.nonEmpty) // the plant actually exercised the catch
    got.foreach { case (a, b) =>
      assert(java.lang.Long.bitCount(byId(a) ^ byId(b)) <= 3)
    }
  }

  test("candidate volume: sized keys collapse random collisions from ~n^2/2^16 to ~n") {
    val rnd = new scala.util.Random(11)
    val n = 30000
    val phs = Array.fill(n)(rnd.nextLong())
    def collisions(g: Dedup.BandGeometry): Long = {
      var total = 0L
      (0 until g.nTables).foreach { t =>
        val m = scala.collection.mutable.HashMap.empty[Long, Long]
        phs.foreach { ph =>
          val k = g.key(ph, t)
          m.update(k, m.getOrElse(k, 0L) + 1L)
        }
        m.valuesIterator.foreach(c => total += c * (c - 1) / 2)
      }
      total
    }
    val legacy = collisions(Dedup.Geometry4x16)     // E ≈ n²/2/2^16 × 4 ≈ 27k
    val sized = collisions(Dedup.geometryFor(1L << 22)) // E ≈ n²/2/2^25.5 × 10 ≈ 1e2
    assert(legacy > 15000L, s"legacy saturation census moved: $legacy")
    assert(sized < legacy / 20, s"sized=$sized legacy=$legacy")
    assert(sized < 1000L, s"sized geometry collisions not ~n-bounded: $sized")
  }

  test("SQL replay text derives from the same geometry object; >3-block keys refuse") {
    val g = Dedup.geometryFor(1L << 22)
    val sql = Dedup.bandSqlValues(g)
    assert(sql.startsWith("(VALUES"))
    assert(sql.endsWith("t(b, o0, m0, f0, o1, m1, f1, o2, m2, f2)"))
    assert(sql.count(_ == '(') == 2 + g.nTables) // VALUES + rows + t(cols)
    assert(Dedup.bandSqlKey("ph").contains("(ph >> t.o0) & t.m0"))
    // the 4×16 rows ARE the single-block bands (ph >> 16b) & 65535:
    // one unit-factor slot per table, the other two masked to 0
    val rows4x16 = "\\((\\d+(?:, \\d+)*)\\)".r
      .findAllMatchIn(Dedup.bandSqlValues(Dedup.Geometry4x16))
      .map(_.group(1).split(", ").map(_.toLong).toSeq).toSeq
    assert(rows4x16 == (0 until 4).map(b =>
      Seq[Long](b, 16L * b, 65535, 1, 0, 0, 0, 0, 0, 0)))
    intercept[IllegalArgumentException] {
      Dedup.bandSqlValues(Dedup.geometryFor(1L << 40)) // B=8: 5-block keys
    }
  }
}
