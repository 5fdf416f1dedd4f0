package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Nearest-centroid assignment: brute-force ground truth on a small
  * random set, and the deterministic lower-cid tie-break the gate's
  * total-order contract depends on. */
class KmeansAssignSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  test("assignment equals brute-force argmin over random vectors") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map(i => i -> Seq.fill(8)(rnd.nextFloat()))
    val cents = vecs.take(4).map { case (id, v) => (id, v.map(_.toDouble)) }
    val expected = vecs.map { case (id, v) =>
      val d = cents.map { case (cid, cv) =>
        (v.map(_.toDouble).zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }.min // (d2, cid) lexicographic: ties break to the lower cid
      (id, d._2)
    }
    val got = Similarity.kmeansAssign(df(vecs),
        df(cents.map { case (id, v) => (id, v.map(_.toFloat)) })
          .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("cv")))
      .select("vec_id", "cluster").as[(Long, Long)].collect().sortBy(_._1).toSeq
    got shouldBe expected.sortBy(_._1)
  }

  test("equidistant centroids break ties to the lower cid") {
    // probe at the origin midpoint of two mirror centroids: d2 identical
    val vecs = df(Seq((100L, Seq(0.0f, 0.0f))))
    val cents = Seq((5L, Seq(1.0, 0.0)), (2L, Seq(-1.0, 0.0)))
      .toDF("cid", "cv")
    val r = Similarity.kmeansAssign(vecs, cents)
      .select("cluster").as[Long].collect()
    r.toSeq shouldBe Seq(2L)
  }

  test("an empty centroid table fails loudly, naming the caller") {
    // without the guard every vector lands in cluster 0 at distance
    // +Inf, and semDedupWith runs one corpus-sized quadratic cluster
    val vecs = df(Seq((1L, Seq(0.5f, 0.5f)), (2L, Seq(1.0f, 0.0f))))
    val none = Seq.empty[(Long, Seq[Double])].toDF("cid", "cv")
    val assign = intercept[IllegalArgumentException](
      Similarity.kmeansAssign(vecs, none))
    assign.getMessage should include ("kmeansAssign")
    val dedup = intercept[IllegalArgumentException](
      Similarity.semDedupWith(vecs, none, tau = 0.9, Int.MaxValue))
    dedup.getMessage should include ("semDedupWith")
  }

  test("kmeansLloyd matches a driver-side integer-Lloyd replay (r11)") {
    // independent replay of the exact recurrence: scaled-long vectors,
    // integer argmin with (d2, cid) tie-break, floorDiv centroid means,
    // empty-cluster carry — over a deterministic 40-vector set
    val scale = 1000000L
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i => i -> Seq.fill(6)(rnd.nextFloat() - 0.5f))
    val k = 3; val iters = 2
    val sv: Map[Long, Array[Long]] = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * scale + 0.5).toLong).toArray
    }.toMap
    var cents: Map[Long, Array[Long]] =
      (0L until k.toLong).map(c => c -> sv(c).clone()).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(): Map[Long, Long] = sv.map { case (id, v) =>
      id -> cents.toSeq.map { case (c, cv) => (d2(v, cv), c) }.min._2
    }
    for (_ <- 1 to iters) {
      val byC = assign().groupBy(_._2)
      cents = cents.map { case (c, old) =>
        c -> byC.get(c).fold(old) { members =>
          val vs = members.keys.map(sv).toSeq
          Array.tabulate(old.length)(p =>
            Math.floorDiv(vs.map(_(p)).sum, vs.size.toLong))
        }
      }
    }
    val wantAssign = assign()
    val got = Similarity.kmeansLloyd(df(vecs), k, iters, scale)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    got shouldBe wantAssign
  }

  test("kmeansLloyd: empty cluster keeps its previous centroid") {
    // seed 2 duplicates seed 0, so every E-step tie sends its would-be
    // members to the lower cid and cluster 2 never wins a member — its
    // centroid must CARRY (1,1) through both M-steps. The carry is
    // observable in the final assignment: c0 re-centers to the group
    // mean (1, 1.0333…), so vec 0 at exactly (1,1) lands back on the
    // carried c2 at distance 0. A broken carry (dropped or zeroed
    // centroid) would put vec 0 on c0 at distance > 0 instead.
    val vecs = df(Seq(
      (0L, Seq(1.0f, 1.0f)), (1L, Seq(1.0f, 1.1f)), (2L, Seq(1.0f, 1.0f)),
      (10L, Seq(5.0f, 5.0f)), (11L, Seq(5.0f, 5.1f))))
    val out = Similarity.kmeansLloyd(vecs, k = 3, iters = 2)
      .select("vec_id", "cluster", "dist")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    out(0L) shouldBe ((2L, 0.0))
    out(2L) shouldBe ((2L, 0.0))
    out(10L)._1 shouldBe out(11L)._1
  }
}
