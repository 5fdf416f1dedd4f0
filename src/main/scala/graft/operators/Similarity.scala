package graft.operators

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vectors
import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import graft.Probe
import graft.functions.ArrayOps

/** Similarity search over an embedding column (array<float>).
  *
  * Two paths, per the scale brief:
  *  - brute-force cosine top-k: one pass over the table against a
  *    broadcast probe vector — the exact baseline; at 100 TB this is a
  *    full scan but with NO shuffle except the global top-k
  *    (TakeOrderedAndProject), which is the optimal exact plan;
  *  - LSH-bucketed ANN (BucketedRandomProjectionLSH): random-projection
  *    buckets prune the scan to matching buckets — the approximate
  *    scale path for repeated queries / knn-joins.
  */
object Similarity {

  /** Exact cosine top-k against a single probe row taken from the same
    * table (probeId). The probe side is one row — the plan is a
    * BroadcastNestedLoopJoin whose build side has exactly 1 row, i.e.
    * O(N) scan work (not an all-pairs product), then per-row cosine and
    * TakeOrderedAndProject. Ordering is on the ROUNDED score with an id
    * tie-break so the result is total-ordered and engine-independent. */
  def bruteTopK(emb: DataFrame, probeId: Long, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
    val probe = e.where(col("vec_id") === probeId).select(col("v").as("pv"))
    // cosine_sim is the native codegen expression (GraftExtensions) —
    // bit-identical to ArrayOps.cosine, one fused pass instead of three
    // interpreted higher-order folds
    e.crossJoin(broadcast(probe))
      .select(col("vec_id"), round(call_function("cosine_sim", col("v"), col("pv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Nearest-centroid argmin as ONE tight JVM loop per vector over a
    * driver-collected k×dim centroid matrix ([[centroidTable]]) shipped
    * through [[graft.Probe.udf]] — the scan-stage E-step shape (r18,
    * found AT the sf30 rung once k ∝ N landed): the old
    * broadcast-cross-join + partial-agg-argmin spelling materializes
    * N·k rows of interpreted HOF arithmetic before its map-side
    * combine — 918M rows at 686k vectors × k=1340, measured ~45 min
    * per assign — where this is one row per vector end to end, no
    * expansion, no exchange, k·dim codegen-free flops in a while loop.
    * Bit-exact contract preserved: the inner sum is the same
    * left-to-right fold as [[ArrayOps.l2Sq]] (resp. the integer fold),
    * and iterating cids ASCENDING with strict < reproduces
    * `min(struct(d2, cid))`'s lexicographic tie-break. Centroid state
    * is k·dim values — the sketch-coordinator pattern, the same
    * driver-state class the Lloyd training loop already holds. */
  private def argminDoubleUdf(spark: SparkSession,
      cents: Array[(Long, Array[Double])]) =
    // Array param, not Seq (r19): a Seq[Double] UDF param deserializes
    // as immutable.List — v(i) in the inner loop is an O(i) walk plus
    // per-element boxing, i.e. O(dim²) list traffic per centroid where
    // the primitive array is O(dim). The inner loop also early-exits on
    // s >= bestD: squared terms are non-negative, so partial sums are
    // monotone non-decreasing and a prefix already >= bestD can never
    // win the strict-< argmin — (bestC, bestD) is bit-identical, and
    // the ascending-cid tie-break is untouched (an equal-distance
    // centroid still loses to the earlier cid either way).
    Probe.udf(spark, "argmin_double", cents) { (cs, v: Array[Double]) =>
      var bestC = 0L
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < cs.length) {
        val cv = cs(j)._2
        var s = 0.0
        var i = 0
        while (i < cv.length && s < bestD) {
          val d = v(i) - cv(i); s += d * d; i += 1
        }
        if (s < bestD) { bestD = s; bestC = cs(j)._1 }
        j += 1
      }
      (bestC, bestD)
    }

  private def argminLongUdf(spark: SparkSession,
      cents: Array[(Long, Array[Long])]) =
    // Array param + monotone early-exit: see argminDoubleUdf. Integer
    // squares are non-negative and overflow-audited (kmeansLloyd
    // scaladoc), so the partial-sum prefix argument holds exactly.
    Probe.udf(spark, "argmin_long", cents) { (cs, v: Array[Long]) =>
      var bestC = 0L
      var bestD = Long.MaxValue
      var j = 0
      while (j < cs.length) {
        val cv = cs(j)._2
        var s = 0L
        var i = 0
        while (i < cv.length && s < bestD) {
          val d = v(i) - cv(i); s += d * d; i += 1
        }
        if (s < bestD) { bestD = s; bestC = cs(j)._1 }
        j += 1
      }
      (bestC, bestD)
    }

  /** The driver table the argmin kernels walk: a (cid, cv) centroid
    * frame collected in ASCENDING cid — the order their strict-< walk
    * needs for the (d2, cid) tie-break. An empty table would send every
    * vector to cluster 0 at distance +Inf (one corpus-sized cluster
    * downstream), so it fails here, naming `caller`. */
  private def centroidTable[T: ClassTag](centroids: DataFrame,
      caller: String): Array[(Long, Array[T])] = {
    val cs = centroids.select(col("cid"), col("cv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[T](1).toArray).sortBy(_._1)
    require(cs.nonEmpty, s"$caller: empty centroid table")
    cs
  }

  /** Nearest-centroid assignment — the k-means E-step, and the shape of
    * clustering-based corpus curation (assign every embedding to its
    * centroid, then sample/filter per cluster). Centroids arrive as a
    * K-row frame (cid, cv) and run as the [[argminDoubleUdf]]
    * scan-stage loop: one row per vector regardless of K×N. */
  def kmeansAssign(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
    val cs = centroidTable[Double](centroids, "kmeansAssign")
    e.select(col("vec_id"), argminDoubleUdf(e.sparkSession, cs)(col("v")).as("m"))
      .select(col("vec_id"), col("m._1").as("cluster"),
        round(sqrt(col("m._2")), 6).as("dist"))
  }

  /** Full Lloyd k-means — iterated E (nearest-centroid assign) + M
    * (centroid = per-dimension mean of members) — in BIT-EXACT integer
    * arithmetic so every iteration replays in an external engine
    * (the PageRank scaled-BIGINT discipline, see
    * [[graft.operators.PageRank]]): vectors are scaled to longs via
    * floor(x·scale + 0.5) (identical IEEE ops in any engine), squared
    * L2 is an integer fold (commutative long adds — partial-agg order
    * can never drift it), argmin ties break on (d2, cid) — a total
    * order — and the M-step mean is floorDiv(sum, n) on exact integer
    * sums. Initial centroids are pinned deterministically (the k
    * lowest vec_ids); an empty cluster keeps its previous centroid.
    *
    * Plan shape per iteration: the E-step is the scan-stage argmin
    * loop ([[argminDoubleUdf]]'s long twin — one row per vector, no
    * N·k expansion, r18); the M-step posexplodes members to
    * (cluster, dim, x) where map-side combine collapses to k·dim rows
    * before ONE exchange, and the k·dim-long state is collected to the
    * driver (the sketch-coordinator pattern — what crosses to the
    * driver is centroids, never vectors) and handed to the next
    * round's argmin as its driver table, which also keeps lineage flat
    * across iterations (no growing plan, no checkpoint needed). At
    * 100 TB the same shape holds: per-iteration cost is two fact scans
    * and two partial-agg exchanges; k·dim is metadata-sized.
    *
    * Overflow audit (embeddings testdata, |x| ≤ 0.53, scale 1e6):
    * scaled |v| ≤ 5.3e5, diff² ≤ 1.2e12, d2 ≤ 7.2e13, per-dim member
    * sums ≤ n·5.3e5 — all far inside Long. */
  private def lloydScaled(emb: DataFrame, scale: Long): DataFrame =
    emb.select(col("vec_id"),
      transform(ArrayOps.asDouble(col("embedding")),
        x => floor(x * lit(scale.toDouble) + lit(0.5)).cast("long")).as("v"))

  private def lloydAssign(e: DataFrame,
      cents: Array[(Long, Array[Long])]): DataFrame =
    // scan-stage argmin over the driver centroid table (see
    // argminDoubleUdf's scaladoc) — exact integer arithmetic, so the
    // only determinism concern is the (d2, cid) tie-break, preserved
    // by the ascending-cid strict-< walk
    e.select(col("vec_id"), col("v"),
        argminLongUdf(e.sparkSession, cents)(col("v")).as("m"))
      .select(col("vec_id"), col("m._1").as("cluster"),
        col("m._2").as("d2"), col("v"))

  /** The Lloyd TRAINING loop alone: returns the final centroid frame
    * (cid, cv: Array[Long] at `scale`) — the handoff [[semDedupWith]]
    * and any clustering-based curation consumes (VERDICT r12 #5: real
    * SemDeDup feeds trained centroids, not id-pinned ones). Same
    * bit-exact integer arithmetic and driver-state shape as
    * [[kmeansLloyd]] (k·dim longs — the sketch-coordinator pattern). */
  def kmeansLloydTrain(emb: DataFrame, k: Int, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    val spark = emb.sparkSession
    // pin the scaled corpus ONCE (r18 optimization): the train
    // loop below scans it iters+1 times, and without the pin every
    // iteration re-ran the parquet decode + the interpreted per-element
    // scale transform (MLlib's own k-means caches its working set for
    // exactly this reason). In-query materialization only — recomputed
    // every run, nothing persists across runs. Routed through
    // Graft.pin (r19, VERDICT r18 #2): local mode still
    // localCheckpoints; off local mode the pin survives executor loss.
    val cents = trainScaled(graft.Graft.pin(lloydScaled(emb, scale)), k, iters)
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        cents.toSeq.map { case (c, a) => Row(c, a.toSeq) }, 1),
      StructType(Seq(StructField("cid", LongType),
        StructField("cv", ArrayType(LongType)))))
  }

  /** The Lloyd loop over a pinned scaled corpus; returns the final
    * centroid table in ascending cid, ready for [[lloydAssign]]. */
  private def trainScaled(e: DataFrame, k: Int,
      iters: Int): Array[(Long, Array[Long])] = {
    // pinned initial centroids — the k LOWEST vec_ids (rank-based, r18:
    // `vec_id < k` equals this only on a dense id domain and silently
    // under-seeds on the rehearsal fixtures' block-spaced ids once
    // k ∝ N outgrows a block) — k×dim longs driver-side
    var cents = centroidTable[Long](e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv")), "k-means seeding")
    require(cents.length == k, s"k-means rank seeding needs >= $k distinct vec_ids")
    for (_ <- 1 to iters) {
      val sums = lloydAssign(e, cents)
        .select(col("cluster"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy("cluster", "p")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getLong(0))
      cents = cents.map { case (c, old) =>
        c -> sums.get(c).fold(old) { rs =>
          val arr = new Array[Long](old.length)
          rs.foreach(r => arr(r.getInt(1)) = Math.floorDiv(r.getLong(2), r.getLong(3)))
          arr
        }
      }
    }
    cents
  }

  def kmeansLloyd(emb: DataFrame, k: Int, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    // one pinned corpus shared by the train loop AND the final
    // assignment (see kmeansLloydTrain) — previously the final E-step
    // re-derived its own scaled corpus on top of the loop's. Graft.pin
    // (r19, VERDICT r18 #2): cluster-safe off local mode.
    val e = graft.Graft.pin(lloydScaled(emb, scale))
    lloydAssign(e, trainScaled(e, k, iters))
      .select(col("vec_id"), col("cluster"),
      round(sqrt(col("d2").cast("double")) / lit(scale.toDouble), 6).as("dist"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings, then removing
    * within-cluster items whose cosine similarity to a higher-priority
    * cluster member exceeds `tau`. The paper's keep rule: within each
    * duplicate group, keep the example with the LOWEST similarity to
    * the cluster centroid (the outlier carries the most information) —
    * here spelled as a deterministic keep-priority rank
    * `row_number over (partition by cluster order by d2 desc, vec_id)`
    * and a pairwise check only against higher-priority (lower-rank)
    * members, i.e. the strictly-upper-triangular similarity matrix.
    *
    * Determinism contract (oracle-replayable): centroids are pinned
    * (the k lowest vec_ids), squared L2 and cosine are fixed
    * left-to-right double folds (`list_sum` parity), the argmin breaks
    * ties on (d2, cid), the rank breaks ties on vec_id, and the cosine
    * is rounded to 6 dp before the threshold compare — every decision
    * is a total order both engines walk identically.
    *
    * Scale shape: assignment is the scan-stage argmin loop over the
    * broadcast centroid matrix ([[argminDoubleUdf]] — one row per
    * vector, no N·k expansion, r18); the per-cluster pairwise pass is a typed
    * `flatMapGroups` — ONE fact scan, vectors cross the cluster
    * exchange exactly once, and each cluster's quadratic runs as a
    * tight in-task loop (the paper's own execution model: per-cluster
    * pairwise on one device). The group materializes in task memory —
    * bounded because k is chosen ∝ N so cluster size stays constant
    * (the paper runs 50k clusters over LAION-440M, ~9k rows/cluster ≈
    * 5 MB of vectors); a skewed hot cluster is one straggler task, not
    * a plan failure. MEASURED justification for the typed-API drop
    * (the "no UDF where a builtin fits" rule): the relational
    * spelling — keep-priority window + cluster self-join + removal
    * semi-join — executed SIX exchanges and THREE fact scans with zero
    * ReusedExchange, because column pruning specializes each self-join
    * branch's subtree and defeats AQE exchange reuse (same family as
    * the dd_containment lambda-id CSE finding, DESIGN.md); this
    * spelling is 1 scan + 2 exchanges. */
  def semDedup(emb: DataFrame, k: Int, tau: Double): DataFrame =
    semDedupAudited(emb, k, tau, Int.MaxValue)._1
      .drop("passed_through")

  /** [[semDedup]] with an ENFORCED per-cluster memory bound and its
    * audit as a companion frame (the fuzzyEditPairsAudited contract:
    * a bound that throttles recall must be observable, never silent).
    * `clusterCap` bounds what a task materializes: only the cap
    * highest-keep-priority members (a bounded heap over the streamed
    * group — vectors held for AT MOST cap members) enter the pairwise
    * pass; the overflow tail is emitted kept=true untouched — the
    * conservative miss direction (SemDeDup keeps too much, never
    * drops wrongly) — buffered as 16 B (id, d2) rows, vectors dropped
    * at eviction. The audit frame is one row per cluster (n_members,
    * n_passed_through) off the same lineage, so a binding cap is a
    * red number, not a recall mystery. clusterCap = Int.MaxValue
    * degrades to the exact uncapped semantics (no eviction ever
    * fires). */
  def semDedupAudited(emb: DataFrame, k: Int, tau: Double,
      clusterCap: Int): (DataFrame, DataFrame) = {
    val e = emb.select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
    semDedupWith(emb,
      e.orderBy(col("vec_id")).limit(k) // the k LOWEST ids, any id domain
        .select(col("vec_id").as("cid"), col("v").as("cv")),
      tau, clusterCap)
  }

  /** k ∝ N sizing for the clustering-based dedup family (VERDICT r17
    * #2 — the SemDeDup paper's own prescription, 50k clusters over
    * LAION-440M): enough clusters that the EXPECTED cluster size is
    * `targetClusterSize`, floored at the legacy 8. This bounds the
    * per-cluster quadratic pass at N·target/2 pairs TOTAL (∝ N, never
    * (N/8)²) and keeps each flatMapGroups task's materialized group
    * ~target·dim doubles, while the k·dim driver/broadcast centroid
    * state stays coordinator-sized (at 10⁹ items and target 512 it is
    * ~1 GB — raise target with extreme N; the audit frame makes a
    * binding cap observable either way). */
  def clustersFor(n: Long, targetClusterSize: Long = 512L): Int =
    math.max(8L, (n + targetClusterSize - 1) / targetClusterSize).toInt

  /** [[semDedupAudited]] against a CALLER-SUPPLIED centroid frame
    * (cid, cv: Array[Double]) — the [[kmeansAssign]] contract applied
    * to the dedup path (VERDICT r12 #5): production SemDeDup clusters
    * with TRAINED centroids ([[kmeansLloydTrain]] ÷ scale), the
    * id-pinned variant above being the oracle-friendly degenerate
    * case. Identical determinism contract; the centroid frame is
    * broadcast, so it must stay coordinator-sized (k·dim). */
  def semDedupWith(emb: DataFrame, centroids: DataFrame, tau: Double,
      clusterCap: Int): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
    // scan-stage argmin over the collected centroid matrix (see
    // argminDoubleUdf): one row per vector, no N·k expansion — the
    // binding cost at rehearsal scale once k ∝ N landed
    val cs = centroidTable[Double](centroids, "semDedupWith")
    val assigned = e
      .select(col("vec_id"), col("v"), argminDoubleUdf(spark, cs)(col("v")).as("m"))
      .select(col("vec_id"), col("m._1").as("cluster"), col("m._2").as("d2"),
        col("v"))
    // Array[Double] in the typed tuple (r19): the Seq encoder
    // deserializes each vector as an immutable.List (boxed element +
    // cons cell each) which flatMapGroups immediately re-copied via
    // toArray; the primitive-array encoder hands the loop its array
    // directly. Same values, one allocation instead of dim+1.
    val marked = assigned
      .as[(Long, Long, Double, Array[Double])]
      .groupByKey(_._2)
      .flatMapGroups { (cluster, it) =>
        // keep-priority total order: farthest-from-centroid first (the
        // paper's keep-the-outlier rule), vec_id tie-break — the same
        // order the oracle's `ORDER BY d2 DESC, vec_id` walks. d2 ≥ 0,
        // so negation is a safe descending key. The heap's head is the
        // LOWEST-priority retained member (max by this ordering), so
        // eviction pops exactly the member the cap should shed — the
        // retained set is the top-cap by the total order, independent
        // of encounter order (determinism under any shuffle order).
        implicit val lowestPriorityFirst: Ordering[(Long, Double, Array[Double])] =
          Ordering.by { case (id, d2, _) => (-d2, id) }
        val heap = scala.collection.mutable
          .PriorityQueue.empty[(Long, Double, Array[Double])]
        val passed = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        it.foreach { case (id, _, d2, v) =>
          heap.enqueue((id, d2, v))
          if (heap.size > clusterCap) {
            val (eid, ed2, _) = heap.dequeue() // vector dropped here
            passed += ((eid, ed2))
          }
        }
        val ms = heap.dequeueAll.reverse.toArray // priority order
        // Each member's squared norm depends only on that member, yet
        // the former pair loop re-folded BOTH norms per pair — 2/3 of
        // the pairwise flops (r19). Precompute once per member with
        // the SAME left-to-right fold: doubles are deterministic, so
        // every pair sees the bit-identical na/nb it used to compute.
        val norms = new Array[Double](ms.length)
        var mi = 0
        while (mi < ms.length) {
          val v = ms(mi)._3
          var na = 0.0; var p = 0
          while (p < v.length) { na += v(p) * v(p); p += 1 }
          norms(mi) = na
          mi += 1
        }
        // kept(i) ⟺ no higher-priority j with 6-dp cosine ≥ tau: the
        // strictly-upper-triangular similarity matrix, early-exit on
        // the first hit. Cosine is the same left-to-right fold and
        // HALF_UP 6-dp round the codegen cosine_sim + round() pair
        // computes, so the decision is bit-identical to the oracle's.
        val dedup = ms.iterator.zipWithIndex.map { case ((id, d2, v), i) =>
          var removed = false
          val na = norms(i)
          var j = 0
          while (j < i && !removed) {
            val w = ms(j)._3
            val nb = norms(j)
            // zero-norm guard: cos is undefined (NaN ≱ tau in the
            // relational spelling; BigDecimal.valueOf(NaN) would throw)
            if (na > 0.0 && nb > 0.0) {
              var dot = 0.0
              val n = math.min(v.length, w.length)
              var p = 0
              while (p < n) { dot += v(p) * w(p); p += 1 }
              val cosRaw = dot / (math.sqrt(na) * math.sqrt(nb))
              // Exact-decision band (r19): the 6-dp HALF_UP round moves
              // a value by ≤ 5e-7 plus the shortest-decimal drift
              // (≤ ulp ≈ 2e-16 here), so cosRaw ≤ tau − 1e-5 can never
              // round to ≥ tau and cosRaw ≥ tau + 1e-5 always does —
              // only the band needs the BigDecimal (a Double.toString
              // per call, the measured hot slice of the pairwise pass).
              // Decisions are bit-identical to the unconditional round.
              if (cosRaw >= tau + 1e-5) removed = true
              else if (cosRaw > tau - 1e-5) {
                val cos = java.math.BigDecimal.valueOf(cosRaw)
                  .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
                if (cos >= tau) removed = true
              }
            }
            j += 1
          }
          (id, cluster, d2, !removed, false)
        }
        dedup ++ passed.iterator.map { case (id, d2) =>
          (id, cluster, d2, true, true)
        }
      }
      .toDF("vec_id", "cluster", "d2", "kept", "passed_through")
    val result = marked
      .select(col("vec_id"), col("cluster"),
        round(sqrt(col("d2")), 6).as("dist"), col("kept"),
        col("passed_through"))
    val audit = marked.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("passed_through"), 1L).otherwise(0L))
          .as("n_passed_through"))
    (result, audit)
  }

  /** Approximate nearest neighbours via random-projection LSH buckets.
    * Returns (vec_id, distCol) for the k nearest to the probe row. */
  /** NOTE on mass ties (r15 sf3.0 rehearsal): MLlib's
    * `approxNearestNeighbors` has no deterministic tie-break, so a
    * probe whose k-NN set is a tied class of EXACT duplicates gets an
    * arbitrary subset of that class — dedup before indexing (this
    * library's dedup and semantic-dedup stages exist for exactly that).
    * On deduped data, distance ties are measure-zero and the final
    * (dist, vec_id) sort below makes the output total-ordered. The
    * rehearsal generator now perturbs embedding copies so scale
    * fixtures model real growth (new identities), not mass
    * duplication. */
  def annTopK(emb: DataFrame, probeId: Long, k: Int): DataFrame = {
    val feat = emb.select(col("vec_id"),
      array_to_vector(ArrayOps.asDouble(col("embedding"))).as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(2.0).setNumHashTables(3).setSeed(42)
    val model = lsh.fit(feat)
    feat.where(col("vec_id") === probeId).collect().headOption match {
      case Some(row) =>
        val probeVec = row.getAs[org.apache.spark.ml.linalg.Vector]("features")
        model.approxNearestNeighbors(feat, Vectors.dense(probeVec.toArray), k)
          .select(col("vec_id"), round(col("distCol"), 6).as("dist"))
          .orderBy(col("dist"), col("vec_id"))
      case None => // missing probe degrades to empty, like bruteTopK
        feat.sparkSession.emptyDataFrame
          .select(lit(0L).as("vec_id"), lit(0.0).as("dist")).limit(0)
    }
  }

  /** Approximate nearest neighbours via IVF (inverted-file index, the
    * coarse-quantizer search of Jégou et al. 2011 / FAISS): a k-means
    * model partitions the corpus into nLists cells, the probe searches
    * only the nProbe cells whose centroids are nearest, and the exact
    * L2 runs on that pruned slice. Complements the LSH paths: IVF
    * adapts its cells to the data distribution where RP buckets are
    * data-oblivious.
    *
    * Scale shape: the quantizer fits on a sample (here: the corpus —
    * it IS the sample at test SF; at 100 TB fit on ~1M rows and
    * persist like [[graft.Model]]); assignment is a map-side transform
    * against broadcast centroids (no shuffle); the probe-to-centroid
    * argmin is driver-side over nLists rows; the search scans
    * ~nProbe/nLists of the table, then TakeOrderedAndProject. */
  def ivfTopK(emb: DataFrame, probeId: Long, k: Int,
      nLists: Int = 16, nProbe: Int = 2): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    val feat = emb.select(col("vec_id"),
      array_to_vector(ArrayOps.asDouble(col("embedding"))).as("features"))
    // coarse-quantizer settings: random init + 2 Lloyd passes — cell
    // QUALITY only shifts the pruning ratio, never correctness (exact
    // L2 runs on whatever the cells keep); k-means|| init alone costs
    // more passes than the whole fit needs
    val km = new KMeans().setK(nLists).setSeed(77).setMaxIter(2)
      .setInitMode("random")
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = km.fit(feat)
    feat.where(col("vec_id") === probeId).collect().headOption match {
      case Some(row) => // 1-row probe fetch, same contract as annTopK
        val pv = row.getAs[org.apache.spark.ml.linalg.Vector]("features").toArray
        val cells = model.clusterCenters.zipWithIndex
          .map { case (c, i) =>
            val ca = c.toArray
            var s = 0.0; var j = 0
            while (j < ca.length && j < pv.length) { val dd = ca(j) - pv(j); s += dd * dd; j += 1 }
            (i, s)
          }
          .sortBy(_._2).take(nProbe).map(_._1)
        // Array[Double] params (List-deserialization pitfall) and a JVM
        // loop (HOF lambdas run interpreted); left-to-right sum matches
        // the oracle's list_sum fold order
        val l2 = udf((x: Array[Double], y: Array[Double]) => {
          val n = math.min(x.length, y.length)
          var s = 0.0; var i = 0
          while (i < n) { val dd = x(i) - y(i); s += dd * dd; i += 1 }
          math.sqrt(s)
        })
        val toArr = org.apache.spark.ml.functions.vector_to_array(_: org.apache.spark.sql.Column)
        val probe = feat.where(col("vec_id") === probeId).select(toArr(col("features")).as("pv"))
        model.transform(feat)
          .where(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*))
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), round(l2(toArr(col("features")), col("pv")), 6).as("dist"))
          .orderBy(col("dist"), col("vec_id"))
          .limit(k)
      case None =>
        feat.sparkSession.emptyDataFrame
          .select(lit(0L).as("vec_id"), lit(0.0).as("dist")).limit(0)
    }
  }

  /** ANN via Product Quantization with Asymmetric Distance Computation
    * (Jégou, Douze & Schmid, "Product quantization for nearest neighbor
    * search", TPAMI 2011): split each D-dim vector into `m` subvectors,
    * quantize every subvector to its nearest codebook entry, and score
    * candidates by summing the PRE-COMPUTED probe↔centroid subspace
    * distances their codes index (ADC) — per-vector work drops from D
    * multiplies to m table lookups, and a stored corpus keeps only
    * m·log2(ksub) bits per vector (8 bytes here vs 256 for the raw
    * floats: the memory story that makes billion-vector search fit).
    *
    * Codebooks are pinned deterministically (the ksub lowest vec_ids'
    * subvectors — the k-means refinement shifts quality, not
    * semantics), every float reduction is a fixed left-to-right fold,
    * and argmin ties break to the lowest centroid id, so the whole
    * pipeline is a pure function an oracle can replay bit-for-bit —
    * the PQ faithfulness contract, not a loose recall bound.
    *
    * Scale shape: codebook (ksub rows) and distance table (m·ksub
    * doubles) are driver-built and shipped through [[graft.Probe.udf]];
    * the corpus scan is ONE pass with no shuffle except the global
    * top-k (TakeOrderedAndProject). Composes with [[ivfTopK]]'s cell
    * pruning as classic IVF-PQ: IVF prunes WHICH vectors are scanned,
    * PQ compresses HOW each is scored. */
  def pqTopK(emb: DataFrame, probeId: Long, k: Int,
      m: Int = 8, ksub: Int = 16): DataFrame = {
    val base = emb.select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
    adcTopK(base, base, probeId, k, m, ksub)
  }

  /** The PQ/ADC scoring core shared by [[pqTopK]] (scan everything)
    * and [[ivfPqTopK]] (scan only the IVF-pruned candidates): the
    * codebook and probe ALWAYS come from the full corpus frame
    * (`cbSource`) — a pruned codebook would silently change every
    * code assignment — while the scored rows come from `cand`. */
  private def adcTopK(cbSource: DataFrame, cand: DataFrame, probeId: Long,
      k: Int, m: Int, ksub: Int): DataFrame = {
    // ksub-row codebook fetch + 1-row probe fetch (same driver-side
    // contract as ivfTopK's probe): tiny by construction
    val cb: Array[Array[Double]] = cbSource.where(col("vec_id") < ksub)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray)).sortBy(_._1).map(_._2)
    require(cb.length == ksub, s"codebook needs vec_ids 0..${ksub - 1}")
    val pv: Array[Double] = cbSource.where(col("vec_id") === probeId)
      .collect().head.getSeq[Double](1).toArray
    val dim = pv.length
    val sub = dim / m
    def sliceD2(a: Array[Double], b: Array[Double], mi: Int): Double = {
      var s = 0.0; var j = mi * sub
      while (j < (mi + 1) * sub) { val dd = a(j) - b(j); s += dd * dd; j += 1 }
      s
    }
    // ADC table: probe↔centroid distance per (subspace, code)
    val dt: Array[Array[Double]] =
      Array.tabulate(m, ksub)((mi, ci) => sliceD2(pv, cb(ci), mi))
    // JVM loops (not HOF lambdas) for the hot path; left-to-right sums
    // match the oracle's list_sum fold order
    val spark = cand.sparkSession
    val adcU = Probe.udf(spark, "pq_adc_d2", (cb, dt)) { (tbl, v: Array[Double]) =>
      val (book, adc) = tbl
      var acc = 0.0; var mi = 0
      while (mi < m) {
        var best = 0; var bestD = Double.MaxValue; var ci = 0
        while (ci < ksub) {
          val s = sliceD2(v, book(ci), mi)
          if (s < bestD) { bestD = s; best = ci } // tie → lowest code
          ci += 1
        }
        acc += adc(mi)(best)
        mi += 1
      }
      acc
    }
    val trueU = Probe.udf(spark, "pq_true_dist", pv) { (probe, v: Array[Double]) =>
      var s = 0.0; var j = 0
      while (j < dim && j < v.length) { val dd = v(j) - probe(j); s += dd * dd; j += 1 }
      math.sqrt(s)
    }
    cand.select(col("vec_id"), adcU(col("v")).as("adc_raw"), trueU(col("v")).as("td"))
      .orderBy(col("adc_raw"), col("vec_id")).limit(k)
      .select(col("vec_id"), round(sqrt(col("adc_raw")), 6).as("adc_dist"),
        round(col("td"), 6).as("true_dist"))
  }

  /** Classic IVF-PQ (Jégou et al. 2011 §V): the IVF coarse quantizer
    * prunes WHICH vectors are scanned, PQ/ADC compresses HOW each is
    * scored — the composition the two standalone entries document.
    * Unlike [[ivfTopK]] (MLlib k-means cells, oracle = planted truth),
    * the coarse quantizer here is PINNED (the nLists lowest vec_ids,
    * exact double argmin with the (d2, cid) tie-break — the
    * [[kmeansAssign]] contract), so the ENTIRE pipeline — cell
    * assignment, probe-cell selection, candidate pruning, codebook
    * assignment, ADC fold — is a pure function an oracle replays
    * bit-for-bit: the faithfulness gate extends to the composition.
    *
    * Scale shape: cell assignment is the scan-stage argmin loop (one
    * row per vector, no exchange); the candidate filter is
    * map-side against the driver-picked nProbe cell ids; ADC scans
    * ~nProbe/nLists of the corpus with the driver-built distance
    * table; TakeOrderedAndProject closes. Driver-side state: nLists +
    * ksub + 1 rows (coarse centroids, codebook, probe). */
  def ivfPqTopK(emb: DataFrame, probeId: Long, k: Int,
      nLists: Int = 16, nProbe: Int = 4, m: Int = 8,
      ksub: Int = 16): DataFrame = {
    val base = emb.select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
    val cents = centroidTable[Double](base.where(col("vec_id") < nLists)
      .select(col("vec_id").as("cid"), col("v").as("cv")), "ivfPqTopK")
    require(cents.length == nLists, s"coarse cells need vec_ids 0..${nLists - 1}")
    val pv: Array[Double] = base.where(col("vec_id") === probeId)
      .collect().head.getSeq[Double](1).toArray
    def l2sq(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // probe's nProbe nearest cells, (d2, cid) total order
    val probeCells = cents.map { case (cid, cv) => (l2sq(pv, cv), cid) }
      .sorted.take(nProbe).map(_._2)
    // scan-stage cell argmin (r19 — the kmeansAssign pattern applied
    // to the coarse quantizer): the former broadcast-expand +
    // min(struct(d2, cid)) materialized N×nLists rows of INTERPRETED
    // l2Sq HOF through a partial-agg exchange; argminDoubleUdf walks
    // the same collected centroid matrix in one loop per vector — the
    // identical left-to-right (x−y)² fold, and the ascending-cid
    // strict-< walk reproduces min(struct)'s (d2, cid) tie-break. One
    // row per vector, no expansion, no exchange.
    val assigned = base
      .select(col("vec_id"), col("v"),
        argminDoubleUdf(base.sparkSession, cents)(col("v")).as("m"))
      .select(col("vec_id"), col("m._1").as("cell"), col("v"))
    val cand = assigned
      .where(col("cell").isin(probeCells.map(java.lang.Long.valueOf).toSeq: _*))
      .select(col("vec_id"), col("v"))
    adcTopK(base, cand, probeId, k, m, ksub)
  }

  /** Embedding near-duplicate pairs above a distance cut, via BANDED
    * random-projection LSH: each band's key concatenates the bucket ids
    * of r independent projections, so a collision needs r simultaneous
    * matches. MLlib's BucketedRandomProjectionLSH buckets on SINGLE
    * projections per table — measured on the testdata embeddings its
    * default geometry degenerates to 2 buckets, i.e. a disguised
    * all-pairs join. Candidates (ids only) come from the band
    * equi-join; the exact L2 runs on candidate pairs alone.
    *
    * Determinism: projection vectors come from a fixed-seed RNG;
    * straddle probability for a true near-dup at distance d is
    * ~(d/bucketLength) per projection, amplified to (1-(1-p)^r)^bands
    * miss probability — ~1e-5 for the planted 0.008-distance pairs. */
  def cosineNearDupPairs(emb: DataFrame, maxL2: Double,
      bands: Int = 5, rowsPerBand: Int = 3, bucketLength: Double = 0.25,
      dim: Int = 64): DataFrame = {
    // `dim` must cover the real vector width: components beyond it are
    // invisible to the LSH keys (still caught by the exact verify, but
    // as wasted candidates)
    val rnd = new scala.util.Random(421)
    val projections: Array[Array[Double]] =
      Array.fill(bands * rowsPerBand)(Array.fill(dim)(rnd.nextGaussian()))
    // Array[Double], not Seq: a Seq param deserializes as List and
    // makes v(i) an O(n) walk (see ImageGeometry scale note)
    val bandKeys = udf((v: Array[Double]) => {
      (0 until bands).map { b =>
        var key = 0x9e3779b97f4a7c15L * (b + 1)
        var r = 0
        while (r < rowsPerBand) {
          val w = projections(b * rowsPerBand + r)
          var dot = 0.0
          var i = 0
          while (i < v.length && i < dim) { dot += v(i) * w(i); i += 1 }
          val bucket = math.floor(dot / bucketLength).toLong
          key ^= bucket; key *= 0xc2b2ae3d27d4eb4fL; key ^= (key >>> 29)
          r += 1
        }
        (b, key)
      }
    })
    val e = emb.select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
    val sigs = e.select(col("vec_id"), explode(bandKeys(col("v"))).as("bk"))
    val a = sigs.select(col("vec_id").as("id_a"), col("bk"))
    val b = sigs.select(col("vec_id").as("id_b"), col("bk"))
    val candidates = a.join(b, "bk")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val l2 = udf((x: Array[Double], y: Array[Double]) => {
      val n = math.min(x.length, y.length) // ragged rows: compare the shared prefix
      var s = 0.0; var i = 0
      while (i < n) { val d = x(i) - y(i); s += d * d; i += 1 }
      math.sqrt(s)
    })
    candidates
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), round(l2(col("va"), col("vb")), 6).as("l2_dist"))
      .where(col("l2_dist") <= maxL2)
  }

  // ------------------------------------- DuckDB replays for the oracles
  // Each generator states its kernel's arithmetic in its own SQL
  // literals — it reads none of the defaults above, so an oracle built
  // from it stays an independent check of the Scala kernel.

  /** Squared L2 of two list expressions as a left-to-right fold —
    * DuckDB's `list_sum` adds in list order, the same order as the
    * kernels' (x − y)² loops, so the doubles are bit-identical. */
  def sqlL2Sq(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), s -> (s[1] - s[2]) * (s[1] - s[2])))"

  /** DuckDB replay of nearest-centroid assignment ([[kmeansAssign]],
    * the Lloyd E-step, [[ivfPqTopK]]'s coarse cells): a subquery of
    * (vec_id, cluster, d2, rn) over every (vector, centroid) pair of
    * `vecs`(vec_id, v) × `cents`(cid, cv); rn = 1 marks the argmin
    * under the (d2, cid) total order. */
  def sqlNearest(vecs: String, cents: String): String =
    s"""(SELECT vec_id, cid AS cluster, d2,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       | FROM (SELECT e.vec_id, c.cid, ${sqlL2Sq("e.v", "c.cv")} AS d2
       |  FROM $vecs e, $cents c))""".stripMargin

  /** DuckDB replay of [[ivfPqTopK]]'s coarse-cell prune: a subquery of
    * the vec_ids of `vecs` whose nearest centroid of `cents` is one of
    * the 4 centroids nearest the probe `probe`(pv). */
  def sqlIvfCandidates(vecs: String, probe: String, cents: String): String =
    s"""(SELECT a.vec_id FROM ${sqlNearest(vecs, cents)} a
       | JOIN (SELECT c.cid FROM $probe p, $cents c
       |   ORDER BY ${sqlL2Sq("p.pv", "c.cv")}, c.cid LIMIT 4) pc
       |   ON a.cluster = pc.cid
       | WHERE a.rn = 1)""".stripMargin

  /** DuckDB replay of [[adcTopK]]'s scoring: CTEs ending in
    * `adc<sfx>`(vec_id, adc_raw). Each vector of `vecs`(vec_id, v) is
    * coded per 8-dim subspace (8 of them) to its (d2, cid)-nearest
    * entry of `codebook`(cid, cv), and scored by the subspace-ordered
    * sum of the probe↔code squared distances from `probe`(pv). */
  def sqlPqAdc(sfx: String, vecs: String, probe: String, codebook: String): String = {
    def sub(l: String) = s"$l[t.m*8+1 : t.m*8+8]"
    s"""asg$sfx AS (SELECT vec_id, m, cid,
       |  row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
       | FROM (SELECT e.vec_id, t.m, cb.cid,
       |   ${sqlL2Sq(sub("e.v"), sub("cb.cv"))} AS d2
       |  FROM $vecs e, range(0, 8) t(m), $codebook cb)),
       |dt$sfx AS (SELECT cb.cid, t.m,
       |  ${sqlL2Sq(sub("p.pv"), sub("cb.cv"))} AS pd2
       | FROM $probe p, range(0, 8) t(m), $codebook cb),
       |adc$sfx AS (SELECT a.vec_id, list_sum(list(dt.pd2 ORDER BY a.m)) AS adc_raw
       | FROM asg$sfx a JOIN dt$sfx dt ON a.m = dt.m AND a.cid = dt.cid
       | WHERE a.rn = 1 GROUP BY a.vec_id)""".stripMargin
  }
}
