package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN quality: the nprobe=3 search must recover a healthy fraction of
  * the true (brute-force) top-3 neighbors. LSH/IVF recall < 1 is expected —
  * that's why vec_ann_ivf has no SQL oracle — but recall must be measured,
  * not assumed (the whole point of an ANN index is a quantified trade). */
class AnnRecallSpec extends AnyFunSuite {
  import TestSpark._

  test("vec_ann_ivf recall@3 vs brute force beats chance on sf0.001") {
    val ann = Registry.queries("vec_ann_ivf")(spark, sf)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    // same query-selection rule as ivfSearch/ivfpqSearch: first 20 BY
    // ORDER of vec_id, never `vec_id < n` (dense-0-based-id assumption)
    val q = e.orderBy(col("vec_id")).limit(20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val brute = q.crossJoin(e)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", call_function("graft_dot", col("qv"), col("v"))
        / (sqrt(call_function("graft_dot", col("qv"), col("qv")))
          * sqrt(call_function("graft_dot", col("v"), col("v")))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(brute.size === 60) // 20 queries x 3 true neighbors
    val recall = ann.intersect(brute).size.toDouble / brute.size
    info(f"IVF nprobe=3 recall@3 = $recall%.2f")
    // The fixture embeddings are unclustered — the worst case for IVF:
    // expected recall ~ nprobe/nlists. Assert well below that so the test
    // pins "beats broken" without flaking on 60 samples.
    assert(recall >= 0.1, f"recall $recall%.2f below 0.1")
  }

  test("Lloyd training beats the untrained codebook on clustered data") {
    import spark.implicits._
    // 8 well-separated clusters: center c has a distinct dominant axis;
    // members are deterministic small perturbations of their center.
    // The first-8 (untrained) codebook sees only clusters 0..3, each
    // TWICE: covered clusters split 50/50 across their duplicate
    // centroids (recall@nprobe=1 ≈ 0.5 there), while Lloyd training must
    // pull the duplicates away to claim the four uncovered clusters
    // (each 49-member uncovered cluster dominates whichever Voronoi cell
    // it lands in, so its mean jumps) — healing the splits AND covering
    // the misses.
    val dim = 16
    val vecs = (0 until 400).map { id =>
      val cl = if (id < 8) id % 4 else id % 8
      val v = (0 until dim).map { i =>
        val base = if (i == cl * 2) 1.0f else 0.0f
        // deterministic pseudo-noise in [-0.05, 0.05)
        val n = (graft.plans.SrpPlanes.component(id, i) * 0.05).toFloat
        base + n
      }
      (id.toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")

    def recallOf(iters: Int): Double = {
      val ann = operators.Ann
        .ivfSearch(df, nlists = 8, nprobe = 1, lloydIters = iters,
          nQueries = 20)
        .select(col("q_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val e = df.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      val q = e.orderBy(col("vec_id")).limit(20)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val brute = q.crossJoin(e)
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", call_function("graft_dot", col("qv"), col("v"))
          / (sqrt(call_function("graft_dot", col("qv"), col("qv")))
            * sqrt(call_function("graft_dot", col("v"), col("v")))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      ann.intersect(brute).size.toDouble / brute.size
    }

    val untrained = recallOf(0)
    val trained = recallOf(3)
    info(f"untrained recall@3 = $untrained%.2f, trained = $trained%.2f")
    // On cleanly clustered data, 3 Lloyd iterations must recover the
    // cluster structure: near-perfect recall at nprobe=1, and strictly
    // better than the frozen first-k init.
    assert(trained >= 0.9, f"trained recall $trained%.2f below 0.9")
    assert(trained > untrained,
      f"training must improve recall ($trained%.2f <= $untrained%.2f)")
  }

  test("IVF-PQ tracks exact-ranked IVF-flat at the same probes") {
    val pq = Registry.queries("vec_ann_ivfpq")(spark, sf).collect()
    // shape: 3 neighbors per query, self excluded, approx_sim ~ cosine
    assert(pq.groupBy(_.getAs[Long]("q_id")).forall(_._2.length == 3))
    pq.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") !== r.getAs[Long]("q_id"))
      assert(math.abs(r.getAs[Double]("approx_sim")) <= 1.5,
        "LUT sums should stay near the cosine range")
    }
    val pqSet = pq.map(r => (r.getAs[Long]("q_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    // IVF-flat at identical (nlists, nprobe, iters) ranks the same probed
    // candidate lists exactly — overlap isolates the cost of PQ scoring
    // from probe misses. The fixture embeddings are near-random (cosine
    // gaps between ranks ~1/sqrt(64) — the worst case for any
    // quantizer), so demand strong agreement, not identity: measured
    // 0.68 with 8x16 codes + exact rerank of the top-20 shortlist.
    val flat = operators.Ann.ivfSearch(
      Tables.table(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding")),
      nlists = 16, nprobe = 3, lloydIters = 2, nQueries = 20)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = pqSet.intersect(flat).size.toDouble / flat.size
    info(f"IVF-PQ vs IVF-flat overlap@3 = $overlap%.2f")
    assert(overlap >= 0.5, f"overlap $overlap%.2f below 0.5")
  }

  test("nprobe sweep: recall rises monotonically and saturates at sf0.1") {
    // Recall-drift guard for the TRAINED ANN path (VERDICT r7 task 7):
    // vec_ann_ivf/ivfpq stay rows-only (engine-derived centroids), so a
    // k-means regression that still produces well-formed rows would pass
    // the driver gate silently — this sweep fails it instead. IVF-flat
    // recall is monotone in nprobe BY CONSTRUCTION for a fixed codebook
    // (probed lists nest, ranking is exact cosine, so a recovered true
    // neighbor can only be displaced by another true neighbor); IVF-PQ
    // can dip a whisker when a larger candidate pool displaces a true
    // neighbor from the ADC top-20 shortlist, so it gets a small epsilon.
    val sfBig = "/root/testdata/sf0.1"
    val e0 = Tables.table(spark, sfBig, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val e = e0.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    val q = e.orderBy(col("vec_id")).limit(20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val brute = q.crossJoin(e)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", call_function("graft_dot", col("qv"), col("v"))
        / (sqrt(call_function("graft_dot", col("qv"), col("qv")))
          * sqrt(call_function("graft_dot", col("v"), col("v")))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size === 60)
    def recallOf(res: org.apache.spark.sql.DataFrame): Double = res
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(brute).size.toDouble / brute.size
    val probes = Seq(1, 2, 4, 8)
    val ivf = probes.map(p => recallOf(operators.Ann.ivfSearch(
      e0, nlists = 16, nprobe = p, lloydIters = 2, nQueries = 20)))
    val pq = probes.map(p => recallOf(operators.Ann.ivfpqSearch(
      e0, nlists = 16, nprobe = p, m = 8, k = 16, iters = 2,
      nQueries = 20)))
    info(s"IVF recall@3 by nprobe ${probes.zip(ivf)}")
    info(s"IVF-PQ recall@3 by nprobe ${probes.zip(pq)}")
    ivf.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a, s"IVF recall not monotone: $ivf") }
    pq.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 0.05, s"IVF-PQ recall dipped beyond eps: $pq") }
    assert(ivf.last >= 0.85, f"IVF recall@3(nprobe=8) ${ivf.last}%.2f < 0.85")
    assert(pq.last >= 0.85, f"IVF-PQ recall@3(nprobe=8) ${pq.last}%.2f < 0.85")
  }

  test("PQ codes: in range, complete, and Lloyd training cuts distortion") {
    val rows = Registry.queries("vec_pq_codes")(spark, sf).collect()
    val n = Tables.table(spark, sf, "embeddings").count()
    assert(rows.length.toLong === n, "one code row per vector")
    rows.foreach { r =>
      (0 until 4).foreach { j =>
        val code = r.getAs[Int](s"c$j")
        assert(code >= 0 && code < 16, s"code c$j=$code out of range")
        assert(r.getAs[Double](s"err$j") >= 0.0)
      }
    }
    def meanErr(iters: Int): Double = {
      val rs = operators.Ann.pqCodes(
        Tables.table(spark, sf, "embeddings")
          .select(col("vec_id"), col("embedding")),
        m = 4, k = 16, iters = iters).collect()
      rs.map(r => (0 until 4).map(j => r.getAs[Double](s"err$j")).sum)
        .sum / rs.length
    }
    val (init, trained) = (meanErr(0), meanErr(2))
    info(f"PQ distortion: init = $init%.4f, after 2 Lloyd iters = $trained%.4f")
    // k-means monotonicity: Lloyd steps can only lower mean squared
    // distortion; on the fixture it must improve strictly and materially.
    assert(trained < init * 0.9,
      f"training must cut distortion ($trained%.4f !< 0.9 * $init%.4f)")
  }

  test("PQ codebook stays dense on sparse offset ids and empty clusters") {
    // 3 vectors with sparse, offset ids: the old init (vec_id < k) would
    // seed 0 centroids here, and with k=16 > 3 vectors most clusters
    // receive no assignments — a codebook hole would shift every later
    // cell of ivfpqSearch's positional flat LUT.
    val tiny = Tables.table(spark, sf, "embeddings")
      .select((col("vec_id") * 7 + 1000).as("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(3)
    val cb = operators.Ann.pqCodebook(tiny, m = 4, k = 16,
      iters = 2)
    assert(cb.map(t => (t._1, t._2)).toSet ===
      (for (sub <- 0 until 4; c <- 0 until 16) yield (sub, c)).toSet,
      "codebook must stay dense in (sub, code)")
    val codes = operators.Ann.pqCodes(tiny, m = 4, k = 16,
      iters = 2).collect()
    assert(codes.length === 3)
    codes.foreach(r => (0 until 4).foreach { j =>
      val c = r.getAs[Int](s"c$j")
      assert(c >= 0 && c < 16, s"code c$j=$c out of range")
    })
  }
}
