package graft

import graft.plans.SrpPlanes
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Banded SRP-LSH (vec_neardup_lsh): signature semantics of the fused
  * graft_srp_sig expression and the bucket-cap bound that keeps the pair
  * join from going quadratic on degenerate data (VERDICT r3 task 1). */
class LshSpec extends AnyFunSuite {
  import TestSpark._
  import LshSpec.refVec

  private val NB = 4
  private val BITS = 16

  private def sigDf(vecs: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        call_function("graft_srp_sig",
          col("embedding"), lit(NB), lit(BITS)).as("sigs"))
  }

  private def pairsOf(vecs: Seq[(Long, Seq[Float])], cap: Int) = {
    import spark.implicits._
    operators.VecOps.neardupLshPairs(
      vecs.toDF("vec_id", "embedding"), NB, BITS, cap)
  }

  test("graft_srp_sig matches the SrpPlanes reference computation") {
    val v = refVec(1)
    val Array(row) = sigDf(Seq((1L, v))).collect()
    val got = row.getSeq[Long](1)
    val planes = SrpPlanes.matrix(NB * BITS, 64)
    val expected = (0 until NB).map { b =>
      (0 until BITS).foldLeft(0L) { (sg, t) =>
        val p = b * BITS + t
        val d = (0 until 64).map(i => v(i).toDouble * planes(p * 64 + i)).sum
        (sg << 1) | (if (d >= 0.0) 1L else 0L)
      }
    }
    assert(got === expected)
    assert(got.forall(s => s >= 0 && s < (1L << BITS)))
  }

  test("graft_srp_sig of -v is the bitwise complement per band") {
    val v = refVec(2)
    val neg = v.map(x => -x)
    val rows = sigDf(Seq((1L, v), (2L, neg))).orderBy("vec_id").collect()
    val (s1, s2) = (rows(0).getSeq[Long](1), rows(1).getSeq[Long](1))
    val mask = (1L << BITS) - 1
    // -v flips every projection's sign; >= 0 vs < 0 complements each bit
    // except exact zeros — refVec's irrational-ish components never dot
    // to exactly 0 against the planes, so strict complement holds.
    s1.zip(s2).foreach { case (a, b) => assert((a ^ b) === mask) }
  }

  test("graft_srp_sig null semantics: null element poisons the signature") {
    val df = spark.sql(
      s"""SELECT graft_srp_sig(array(CAST(1.0 AS DOUBLE), NULL), $NB, $BITS)
         |  AS sigs""".stripMargin)
    assert(df.collect()(0).isNullAt(0))
  }

  test("near-identical vectors collide; pair surfaces with cos_sim ~ 1") {
    val base = refVec(3)
    val nearDup = base.updated(0, base(0) + 1e-6f)
    val far = refVec(4).map(x => -x)
    val got = pairsOf(Seq((1L, base), (2L, nearDup), (3L, far)), cap = 1000)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cos_sim")))
    assert(got.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(got.head._3 > 0.999999)
  }

  test("degenerate bucket: cap drops oversized buckets, bounds pair count") {
    val dup = refVec(5)
    val dupes = (0L until 50L).map(i => (i, dup))
    // 50 identical vectors land in ONE bucket per band. cap=10 < 50 →
    // every such bucket is dropped → zero pairs, not 50·49/2 = 1225.
    assert(pairsOf(dupes, cap = 10).count() === 0)
    // cap=50 admits the bucket: exactly C(50,2) deduped pairs, and the
    // band-join row count is bounded by nBands · C(cap,2), never N².
    assert(pairsOf(dupes, cap = 50).count() === 50L * 49 / 2)
  }

  test("fixed-plane SRP banding catches planted duplicates (production path)") {
    // The fixtures contain no true near-dups (max bucket-pair cosine
    // ≈ 0.51), so pipeline_dedup_semantic's drop rule is only exercised
    // on near-random pairs by the oracle gate. Drive the PRODUCTION
    // banding (Curate.srpCappedOf) and bucket join
    // (NearDup.srpSelfPairs) — the exact pairs the dedup keys filter —
    // with planted duplicates: a scaled copy has IDENTICAL sign bits in
    // every band (sign is scale-invariant), so it must share both
    // buckets and score cosine 1 — above any sane threshold.
    import spark.implicits._
    val base = (0 until 30).map(id =>
      (id.toLong, (0 until 64).map(i =>
        (SrpPlanes.component(id + 500, i) * 0.4).toFloat)))
    val dup = (100L, base(3)._2.map(x => 2.0f * x)) // scaled copy of id 3
    val pairs = operators.NearDup.srpSelfPairs(operators.Curate.srpCappedOf(
      (base :+ dup).toDF("vec_id", "embedding"))).collect()
    val dupPairs = pairs.filter(r =>
      r.getAs[Long]("a_id") == 3L && r.getAs[Long]("b_id") == 100L)
    // identical sign bits ⇒ the pair collides in BOTH bands
    assert(dupPairs.map(_.getAs[Int]("band")).toSet === Set(0, 1),
      s"planted dup must collide in every band, got ${dupPairs.toSeq}")
    dupPairs.foreach(r => assert(r.getAs[Double]("cos_sim") > 0.999999))
    // and a threshold drop at 0.35 would remove exactly the larger id
    assert(dupPairs.forall(_.getAs[Long]("b_id") == 100L))
  }

  test("fixture run is non-empty, deduped, and rerun-stable") {
    val df = Registry.queries("vec_neardup_lsh")(spark, sf)
    val r1 = df.collect()
    assert(r1.nonEmpty)
    val ids = r1.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(ids.distinct.length === ids.length, "pairs must be deduped")
    r1.foreach(r => assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id")))
  }

  test("fixed plane family: 32 distinct, nonzero, sign-balanced planes") {
    // The original %9 formula repeats with period 9 (its j-coefficient
    // collapses mod 9): the old band 1 shared 7 of its 8 planes with
    // band 0. The extended family must not regress to that.
    val planes = operators.Curate.srpPlanes
    assert(planes.length === 32)
    assert(planes.map(_.toList).distinct.length === 32,
      "hyperplanes must be pairwise distinct")
    planes.foreach(p => assert(p.exists(_ != 0.0)))
    // balance: against a fixed pseudo-random vector set, every plane's
    // positive-sign rate stays well inside (0.25, 0.75)
    val vecs = (0 until 2000).map(s =>
      (0 until 64).map(i => SrpPlanes.component(s, i)))
    planes.zipWithIndex.foreach { case (p, idx) =>
      val rate = vecs.count(v =>
        v.zip(p).map { case (a, b) => a * b }.sum >= 0).toDouble / vecs.size
      assert(rate > 0.25 && rate < 0.75,
        s"plane $idx sign rate $rate is degenerate")
    }
  }

  test("srpBits: occupancy-adaptive width ladder, clamped to [8, 16]") {
    import operators.Curate.srpBits
    assert(srpBits(0) === 8)
    assert(srpBits(500) === 8)      // sf0.01 embeddings
    assert(srpBits(2000) === 8)     // sf0.1 embeddings — shipped unchanged
    assert(srpBits(8 * 255 + 1) === 8)
    assert(srpBits(8 * 256 + 1) === 9)    // first widening (n = 2049)
    assert(srpBits(20000) === 12)   // the 10x grown sweep
    assert(srpBits(60000) === 13)   // the 30x grown sweep
    assert(srpBits(Long.MaxValue / 4) === 16) // clamp
    // monotone non-decreasing across the whole ladder
    val pts = Seq(1L, 100L, 16384L, 16385L, 32769L, 65537L, 1 << 25, 1L << 40)
    assert(pts.map(srpBits) === pts.map(srpBits).sorted)
  }
}

object LshSpec {
  /** A deterministic 64-dim vector per seed, off the SRP plane family. */
  def refVec(seed: Int): Seq[Float] =
    (0 until 64).map(i => (SrpPlanes.component(seed + 100, i) * 0.4).toFloat)
}
