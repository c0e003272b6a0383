package graft

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Output pins for the four banded near-dup keys the oracle cannot see
  * (`text_minhash_neardup`, `pipeline_dedup_keep`,
  * `pipeline_dedup_incremental`, `vec_neardup_lsh`): the sha-256 of each
  * key's full output, rows rendered and sorted, at sf0.01 and on a
  * planted fixture. The fixture puts one minhash bucket and one SRP
  * bucket exactly AT the 1000-member cap (distinct texts with one shingle
  * set; positive scalings of one vector), plus a degenerate bucket past
  * it and graded near-dups, so an off-by-one cap, a pair emitted out of
  * order, or a changed drop rule moves a digest. */
class NearDupPinSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import ScaleGuardSpec.{writeDocs, writeEmbeddings}
  import LshSpec.refVec
  import NearDupPinSpec.digest

  private val keys = Seq("text_minhash_neardup", "pipeline_dedup_keep",
    "pipeline_dedup_incremental", "vec_neardup_lsh")

  private def checkPins(dir: String,
      pins: Map[String, (Long, String)]): Unit = {
    val got = keys.map(k => k -> digest(k, dir)).toMap
    keys.foreach(k => assert(got(k) === pins(k), s"$k moved: $got"))
  }

  private lazy val planted: String = {
    val dir = tempDir("graft_pin").toString
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 60).map(i => s"w$i")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    // 1100 byte-identical docs: one bucket per band past the cap
    val flood = (0L until 1100L).map(i =>
      i -> "the quick brown fox jumps over the lazy dog")
    // 1000 distinct texts with ONE shingle set {x y z, y z x, z x y}:
    // every band holds exactly one 1000-member bucket, and exact dedup
    // cannot collapse them
    val cycle = Seq("x", "y", "z")
    val atCap = (0 until 1000).map { j =>
      val (len, phase) = (5 + j / 3, j % 3)
      (2000L + j) -> (0 until len).map(t => cycle((t + phase) % 3))
        .mkString(" ")
    }
    // graded near-dups: a 40-word base and copies with k words replaced
    val graded = (0 until 12).flatMap { b =>
      val base = words(40)
      (0 to 5).map { k =>
        (4000L + 10 * b + k) ->
          (base.take(40 - k) ++ Seq.fill(k)(s"v$b$k")).mkString(" ")
      }
    }
    val background = (0 until 300).map(i => (5000L + i) -> words(30)
      .mkString(" "))
    writeDocs(dir, flood ++ atCap ++ graded ++ background)
    // SRP: 1100 identical vectors (past the cap), 1000 positive scalings
    // of one vector (identical sign bits: a bucket exactly at the cap),
    // scaled and perturbed copies of a few bases, and a background
    val floodVec = refVec(1)
    val capVec = refVec(2)
    val bases = (10 until 50).map(s => s.toLong -> refVec(s))
    val vecs = (0L until 1100L).map(i => (i, floodVec, 0)) ++
      (0 until 1000).map(j =>
        (2000L + j, capVec.map(_ * (1.0f + j / 250.0f)), 1)) ++
      bases.map { case (s, v) => (4000L + s, v, 2) } ++
      bases.take(8).map { case (s, v) => (4100L + s, v.map(_ * 3.0f), 3) } ++
      bases.slice(8, 16).map { case (s, v) =>
        (4200L + s, v.updated(0, v(0) + 0.01f), 4)
      }
    writeEmbeddings(dir, vecs)
    dir
  }

  test("pinned digests at sf0.01") {
    checkPins(s"${new java.io.File(sf).getParent}/sf0.01", Map(
      "text_minhash_neardup" -> (37L,
        "445ae68db83f9124675c8cd079d07dd5af8973706484fbdcf396791f14a53629"),
      "pipeline_dedup_keep" -> (477L,
        "f82f734e4c23e1718c4ff446afaec7ceef189ed082dec90ac4d8bf59b791cb47"),
      "pipeline_dedup_incremental" -> (23L,
        "082a6c7265646fb4c98c7d67100a2f1c8d0199fb5b7971547e4091f6f86be2fa"),
      "vec_neardup_lsh" -> (17L,
        "7d9d8b63b9e7ca57eaf7cab6b48a121449a8d0fd0748a3544ef0c39361785892")))
  }

  test("pinned digests on the planted fixture: a bucket at the cap, a " +
      "degenerate bucket past it, scaled-copy and graded near-dups") {
    checkPins(planted, Map(
      "text_minhash_neardup" -> (499681L,
        "f8c517a769253a557776c503f5b1481875144528f63eef8632f23f5f8c6cd312"),
      "pipeline_dedup_keep" -> (323L,
        "c3739754f4543f6ad41896621f3723012da18b5c5962b9b963e085ecf96b5131"),
      "pipeline_dedup_incremental" -> (153L,
        "c8e6d8d4c5787af27bfb5a00045138b3465730d4d60476d22a0279096e6a9299"),
      "vec_neardup_lsh" -> (499516L,
        "9b0228cd974db9d3e301ec6ea05944bdcc5568985f24efe75950e6414dde5923")))
  }
}

object NearDupPinSpec {
  /** (rows, sha-256 hex) of a key's output: each row is its cells joined
    * by '|', the rendered rows sorted, then digested newline-terminated. */
  def digest(key: String, dir: String): (Long, String) = {
    val rows = Registry.queries(key)(TestSpark.spark, dir).collect()
      .map(_.toSeq.mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }
}
