package graft

import org.scalatest.funsuite.AnyFunSuite

/** Output pins for the three trained ANN keys the oracle cannot see
  * (`vec_ann_ivf`, `vec_ann_ivfpq`, `vec_pq_codes`): the sha-256 of each
  * key's full output, rows rendered and sorted, at sf0.01. Their codebooks
  * are engine-trained doubles, so DuckDB has no twin; the search and
  * encode bodies they run are shared with the hash-checked fixed-codebook
  * keys, and these digests pin the trained composition around them — a
  * changed probe set, shortlist depth, self-exclusion or error fold moves
  * a digest. */
class AnnPinSpec extends AnyFunSuite {
  import TestSpark._
  import NearDupPinSpec.digest

  test("pinned digests of the trained ANN keys at sf0.01") {
    val dir = s"${new java.io.File(sf).getParent}/sf0.01"
    val pins = Map(
      "vec_ann_ivf" -> (60L,
        "8c8dd203c445f53327987c77be82c03e80af2d61eea17355c7721dd01f9e4b40"),
      "vec_ann_ivfpq" -> (60L,
        "4421b9c43d7887c2e3f0c92f608c4e560e7a31eea7931a5d1894be5817f4b179"),
      "vec_pq_codes" -> (500L,
        "7dfeb1d8e451ab966a21f2d80cf2709d4411c8e8b3baf25545667f0c2ea0a002"))
    val got = pins.keys.toSeq.sorted.map(k => k -> digest(k, dir)).toMap
    pins.foreach { case (k, pin) => assert(got(k) === pin, s"$k moved: $got") }
  }
}
