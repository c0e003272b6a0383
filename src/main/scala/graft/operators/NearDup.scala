package graft.operators

import graft.{Det, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The candidate layer every banded near-dup key shares: the bucket cap,
  * the capped bucket arrays and their within-bucket pair emitter (minhash
  * and Carter–Wegman families), the window-capped bucket self-join (SRP
  * families), and the two compositions the dedup keys are built from —
  * the full-corpus keep-set and the incremental batch admission. The
  * per-family signatures (xxhash64 sketches and Carter–Wegman minima in
  * [[TextOps]], fixed-plane SRP in [[Curate]], `graft_srp_sig` in
  * [[VecOps]]) and every DuckDB oracle CTE stay with their families; the
  * CTEs interpolate [[Cap]].
  *
  * Minhash buckets are arrays: one hash aggregate collects each
  * (band, bkey) bucket's members, and pairs are enumerated from the
  * array, so no pair self-join runs and the cap bounds the per-row
  * buffer at ½·Cap² pairs. This emitter is where a bounded pair
  * generator will land.
  *
  * SRP keeps the self-join shape on purpose. Moving only the corpus-wide
  * SRP drop set onto bucket arrays passed the `pipeline_curate` oracle at
  * 2× grown, but over 5 alternating parent/change pairs of the
  * llm_pipeline_g2 benchmark workload it raised peak_heap_mb from a
  * median of 622 MB to 776 MB (bound 20%), every change run above every
  * parent run.
  */
object NearDup {
  /** Largest bucket that still emits pairs: a (band, key) bucket with more
    * members is a degenerate signature (boilerplate, empty or identical
    * inputs), dropped whole so pair work stays ≤ ½·Cap² per bucket at
    * any corpus size. Bucket size counts every corpus row, batch and
    * corpus alike. */
  final val Cap = 1000

  /** The incremental keys' batch source; every other source is the
    * corpus. */
  private final val Batch = "src1"

  /** A banded signature family. `bands(s, dir, carry)` yields one row per
    * (document, band): `doc_id`, the `carry` columns, the signature
    * columns, then `band` and `bkey`. `matches(x, y)` counts the matching
    * minima of two member structs, out of `nHashes`. */
  final case class Family(nHashes: Int,
      bands: (SparkSession, String, Seq[String]) => DataFrame,
      matches: (Column, Column) => Column) {

    /** (doc_a < doc_b, est_jaccard = matches / nHashes) candidate pairs,
      * deduped across bands. */
    def pairs(s: SparkSession, dir: String): DataFrame =
      buckets(bands(s, dir, Nil))
        .select(explode(eachPair(col("ms"))((x, y) => struct(
          least(x("doc_id"), y("doc_id")).as("doc_a"),
          greatest(x("doc_id"), y("doc_id")).as("doc_b"),
          (matches(x, y).cast("double") / nHashes).as("est_jaccard"))))
          .as("p"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
          col("p.est_jaccard").as("est_jaccard"))
        .distinct()

    /** [[keepSet]] dropping the larger doc_id of every pair with at least
      * `minMatch` matching minima (est = k/n ≥ m/n is exactly k ≥ m). */
    def keep(s: SparkSession, dir: String, minMatch: Int): DataFrame =
      keepSet(s, dir, pairs(s, dir)
        .filter(col("est_jaccard") >= minMatch.toDouble / nHashes)
        .select(col("doc_b").as("doc_id"))
        .distinct())

    /** [[incremental]] dropping every batch doc with at least `minMatch`
      * matching minima against a corpus doc. The drop set comes from one
      * pass over the buckets: each bucket emits the batch-side doc_id of
      * its strong batch × corpus pairs, and counts minima only for those
      * (the sources are tested first), never for the corpus × corpus
      * majority. */
    def incremental(s: SparkSession, dir: String, minMatch: Int)
        : DataFrame = {
      val drops = buckets(bands(s, dir, Seq("source")))
        .select(explode(eachPair(col("ms")) { (x, y) =>
          val (xb, yb) = (x("source") === Batch, y("source") === Batch)
          val strong = matches(x, y) >= minMatch
          when(xb && !yb && strong, x("doc_id"))
            .when(yb && !xb && strong, y("doc_id"))
        }).as("doc_id"))
        .filter(col("doc_id").isNotNull)
        .distinct()
      NearDup.incremental(s, dir, drops)
    }
  }

  /** Capped bucket arrays over a [[Family]] banding: per (band, bkey),
    * ms = array<struct<every other column>>, kept when 2 ≤ |ms| ≤ [[Cap]]
    * (a single member has no pair). collect_list order varies with
    * partial-aggregation order; every consumer folds the array into an
    * order-invariant pair set, so results are deterministic. */
  private def buckets(banded: DataFrame): DataFrame = {
    val members = banded.columns.filterNot(Set("band", "bkey")).map(col)
    banded.groupBy(col("band"), col("bkey"))
      .agg(collect_list(struct(members: _*)).as("ms"))
      .filter(size(col("ms")).between(2, Cap))
  }

  /** One element per unordered member pair of `ms` (x at position i, y
    * after it), built by `f`. */
  private def eachPair(ms: Column)(f: (Column, Column) => Column): Column =
    flatten(transform(ms, (x, i) =>
      transform(slice(ms, i + 2, size(ms)), y => f(x, y))))

  /** `banded` (…, band, bsig) minus every (band, bsig) bucket holding more
    * than `cap` rows. The window's (band, bsig) exchange is shared by both
    * sides of the [[srpPairs]] self-join downstream. */
  def capBuckets(banded: DataFrame, cap: Int = Cap): DataFrame =
    banded
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy(col("band"), col("bsig"))))
      .filter(col("bsz") <= cap)
      .drop("bsz")

  /** Every (a, b) row pair of two [[capBuckets]] frames (vec_id, u, band,
    * bsig) sharing a bucket: (band, a_id, b_id, cos_sim) with cos_sim the
    * dot of the unit vectors. Pass subsets of one capped frame for
    * batch × corpus pairs only. */
  def srpPairs(a: DataFrame, b: DataFrame): DataFrame = {
    val x = a.select(col("band"), col("bsig"), col("vec_id").as("a_id"),
      col("u").as("ua"))
    val y = b.select(col("band").as("y_band"), col("bsig").as("y_bsig"),
      col("vec_id").as("b_id"), col("u").as("ub"))
    x.join(y, col("band") === col("y_band") && col("bsig") === col("y_bsig"))
      .select(col("band"), col("a_id"), col("b_id"),
        Det.dot(col("ua"), col("ub")).as("cos_sim"))
  }

  /** Each unordered pair of one capped frame, once per shared band:
    * [[srpPairs]] of the frame with itself, a_id < b_id. */
  def srpSelfPairs(capped: DataFrame): DataFrame =
    srpPairs(capped, capped).filter(col("a_id") < col("b_id"))

  /** One row per SRP pair: the smallest band it shares and its cosine
    * (identical in every band; max is a deterministic pick). */
  def bestBand(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("a_id"), col("b_id"))
      .agg(min(col("band")).as("band"), max(col("cos_sim")).as("cos_sim"))

  /** The full-corpus dedup keep-set: documents that are the smallest
    * doc_id of their sha-256 class and not in `nearDrops` (doc_id), as
    * (doc_id, lang, source, n_chars) by doc_id. */
  def keepSet(s: SparkSession, dir: String, nearDrops: DataFrame)
      : DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    val exactCanonical = docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs
      .join(exactCanonical, Seq("doc_id"), "left_semi")
      .join(nearDrops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Incremental admission of the batch (source src1) into the corpus
    * (every other source): a batch doc drops when its sha-256 already
    * exists in the corpus or it is in `nearDrops` (doc_id). Batch-internal
    * duplicates are kept — deduping the batch itself is [[keepSet]]'s
    * job. Output as in [[keepSet]]. */
  def incremental(s: SparkSession, dir: String, nearDrops: DataFrame)
      : DataFrame = {
    val docs = Tables.table(s, dir, "documents")
    val corpusHashes = docs.filter(col("source") =!= Batch)
      .select(sha2(col("text"), 256).as("h")).distinct()
    docs.filter(col("source") === Batch)
      .withColumn("h", sha2(col("text"), 256))
      .join(corpusHashes, Seq("h"), "left_anti")
      .join(nearDrops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }
}
