package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search: the trained IVF, PQ and IVF-PQ
  * keys, their fixed-codebook twins, and the search, encode and training
  * bodies both share. IVF follows the inverted-file shape of Sivic &
  * Zisserman (ICCV 2003); PQ and IVF-PQ are Jégou et al. (PAMI 2011).
  *
  * The trained keys (`vec_ann_ivf`, `vec_ann_ivfpq`, `vec_pq_codes`)
  * learn their codebooks by deterministic k-means (first-k init,
  * exact-decimal Lloyd means); the codebook is tiny and broadcast, and
  * only probed lists are scanned. Trained centroids are engine-derived
  * doubles, so those keys are rows-only by design (D3). Given a FIXED
  * codebook the rest is deterministic: every score is a sequential
  * fold over identical doubles (floats widen exactly; `graft_dot` and
  * DuckDB's `list_reduce` fold left to right; sqrt and division are
  * IEEE-correctly-rounded), and every ranking tie-breaks on an integer
  * id. So the twins embed their codebooks as shared integer FORMULAS —
  * the `scalar_trig` literal-table precedent (SURVEY §9):
  *
  *   coarse centroid l, component j (1-based):  (l·31 + j·17) mod 7 − 3
  *   PQ cell (sub s, code c), component j:   ((s·5 + c·3 + j·11) mod 7 − 3)/8
  *
  * Small exact integers (and exact eighths), identical in both
  * formulations; coarse centroids are unit-normalized on both sides.
  *
  * What is shared: the twins hold codebooks and oracle SQL only, no
  * search or encode code of their own. Each twin calls the body its
  * trained key calls, with the literal codebooks in place of the trained
  * ones:
  *   - `vec_ann_ivf_fixed`, `pipeline_semantic_search` and
  *     `pipeline_eval_recall` → [[ivfTop3]] (probe window,
  *     self-exclusion, exact top 3), as `vec_ann_ivf` does;
  *   - `vec_ann_ivfpq_fixed` → [[ivfpqTop3]] (LUT, ADC shortlist at
  *     depth 20, exact rerank), as `vec_ann_ivfpq` does at depth 128;
  *   - `vec_pq_codes_fixed` → [[pqEncode]] (codes and error fold), as
  *     `vec_pq_codes` does.
  * Under them sit [[normFrame]], [[nearestListMap]] and [[pqCodeCols]].
  * So the DuckDB hash of a twin checks the trained key's search and
  * encode code; only codebook training ([[trainCoarse]], [[pqCodebook]])
  * stays outside the oracle, pinned by AnnPinSpec and graded for recall
  * by AnnRecallSpec.
  */
object Ann {
  import Det._
  import PipelineOps.{SessionMemo, TrainClock, countOf, planKey}

  /** (vec_id, embedding) of the embeddings table. */
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))

  /** (vec_id, u) of the embeddings via [[normFrame]]. */
  private def normed(s: SparkSession, dir: String): DataFrame =
    normFrame(embeddings(s, dir))

  private val sqlNormed =
    s"""e AS (SELECT vec_id, ${sqlUnitVec("embedding::DOUBLE[]")} AS u
       |  FROM embeddings)"""

  /** The 4 unit-normalized coarse centroids as (list_id, cu), computed
    * DRIVER-SIDE from the integer formula: the fold runs left-to-right
    * like graft_dot / list_reduce, and Math.sqrt / division are
    * IEEE-correctly-rounded, so these doubles are bit-identical to both
    * engines' in-plan normalization of the same integers. */
  private val coarseCent: Seq[(Long, Seq[Double])] = (0 until 4).map { l =>
    val cv = (1 to 64).map(j => ((l * 31 + j * 17) % 7 - 3).toDouble)
    val n = math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))
    (l.toLong, cv.map(_ / n))
  }

  /** PQ codebook (sub, code, cell) for 4 subspaces × 4 codes: exact
    * integers over 8 (a power of two), bit-identical to the oracle's
    * in-SQL formula. */
  private val pqCb: Seq[(Int, Int, Seq[Double])] =
    for (s0 <- 0 until 4; c <- 0 until 4) yield
      (s0, c, (1 to 16).map(j => ((s0 * 5 + c * 3 + j * 11) % 7 - 3) / 8.0))

  /** The fixed keys' query set and probe depth. */
  private val nQueries = 8
  private val nprobe = 2

  /** IVF-flat top-3 of the shared [[ivfTop3]] body over the
    * literal coarse codebook — `vec_ann_ivf_fixed`,
    * `pipeline_semantic_search` and `pipeline_eval_recall`. */
  private def ivfFixed(e: DataFrame): DataFrame =
    ivfTop3(e, coarseCent, nprobe, nQueries)

  private val sqlCoarseCb =
    s"""cb AS (SELECT l AS list_id,
       |  list_transform(generate_series(1, 64),
       |    j -> ((l * 31 + j * 17) % 7 - 3)::DOUBLE) AS cv
       |  FROM generate_series(0, 3) t(l)),
       |cbn AS (SELECT list_id, ${sqlUnitVec("cv")} AS cu FROM cb)"""

  /** Oracle CTE `pcb(sub, code, cv)`: the [[pqCb]] formula. */
  private val sqlPqCb =
    """pcb AS (SELECT s AS sub, c AS code,
      |  list_transform(generate_series(1, 16),
      |    j -> ((s * 5 + c * 3 + j * 11) % 7 - 3) / 8.0) AS cv
      |  FROM generate_series(0, 3) ts(s)
      |  CROSS JOIN generate_series(0, 3) tc(c))"""

  private val sqlAssign =
    s"""assign AS (SELECT vec_id, list_id, u FROM (
       |  SELECT e.vec_id, c.list_id, e.u,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${sqlDot("e.u", "c.cu")} DESC, c.list_id ASC) AS rn
       |  FROM e CROSS JOIN cbn c) WHERE rn = 1)"""

  private val sqlProbe =
    s"""q AS (SELECT vec_id AS q_id, u AS qu FROM e
       |  ORDER BY vec_id LIMIT $nQueries),
       |probe AS (SELECT q_id, list_id FROM (
       |  SELECT q.q_id, c.list_id,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY ${sqlDot("q.qu", "c.cu")} DESC, c.list_id ASC) AS rn
       |  FROM q CROSS JOIN cbn c) WHERE rn <= $nprobe)"""

  /** The oracle CTEs every fixed-codebook IVF key starts from: `e`,
    * `cb`/`cbn`, `assign`, `q` and `probe`. */
  private val sqlProbeCtes =
    Seq(sqlNormed, sqlCoarseCb, sqlAssign, sqlProbe).mkString(",\n")

  /** Oracle CTE twins of [[ivfFixed]] (`scored`, `ranked`); requires
    * the normed/codebook/assign/probe CTEs in scope. */
  private def sqlIvfTop3Ctes: String =
    s"""scored AS (
       |  SELECT p.q_id, a.vec_id, a.list_id,
       |    ${sqlDot("q.qu", "a.u")} AS cos_sim
       |  FROM probe p JOIN assign a USING (list_id)
       |  JOIN q ON q.q_id = p.q_id
       |  WHERE a.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, list_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos_sim DESC, vec_id ASC) AS rn
       |  FROM scored)""".stripMargin

  val qs: Seq[Q] = Seq(
    // IVF approximate nearest neighbors with a TRAINED coarse codebook
    // (VERDICT r3 task 3): deterministic k-means — init = first-nlists
    // vectors by vec_id, 3 Lloyd iterations of exact-decimal means —
    // decouples nlists (16) from the label column entirely. Every vector
    // is assigned to its nearest list; queries probe the nprobe=3 nearest
    // lists and rank candidates by cosine. IVF recall < 1 by design → no
    // oracle; recall vs brute force (and trained-beats-untrained on
    // clustered data) is unit-tested in AnnRecallSpec.
    // NOTE the fixture embeddings are unclustered (near-uniform), the worst
    // case for any partitioning index — measured recall ≈ nprobe/nlists.
    // On real clustered embeddings the same shape concentrates neighbors
    // in few lists; the code path (tiny broadcast codebook, probe-bounded
    // candidate scan) is what matters at 100 TB.
    Q("vec_ann_ivf",
      (s, dir) => ivfSearch(
        embeddings(s, dir),
        nlists = 16, nprobe = 3, lloydIters = 3, nQueries = 20),
      None),

    // Product quantization (Jégou et al., PAMI 2011): the 64-dim vector
    // splits into 4 subvectors; each subspace gets its own 16-centroid
    // codebook (deterministic k-means, same first-k init + exact-decimal
    // Lloyd means as the IVF coarse quantizer), and a vector compresses
    // to 4 one-byte codes — 64 floats → 4 bytes, the memory lever that
    // makes billion-vector ANN fit a cluster's RAM. Codebooks are tiny
    // (m·k·d/m doubles) and broadcast; assignment is one hash agg per
    // subspace batch, never a window sort. Codes + per-subspace squared
    // error are emitted; PqSpec proves Lloyd iterations cut distortion
    // and codes stay in range. Doubles are engine-derived → no oracle
    // (D3); determinism is by the same argument as vec_ann_ivf.
    Q("vec_pq_codes",
      (s, dir) => pqCodes(
        embeddings(s, dir),
        m = 4, k = 16, iters = 2),
      None),

    // IVF-PQ: the two quantizers composed into the billion-vector search
    // shape — coarse lists bound candidates, PQ lookup tables score them
    // without ever touching raw vectors (4 bytes/vector on the search
    // path). See [[ivfpqSearch]]; recall vs exact-ranked IVF-flat at the
    // same (nlists, nprobe) is measured in AnnRecallSpec.
    Q("vec_ann_ivfpq",
      (s, dir) => ivfpqSearch(
        embeddings(s, dir),
        nlists = 16, nprobe = 3, m = 8, k = 16, iters = 2, nQueries = 20),
      None),

    // IVF-flat with the fixed codebook: probe 2 of 4 lists, exact cosine
    // over the probed lists' vectors, top-3 per query.
    Q("vec_ann_ivf_fixed",
      (s, dir) => Det.orderedDomain(ivfFixed(normed(s, dir)),
        col("q_id"), col("rn")),
      Some(sql(s"""WITH $sqlProbeCtes,
        |$sqlIvfTop3Ctes
        |SELECT q_id, rn::BIGINT AS rn, vec_id AS neighbor_id,
        |  list_id::BIGINT AS list_id, cos_sim
        |FROM ranked WHERE rn <= 3 ORDER BY q_id, rn"""))),

    // Semantic RETRIEVAL over documents (r8): the ANN search composed
    // with its payload join — the read path of a RAG/doc-search system,
    // and the reason the engine stores doc_id = vec_id. The tiny top-3
    // result (24 rows) broadcasts against the documents scan, so
    // retrieval adds ONE metadata scan and zero shuffles beyond the
    // search itself; at 100 TB the payload fetch is a broadcast-hash
    // probe of the result into the (column-pruned) documents table.
    Q("pipeline_semantic_search",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id").as("neighbor_id"), col("lang"),
            col("source"), col("n_chars"))
        broadcast(ivfFixed(normed(s, dir)))
          .join(docs, "neighbor_id")
          .select(col("q_id"), col("rn"), col("neighbor_id"),
            col("cos_sim"), col("lang"), col("source"), col("n_chars"))
          .transform(df => Det.orderedDomain(df, col("q_id"), col("rn")))
      },
      Some(sql(s"""WITH $sqlProbeCtes,
        |$sqlIvfTop3Ctes
        |SELECT r.q_id, r.rn::BIGINT AS rn, r.vec_id AS neighbor_id,
        |  r.cos_sim, d.lang, d.source, d.n_chars
        |FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
        |WHERE r.rn <= 3 ORDER BY r.q_id, rn"""))),

    // Offline recall@3 evaluation of the IVF search against brute-force
    // ground truth — the eval job every ANN deployment runs before
    // trusting an index (AnnRecallSpec guards the TRAINED keys in
    // ScalaTest; this key puts the same evaluation ALGEBRA under the
    // driver's hash gate). Ground truth is the exact top-3 by unit-vector
    // dot (identical ranking to cosine), the candidate is ivfFixed,
    // and recall@3 = |gt ∩ ivf| / 3 per query. Both sides are
    // deterministic (fixed codebook, id tie-breaks), so the overlap count
    // is an exact integer and the only float emit is one long/double
    // division. Cost shape: evaluating two methods inherently pays each
    // method's corpus pass (one brute scoring scan + one assignment
    // scan); the overlap join is 24×24 rows — broadcast, domain-sized.
    Q("pipeline_eval_recall",
      (s, dir) => {
        val e = normed(s, dir)
        val q = queryVecs(e, nQueries)
        val wq = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("vec_id").asc)
        val gt = e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("score", dot(col("qu"), col("u")))
          .withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("vec_id"))
        val ivf = ivfFixed(e)
          .select(col("q_id"), col("neighbor_id").as("vec_id"))
        val hits = gt.join(ivf, Seq("q_id", "vec_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
        q.select(col("q_id")).join(broadcast(hits), Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            round(coalesce(col("n_hits"), lit(0L)).cast("double")
              / lit(3.0).cast("double"), 6).as("recall_r6"))
          .transform(df => Det.orderedDomain(df, col("q_id")))
      },
      Some(sql(s"""WITH $sqlProbeCtes,
        |$sqlIvfTop3Ctes,
        |gt AS (SELECT q_id, vec_id FROM (
        |  SELECT q.q_id, e2.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY ${sqlDot("q.qu", "e2.u")} DESC, e2.vec_id ASC) AS rn
        |  FROM e e2 CROSS JOIN q WHERE e2.vec_id <> q.q_id) WHERE rn <= 3),
        |hits AS (
        |  SELECT g.q_id, count(*)::BIGINT AS n_hits
        |  FROM gt g JOIN ranked i
        |    ON i.q_id = g.q_id AND i.vec_id = g.vec_id AND i.rn <= 3
        |  GROUP BY g.q_id)
        |SELECT q.q_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
        |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE)
        |    / CAST(3 AS DOUBLE), 6) AS recall_r6
        |FROM q LEFT JOIN hits h USING (q_id) ORDER BY q_id"""))),

    // IVF-PQ with both codebooks fixed: coarse probe bounds candidates,
    // 4×4 PQ codes + a per-query flat LUT (sorted by sub·k+code, summed
    // in fixed left-to-right order) build the ADC shortlist, top-20 per
    // query reranked by exact cosine, top-3 emitted.
    Q("vec_ann_ivfpq_fixed",
      (s, dir) => ivfpqTop3(normed(s, dir), coarseCent, pqCb,
          nprobe, m = 4, k = 4, nQueries, rerank = 20)
        .transform(df => Det.orderedDomain(df, col("q_id"), col("rn"))),
      Some(sql(s"""WITH $sqlProbeCtes,
        |$sqlPqCb,
        |sub AS (SELECT vec_id, s AS sub,
        |  list_slice(u, s * 16 + 1, s * 16 + 16) AS sv
        |  FROM e CROSS JOIN generate_series(0, 3) t(s)),
        |costs AS (SELECT v.vec_id, v.sub, p.code,
        |  ${sqlDot("p.cv", "p.cv")} - 2.0 * ${sqlDot("v.sv", "p.cv")}
        |    AS cost
        |  FROM sub v JOIN pcb p USING (sub)),
        |codesl AS (SELECT vec_id, sub, code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY cost ASC, code ASC) AS rn FROM costs) WHERE rn = 1),
        |codes AS (SELECT vec_id,
        |  max(CASE WHEN sub = 0 THEN code END) AS c0,
        |  max(CASE WHEN sub = 1 THEN code END) AS c1,
        |  max(CASE WHEN sub = 2 THEN code END) AS c2,
        |  max(CASE WHEN sub = 3 THEN code END) AS c3
        |  FROM codesl GROUP BY vec_id),
        |lut AS (SELECT q.q_id, p.sub * 4 + p.code AS idx,
        |  ${sqlDot(
             "list_slice(q.qu, p.sub * 16 + 1, p.sub * 16 + 16)", "p.cv")}
        |    AS lutval
        |  FROM q CROSS JOIN pcb p),
        |lutarr AS (SELECT q_id, list(lutval ORDER BY idx) AS la
        |  FROM lut GROUP BY q_id),
        |scored AS (SELECT p.q_id, a.vec_id, a.list_id,
        |  list_extract(la, 0 * 4 + c0 + 1) + list_extract(la, 1 * 4 + c1 + 1)
        |  + list_extract(la, 2 * 4 + c2 + 1)
        |  + list_extract(la, 3 * 4 + c3 + 1) AS approx_sim
        |  FROM probe p JOIN assign a USING (list_id)
        |  JOIN codes c ON c.vec_id = a.vec_id
        |  JOIN lutarr l ON l.q_id = p.q_id
        |  WHERE a.vec_id <> p.q_id),
        |shortlist AS (SELECT q_id, vec_id, list_id, approx_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY approx_sim DESC, vec_id ASC) AS arn
        |  FROM scored) WHERE arn <= 20),
        |rerank AS (SELECT s.q_id, s.vec_id, s.list_id, s.approx_sim,
        |  ${sqlDot("q.qu", "e.u")} AS cos_sim
        |  FROM shortlist s JOIN e ON e.vec_id = s.vec_id
        |  JOIN q ON q.q_id = s.q_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos_sim DESC, vec_id ASC) AS rn
        |  FROM rerank)
        |SELECT q_id, rn::BIGINT AS rn, vec_id AS neighbor_id,
        |  list_id::BIGINT AS list_id, approx_sim, cos_sim
        |FROM ranked WHERE rn <= 3 ORDER BY q_id, rn"""))),

    // PQ codes + per-subspace reconstruction error with the FIXED literal
    // codebook (VERDICT r7 task 6) — the hash-checked twin of
    // vec_pq_codes, whose trained codebook keeps it rows-only. Runs the
    // trained key's encoder, [[pqEncode]]: argmin = array_position
    // of array_min → smallest code among cost ties, and the error fold
    // err_j = max(|x_j|² + (|c|² − 2x_j·c), 0) over the raw (float-widened)
    // subvectors — every cost is a fold over identical doubles, |c|²
    // folded in graft_dot's left-to-right order.
    Q("vec_pq_codes_fixed",
      (s, dir) => {
        pqEncode(embeddings(s, dir), pqCb, 4, 4)
          .select(col("vec_id") +: (0 until 4).flatMap(j =>
            Seq(col(s"c$j").cast("long").as(s"c$j"), col(s"err$j"))): _*)
          .orderBy(col("vec_id"))
      },
      Some(sql(s"""WITH ed AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |$sqlPqCb,
        |sub AS (SELECT vec_id, s AS sub,
        |  list_slice(v, s * 16 + 1, s * 16 + 16) AS sv
        |  FROM ed CROSS JOIN generate_series(0, 3) t(s)),
        |costs AS (SELECT v.vec_id, v.sub, p.code,
        |  ${sqlDot("p.cv", "p.cv")} - 2.0 * ${sqlDot("v.sv", "p.cv")}
        |    AS cost,
        |  ${sqlDot("v.sv", "v.sv")} AS svn2
        |  FROM sub v JOIN pcb p USING (sub)),
        |best AS (SELECT vec_id, sub, code, cost, svn2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY cost ASC, code ASC) AS rn FROM costs) WHERE rn = 1)
        |SELECT vec_id,
        |  ${(0 until 4).map(j =>
             s"max(CASE WHEN sub = $j THEN code END)::BIGINT AS c$j, " +
               s"max(CASE WHEN sub = $j THEN greatest(svn2 + cost, 0.0) " +
               s"END) AS err$j").mkString(", ")}
        |FROM best GROUP BY vec_id ORDER BY vec_id"""))),
  )

  /** Trained-codebook memo for [[pqCodebook]], keyed by (planKey,
    * params). */
  private val pqMemo =
    new SessionMemo[(String, Int, Int, Int), Seq[(Int, Int, Seq[Double])]]

  /** (vec_id, sub, sv): each vector exploded into its m subvectors. */
  private def subFrame(e0: DataFrame, m: Int): DataFrame = e0
    .select(col("vec_id"),
      Det.widen(col("embedding")).as("v"))
    .select(col("vec_id"), posexplode(expr(
      s"""transform(sequence(0, $m - 1),
         |  j -> slice(v, j * (size(v) DIV $m) + 1, size(v) DIV $m))"""
        .stripMargin)).as(Seq("sub", "sv")))

  /** Trained per-subspace PQ codebooks (cached) — shared by
    * [[pqCodes]] and [[ivfpqSearch]]'s LUT construction. */
  private[graft] def pqCodebook(e0: DataFrame, m: Int, k: Int,
      iters: Int): Seq[(Int, Int, Seq[Double])] = {
    val s = e0.sparkSession
    pqMemo(s, (planKey(e0), m, k, iters))(TrainClock.timed("pq_codebook") {
      // Cap-bounded training subset (r16 — see [[trainSample]]): identity
      // at fixture SF; sizing count stays inside the memo+clock.
      // PERSIST the sampled, widened vectors (r16, the trainCoarse
      // rationale): unpersisted Lloyd paid iters full-corpus
      // scan+filter passes; cached it is ≤ ~cap vectors. Exact-decimal
      // means ⇒ caching cannot change a value.
      val eS = trainSample(e0)
      val emb = eS.select(col("vec_id"),
          Det.widen(col("embedding")).as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      // Dense 0-based init: the first k vectors BY ORDER of vec_id seed
      // codes 0..k-1 in every subspace. The id value is never used as the
      // code (ids may be sparse, offset, or filtered upstream — the
      // trainCoarse lesson); fewer than k vectors cycle so the codebook
      // is dense in (sub, code) from the start.
      val firstK = subFrame(eS.orderBy(col("vec_id")).limit(k), m)
        .orderBy(col("sub"), col("vec_id")).collect()
        .map(r => (r.getAs[Int]("sub"), r.getSeq[Double](2)))
        .groupBy(_._1)
      // Degenerate inputs must fail with a clear message, not a
      // divide-by-zero inside the rows(code % rows.length) cycle (ADVICE r6)
      require(firstK.nonEmpty,
        "pqCodebook needs at least one input vector to seed centroids")
      var c: Seq[(Int, Int, Seq[Double])] =
        firstK.toSeq.flatMap { case (subId, rows) =>
          (0 until k).map(code => (subId, code, rows(code % rows.length)._2))
        }.sortBy(t => (t._1, t._2))
      for (_ <- 1 to iters) {
        // assignment is the encoder's own map-side argmin (pqCodeCols);
        // each vector then yields one (sub, code, subvector) row per
        // subspace
        val updated = pqCodeCols(emb, c, m, k)
          .select(inline(array((0 until m).map(j => struct(
            lit(j).as("sub"), col(s"c$j").as("code"),
            subvec("embedding", j, m).as("sv"))): _*)))
          .select(col("sub"), col("code"),
            posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy(col("sub"), col("code"), col("pos"))
          .agg(exactMean(col("x")).as("x"))
          .groupBy(col("sub"), col("code"))
          .agg(array_sort(collect_list(struct(col("pos"), col("x"))))
            .as("px"))
          .select(col("sub"), col("code"),
            expr("transform(px, p -> p.x)").as("cv"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2))
          .toMap
        // A (sub, code) cluster that received zero vectors keeps its
        // previous centroid: the codebook stays DENSE in (sub, code),
        // which ivfpqSearch's flat-LUT ADC scoring indexes positionally —
        // a hole there would shift every later cell's lookup.
        c = c.map { case (subId, code, cv) =>
          (subId, code, updated.getOrElse((subId, code), cv)) }
      }
      c
      } finally emb.unpersist(false)
    })
  }

  /** Add `c0..c{m-1}` (and `cost0..cost{m-1}`) PQ code columns to
    * `frame` MAP-SIDE: the trained codebook is a driver-side Seq, so
    * per-subspace assignment is an argmin over k literal centroids — no
    * subvector explode, no broadcast join, no corpus shuffle (the
    * [[nearestListMap]] argument applied to the product quantizer; the
    * old subvector-explode→broadcast-join→pivot path exchanged m rows
    * per corpus vector). `frame` must carry `embedding` as
    * array<double>. |c|² is folded in the same left-to-right order as
    * graft_dot; ties go to the first (smallest) code among equal minima.
    * [[pqCodebook]]'s Lloyd rounds assign through it too. */
  private[operators] def pqCodeCols(frame: DataFrame,
      cb: Seq[(Int, Int, Seq[Double])], m: Int, k: Int): DataFrame = {
    val bySub = cb.groupBy(_._1)
    // TWO select layers, not 3·m chained withColumns: every withColumn
    // re-copies the full (k literal-centroid) expression tree through
    // analysis, which made PLANNING quadratic in m — at m=8,k=16 the
    // trained IVF-PQ paid ~2× the fixed twin's plan time for the same
    // search (VERDICT r9 task 3). Layer 1 materializes each subspace's
    // k-cost array once; layer 2 reads it twice (argmin position + min).
    // Expressions are unchanged node-for-node, so costs/codes stay
    // bit-identical (pinned by vec_ann_ivfpq_fixed's oracle hash) and
    // everything stays inside whole-stage codegen.
    val costCols = (0 until m).map { j =>
      val cells = bySub(j).sortBy(_._2)
      require(cells.map(_._2) == (0 until k),
        s"PQ codebook not dense in sub $j")
      val sv = subvec("embedding", j, m)
      // ONE graft_pq_costs node per subspace (|c|²−2c·v over the literal
      // codebook) instead of k unrolled graft_dot cells — same doubles
      // (the expression folds |c|² left-to-right exactly as the driver
      // did), a fraction of the plan tree. See MatVecKernel.
      call_function("graft_pq_costs",
        typedLit(cells.map(_._3)), sv).as(s"_costs$j")
    }
    val base = frame.columns.map(col)
    frame.select(base ++ costCols: _*)
      .select(base ++ (0 until m).flatMap { j =>
        Seq((array_position(col(s"_costs$j"), array_min(col(s"_costs$j")))
            - 1).cast("int").as(s"c$j"),
          array_min(col(s"_costs$j")).as(s"cost$j"))
      }: _*)
  }

  /** Column `arr`'s `j`-th of `m` equal subvectors (`j` an int or a
    * column expression). */
  private def subvec(arr: String, j: Any, m: Int): Column =
    expr(s"slice($arr, $j * (size($arr) DIV $m) + 1, size($arr) DIV $m)")

  /** PQ encode body: (vec_id, c0, err0, …, c{m-1}, err{m-1}) of a
    * (vec_id, embedding) frame under codebook `cb` — the codes of
    * [[pqCodeCols]] and each subspace's squared reconstruction error
    * |x − c|² = |x|² + (|c|² − 2x·c), clamped at 0, in ONE map-side
    * projection; both terms are per-row folds. Shared by [[pqCodes]]
    * (trained codebook) and `vec_pq_codes_fixed` (literal codebook), so
    * the fixed twin's oracle hash checks the trained key's encoder. */
  private[operators] def pqEncode(e0: DataFrame,
      cb: Seq[(Int, Int, Seq[Double])], m: Int, k: Int): DataFrame =
    pqCodeCols(e0.select(col("vec_id"),
        Det.widen(col("embedding")).as("embedding")),
      cb, m, k)
      .select(col("vec_id") +: (0 until m).flatMap { j =>
        val sv = subvec("embedding", j, m)
        Seq(col(s"c$j"),
          greatest(dot(sv, sv) + col(s"cost$j"), lit(0.0)).as(s"err$j"))
      }: _*)

  /** Product-quantization codes over a (vec_id, embedding) frame — the
    * compression companion to [[ivfSearch]]. Each of `m` subspaces trains
    * a `k`-centroid codebook by the same deterministic k-means recipe
    * (init = the first k vectors' subvectors by vec_id, `iters` Lloyd
    * rounds of exact-decimal means — partition-order independent);
    * assignment minimizes squared L2 via the identity
    * argmin_c |x−c|² = argmin_c (|c|² − 2x·c). Output: [[pqEncode]]'s
    * one row per vector with `c0..c{m-1}` byte codes and
    * `err0..err{m-1}` per-subspace squared reconstruction errors
    * (per-row doubles from the same deterministic fold — no cross-row
    * double accumulation anywhere). Codebooks are memoized by
    * [[pqCodebook]] (train once, search many); only m·k·(d/m) doubles
    * ever reach the driver. */
  private[graft] def pqCodes(e0: DataFrame, m: Int, k: Int,
      iters: Int): DataFrame =
    pqEncode(e0, pqCodebook(e0, m, k, iters), m, k).orderBy(col("vec_id"))

  /** Trained-codebook memo for [[ivfSearch]], keyed by (planKey, params). */
  private val codebookMemo =
    new SessionMemo[(String, Int, Int), Seq[(Long, Seq[Double])]]

  /** (vec_id, u): [[Det.unitVec]]-normalized double vectors — cosine
    * becomes a plain dot product downstream. Shared by the IVF family and
    * the fixed-codebook twins. */
  private[operators] def normFrame(e0: DataFrame): DataFrame =
    e0.select(col("vec_id"), Det.widen(col("embedding")).as("v"))
      .select(col("vec_id"), unitVec(col("v")).as("u"))

  private def centFrameOf(s: SparkSession,
      cent: Seq[(Long, Seq[Double])]): DataFrame = {
    import s.implicits._
    cent.toDF("list_id", "cu")
  }

  /** Nearest coarse list per vector, computed MAP-SIDE: the codebook is
    * always a driver-side Seq (trained centroids are collected k-means
    * output; fixed codebooks are formulas), so each row's argmax is a
    * pure projection over literal centroid arrays — one fused dot per
    * centroid, `array_position(sims, array_max(sims))` for the argmax —
    * with NO crossJoin and NO corpus shuffle. The previous
    * crossJoin(broadcast)+groupBy(vec_id) formulation partial-aggregated
    * map-side but still exchanged one (vec_id, u) row per corpus vector:
    * at 100 TB that re-shuffles the whole corpus for what is logically a
    * per-row function. Tie-break is identical: array_position returns
    * the FIRST index holding the max, and `cent` is sorted by list_id,
    * so equal sims resolve to the smallest list_id — exactly the old
    * max(struct(sim, -list_id)) and the oracle's `ORDER BY sim DESC,
    * list_id ASC` row_number. `e` must be a [[normFrame]]. */
  private[graft] def nearestListMap(e: DataFrame,
      cent: Seq[(Long, Seq[Double])]): DataFrame = {
    val sorted = cent.sortBy(_._1)
    // ONE graft_matvec node over a single nested-array literal, not
    // nlists unrolled graft_dot subtrees: plan size is a scale cost —
    // AQE re-optimizes the remaining plan per materialized stage, and
    // the unrolled tree (nlists × dim literal doubles) made every such
    // pass crawl (see MatVecKernel). Element values are bit-identical
    // to the unrolled dots, pinned by the fixed-twin oracle hashes.
    val sims = call_function("graft_matvec",
      typedLit(sorted.map(_._2)), col("u"))
    // Lloyd rounds can drop an unassigned list, leaving list_ids sparse —
    // map the argmax POSITION back through the id table, never assume
    // position == id (the trainCoarse dense-init lesson).
    val ids = typedLit(sorted.map(_._1))
    e.withColumn("list_id",
      element_at(ids, array_position(sims, array_max(sims)).cast("int")))
  }

  /** Codebook-training sample cap (r16, VERDICT r15 task 4): Lloyd/PQ
    * training cost grew linearly with the corpus (41 s over 2 M vectors
    * at 100× grown — the wall at 1000×), while codebook QUALITY saturates
    * long before: k-means needs O(k) samples per centroid, and 2^18 ≈
    * 256 k vectors is ~16 k samples per centroid at nlists=16 — the
    * standard IVF practice (FAISS trains IVF/PQ on a bounded sample for
    * exactly this reason). 100 TB story: training cost is now O(cap),
    * flat in corpus size; only assignment (one map-side pass) scales. */
  private[operators] val TRAIN_SAMPLE_CAP = 262144L

  /** Deterministic hash-sampled training subset: keep vec_ids whose
    * xxhash64 lands on a 1-in-d residue, d = ceil(n / cap) — no RNG, no
    * sampleBy seed drift; the same corpus always trains on the same
    * subset (replays/resumes bit-match), and a grown corpus changes the
    * subset only because the DATA changed. n ≤ cap returns the frame
    * UNCHANGED (no filter node), so every fixture-SF plan and result —
    * including the hash-checked fixed twins — is byte-identical to r15.
    * Trained-codebook keys are rows-only by design (D3), so the grown-SF
    * result drift from sampling is graded where it belongs: AnnRecallSpec
    * gates recall@3 ≥ 0.85 and monotone nprobe recall. */
  private def trainSample(e0: DataFrame): DataFrame = {
    val n = countOf(e0)
    if (n <= TRAIN_SAMPLE_CAP) e0
    else {
      val d = (n + TRAIN_SAMPLE_CAP - 1) / TRAIN_SAMPLE_CAP
      e0.filter(pmod(xxhash64(col("vec_id")), lit(d)) === 0)
    }
  }

  /** Deterministic coarse k-means codebook over [[normFrame]] vectors —
    * first-nlists init by vec_id, `lloydIters` rounds of exact-decimal
    * means, memoized per (session, input plan, nlists, iters) so repeated
    * searches — the production train-once/search-many pattern, and
    * Bench's repeated runs — pay for Lloyd training exactly once. The
    * cached value is nlists × dim doubles; vectors never leave the
    * executors. Trains on [[trainSample]] (cap-bounded; identity at
    * fixture SF). Shared by [[ivfSearch]] and [[ivfpqSearch]]. */
  private[graft] def trainCoarse(e0: DataFrame, nlists: Int,
      lloydIters: Int): Seq[(Long, Seq[Double])] = {
    val s = e0.sparkSession
    codebookMemo(s, (planKey(e0), nlists, lloydIters))(
        TrainClock.timed("kmeans_coarse") {
      // inside the memo+clock: trainSample's sizing count() is training
      // work and must neither run on cache hits nor escape attribution.
      // PERSIST the materialized sample for the duration of training
      // (r16): without it every Lloyd round re-ran scan→hash-filter→
      // normalize over the FULL corpus, so sampling capped the rows fed
      // to the means but not the per-iteration scan cost — wall stayed
      // O(iters × corpus) instead of O(corpus + iters × cap). The cached
      // frame is ≤ ~cap unit vectors (identity-sized only at fixture SF,
      // where it is tiny); values are unchanged by caching because the
      // means are exact Decimal(38,0) sums — order-independent.
      val e = normFrame(trainSample(e0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      var c: Seq[(Long, Seq[Double])] =
        e.orderBy(col("vec_id")).limit(nlists).collect()
          .zipWithIndex
          .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }
          .toSeq
      for (_ <- 1 to lloydIters) {
        c = nearestListMap(e, c)
          .select(col("list_id"), posexplode(col("u")).as(Seq("pos", "c")))
          .groupBy(col("list_id"), col("pos"))
          .agg(exactMean(col("c")).as("c"))
          .groupBy(col("list_id"))
          .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
            .as("pc"))
          .select(col("list_id"), expr("transform(pc, x -> x.c)").as("cv"))
          .select(col("list_id"), unitVec(col("cv")).as("cu"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
          .sortBy(_._1)
      }
      c
      } finally e.unpersist(false)
    })
  }

  /** The query set of every IVF search: the first `nQueries` vectors of
    * a [[normFrame]] BY ORDER of vec_id (never `vec_id < n`, which
    * assumes dense 0-based ids — the PQ-init lesson), as (q_id, qu). */
  private[operators] def queryVecs(e: DataFrame, nQueries: Int): DataFrame =
    e.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("q_id"), col("u").as("qu"))

  /** (q_id, qu, list_id): each query's `nprobe` nearest coarse lists by
    * cosine, ties to the smallest list_id. */
  private def probes(qs: DataFrame, cent: Seq[(Long, Seq[Double])],
      nprobe: Int): DataFrame =
    qs.crossJoin(broadcast(centFrameOf(qs.sparkSession, cent)))
      .withColumn("sim", dot(col("qu"), col("cu")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("list_id").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("qu"), col("list_id"))

  /** Exact rerank: the top 3 candidates per query by cosine `qu`·`u`,
    * ties to the smallest vec_id, as (q_id, rn, neighbor_id, list_id,
    * carry…, cos_sim). */
  private def top3(cand: DataFrame, carry: String*): DataFrame =
    cand.withColumn("cos_sim", dot(col("qu"), col("u")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rn") <= 3)
      .select(Seq(col("q_id"), col("rn"), col("vec_id").as("neighbor_id"),
        col("list_id").cast("long").as("list_id")) ++ carry.map(col) :+
        col("cos_sim"): _*)

  /** IVF-flat search body over a [[normFrame]] `e` and coarse codebook
    * `cent`: every vector maps to its nearest list, each of the first
    * `nQueries` vectors probes its `nprobe` nearest lists, and the probed
    * candidates (the query itself excluded) rank by exact cosine — top 3
    * per query, unordered. Shared by [[ivfSearch]] (trained codebook) and
    * the fixed-codebook twins, whose oracle hash checks
    * this body.
    *
    * Map-side assignment carries u through, so the corpus is never
    * shuffled: the query vector rides the tiny broadcast probe rows, and
    * the per-query top-k prunes map-side (WindowGroupLimit) before its
    * k×queries-row exchange. */
  private[operators] def ivfTop3(e: DataFrame,
      cent: Seq[(Long, Seq[Double])], nprobe: Int,
      nQueries: Int): DataFrame =
    top3(broadcast(probes(queryVecs(e, nQueries), cent, nprobe))
      .join(nearestListMap(e, cent), "list_id")
      .filter(col("vec_id") =!= col("q_id")))

  /** IVF(-flat) approximate nearest-neighbor search over a
    * (vec_id, embedding) frame — shared by `vec_ann_ivf` and
    * AnnRecallSpec's trained-vs-untrained comparison.
    *
    * Codebook training is deterministic k-means: init = the first
    * `nlists` vectors by vec_id (seed-free, reproducible on any cluster),
    * then `lloydIters` Lloyd iterations. Assignment is the map-side
    * argmax of [[nearestListMap]]; new centroids are exact-decimal means
    * (components scaled by 2^53 and summed as DECIMAL(38,0), so the
    * result is partition-order independent), then unit-normalized. Only the tiny
    * (nlists × dim) codebook is ever collected to the driver per
    * iteration — the standard k-means pattern (MLlib does the same);
    * vectors never leave the executors. Lists that lose all members
    * simply drop out of the codebook.
    *
    * Search is [[ivfTop3]]: every vector joins its nearest list (inverted
    * file); a query probes its `nprobe` nearest lists and ranks only
    * those candidates — the probe-bounded scan that makes IVF
    * linear-in-candidates at 100 TB instead of linear-in-corpus.
    */
  private[graft] def ivfSearch(e0: DataFrame, nlists: Int, nprobe: Int,
      lloydIters: Int, nQueries: Int): DataFrame =
    ivfTop3(normFrame(e0), trainCoarse(e0, nlists, lloydIters), nprobe,
      nQueries).transform(df => Det.orderedDomain(df, col("q_id"), col("rn")))

  /** IVF-PQ search (Jégou et al., PAMI 2011): coarse IVF lists bound the
    * candidate set, PQ codes stand in for the vectors — candidates are
    * scored from a per-query LOOKUP TABLE (q_j · c_{j,code}) instead of
    * touching the raw embeddings. This is the memory shape of
    * billion-vector ANN: the search path reads 4 bytes + 1 list id per
    * vector; full vectors exist only at (optional) rerank. Codes are
    * trained on the unit-normalized vectors, so Σ_j LUT_j[code_j] ≈
    * cosine directly (no-residual IVFPQ — the FAISS
    * `encode_residual=false` variant; residual encoding would sharpen
    * approx scores but couples the two codebooks). approx_sim sums the m
    * LUT entries in fixed expression order — deterministic. Trains both
    * codebooks, then runs [[ivfpqTop3]]. Recall vs the exact-ranked
    * IVF-flat at identical (nlists, nprobe) is measured in
    * AnnRecallSpec; trained codebooks are engine-derived doubles → no
    * oracle (D3), but `vec_ann_ivfpq_fixed`'s oracle checks the body. */
  private[graft] def ivfpqSearch(e0: DataFrame, nlists: Int, nprobe: Int,
      m: Int, k: Int, iters: Int, nQueries: Int,
      rerank: Int = 128): DataFrame = {
    val e = normFrame(e0)
    ivfpqTop3(e, trainCoarse(e0, nlists, iters),
      pqCodebook(e.select(col("vec_id"), col("u").as("embedding")), m, k,
        iters), nprobe, m, k, nQueries, rerank)
      .transform(df => Det.orderedDomain(df, col("q_id"), col("rn")))
  }

  /** IVF-PQ search body over a [[normFrame]] `e`, coarse codebook `cent`
    * and dense PQ codebook `pqCb` (m subspaces × k codes): probe as in
    * [[ivfTop3]], score the probed candidates by ADC over a per-query
    * lookup table, keep the top `rerank` per query, rerank those by exact
    * cosine — top 3 per query, unordered, with (approx_sim, cos_sim).
    * Shared by [[ivfpqSearch]] (trained codebooks, depth 128) and
    * `vec_ann_ivfpq_fixed` (literal codebooks, depth 20), whose oracle
    * hash checks this body. */
  private[operators] def ivfpqTop3(e: DataFrame,
      cent: Seq[(Long, Seq[Double])], pqCb: Seq[(Int, Int, Seq[Double])],
      nprobe: Int, m: Int, k: Int, nQueries: Int,
      rerank: Int): DataFrame = {
    // ONE map-side projection computes the coarse list AND the m PQ
    // codes per row (both codebooks are driver-side literals): the
    // corpus is never shuffled anywhere in this search — candidates
    // flow scan → broadcast-probe join → LUT lookups → map-side-pruned
    // shortlist window.
    // Codes pack into ONE array column at assignment (r15): relaying one
    // array through the scoring joins instead of m int columns — same
    // values, marginally less consume plumbing.
    // The assign expressions themselves — graft_matvec coarse assignment
    // + m graft_pq_costs kernels + 2m argmin builtins — are FUSED into
    // the same zero-shuffle stage as the two broadcast joins and
    // graft_adc. Each native kernel emits one call into graft.plans.
    // Kernels, not an inline loop, so that stage's whole-stage method
    // reads 6405 bytes at m=8, k=16, under the 8000-byte JIT limit that
    // PlanSpec's codegen-fallback audit enforces. Splitting the stage
    // instead would be worse at scale — an exchange would shuffle the
    // corpus the design exists to never shuffle, and caching the assign
    // frame materializes corpus-sized state.
    val assign = pqCodeCols(nearestListMap(e, cent)
        .select(col("vec_id"), col("list_id"), col("u").as("embedding")),
      pqCb, m, k)
      .select(col("vec_id"), col("list_id"),
        array((0 until m).map(j => col(s"c$j")): _*).as("codes"))
    val qs = queryVecs(e, nQueries)
    // probe rows carry only (q_id, list_id): the query vector must NOT
    // fan out over every candidate — it re-joins from the tiny broadcast
    // qs frame for the reranked rows only
    val qProbe = probes(qs, cent, nprobe).select(col("q_id"), col("list_id"))
    // per-query LUT: nQueries × m × k partial dot products — tiny, and
    // the only place query subvectors meet centroids. One flat m·k array
    // per query (sorted by csub·k+code, so collect order cannot matter):
    // scoring is then ONE broadcast join plus one graft_adc loop, not m
    // chained joins.
    val cbDf = {
      val s = qs.sparkSession
      import s.implicits._
      pqCb.toDF("csub", "code", "cv")
    }
    val lutArr = qs.crossJoin(broadcast(cbDf))
      .withColumn("lutval", dot(subvec("qu", "csub", m), col("cv")))
      .groupBy(col("q_id"))
      .agg(expr(s"""transform(
        |  array_sort(collect_list(struct(csub * $k + code AS idx, lutval))),
        |  x -> x.lutval)""".stripMargin).as("lutarr"))
    // ADC shortlist → exact rerank (the production tail of IVF-PQ): the
    // LUT score is a shortlist builder, not the final ranking — the top
    // `rerank` approx candidates per query are reranked by exact cosine,
    // so raw vectors are read for `rerank` rows/query instead of every
    // candidate. Depth is THE recall lever once probes saturate: at
    // sf0.1 the 8×16 codes rank true neighbors outside the top 20 often
    // enough to cap recall@3 near 0.6 regardless of nprobe (r8 sweep);
    // 128 reads 0.82–0.88 across nprobe 1–8 for a still-tiny rerank
    // fetch (128 raw vectors/query vs the corpus-sized candidate scan).
    // Fused ADC score (r14, VERDICT r13 task 7): the m unrolled
    // element_at terms made the candidate-stream projection fall off the
    // fast execution path at m=8 (measured 25 s vs 1.5 s for the same
    // lookups behind a simple index on the 100×-grown candidate stream —
    // the whole 27 s "probe wall"); graft_adc is one small codegen'd
    // loop, bit-identical to the oracle's unrolled list_extract chain
    // (same j-ascending fold, same null semantics — see AdcScore).
    val shortlist = broadcast(qProbe).join(assign, "list_id")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(lutArr), "q_id")
      .withColumn("approx_sim", call_function("graft_adc", col("lutarr"),
        col("codes"), lit(k)))
      .withColumn("arn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("approx_sim").desc, col("vec_id").asc)))
      .filter(col("arn") <= rerank)
      .select(col("q_id"), col("vec_id"), col("list_id"),
        col("approx_sim"))
    // broadcast the ≤rerank·nQueries-row shortlist by construction
    // (ADVICE r7): without the hint the "corpus is never shuffled"
    // contract held only because the fixture-scale corpus scan fell under
    // the auto-broadcast threshold — at scale Spark could shuffle the
    // whole corpus by vec_id here.
    top3(broadcast(shortlist)
      .join(e.select(col("vec_id"), col("u")), "vec_id")
      .join(broadcast(qs), "q_id"), "approx_sim")
  }
}
