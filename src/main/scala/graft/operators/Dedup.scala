package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical dedup beyond the banded near-dup layer: cluster labels and
  * canonical-doc election over the candidate graph, pairwise shingle
  * Jaccard, prefix edit distance, duplicate-span removal, and the
  * minhash keep/incremental compositions.
  *
  * Design notes:
  *  - `text_ngram_jaccard` joins on the shingle value — candidate pairs
  *    are generated per shingle bucket, never all-pairs (frequency-capped
  *    at scale to bound hot shingles);
  *  - `text_editdist_pairs` blocks by (lang, length bucket) and verifies
  *    inside each capped block — cheap blocking, expensive verify.
  */
object Dedup {
  import Det._

  val qs: Seq[Q] = Seq(
    // Duplicate-span removal (the line/paragraph-level dedup of CCNet /
    // RefinedWeb, on 16-word spans since the fixture corpus has no line
    // structure): every span keeps only its globally-first occurrence
    // (min (doc_id, position)), later occurrences are cut and each doc is
    // reassembled from its surviving spans. One shuffle keyed by span
    // content — the same linear hash-partitioned shape as exact-dedup.
    // At 100 TB the window key would be a 128-bit span digest rather than
    // the span text (narrower shuffle rows, collision odds ~0 at 2^64+);
    // the fixture keeps the text itself so the oracle stays readable.
    Q("text_span_dedup",
      (s, dir) => {
        val chunks = Tables.table(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), posexplode(expr(
            """transform(sequence(0, (size(w) + 15) DIV 16 - 1),
              |  i -> array_join(slice(w, i * 16 + 1, 16), ' '))"""
              .stripMargin)).as(Seq("cid", "chunk")))
        val rn = chunks.withColumn("rn",
          row_number().over(Window.partitionBy(col("chunk"))
            .orderBy(col("doc_id"), col("cid"))))
        val perDoc = chunks.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"))
        val kept = rn.filter(col("rn") === 1).groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            array_join(expr(
              "transform(array_sort(collect_list(struct(cid, chunk)))," +
                " x -> x.chunk)"), " ").as("text_kept"))
        perDoc.join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chunks"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("text_kept"), lit("")).as("text_kept"))
          .orderBy(col("doc_id"))
      },
      Some(sql("""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, (len(ws) + 15) // 16 - 1)) AS cid,
        |    ws
        |  FROM d),
        |ch AS (
        |  SELECT doc_id, cid,
        |    array_to_string(ws[cid * 16 + 1 : (cid + 1) * 16], ' ')
        |      AS chunk
        |  FROM c),
        |r AS (
        |  SELECT doc_id, cid, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cid)
        |      AS rn
        |  FROM ch),
        |n AS (SELECT doc_id, count(*)::BIGINT AS n_chunks
        |      FROM ch GROUP BY doc_id),
        |k AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
        |        string_agg(chunk, ' ' ORDER BY cid) AS text_kept
        |      FROM r WHERE rn = 1 GROUP BY doc_id)
        |SELECT n.doc_id, n.n_chunks,
        |  coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
        |  coalesce(k.text_kept, '') AS text_kept
        |FROM n LEFT JOIN k USING (doc_id) ORDER BY doc_id"""))),

    // Near-dup cluster assignment: connected components over the dedup
    // candidate graph (sha256 and opening-3-token buckets), labelled by
    // [[dedupClusterLabels]]' min-label propagation; components merge
    // docs transitively linked through either key (in production the
    // same machinery runs over MinHash/SimHash candidate pairs). The
    // oracle computes the same closure with a recursive CTE.
    Q("text_dedup_cluster",
      (s, dir) => {
        val labels = dedupClusterLabels(s, dir)
        val sizes = labels.groupBy(col("label"))
          .agg(count(lit(1)).as("cluster_size"))
        labels.join(sizes, "label")
          .select(col("doc_id"), col("label").as("cluster_id"),
            col("cluster_size"))
          .orderBy(col("doc_id"))
      },
      Some(sql(s"""WITH RECURSIVE $sqlClusterCtes,
        |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
        |       FROM lbl GROUP BY cluster_id)
        |SELECT doc_id, cluster_id, cluster_size
        |FROM lbl JOIN sz USING (cluster_id)
        |ORDER BY doc_id"""))),

    // Canonical-doc election per near-dup cluster — the "which duplicate
    // survives" rule every production dedup needs after clustering: keep
    // the LONGEST doc (max n_chars, ties to the smallest doc_id — the
    // RefinedWeb-style keep-best rule; any deterministic score column
    // slots into the same window). Reuses the memoized cluster labels, so
    // Bench pays for label propagation once across both cluster keys; the
    // election itself is one window first_value clustered by cluster_id —
    // linear, shuffle keyed by cluster. Oracle = the same recursive-CTE
    // closure + the same window, hash-checked end to end.
    Q("text_dedup_cluster_canonical",
      (s, dir) => {
        val labels = dedupClusterLabels(s, dir)
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        val wc = Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        labels.select(col("doc_id"), col("label").as("cluster_id"))
          .join(d, "doc_id")
          .withColumn("canonical_id", first(col("doc_id")).over(wc))
          .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
            (col("doc_id") === col("canonical_id")).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(sql(s"""WITH RECURSIVE $sqlClusterCtes,
        |cc AS (
        |  SELECT l.doc_id, l.cluster_id, dd.n_chars,
        |    first_value(l.doc_id) OVER (PARTITION BY l.cluster_id
        |      ORDER BY dd.n_chars DESC, l.doc_id ASC) AS canonical_id
        |  FROM lbl l JOIN documents dd USING (doc_id))
        |SELECT doc_id, cluster_id, canonical_id,
        |  (doc_id = canonical_id) AS keep
        |FROM cc ORDER BY doc_id"""))),

    // Pairwise n-gram (3-shingle) Jaccard over shingle-bucket joins:
    // candidates come from shared shingles only — never an all-pairs
    // product. Exact bigint set arithmetic; division on identical doubles.
    // The engine-side join key is a 96-bit shingle FINGERPRINT
    // (xxhash64 ‖ murmur3), projected map-side right after shingle
    // generation so every downstream exchange — the distinct, the df-cap
    // window, the candidate-join repartition, and the join itself —
    // carries 12 bytes instead of a ~30-byte string (the 30× sweep put
    // 2.5 GB through these exchanges keyed by string). The ORACLE keeps
    // joining on the exact string: results agree unless two distinct
    // shingles collide in all 96 bits within one document's context,
    // p < 1e-15 at any realistic corpus — far below any other error
    // source. (An earlier md5-derived 60-bit cross-engine key was 40%
    // slower end-to-end: the md5 cost more than the byte saving bought.
    // xxhash64/murmur3 are codegen-native and ~free; they are usable
    // precisely BECAUSE the key never has to match DuckDB.)
    Q("text_ngram_jaccard",
      (s, dir) => {
        val shAll = Tables.table(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(w) - 2),
              |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
              |                 element_at(w, i + 2)))""".stripMargin))
            .as("sstr"))
          .select(col("doc_id"), xxhash64(col("sstr")).as("h64"),
            hash(col("sstr")).as("h32"))
        // The candidate-join exchange is sized by CORPUS, not by AQE's
        // byte-based coalescing: the join's OUTPUT (pairs) fans out ~20×
        // its input, so reducers sized to 64 MB of join input each carry
        // >1 GB of pair partial-aggregation state — the 30× grown sweep
        // spilled 1.9 GB exactly there. One task per ~125 docs keeps the
        // per-task pair map inside execution memory at any SF (resolves
        // to the plain core count at the shipped SFs); both join sides
        // repartition on the SAME (key, N), so they canonicalize equal
        // and exchange reuse ships the shingle frame once. The ~170M
        // candidate-pair rows at 30× (measured: Σ df·(df−1)/2 with max
        // df 400) are the irreducible exact-Jaccard intermediate — the
        // byte floor is the pair aggregation, not the shingle frame, so
        // collapsing the shingle exchanges further buys <10% (measured)
        // and a per-bucket pair EXPLODE defeats Catalyst's stats
        // (Generate has no cardinality → it broadcast the GB-scale pair
        // aggregate). The minhash/banded keys are the sampled scale path
        // past exactness.
        val nParts = math.min(4096L, math.max(
          s.sparkContext.defaultParallelism.toLong,
          PipelineOps.countOf(Tables.table(s, dir, "documents")) / 125)).toInt
        // Frequency cap: a shingle shared by d docs contributes O(d²)
        // candidate pairs — ubiquitous "stop-shingles" would be quadratic
        // hotspots at corpus scale and carry no dedup signal. (No-op on
        // the fixtures: max shingle df is 25 at sf0.1.)
        // Candidate rank cap (r16, VERDICT r15 task 6 — the re-scope that
        // retires this key's `weak` grade): below the df cap, a shingle
        // with df in [65, 1000] still contributed O(df²) pairs, which is
        // why the TOTAL pair count grew ~REP^1.7 on grown corpora (1.5 B
        // pairs / 31 GB shuffle at 100×) — exact-but-unshippable. Keep
        // only the FIRST 64 docs per shingle (row_number by doc_id —
        // deterministic, oracle-mirrorable); per-shingle candidates are
        // then ≤ C(64,2) = 2016 and the total is LINEAR in distinct
        // shingles at any scale. Jaccard is computed over the SAME capped
        // shingle inventory on both engines (n counts a doc's surviving
        // rows), so every emitted value stays exact and hash-checked; the
        // sampling only bounds WHICH candidates are enumerated — the
        // banded/minhash family remains the recall-graded dedup path,
        // while this key is now gate-includable at every SF instead of
        // exactness-tier-fenced. No-op at sf0.1 (max df 25 < 64).
        // Each doc's shingle-set size rides ON the shingle rows (one
        // doc_id-window count) instead of living in a separate `sizes`
        // frame joined back after the pair aggregation. The joined-back
        // shape was the 100× bench's REAL spill site: `inter` (hundreds
        // of millions of distinct pairs) SMJ-joined sizes TWICE through
        // 256-task ENSURE_REQUIREMENTS exchanges — 11.3 GB re-shuffled
        // and 4.7 GB of sort spill per run, dwarfing the pair shuffle
        // itself — because the jaccard>0.5 filter can only run once
        // na/nb are attached. Carrying n costs ~16 bytes on each raw
        // pair row (~+20% on the pair exchange, lz4-compressed) and
        // deletes BOTH giant post-joins: the aggregate groups by
        // (doc_a, doc_b, na, nb) — same cardinality, n is functional on
        // doc_id — and the filter runs immediately on the agg output.
        val wSh = Window.partitionBy(col("h64"), col("h32"))
        val sh = shAll.distinct()
          .withColumn("sdf", count(lit(1)).over(wSh))
          .filter(col("sdf") <= 1000)
          .drop("sdf")
          .withColumn("rnk", row_number().over(
            wSh.orderBy(col("doc_id"))))
          .filter(col("rnk") <= 64)
          .drop("rnk")
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("doc_id"))))
        val shp = sh.repartition(nParts, col("h64"), col("h32"))
        val rawPairs = shp.select(col("doc_id").as("doc_a"),
            col("n").as("na"), col("h64"), col("h32"))
          .join(shp.select(col("doc_id").as("doc_b"),
            col("n").as("nb"), col("h64"), col("h32")), Seq("h64", "h32"))
          .filter(col("doc_a") < col("doc_b"))
        // The PAIR-AGGREGATION exchange must be corpus-sized too (r13 —
        // found by the first full 100× grown BENCH): AQE can only split
        // an agg exchange up to coalescePartitions.initialPartitionNum
        // (8×cores = 256 here), so at 100× grown the 1.50 B candidate
        // pairs (measured: Σ df·(df−1)/2, max df 1196, cap 1000) landed
        // ~5.9 M rows per final-agg task and the hash agg fell back to
        // sort + 17.15 GB disk spill — while the join stage, already
        // nParts-sized, stayed in memory. When nParts exceeds what AQE
        // can provide, repartition the pair stream on the group keys
        // explicitly: the agg then reuses that exact partitioning (no
        // extra exchange) at ~375 k pairs/task. Below that threshold the
        // repartition would only ADD an exchange (map-side partial agg
        // compresses pairs ~not at all — a pair repeats only when two
        // docs share ≥2 shingles in ONE task's buckets — so bytes are
        // unchanged either way); fixture SFs keep their exact r12 plan.
        // ADVICE r13: initialPartitionNum only takes effect when AQE AND
        // partition coalescing are both on — with either off, the agg
        // exchange gets plain numShufflePartitions, so comparing against
        // a dormant conf value could skip the explicit repartition in
        // exactly the configuration that needs it most.
        val aqeOn = s.sessionState.conf.adaptiveExecutionEnabled &&
          s.sessionState.conf.coalesceShufflePartitionsEnabled
        val initN = (if (aqeOn) s.conf.getOption(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
          else None)
          .map(_.toInt)
          .getOrElse(s.sessionState.conf.numShufflePartitions)
        val pairs = if (nParts > initN)
          rawPairs.repartition(nParts, col("doc_a"), col("doc_b"))
        else rawPairs
        pairs
          .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
          .agg(count(lit(1)).as("inter_cnt"))
          .withColumn("jaccard", col("inter_cnt").cast("double")
            / (col("na") + col("nb") - col("inter_cnt")))
          .filter(col("jaccard") > 0.5)
          .select(col("doc_a"), col("doc_b"), col("inter_cnt"),
            col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(sql("""WITH sh_all AS (
        |  SELECT DISTINCT doc_id, ws[k] || ' ' || ws[k+1] || ' ' || ws[k+2]
        |    AS s
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 2)) AS k
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |              FROM documents WHERE len(string_split(text, ' ')) >= 3)
        |       )),
        |sh AS (
        |  SELECT doc_id, s FROM (
        |    SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS sdf,
        |      row_number() OVER (PARTITION BY s ORDER BY doc_id) AS rnk
        |    FROM sh_all)
        |  WHERE sdf <= 1000 AND rnk <= 64),
        |sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*)::BIGINT AS inter_cnt
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter_cnt,
        |  (CAST(inter_cnt AS DOUBLE) / (sa.n + sb.n - inter_cnt)) AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE (CAST(inter_cnt AS DOUBLE) / (sa.n + sb.n - inter_cnt)) > 0.5
        |ORDER BY doc_a, doc_b"""))),

    // Fuzzy near-dup via edit distance on document prefixes, blocked by
    // (lang, length-bucket) — the classic cheap-blocking + expensive-
    // verify dedup shape (never all-pairs; bucket sizes bound the O(b²)
    // verify work). Exact integer distance → oracle-checked.
    Q("text_editdist_pairs",
      (s, dir) => {
        val dAll = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            (col("n_chars") / 20).cast("long").as("len_bucket"),
            substring(col("text"), 1, 40).as("prefix"))
        // Bucket-size cap (same guard as the shingle df cap above): the
        // (lang, modal-length) bucket is unbounded at corpus scale — an
        // O(b²) verify inside a million-doc bucket is a quadratic hotspot
        // on a skewed key. Docs in over-full buckets are dropped from the
        // fuzzy pass (exact/minhash dedup still covers them). No-op on the
        // fixtures: max bucket is 102 docs at sf0.1.
        val d = dAll
          .withColumn("bsize", count(lit(1)).over(
            Window.partitionBy(col("lang"), col("len_bucket"))))
          .filter(col("bsize") <= 1000)
          .drop("bsize")
        // The O(b²) levenshtein verify runs on the probe side of the
        // broadcast join. Without the explicit repartition, AQE coalesces
        // the (tiny, skinny) probe rows into ONE post-shuffle partition
        // and the whole verify goes single-threaded (profiled: 7.5 s at
        // sf0.1, all in one task's levenshteinDistance). An explicit
        // partition count is exempt from AQE coalescing, so the verify
        // spreads across the cluster; the shuffled rows are 4 narrow
        // columns — the cheap side of the cheap-block/expensive-verify
        // trade. NOTE the broadcast(b) hint below pins a deterministic
        // fast plan at bench scale but ships the whole capped doc set; at
        // true corpus scale drop the hint — the planner's shuffle join
        // partitions by (lang, len_bucket), where the 1000-doc bucket cap
        // bounds every reducer's verify work.
        val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
        val a = d.select(col("doc_id").as("doc_a"), col("lang"),
          col("len_bucket"), col("prefix").as("pa"))
          .repartition(nPart, col("doc_a"))
        val b = d.select(col("doc_id").as("doc_b"),
          col("lang").as("b_lang"), col("len_bucket").as("b_bucket"),
          col("prefix").as("pb"))
        a.join(broadcast(b), col("lang") === col("b_lang")
            && col("len_bucket") === col("b_bucket")
            && col("doc_a") < col("doc_b"))
          .withColumn("edit_dist",
            levenshtein(col("pa"), col("pb")).cast("long"))
          .filter(col("edit_dist") <= 20)
          .select(col("lang"), col("doc_a"), col("doc_b"), col("edit_dist"))
          .orderBy(col("lang"), col("doc_a"), col("doc_b"))
      },
      Some(sql("""WITH d_all AS (
        |  SELECT doc_id, lang, n_chars // 20 AS len_bucket,
        |    substring(text, 1, 40) AS prefix
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, lang, len_bucket, prefix FROM (
        |    SELECT *, count(*) OVER (PARTITION BY lang, len_bucket) AS bsize
        |    FROM d_all)
        |  WHERE bsize <= 1000)
        |SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  levenshtein(a.prefix, b.prefix)::BIGINT AS edit_dist
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND a.len_bucket = b.len_bucket
        |  AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.prefix, b.prefix) <= 20
        |ORDER BY a.lang, doc_a, doc_b"""))),

    // End-to-end dedup pipeline composition: exact-hash canonical keep +
    // near-dup drop from the banded-minhash candidates (est >= 0.875 — at
    // least 14/16 minhashes agree). Single-pass deterministic drop rule:
    // the higher doc_id of every strong candidate pair is dropped. Shapes:
    // hash-groupBy (shuffle on content hash) + LSH band join — nothing
    // quadratic, the composition a 100 TB corpus dedup actually runs.
    // Sketch-dependent → no oracle; keep-set invariants are unit-tested.
    Q("pipeline_dedup_keep",
      (s, dir) => TextOps.minhash.keep(s, dir, minMatch = 14),
      None),

    // Incremental dedup — the highest-frequency production pattern
    // (VERDICT r3 task 4): dedup a NEW batch (source = 'src1') *against*
    // the existing corpus (everything else) without re-deduping the
    // corpus. A batch doc is dropped when (a) its exact content hash
    // already exists in the corpus (hash anti-join — at scale the corpus
    // side is a pre-computed hash index, not a rescan), or (b) it forms a
    // strong LSH near-dup candidate pair (est_jaccard >= 0.875) with a
    // corpus doc — the same banded-minhash candidates pipeline_dedup_keep
    // uses, filtered to cross-boundary pairs only. Batch-internal dups
    // are deliberately kept: that is pipeline_dedup_keep's job on the
    // batch itself. Shapes: hash-partitioned anti-join + bucketed band
    // join + id semi/anti joins — nothing quadratic, nothing collected.
    // Sketch-dependent → no oracle; keep-set invariants unit-tested.
    Q("pipeline_dedup_incremental",
      (s, dir) => TextOps.minhash.incremental(s, dir, minMatch = 14),
      None),
  )

  /** Connected-component labels over the dedup candidate graph — the
    * Pregel-style min-label propagation shared by `text_dedup_cluster`
    * and `text_dedup_cluster_canonical`. Edges are star edges to each
    * bucket's min doc (sha256 bucket + opening-3-token bucket) — LINEAR
    * in corpus size, never all-pairs-within-bucket. Each superstep is one
    * shuffle round; the convergence check reads back a single decimal
    * sum; labels only ever decrease, so the sum strictly decreases until
    * fixpoint. Pointer doubling (label := label(label)) makes convergence
    * O(log diameter) supersteps; `localCheckpoint` cuts superstep lineage
    * so plans stay bounded. Returns (doc_id, label), label = min doc_id
    * of the component.
    *
    * Labels are materialized ONCE per (application, sf dir) to a temp
    * parquet and then only read — via [[graft.Materialize]] (shared with
    * Layouts.partitionedDocs), which owns the collision-proof path rule
    * and the write-then-record locking discipline. Materialize-then-reuse
    * is also the honest 100-TB pattern: a production dedup writes its
    * cluster assignment table and every downstream consumer reads it,
    * rather than re-running propagation. */
  private[graft] def dedupClusterLabels(
      s: SparkSession, dir: String): DataFrame =
    graft.Materialize.once(s, "clusters", dir) { path =>
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("hk"),
          expr("concat_ws(' ', slice(split(text, ' '), 1, 3))").as("pk"))
      val hRoot = d.groupBy(col("hk")).agg(min(col("doc_id")).as("hroot"))
      val pRoot = d.groupBy(col("pk")).agg(min(col("doc_id")).as("proot"))
      val star = d.join(hRoot, "hk")
        .select(col("doc_id"), col("hroot").as("nbr"))
        .union(d.join(pRoot, "pk")
          .select(col("doc_id"), col("proot").as("nbr")))
        .filter(col("doc_id") =!= col("nbr"))
      val undirected = star
        .union(star.select(col("nbr").as("doc_id"), col("doc_id").as("nbr")))
        .distinct()
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("label").cast(
          org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
          .head.getDecimal(0)
      var labels = d.select(col("doc_id"), col("doc_id").as("label"))
      var prev: java.math.BigDecimal = null
      var cur = labelSum(labels)
      var iters = 0
      while ((prev == null || prev.compareTo(cur) != 0) && iters < 25) {
        val viaNbr = undirected
          .join(labels.select(col("doc_id").as("nbr"), col("label")),
            "nbr")
          .select(col("doc_id"), col("label"))
        val oneHop = labels.union(viaNbr).groupBy(col("doc_id"))
          .agg(min(col("label")).as("label"))
        // pointer doubling — label := label(label) — halves the remaining
        // chain length each round: a 25-round cap covers diameters past
        // 2^24. (Labels are always existing doc_ids, so the self-join is
        // total; label(label) ≤ label keeps the decrease monotone.)
        labels = oneHop.as("l1")
          .join(oneHop.select(col("doc_id").as("label"),
            col("label").as("label2")), "label")
          .select(col("doc_id"), col("label2").as("label"))
          .localCheckpoint() // cut superstep lineage, keep plans bounded
        prev = cur
        cur = labelSum(labels)
        iters += 1
      }
      require(prev != null && prev.compareTo(cur) == 0,
        s"dedup cluster propagation did not converge in $iters rounds")
      labels.write.mode("overwrite").parquet(path)
    }

  /** Shared recursive-CTE closure for the cluster keys' oracles: the
    * same star edges + transitive min-label reachability as
    * [[dedupClusterLabels]], ending in `lbl(doc_id, cluster_id)`.
    * A `def` (not a val) deliberately: `qs` initializes first and would
    * read a forward val as null (the CW_P lesson, ROUND6_NOTES §4). */
  private def sqlClusterCtes: String =
    """d AS (
      |  SELECT doc_id, sha256(text) AS hk,
      |    array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')
      |      AS pk
      |  FROM documents),
      |hr AS (SELECT hk, min(doc_id) AS r FROM d GROUP BY hk),
      |pr AS (SELECT pk, min(doc_id) AS r FROM d GROUP BY pk),
      |star AS (
      |  SELECT d.doc_id AS a, hr.r AS b FROM d JOIN hr USING (hk)
      |    WHERE d.doc_id <> hr.r
      |  UNION
      |  SELECT d.doc_id AS a, pr.r AS b FROM d JOIN pr USING (pk)
      |    WHERE d.doc_id <> pr.r),
      |e AS (SELECT a, b FROM star UNION SELECT b AS a, a AS b FROM star),
      |reach(id, lab) AS (
      |  SELECT doc_id, doc_id FROM d
      |  UNION
      |  SELECT e.a, r.lab FROM reach r JOIN e ON e.b = r.id),
      |lbl AS (SELECT id AS doc_id, min(lab) AS cluster_id
      |        FROM reach GROUP BY id)""".stripMargin
}
