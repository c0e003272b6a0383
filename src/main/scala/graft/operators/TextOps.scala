package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.1-I — text / LLM-data-pipeline operators over `documents`
  * (SURVEY.md:265-273; mandated by the north star: dedup + text analysis).
  *
  * Literature: MinHash resemblance sketches are Broder (1997, "On the
  * resemblance and containment of documents"); banded LSH candidate
  * generation follows Gionis, Indyk & Motwani (VLDB 1999) as popularized
  * in Mining of Massive Datasets ch. 3.
  *
  * Tokenization is whitespace `split` (the corpus has no punctuation).
  * TF-IDF is pure DataFrame algebra (two aggregations + a join + a window),
  * no MLlib. MinHash near-dup is the LSH-banded shape (VERDICT r1): shingle
  * → k=16 minhashes → 8 bands × 2 rows → pairs within a capped
  * (band, band-hash) bucket ([[NearDup]]) — candidate generation is
  * hash-partitioned and NEVER all-pairs, which is the property that
  * survives 100 TB. Band buckets are the skew risk at scale: a degenerate
  * shingle set (e.g. empty docs) collapses to one bucket, which the cap
  * drops whole.
  */
object TextOps {
  import Det._

  private val NUM_HASHES = 16
  private val BAND_ROWS = 2 // 8 bands × 2 rows: LSH threshold ≈ (1/8)^(1/2) ≈ 0.35

  /** (doc_id, mh: array[16] of min-hashes over 3-word shingles).
    *
    * Computed entirely per row — shingle set and the 16 minima are array
    * expressions over the document's own tokens, so sketching is a
    * ZERO-SHUFFLE map stage (the earlier explode→distinct→groupBy
    * formulation paid a full shuffle of every (doc, shingle) pair; at
    * corpus scale that shuffle is the sketch cost). Values are identical:
    * same xxhash64 per shingle, same per-doc minima.
    */
  private def sketches(s: SparkSession, dir: String,
      carry: Seq[String] = Nil): DataFrame = {
    val cc = carry.map(col)
    val mhExprs = (0 until NUM_HASHES).map(i =>
      expr(s"array_min(transform(sh, x -> xxhash64($i, x)))"))
    Tables.table(s, dir, "documents")
      .select(col("doc_id") +: cc :+ split(col("text"), " ").as("w"): _*)
      .withColumn("sh", expr(
        """array_distinct(transform(sequence(1, greatest(size(w) - 2, 1)),
          |  i -> concat_ws(' ', element_at(w, i),
          |                 element_at(w, least(i + 1, size(w))),
          |                 element_at(w, least(i + 2, size(w))))))"""
          .stripMargin))
      .select(col("doc_id") +: cc :+ array(mhExprs: _*).as("mh"): _*)
  }

  /** The xxhash64 minhash family over [[sketches]]: 8 bands × 2 minima,
    * each band's pair hashed to its bucket key; pairs match on the count
    * of equal minima out of [[NUM_HASHES]]. */
  private[operators] val minhash: NearDup.Family = NearDup.Family(
    NUM_HASHES,
    (s, dir, carry) => sketches(s, dir, carry)
      .select(col("doc_id") +: carry.map(col) :+ col("mh") :+ posexplode(expr(
        s"""transform(sequence(0, ${NUM_HASHES / BAND_ROWS - 1}),
           |  b -> xxhash64(b, element_at(mh, b * $BAND_ROWS + 1),
           |                element_at(mh, b * $BAND_ROWS + 2)))"""
          .stripMargin)).as(Seq("band", "bkey")): _*),
    (x, y) => aggregate(
      zip_with(x("mh"), y("mh"), (u, v) => when(u === v, 1).otherwise(0)),
      lit(0), _ + _))

  val qs: Seq[Q] = Seq(
    Q("text_wordcount",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(50),
      Some(sql("""SELECT word, count(*)::BIGINT AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word
        |      FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 50"""))),

    // Zipf/vocabulary coverage curve: for the top-100 word types, what
    // share of the TOTAL token mass do ranks 1..k cover — the number a
    // tokenizer-sizing pass reads off ("how big a vocab for 95%
    // coverage"). Rank + running sum via DistRank (r12, VERDICT r11 task
    // 1): the old unpartitioned window was a single-task sort over the
    // FULL vocabulary, which grows with the corpus (Heaps' law) — the
    // rank range-partitions instead. The whole-frame total is a scalar
    // subquery over the same `freq`, whose aggregate exchange it reuses,
    // so the corpus is still tokenized once (the shared-subtree trap the
    // old single-window shape existed to avoid).
    // Every corpus-proportional step is a map-side partial count; counts
    // stay exact longs; the only double op is one long/long division
    // (exactly rounded IEEE on both engines) + round(…, 6).
    Q("text_vocab_coverage",
      (s, dir) => {
        val freq = Tables.table(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("freq"))
        val total = freq.agg(sum(col("freq"))).scalar()
        // ranks are unique, so the top 100 by rank are ranks 1..100: a
        // top-k (per-partition heaps, no range sort) takes them in order
        DistRank.withRankAndCum(freq,
            Seq(col("freq").desc, col("word").asc), "rank",
            Seq("freq" -> "cum_freq"))
          .orderBy(col("rank")).limit(100)
          .select(col("rank"), col("word"), col("freq"), col("cum_freq"),
            round(col("cum_freq") / total, 6).as("coverage_r6"))
      },
      Some(sql("""WITH freq AS (
        |  SELECT word, count(*)::BIGINT AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  GROUP BY word),
        |ranked AS (
        |  SELECT word, freq,
        |    row_number() OVER (ORDER BY freq DESC, word ASC) AS rank,
        |    sum(freq) OVER (ORDER BY freq DESC, word ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum_freq,
        |    sum(freq) OVER ()::BIGINT AS total
        |  FROM freq)
        |SELECT rank, word, freq, cum_freq,
        |  round(cum_freq / total, 6) AS coverage_r6
        |FROM ranked WHERE rank <= 100 ORDER BY rank"""))),

    Q("text_ngrams",
      (s, dir) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("bigram").asc)
        // zip_with over two shifted slices beats transform+element_at by
        // ~4x cold (no per-index bounds checks, cheaper codegen)
        Tables.table(s, dir, "documents")
          .select(col("lang"), split(col("text"), " ").as("w"))
          .select(col("lang"), explode(expr(
            """zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1),
              |  (a, b) -> concat(a, ' ', b))""".stripMargin)).as("bigram"))
          .groupBy(col("lang"), col("bigram"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 20)
          .select(col("lang"), col("rn"), col("bigram"), col("cnt"))
          .transform(df => orderedDomain(df, col("lang"), col("rn")))
      },
      Some(sql("""WITH grams AS (
        |  SELECT lang, ws[k] || ' ' || ws[k + 1] AS bigram
        |  FROM (SELECT lang, ws,
        |          unnest(generate_series(1, len(ws) - 1)) AS k
        |        FROM (SELECT lang, string_split(text, ' ') AS ws
        |              FROM documents))),
        |counted AS (
        |  SELECT lang, bigram, count(*)::BIGINT AS cnt,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, bigram ASC) AS rn
        |  FROM grams GROUP BY lang, bigram)
        |SELECT lang, rn, bigram, cnt FROM counted
        |WHERE rn <= 20 ORDER BY lang, rn"""))),

    // TF-IDF, pure DataFrame algebra. Ranking uses the ROUNDED score so a
    // last-ulp ln() divergence cannot flip the per-doc order (D7 tie-break
    // on word).
    Q("text_tf_idf",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val tokens = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        // tf feeds both the df dictionary build and the scoring join's
        // probe side, so the corpus is tokenized twice per run. Measured
        // r17 and deliberately KEPT lazy: a localCheckpoint of the
        // (doc_id, word, tf) frame (the countmin/pretokenize treatment)
        // won +7% at sf0.1 but lost 27% on min_sec at 30× grown — the
        // pinned-frame materialization barrier costs more than the saved
        // tokenize pass once the pair frame outgrows the fixture, and
        // unlike pretokenize there is no third consumer to amortize it.
        val tf = tokens.groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("word"))
          .agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(df, "word").crossJoin(broadcast(n))
          .withColumn("tfidf_r6",
            round(col("tf") * log(col("n_docs") / col("df")), 6))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf_r6").desc, col("word").asc)
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .select(col("doc_id"), col("rn"), col("word"), col("tf"),
            col("tfidf_r6"))
          .orderBy(col("doc_id"), col("rn"))
      },
      Some(sql("""WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf
        |       FROM tokens GROUP BY doc_id, word),
        |df AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word, tf.tf,
        |    round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf_r6
        |  FROM tf JOIN df USING (word) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, word, tf, tfidf_r6,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf_r6 DESC, word ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, rn, word, tf, tfidf_r6 FROM ranked
        |WHERE rn <= 5 ORDER BY doc_id, rn"""))),

    // Exact dedup: one row per distinct content hash with its multiplicity
    // and canonical (min) doc_id — the "keep list" of a dedup pass.
    Q("text_exact_dedup",
      (s, dir) => Tables.table(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("content_sha256"))
        .agg(count(lit(1)).as("dup_cnt"), min(col("doc_id")).as("canonical"))
        .orderBy(col("content_sha256")),
      Some(sql("""SELECT sha256(text) AS content_sha256,
        |count(*)::BIGINT AS dup_cnt, min(doc_id) AS canonical
        |FROM documents GROUP BY sha256(text)
        |ORDER BY content_sha256"""))),

    // Dedup yield report: the cluster-size histogram of exact-duplicate
    // groups — the "what would dedup save" diagnostic a corpus pass emits
    // before committing to a keep-set. Two cascaded two-phase aggregates
    // (content hash, then cluster size); `removable_docs` = docs minus one
    // canonical per cluster. Same scale class as text_exact_dedup.
    Q("pipeline_dedup_stats",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(sha2(col("text"), 256).as("h"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("cluster_size"), sum(col("toks")).as("toks"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_docs"),
          sum(col("toks")).as("n_tokens"))
        .withColumn("removable_docs", col("n_docs") - col("n_clusters"))
        .orderBy(col("cluster_size")),
      Some(sql("""WITH cl AS (
        |  SELECT sha256(text) AS h, count(*)::BIGINT AS cluster_size,
        |    sum(len(string_split(text, ' ')))::BIGINT AS toks
        |  FROM documents GROUP BY sha256(text))
        |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
        |  sum(cluster_size)::BIGINT AS n_docs,
        |  sum(toks)::BIGINT AS n_tokens,
        |  (sum(cluster_size) - count(*))::BIGINT AS removable_docs
        |FROM cl GROUP BY cluster_size ORDER BY cluster_size"""))),

    // The dataset card: the one-row corpus datasheet a curation run
    // publishes (docs/tokens/chars, lang+source cardinalities, exact-dup
    // ratio, token-length range). Single scan + one global aggregate;
    // the two distinct-counts are exact (expand-based) over
    // fixture-bounded domains, and dup detection reuses the sha256
    // canonicalization. Ratios are half-up 6dp BIGINT divisions — no
    // double chain.
    Q("pipeline_dataset_card",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("lang"), col("source"), col("n_chars"),
          sha2(col("text"), 256).as("h"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .agg(
          count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"),
          min(col("toks")).as("min_tokens"),
          max(col("toks")).as("max_tokens"))
        .select(col("n_docs"), col("n_tokens"), col("n_chars"),
          col("n_langs"), col("n_sources"), col("n_dup_docs"),
          (expr("(2000000 * n_dup_docs + n_docs) DIV (2 * n_docs)")
            .cast("double") / 1000000.0).as("dup_ratio_r6"),
          (expr("(2000000 * n_tokens + n_docs) DIV (2 * n_docs)")
            .cast("double") / 1000000.0).as("mean_tokens_r6"),
          col("min_tokens"), col("max_tokens")),
      Some(sql("""WITH d AS (
        |  SELECT lang, source, sha256(text) AS h,
        |    len(string_split(text, ' '))::BIGINT AS toks, n_chars
        |  FROM documents),
        |agg AS (
        |  SELECT count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS n_tokens,
        |    sum(n_chars)::BIGINT AS n_chars,
        |    count(DISTINCT lang)::BIGINT AS n_langs,
        |    count(DISTINCT source)::BIGINT AS n_sources,
        |    (count(*) - count(DISTINCT h))::BIGINT AS n_dup_docs,
        |    min(toks)::BIGINT AS min_tokens, max(toks)::BIGINT AS max_tokens
        |  FROM d)
        |SELECT n_docs, n_tokens, n_chars, n_langs, n_sources, n_dup_docs,
        |  ((2000000 * n_dup_docs + n_docs) // (2 * n_docs))::DOUBLE
        |    / 1000000.0 AS dup_ratio_r6,
        |  ((2000000 * n_tokens + n_docs) // (2 * n_docs))::DOUBLE
        |    / 1000000.0 AS mean_tokens_r6,
        |  min_tokens, max_tokens
        |FROM agg"""))),

    Q("text_length_stats",
      (s, dir) => Tables.table(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1)))
            .as("avg_chars"),
          max(size(split(col("text"), " "))).cast("long").as("max_tokens"),
          sum(when(col("n_chars") === length(col("text")), 1L).otherwise(0L))
            .as("n_valid"))
        .orderBy(col("lang"), col("source")),
      Some(sql("""SELECT lang, source, count(*)::BIGINT AS cnt,
        |CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |(CAST(sum(n_chars) AS DOUBLE) / count(*)) AS avg_chars,
        |CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
        |CAST(count(*) FILTER (WHERE n_chars = length(text)) AS BIGINT)
        |  AS n_valid
        |FROM documents GROUP BY lang, source ORDER BY lang, source"""))),

    Q("text_lang_filter",
      (s, dir) => Tables.table(s, dir, "documents")
        .filter(col("lang") =!= "en")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("token_cnt"))
        .orderBy(col("doc_id")),
      Some(sql("""SELECT doc_id, lang, source, n_chars,
        |len(string_split(text, ' '))::BIGINT AS token_cnt
        |FROM documents WHERE lang <> 'en' ORDER BY doc_id"""))),

    // MinHash + banded LSH near-dup candidates. Hash-seed-dependent → no
    // oracle (D3); Jaccard-estimate property is ScalaCheck-tested.
    Q("text_minhash_neardup",
      (s, dir) => minhash.pairs(s, dir)
        .orderBy(col("doc_a"), col("doc_b")),
      None),

    // Oracle-checked minhash signatures over the same 3-word shingles the
    // xxhash64 sketch uses — makes the minhash family's MATH hash-checkable
    // against DuckDB even though the production sketch (`sketches` above)
    // stays on the cheaper xxhash64. One md5-derived base hash per shingle
    // (cross-engine identical, like text_countmin_topk's rows), then 8
    // Carter-Wegman permutations h_i = (a_i·h + b_i) mod p over p = 2^31-1
    // — exact BIGINT arithmetic in both engines, so the cost is ONE md5
    // per shingle, not eight (8× md5 measured 3.7 s vs ~1 s at sf0.1).
    // Shape: explode shingles once, project the base hash, then 8
    // codegen'd min-aggregates over the projected column — the per-row-HOF
    // alternative would inline the hash into all 8 minima (the
    // text_simhash lesson). No distinct: min over a multiset equals min
    // over its support. 8 scalar columns, not one array: the driver's
    // column hasher (and preflight) compare scalar cells.
    Q("text_minhash_sig",
      (s, dir) => cwSignatures(s, dir).orderBy(col("doc_id")),
      Some(sql(s"""WITH $sqlCwSigCtes
        |SELECT doc_id, ${(0 until 8).map(i => s"mh$i").mkString(", ")}
        |FROM sig ORDER BY doc_id"""))),

    // The banded-LSH near-dup JOIN, oracle-checked end-to-end: 4 bands ×
    // 2 rows over the Carter–Wegman signatures (band key = mh·p + mh —
    // collision-free pairing below 2^62), bucket-size cap 1000 mirrored
    // in the oracle, pair est_jaccard = matching-minima fraction (k/8 —
    // a power-of-two division, exact in both engines). This is the same
    // candidate-join shape as `text_minhash_neardup` but every number in
    // it is hash-checked against DuckDB — the sketch JOIN is no longer
    // trust-the-tests. LSH threshold ≈ (1/4)^(1/2) = 0.5.
    Q("text_neardup_banded",
      (s, dir) => carterWegman.pairs(s, dir)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(sql(s"""WITH $sqlCwSigCtes, $sqlCwPairCtes
        |SELECT doc_a, doc_b, est_jaccard FROM pairs
        |ORDER BY doc_a, doc_b"""))),

    // The full dedup-keep composition — exact sha256 canonicalization plus
    // drop-the-larger-of-strong-near-dup-pairs — oracle-checked: the CW
    // twin of `pipeline_dedup_keep` (whose xxhash64 sketches keep it
    // rows-only by design). est >= 0.875 means >= 7 of 8 minima match.
    Q("pipeline_dedup_keep_banded",
      (s, dir) => carterWegman.keep(s, dir, minMatch = 7),
      Some(sql(s"""WITH $sqlCwSigCtes, $sqlCwPairCtes,
        |keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
        |drops AS (
        |  SELECT DISTINCT doc_b AS doc_id FROM pairs
        |  WHERE est_jaccard >= 0.875)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d
        |JOIN keep USING (doc_id)
        |ANTI JOIN drops USING (doc_id)
        |ORDER BY doc_id"""))),

    // Incremental batch-vs-corpus dedup, oracle-checked: the CW twin of
    // `pipeline_dedup_incremental` (whose xxhash64 sketches keep it
    // rows-only by design). Batch = source 'src1'; a batch doc drops
    // when its sha256 already exists in the corpus or it forms a strong
    // (est >= 0.875) banded candidate pair with a corpus doc;
    // batch-internal dups are deliberately kept. With this, every stage
    // of the dedup family — signatures, banded join, keep-set, and the
    // incremental composition — has a hash-checked formulation.
    //
    // The candidate join is batch-side × corpus-side directly (review
    // r7): enumerating ALL within-bucket pairs and discarding the
    // corpus×corpus majority afterwards would re-pay the full-dedup
    // quadratic term for an incremental operation whose pair set is
    // bounded by |batch|·bucket. The bucket CAP stays computed over the
    // whole corpus (a bucket is degenerate regardless of which side its
    // members came from).
    Q("pipeline_dedup_incremental_banded",
      (s, dir) => carterWegman.incremental(s, dir, minMatch = 7),
      Some(sql(s"""WITH $sqlCwSigCtes, $sqlCwBandCtes,
        |ch AS (SELECT DISTINCT sha256(text) AS h FROM documents
        |  WHERE source <> 'src1'),
        |cs AS (SELECT c.*, d.source FROM capped c
        |  JOIN documents d USING (doc_id)),
        |drops AS (SELECT DISTINCT x.doc_id
        |  FROM cs x JOIN cs y
        |    ON x.band = y.band AND x.bkey = y.bkey
        |  WHERE x.source = 'src1' AND y.source <> 'src1'
        |    AND (CAST(${(0 until 8).map(i =>
             s"(CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END)")
             .mkString(" + ")} AS DOUBLE) / 8) >= 0.875),
        |b AS (SELECT doc_id, lang, source, n_chars, sha256(text) AS h
        |  FROM documents WHERE source = 'src1')
        |SELECT doc_id, lang, source, n_chars FROM b
        |ANTI JOIN ch USING (h)
        |ANTI JOIN drops USING (doc_id)
        |ORDER BY doc_id"""))),

    // URL parsing for web-corpus curation: host extraction, registered
    // domain, and per-host doc counts — the grouping every crawl-derived
    // corpus is filtered/weighted by (domain blocklists, per-host caps,
    // domain mixture). The fixture has no URL column, so a deterministic
    // URL is synthesized per doc (the text_pii_scrub pattern); the
    // extraction itself is the production shape: two regexp_extract on
    // the scan (identical Java/RE2 semantics for this pattern class —
    // char classes + anchors only), then one ~2.7k-group aggregate.
    // At 100 TB: narrow map + one small shuffle; per-host caps then
    // window over the same grouping.
    Q("text_url_extract",
      (s, dir) => Tables.table(s, dir, "documents")
        .withColumn("url", concat(lit("https://"), col("source"),
          lit("-"), pmod(col("doc_id"), lit(50L)).cast("string"),
          lit(".example."),
          when(pmod(col("doc_id"), lit(3L)) === 0, "com")
            .when(pmod(col("doc_id"), lit(3L)) === 1, "org")
            .otherwise("net"),
          lit("/d/"), col("doc_id").cast("string")))
        .select(
          regexp_extract(col("url"), "^https://([^/]+)/", 1).as("host"))
        .withColumn("domain",
          regexp_extract(col("host"), "([a-z0-9]+\\.[a-z]+)$", 1))
        .groupBy(col("host"), col("domain"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("host")),
      Some(sql("""WITH u AS (
        |  SELECT 'https://' || source || '-'
        |    || CAST(doc_id % 50 AS VARCHAR) || '.example.'
        |    || CASE WHEN doc_id % 3 = 0 THEN 'com'
        |            WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END
        |    || '/d/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |h AS (
        |  SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host
        |  FROM u)
        |SELECT host, regexp_extract(host, '([a-z0-9]+\.[a-z]+)$', 1)
        |    AS domain,
        |  count(*)::BIGINT AS n_docs
        |FROM h GROUP BY 1, 2 ORDER BY host"""))),

    // Snapshot diffing — the data-versioning report a corpus pipeline
    // runs between ingests ("what changed since the last cut?"). Two
    // synthetic snapshots derive deterministically from one scan each:
    // A drops doc_id % 20 == 3 (so those read as ADDED in B), B drops
    // doc_id % 20 == 7 (REMOVED) and rewrites every doc_id % 5 == 0 text
    // (CHANGED, detected by content-hash inequality — never by comparing
    // full text, which at 100 TB would shuffle the corpus body; sha256
    // is computed map-side and only the 64-hex digest rides the join).
    // The full-outer join on doc_id is the honest diff cost: both
    // snapshots shuffle once on the key, then classification is a
    // map-side CASE. Output is the domain-sized (lang, change) count
    // matrix.
    Q("pipeline_dataset_diff",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val a = docs.filter(pmod(col("doc_id"), lit(20L)) =!= 3)
          .select(col("doc_id").as("a_id"), col("lang").as("a_lang"),
            sha2(col("text"), 256).as("a_sha"))
        val b = docs.filter(pmod(col("doc_id"), lit(20L)) =!= 7)
          .select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
            sha2(when(pmod(col("doc_id"), lit(5L)) === 0,
              concat(col("text"), lit(" [rev2]"))).otherwise(col("text")),
              256).as("b_sha"))
        a.join(b, col("a_id") === col("b_id"), "full_outer")
          .select(
            coalesce(col("b_lang"), col("a_lang")).as("lang"),
            when(col("a_id").isNull, "added")
              .when(col("b_id").isNull, "removed")
              .when(col("a_sha") =!= col("b_sha"), "changed")
              .otherwise("unchanged").as("change"))
          .groupBy(col("lang"), col("change"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("lang"), col("change"))
      },
      Some(sql("""WITH a AS (
        |  SELECT doc_id AS a_id, lang AS a_lang, sha256(text) AS a_sha
        |  FROM documents WHERE doc_id % 20 <> 3),
        |b AS (
        |  SELECT doc_id AS b_id, lang AS b_lang,
        |    sha256(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
        |                ELSE text END) AS b_sha
        |  FROM documents WHERE doc_id % 20 <> 7)
        |SELECT coalesce(b_lang, a_lang) AS lang,
        |  CASE WHEN a_id IS NULL THEN 'added'
        |       WHEN b_id IS NULL THEN 'removed'
        |       WHEN a_sha <> b_sha THEN 'changed'
        |       ELSE 'unchanged' END AS change,
        |  count(*)::BIGINT AS cnt
        |FROM a FULL OUTER JOIN b ON a_id = b_id
        |GROUP BY 1, 2 ORDER BY lang, change"""))),
  )

  /** Carter–Wegman minhash machinery shared by `text_minhash_sig`,
    * `text_neardup_banded` and `pipeline_dedup_keep_banded`: one
    * md5-derived base hash per 3-word shingle, 8 permutations
    * h_i = (a_i·h + b_i) mod p over p = 2^31−1 — exact BIGINT arithmetic
    * with identical DuckDB twins (the countmin trick applied to minhash),
    * unlike the xxhash64 production sketch above. */
  // final + literal = compile-time constant: `qs` above initializes first
  // and would read 0 from a plain val (object init order)
  private final val CW_P = 2147483647L // 2^31 - 1 (Mersenne prime)
  private def cwA(i: Int) = 1103515245L * (i + 1) % CW_P
  private def cwB(i: Int) = 12345L * (i + 1) % CW_P

  /** Carter–Wegman minhash signatures per doc. `carry` names narrow doc
    * columns to thread THROUGH the shingle explode and the signature
    * aggregate (grouped alongside doc_id — functionally dependent, so
    * grouping is unchanged): the incremental dedup keys need `source`
    * next to each signature row, and carrying it here deletes a
    * corpus×corpus doc_id enrichment join whose both-sides exchange was
    * the single largest shuffle in those keys at 300× grown. */
  private[operators] def cwSignatures(s: SparkSession, dir: String,
      carry: Seq[String] = Nil): DataFrame = {
    val cc = carry.map(col)
    val sh = Tables.table(s, dir, "documents")
      .select(col("doc_id") +: cc :+ split(col("text"), " ").as("w"): _*)
      .select(col("doc_id") +: cc :+ explode(expr(
        """transform(sequence(1, greatest(size(w) - 2, 1)),
          |  i -> concat_ws(' ', element_at(w, i),
          |                 element_at(w, least(i + 1, size(w))),
          |                 element_at(w, least(i + 2, size(w)))))"""
          .stripMargin)).as("x"): _*)
      .select(col("doc_id") +: cc :+
        (expr(PipelineOps.whExpr("x")) % CW_P).as("h"): _*)
    val minCols = (0 until 8).map(i =>
      min((col("h") * cwA(i) + cwB(i)) % CW_P).as(s"mh$i"))
    sh.groupBy(col("doc_id") +: cc: _*).agg(minCols.head, minCols.tail: _*)
  }

  /** The Carter–Wegman family over [[cwSignatures]]: 4 bands × 2 rows,
    * band key mh·p + mh (collision-free pairing below 2^62); pairs match
    * on the count of equal minima out of 8. */
  private val carterWegman: NearDup.Family = NearDup.Family(8,
    (s, dir, carry) => {
      val sig = cwSignatures(s, dir, carry)
      sig.select(sig.columns.map(col) :+ posexplode(array((0 until 4).map(b =>
        col(s"mh${2 * b}") * CW_P + col(s"mh${2 * b + 1}")): _*))
        .as(Seq("band", "bkey")): _*)
    },
    (x, y) => (0 until 8).map(i =>
      when(x(s"mh$i") === y(s"mh$i"), 1).otherwise(0)).reduce(_ + _))

  /** Oracle CTE twins of [[cwSignatures]] (`ws`, `sh`, `sig`). */
  private def sqlCwSigCtes: String =
    s"""ws AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    (${PipelineOps.sqlWh(
          "concat_ws(' ', w[i], w[least(i + 1, len(w))], " +
            "w[least(i + 2, len(w))])")} % $CW_P) AS h
       |  FROM (SELECT doc_id, w,
       |          unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
       |        FROM ws)),
       |sig AS (
       |  SELECT doc_id, ${(0 until 8).map(i =>
            s"min((h * ${cwA(i)} + ${cwB(i)}) % $CW_P) AS mh$i")
            .mkString(", ")}
       |  FROM sh GROUP BY doc_id)""".stripMargin

  /** Oracle CTE twins of [[carterWegman]]'s capped bands (`bands`,
    * `capped`). */
  private def sqlCwBandCtes: String =
    s"""bands AS (
       |  SELECT sig.*, b.band,
       |    CASE b.band ${(0 until 4).map(b =>
            s"WHEN $b THEN mh${2 * b} * $CW_P + mh${2 * b + 1}")
            .mkString(" ")} END AS bkey
       |  FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band)),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz
       |    FROM bands) WHERE bsz <= ${NearDup.Cap})""".stripMargin

  /** Oracle CTE twins of [[carterWegman]]'s pairs (adds `pairs`). */
  private def sqlCwPairCtes: String =
    s"""$sqlCwBandCtes,
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    (CAST(${(0 until 8).map(i =>
            s"(CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END)")
            .mkString(" + ")} AS DOUBLE) / 8) AS est_jaccard
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bkey = y.bkey
       |       AND x.doc_id < y.doc_id)""".stripMargin
}
