package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond the SURVEY §2.1 inventory —
  * the text analysis, quality scoring, sampling and corpus statistics a
  * 100 TB corpus pipeline needs — plus the train-once machinery the
  * trained families share ([[SessionMemo]], [[planKey]], [[countOf]],
  * [[TrainClock]]). Sibling families live in [[Ann]] (nearest-neighbor
  * search), [[Bpe]] (tokenization), [[Curate]] (SRP-banded curation) and
  * [[Dedup]] (lexical dedup).
  *
  * Literature: SimHash is Charikar (STOC 2002) as deployed in Manku et
  * al. (WWW 2007).
  *
  * Design notes:
  *  - every text op is a single scan + narrow transforms (+ one shuffle
  *    where grouped) — the shapes that scale linearly;
  *  - cross-engine word hashing uses md5-hex → BIGINT (both engines agree
  *    bit-for-bit; xxhash64 exists only in Spark).
  */
object PipelineOps {
  import Det._

  /** md5-derived 60-bit word hash, identical in Spark and DuckDB —
    * shared with TextOps' oracle-checked minhash signatures. */
  private[operators] def whExpr(w: String): String =
    s"CAST(conv(substring(md5($w), 1, 15), 16, 10) AS BIGINT)"
  private[operators] def sqlWh(w: String): String =
    s"CAST(concat('0x', substring(md5($w), 1, 15)) AS BIGINT)"

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  val qs: Seq[Q] = Seq(
    // Marker-stopword language ID. Scores are exact token counts (bigint),
    // argmax tie-breaks in fixed marker order.
    Q("text_langid",
      (s, dir) => {
        val toks = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang").as("declared_lang"),
            explode(split(col("text"), " ")).as("word"))
        val scores = langMarkers.map { case (l, ms) =>
          sum(when(col("word").isin(ms: _*), 1L).otherwise(0L)).as(s"s_$l")
        }
        val best = greatest(langMarkers.map(m => col(s"s_${m._1}")): _*)
        val pred = langMarkers.foldRight(lit("und"): Column) {
          case ((l, _), e) => when(col(s"s_$l") === best, l).otherwise(e)
        }
        toks.groupBy(col("doc_id"), col("declared_lang"))
          .agg(scores.head, scores.tail: _*)
          .select((Seq(col("doc_id"), col("declared_lang")) ++
            langMarkers.map(m => col(s"s_${m._1}")) :+
            pred.as("pred_lang")): _*)
          .orderBy(col("doc_id"))
      },
      Some(sql(s"""WITH toks AS (
        |  SELECT doc_id, lang AS declared_lang,
        |    unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, declared_lang,
        |${langMarkers.map { case (l, ms) =>
            s"    CAST(count(*) FILTER (WHERE word IN (${ms.map("'" + _ + "'").mkString(",")})) AS BIGINT) AS s_$l"
          }.mkString(",\n")}
        |  FROM toks GROUP BY doc_id, declared_lang)
        |SELECT doc_id, declared_lang, s_en, s_de, s_es, s_fr,
        |  CASE WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
        |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
        |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
        |       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
        |       ELSE 'und' END AS pred_lang
        |FROM scored ORDER BY doc_id"""))),

    // Quality scoring: token stats + stopword ratio + type/token ratio,
    // combined into one bounded score. The score is rational —
    //   0.4·d/n + 0.3·(1 − s/n) + 0.3·min(n,100)/100
    //   = (400·d + 300·(n−s) + 3·min(n,100)·n) / (1000·n)
    // — so the round-6 value is computed by exact integer half-up
    // division, never a double chain: the preflight boundary audit showed
    // the double formulation parks rows within ulps of a round-6 boundary,
    // where one fma-contracting oracle build would flip them.
    Q("text_quality_score",
      (s, dir) => {
        val stop = Seq("the", "a", "of", "and", "is", "to", "in")
        Tables.table(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .withColumn("n_tokens", size(col("w")).cast("long"))
          .withColumn("n_distinct",
            size(array_distinct(col("w"))).cast("long"))
          .withColumn("n_stop",
            size(filter(col("w"), x => x.isin(stop: _*))).cast("long"))
          .withColumn("qnum",
            lit(400L) * col("n_distinct")
              + lit(300L) * (col("n_tokens") - col("n_stop"))
              + lit(3L) * least(col("n_tokens"), lit(100L))
                * col("n_tokens"))
          .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
            col("n_stop"),
            ((col("n_chars") - (col("n_tokens") - lit(1L)))
              .cast("double") / col("n_tokens")).as("avg_token_len"),
            // half-up round to 6dp of qnum/(1000·n), all in BIGINT
            (expr("(2000 * qnum + n_tokens) div (2 * n_tokens)")
              .cast("double") / lit(1000000.0)).as("quality_r6"))
          .orderBy(col("doc_id"))
      },
      Some(sql("""WITH b AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(w, x -> x IN
        |      ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stop
        |  FROM b),
        |q AS (
        |  SELECT *, 400 * n_distinct + 300 * (n_tokens - n_stop)
        |    + 3 * least(n_tokens, 100) * n_tokens AS qnum
        |  FROM m)
        |SELECT doc_id, n_tokens, n_distinct, n_stop,
        |  (CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens)
        |    AS avg_token_len,
        |  (CAST((2000 * qnum + n_tokens) // (2 * n_tokens) AS DOUBLE)
        |    / 1000000.0) AS quality_r6
        |FROM q ORDER BY doc_id"""))),

    // Token counting: whitespace tokens + BPE-ish consonant-vowel subword
    // units (same leftmost-greedy regex subset in Java and RE2, D6).
    Q("text_token_count",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[bcdfghjklmnpqrstvwxyz]+[aeiou]+"), lit(0)))
            .cast("long").as("cv_units"),
          (col("n_chars").cast("double")
            / size(split(col("text"), " "))).as("chars_per_token"))
        .orderBy(col("doc_id")),
      Some(sql("""SELECT doc_id,
        |len(string_split(text, ' '))::BIGINT AS ws_tokens,
        |len(regexp_extract_all(text,
        |  '[bcdfghjklmnpqrstvwxyz]+[aeiou]+'))::BIGINT AS cv_units,
        |(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')))
        |  AS chars_per_token
        |FROM documents ORDER BY doc_id"""))),

    // Rolling polynomial fingerprint over the token stream — exact modular
    // integer arithmetic, identical fold in both engines.
    Q("text_fingerprint",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("doc_id"), expr(
          s"""aggregate(split(text, ' '), CAST(0 AS BIGINT),
             |  (h, w) -> (h * 31 + ${whExpr("w")} % 1000000007)
             |            % 2147483647)""".stripMargin).as("fingerprint"))
        .orderBy(col("doc_id")),
      Some(sql(s"""SELECT doc_id,
        |list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ' '),
        |      w -> ${sqlWh("w")} % 1000000007)),
        |  (h, x) -> (h * 31 + x) % 2147483647) AS fingerprint
        |FROM documents ORDER BY doc_id"""))),

    // 32-bit SimHash over md5-derived word hashes (+ top-16-bit band for
    // bucketed near-dup joins), computed as explode + 32 codegen'd
    // sum-aggregates so the per-word hash is evaluated ONCE. (A nested
    // per-bit HOF fold looks elegant but Catalyst inlines the hash
    // projection into all 32 folds — 32x the md5 work, interpreted;
    // that was 14 s at sf0.1 vs ~1 s for this shape.)
    Q("text_simhash",
      (s, dir) => {
        val words = Tables.table(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .select(col("doc_id"), expr(whExpr("w")).as("wh"))
        val bitCols = (0 until 32).map(j =>
          sum(when(expr(s"(wh >> $j) & 1") === 1, 1L).otherwise(-1L))
            .as(s"b$j"))
        val sigExpr = (0 until 32)
          .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << (31 - j)}L " +
            "ELSE 0L END)")
          .mkString(" + ")
        // left join from documents so a NULL/absent-token doc still emits
        // (doc_id, 0, 0) exactly like the oracle's CASE over NULL sums
        Tables.table(s, dir, "documents").select(col("doc_id"))
          .join(words.groupBy(col("doc_id"))
            .agg(bitCols.head, bitCols.tail: _*), Seq("doc_id"), "left")
          .select(col("doc_id"), expr(sigExpr).as("simhash32"))
          .withColumn("band16", expr("shiftright(simhash32, 16)"))
          .orderBy(col("doc_id"))
      },
      Some(sql(s"""WITH whs AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ' '), w -> ${sqlWh("w")})
        |      AS whs
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        CAST(generate_series(0, 31) AS BIGINT[])),
        |      (acc, j) -> acc * 2 + CASE WHEN
        |        list_reduce(list_prepend(CAST(0 AS BIGINT), whs),
        |          (c, h) -> c + CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1
        |                     THEN 1 ELSE -1 END) > 0
        |      THEN 1 ELSE 0 END) AS simhash32
        |  FROM whs)
        |SELECT doc_id, simhash32, simhash32 >> 16 AS band16
        |FROM sh ORDER BY doc_id"""))),

    // DSIR-flavored importance score (after Xie et al. 2023: importance
    // resampling via hashed-ngram likelihood ratios): how target-like is
    // each document, with lang='en' docs as the target domain and the full
    // corpus as source. Kept EXACT instead of log-ratio: per bigram b the
    // cross-multiplied integer cnt_t(b)·N_s − cnt_s(b)·N_t has the sign of
    // the likelihood ratio vs 1, and the per-doc sum of exact integers is
    // oracle-checkable where Σ ln(p_t/p_s) would be libm-fragile. Shapes:
    // bigram dictionaries are groupBy aggregates joined back to the doc
    // token stream (linear, shuffle-partitioned by bigram); corpus totals
    // are 1-row broadcasts. Products and the per-doc sum run in
    // DECIMAL(38,0) — cnt·N alone saturates a Long near 2e9 corpus
    // bigrams, and Spark's sum(Long) would wrap SILENTLY where the
    // oracle's HUGEINT stays exact. The final BIGINT cast assumes the
    // net per-doc score fits (it does by many orders at any realistic
    // per-doc bigram count).
    Q("text_importance_score",
      (s, dir) => {
        val bg = Tables.table(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .filter(size(col("w")) >= 2)
          .select(col("doc_id"), col("lang"), explode(expr(
            """transform(sequence(1, size(w) - 1),
              |  i -> concat(element_at(w, i), ' ',
              |              element_at(w, i + 1)))""".stripMargin))
            .as("b"))
        // r16 (guide §2.3/§1.2 "don't compute things twice"): cs/ct were
        // two separate aggregations and ns/nt two separate scalar
        // aggregates — four full tokenize+explode passes over documents
        // plus the probe's fifth (Catalyst never dedups shared subtrees).
        // One conditional aggregation produces cs AND ct (ct = 0 instead
        // of the old left-join NULL — identical after the coalesce), and
        // one scalar aggregate produces ns AND nt: 5 corpus passes → 3,
        // one join instead of two, same values.
        val csct = bg.groupBy(col("b")).agg(count(lit(1)).as("cs"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
        val nsnt = bg.agg(count(lit(1)).as("ns"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
        val dec = org.apache.spark.sql.types.DecimalType(19, 0)
        bg.join(csct, "b")
          .crossJoin(broadcast(nsnt))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(coalesce(col("ct"), lit(0L)).cast(dec) * col("ns").cast(dec)
              - col("cs").cast(dec) * col("nt").cast(dec))
              .cast("long").as("target_score"))
          .orderBy(col("doc_id"))
      },
      Some(sql("""WITH w AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, ws[k] || ' ' || ws[k+1] AS b
        |  FROM (SELECT doc_id, lang, ws,
        |          unnest(generate_series(1, len(ws) - 1)) AS k
        |        FROM w WHERE len(ws) >= 2)),
        |cs AS (SELECT b, count(*)::BIGINT AS cs FROM bg GROUP BY b),
        |ct AS (SELECT b, count(*)::BIGINT AS ct FROM bg
        |       WHERE lang = 'en' GROUP BY b),
        |ns AS (SELECT count(*)::BIGINT AS ns FROM bg),
        |nt AS (SELECT count(*)::BIGINT AS nt FROM bg WHERE lang = 'en')
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  CAST(sum(coalesce(ct.ct, 0) * ns.ns - cs.cs * nt.nt) AS BIGINT)
        |    AS target_score
        |FROM bg JOIN cs USING (b) LEFT JOIN ct USING (b)
        |CROSS JOIN ns CROSS JOIN nt
        |GROUP BY doc_id ORDER BY doc_id"""))),

    // Overlapping context chunking: window 32 tokens, stride 24 (8-token
    // overlap) — the train-data prep shape where adjacent chunks share
    // context so no span is split across a boundary without overlap.
    // Complements text_chunk_pack (greedy non-overlapping packing). One
    // generator per doc, no shuffle; chunk content is witnessed by an
    // md5 over the joined tokens (cross-engine identical). NOTE Spark's
    // slice(arr, start, LENGTH) vs DuckDB's list_slice(l, start, END):
    // the oracle uses chunk_start + 31.
    Q("text_chunk_overlap",
      (s, dir) => Tables.table(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), col("w"),
          posexplode(expr("sequence(1, greatest(size(w), 1), 24)"))
            .as(Seq("idx0", "chunk_start")))
        .select(col("doc_id"),
          (col("idx0") + 1).cast("long").as("chunk_idx"),
          col("chunk_start").cast("long").as("chunk_start"),
          expr("slice(w, chunk_start, 32)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          size(col("chunk")).cast("long").as("chunk_len"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some(sql("""WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |st AS (
        |  SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(len(ws), 1), 24))
        |      AS chunk_start
        |  FROM w)
        |SELECT doc_id,
        |  ((chunk_start - 1) // 24 + 1)::BIGINT AS chunk_idx,
        |  chunk_start::BIGINT AS chunk_start,
        |  len(list_slice(ws, chunk_start, chunk_start + 31))::BIGINT
        |    AS chunk_len,
        |  md5(array_to_string(list_slice(ws, chunk_start, chunk_start + 31),
        |    ' ')) AS chunk_md5
        |FROM st ORDER BY doc_id, chunk_idx"""))),

    // Intra-document repetition score: share of the doc's bigrams taken
    // by its single most repeated bigram, plus the distinct-bigram ratio
    // — the standard repetition quality filter (boilerplate/spam shows
    // up as a dominant repeated n-gram). Exact integers + one division;
    // narrow per-doc aggregation.
    Q("text_repetition_score",
      (s, dir) => {
        val bg = Tables.table(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .filter(size(col("w")) >= 2)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(w) - 1),
              |  i -> concat(element_at(w, i), ' ',
              |              element_at(w, i + 1)))""".stripMargin))
            .as("b"))
        bg.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).cast("long").as("n_bigrams"),
            count(lit(1)).as("n_distinct"),
            max(col("c")).as("max_repeat"))
          .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
            col("max_repeat"),
            (col("max_repeat").cast("double") / col("n_bigrams"))
              .as("top_share"),
            (col("n_distinct").cast("double") / col("n_bigrams"))
              .as("distinct_ratio"))
          .orderBy(col("doc_id"))
      },
      Some(sql("""WITH bg AS (
        |  SELECT doc_id, ws[k] || ' ' || ws[k+1] AS b
        |  FROM (SELECT doc_id, ws,
        |          unnest(generate_series(1, len(ws) - 1)) AS k
        |        FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |              FROM documents)
        |        WHERE len(ws) >= 2)),
        |pc AS (SELECT doc_id, b, count(*)::BIGINT AS c
        |       FROM bg GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  count(*)::BIGINT AS n_distinct,
        |  CAST(max(c) AS BIGINT) AS max_repeat,
        |  (CAST(max(c) AS DOUBLE) / sum(c)) AS top_share,
        |  (CAST(count(*) AS DOUBLE) / sum(c)) AS distinct_ratio
        |FROM pc GROUP BY doc_id ORDER BY doc_id"""))),

    // Count-min frequency sketch (Cormode & Muthukrishnan 2005), depth 2 ×
    // width 4096, over the token stream — the sketch family's frequency
    // member next to HLL (distinct) and percentile/minhash. Unlike most
    // sketches this one IS oracle-checked: the hash rows are md5-derived
    // (cross-engine identical), so the counter table and every estimate
    // are deterministic BIGINTs. Scale shape: the sketch is a tiny
    // fixed-size aggregate (2×4096 cells) built in one pass — queries then
    // broadcast-join it, never re-scanning the corpus; the CM guarantee
    // (est ≥ true, est ≤ true + εN w.h.p.) is unit-tested.
    Q("text_countmin_topk",
      (s, dir) => countMinEstimates(s, dir, CmDepth, CmWidth)
        .orderBy(col("cm_est").desc, col("word").asc)
        .limit(20),
      Some(sql(s"""WITH tokens AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |counters AS (
        |  SELECT 0 AS row_id, (${sqlWh("'0|' || word")} % $CmWidth) AS bucket,
        |    count(*)::BIGINT AS c
        |  FROM tokens GROUP BY 2
        |  UNION ALL
        |  SELECT 1, (${sqlWh("'1|' || word")} % $CmWidth), count(*)::BIGINT
        |  FROM tokens GROUP BY 2),
        |words AS (
        |  SELECT word, count(*)::BIGINT AS true_cnt
        |  FROM tokens GROUP BY word),
        |wb AS (
        |  SELECT word, true_cnt,
        |    (${sqlWh("'0|' || word")} % $CmWidth) AS b0,
        |    (${sqlWh("'1|' || word")} % $CmWidth) AS b1
        |  FROM words)
        |SELECT word, true_cnt, least(c0.c, c1.c) AS cm_est,
        |  least(c0.c, c1.c) - true_cnt AS overcount
        |FROM wb
        |JOIN counters c0 ON c0.row_id = 0 AND c0.bucket = wb.b0
        |JOIN counters c1 ON c1.row_id = 1 AND c1.bucket = wb.b1
        |ORDER BY cm_est DESC, word ASC LIMIT 20"""))),

    // Deterministic train/val/test split: md5-derived hash of doc_id mod
    // 10 → 80/10/10. Hash-bucket assignment is the property a training
    // pipeline needs from its splitter — reproducible on any engine, any
    // cluster size, any row order, and stable when the corpus grows (a
    // doc's split never changes). A narrow, shuffle-free projection.
    Q("sample_hash_bucket",
      (s, dir) => Tables.table(s, dir, "documents")
        .withColumn("bucket",
          pmod(expr(whExpr("CAST(doc_id AS STRING)")), lit(10L)))
        .select(col("doc_id"), col("lang"), col("bucket"),
          when(col("bucket") === 0, "test")
            .when(col("bucket") === 1, "val")
            .otherwise("train").as("split"))
        .orderBy(col("doc_id")),
      Some(sql(s"""SELECT doc_id, lang,
        |${sqlWh("CAST(doc_id AS VARCHAR)")} % 10 AS bucket,
        |CASE WHEN ${sqlWh("CAST(doc_id AS VARCHAR)")} % 10 = 0 THEN 'test'
        |     WHEN ${sqlWh("CAST(doc_id AS VARCHAR)")} % 10 = 1 THEN 'val'
        |     ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id"""))),

    // Stratified quota sampling: exactly ceil(20%) of each language
    // stratum, selected by md5-hash order — reproducible across engines,
    // row orders, and reruns (no RNG state).
    //
    // SCALE SHAPE (r14, VERDICT r13 task 1): the per-stratum hash-order
    // rank was `row_number` over `partitionBy(lang)` — lang has FOUR
    // values, so the window hashed ALL documents into 4 reducers
    // (parallelism capped at the stratum count at 100 TB). Now the rank is
    // [[DistRank.withGroupRank]]'s range-partitioned global sort on
    // (lang, hk, doc_id) — P-way parallel, bit-identical ranks — and the
    // per-stratum count comes from the same operator's stats pass, so
    // the separate quota aggregate (a second corpus scan) disappears:
    // quota = ceil(n/5) in exact integer arithmetic directly on the
    // stratum count ((n+4) DIV 5 — n·0.2 in binary doubles can land an
    // ulp above the integer and ceil() would overshoot).
    Q("sample_stratified",
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            expr(whExpr("CAST(doc_id AS STRING)")).as("hk"))
        DistRank.withGroupRank(d, col("lang"),
            Seq(col("hk").asc, col("doc_id").asc), "rn", Some("__n"))
          .filter(col("rn") <= expr("(__n + 4) DIV 5"))
          .select(col("doc_id"), col("lang"), col("rn"))
          .orderBy(col("lang"), col("rn"))
      },
      Some(sql(s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    ${sqlWh("CAST(doc_id AS VARCHAR)")} AS hk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
        |  FROM d),
        |q AS (SELECT lang, (count(*) + 4) // 5 AS quota
        |      FROM documents GROUP BY lang)
        |SELECT doc_id, lang, rn FROM r JOIN q USING (lang)
        |WHERE rn <= quota ORDER BY lang, rn"""))),

    // Importance resampling to a UNIFORM language mix — the acceptance-
    // sampling step that APPLIES a text_domain_mix-style target: each
    // overrepresented stratum is downsampled with acceptance probability
    // p_s = min(1, T / (K·n_s)) (token-weighted), so kept token mass is
    // ~equal per language and no stratum is ever upsampled (a filter can
    // only drop). The acceptance draw is an md5-derived uniform on
    // [0, 1e6) and the threshold is exact integer arithmetic
    // ((T·1e6) DIV (K·n_s)) — reproducible across engines, partitionings,
    // row orders, and reruns, and a doc's keep/drop never changes when
    // the corpus is re-sharded. Per-stratum counts are one broadcast row
    // each; the filter itself is a narrow single scan. (Past ~9e12 total
    // tokens T·1e6 would overflow BIGINT: widen the numerator to
    // DECIMAL(38,0) — the fixture sums keep >6 orders of headroom.)
    Q("sample_importance",
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("toks"))
        val per = d.groupBy(col("lang")).agg(sum(col("toks")).as("n_tok"))
        val tot = per.agg(sum(col("n_tok")).as("tot"),
          count(lit(1)).as("k"))
        val thr = per.crossJoin(broadcast(tot))
          .select(col("lang"),
            least(lit(1000000L),
              expr("(tot * 1000000) DIV (k * n_tok)")).as("thr"))
        d.join(broadcast(thr), "lang")
          .withColumn("draw",
            pmod(expr(whExpr("concat('imp|', CAST(doc_id AS STRING))")),
              lit(1000000L)))
          .filter(col("draw") < col("thr"))
          .select(col("doc_id"), col("lang"), col("toks"), col("draw"),
            col("thr"))
          .orderBy(col("doc_id"))
      },
      Some(sql(s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    len(string_split(text, ' '))::BIGINT AS toks
        |  FROM documents),
        |per AS (SELECT lang, sum(toks)::BIGINT AS n_tok
        |        FROM d GROUP BY lang),
        |tot AS (SELECT sum(n_tok)::BIGINT AS tot, count(*)::BIGINT AS k
        |        FROM per),
        |thr AS (SELECT lang,
        |          least(1000000, (tot * 1000000) // (k * n_tok))::BIGINT
        |            AS thr
        |        FROM per, tot)
        |SELECT doc_id, lang, toks,
        |  ${sqlWh("concat('imp|', CAST(doc_id AS VARCHAR))")} % 1000000
        |    AS draw,
        |  thr
        |FROM d JOIN thr USING (lang)
        |WHERE ${sqlWh("concat('imp|', CAST(doc_id AS VARCHAR))")} % 1000000
        |  < thr
        |ORDER BY doc_id"""))),

    // Temperature-scaled domain mixing (the multilingual-corpus sampling
    // rule of mC4 / XLM-R: w_i ∝ p_i^α). α is fixed at 0.5 because sqrt
    // is IEEE-correctly-rounded — bit-identical across engines on the
    // identical share doubles — while a general pow(p, α) is libm-
    // approximated and therefore not hash-checkable (the VERDICT r2
    // transcendental class; generalized α would need the round+audit
    // pattern). The normalizer Z is a sequential fold over the
    // VALUE-sorted weight list (Spark `aggregate` ≡ DuckDB `list_reduce`,
    // the vec_norms precedent), so aggregation order can never perturb
    // the sum. Single corpus scan; everything past the groupBy is
    // domain-sized.
    Q("sample_temperature",
      (s, dir) => {
        val per = Tables.table(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("toks"))
          .groupBy(col("source"))
          .agg(sum(col("toks")).as("n_tokens"))
        val w = Window.partitionBy(lit(0))
        per
          .withColumn("tot", sum(col("n_tokens")).over(w))
          .withColumn("sq",
            sqrt(col("n_tokens").cast("double") / col("tot")))
          .withColumn("z",
            aggregate(sort_array(collect_list(col("sq")).over(w)),
              lit(0.0), (a, x) => a + x))
          .select(col("source"), col("n_tokens"),
            (col("sq") / col("z")).as("temp_w"))
          .orderBy(col("source"))
      },
      Some(sql("""WITH per AS (
        |  SELECT source,
        |    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS tot FROM per),
        |sq AS (SELECT source, n_tokens,
        |         sqrt(n_tokens::DOUBLE / tot) AS sq FROM per, tot),
        |z AS (SELECT list_reduce(list(sq ORDER BY sq ASC),
        |        (a, b) -> a + b) AS z FROM sq)
        |SELECT source, n_tokens, sq / z AS temp_w
        |FROM sq, z ORDER BY source"""))),

    // Domain-mix schedule (the reweighting table behind Pile/DoReMi-style
    // corpus mixing): per source, token share of the corpus and the
    // downsample-only weight min(1, uniform_target/share) that would move
    // the mix to uniform. Shares/weights are half-up 6dp computed entirely
    // in BIGINT (text_quality_score precedent — no double chain, so no
    // boundary audit needed). Scale shape: one corpus scan, one
    // groupBy(source), then corpus totals as a global window over the
    // domain-sized aggregate. BIGINT headroom: 2e6·tokens stays exact
    // below ~4.6e12 corpus tokens; widen the fixed-point to
    // DECIMAL(38,0) beyond that.
    Q("pipeline_mix_schedule",
      (s, dir) => {
        val per = Tables.table(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("toks"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        // totals via a global window over the PER-DOMAIN frame: ONE corpus
        // scan (a separate agg branch would re-read parquet — Spark plans
        // DAG branches independently). The single-partition window only
        // ever sees #domains rows, so it is the right plan at any corpus
        // size.
        val w = Window.partitionBy(lit(0))
        per
          .withColumn("tot", sum(col("n_tokens")).over(w))
          .withColumn("k", count(lit(1)).over(w))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            (expr("(2000000 * n_tokens + tot) DIV (2 * tot)")
              .cast("double") / 1000000.0).as("share_r6"),
            (least(lit(1000000L),
              expr("(2000000 * tot + k * n_tokens) DIV (2 * k * n_tokens)"))
              .cast("double") / 1000000.0).as("weight_r6"))
          .orderBy(col("source"))
      },
      Some(sql("""WITH per AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS tot,
        |               count(*)::BIGINT AS k FROM per)
        |SELECT source, n_docs, n_tokens,
        |  ((2000000 * n_tokens + tot) // (2 * tot))::DOUBLE
        |    / 1000000.0 AS share_r6,
        |  least(1000000,
        |    (2000000 * tot + k * n_tokens) // (2 * k * n_tokens))::DOUBLE
        |    / 1000000.0 AS weight_r6
        |FROM per, tot ORDER BY source"""))),

    // Power-of-2 token-length histogram — the sequence-length planning
    // view a pretokenization run reads before picking context/pack sizes.
    // bucket = floor(log2(n_tokens)) computed EXACTLY as
    // length(bin(n)) - 1 (bit math on BIGINT, no transcendental, so the
    // bucket edges can never drift cross-engine). One scan + one
    // ~60-group aggregate; embarrassingly scale-safe.
    Q("pipeline_token_histogram",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(size(split(col("text"), " ")).cast("long").as("toks"))
        .filter(col("toks") >= 1L)
        .withColumn("bucket", (length(bin(col("toks"))) - 1).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .select(col("bucket"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))")
            .as("bucket_lo"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT) + 1) - 1")
            .as("bucket_hi"),
          col("n_docs"), col("n_tokens"))
        .orderBy(col("bucket")),
      Some(sql("""WITH d AS (
        |  SELECT len(string_split(text, ' '))::BIGINT AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 1)
        |SELECT (length(bin(toks)) - 1)::BIGINT AS bucket,
        |  (1::BIGINT << (length(bin(toks)) - 1))::BIGINT AS bucket_lo,
        |  ((1::BIGINT << length(bin(toks))) - 1)::BIGINT AS bucket_hi,
        |  count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS n_tokens
        |FROM d GROUP BY 1, 2, 3 ORDER BY bucket"""))),

    // Unigram-LM quality proxy (the perplexity-filter family, CCNet
    // lineage): per doc, the arithmetic mean of the inverse unigram
    // probability n_tot/freq(w) over its tokens. AM ≥ GM, so this
    // upper-bounds true unigram perplexity exp(mean NLL) while staying
    // EXACT: the per-word ratio is 6dp fixed-point BIGINT ((1e6·n_tot)
    // DIV freq), summed and averaged with half-up integer division — no
    // libm anywhere, hence hash-checkable across oracle builds (the ln
    // formulation would hinge pico-rounding on ≤ulp libm agreement, the
    // class VERDICT r2 warned on). Scale shape (the text_tf_idf class,
    // improved): ONE explode into the (doc, word, tf) frame; vocab freqs
    // derive from that frame, the word join runs on it too (strictly
    // smaller than the raw token stream — S = Σ tf·ip6 distributes over
    // multiplicity), and the n_tot scalar comes from a no-explode
    // sum-of-sizes scan broadcast as one row. BIGINT headroom: 1e6·n_tot
    // exact below ~9e12 corpus tokens (same fixed-point ceiling as
    // pipeline_mix_schedule).
    Q("text_perplexity_proxy",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf"))
        val freq = tf.groupBy(col("word")).agg(sum(col("tf")).as("freq"))
        val nTot = docs.agg(
          sum(size(split(col("text"), " ")).cast("long")).as("n_tot"))
        val ip = freq.crossJoin(broadcast(nTot))
          .select(col("word"), expr("(1000000 * n_tot) DIV freq").as("ip6"))
        tf.join(ip, "word")
          .groupBy(col("doc_id"))
          .agg(sum(col("tf")).as("n_tokens"),
            sum(col("tf") * col("ip6")).as("s"))
          .select(col("doc_id"), col("n_tokens"),
            (expr("(2 * s + n_tokens) DIV (2 * n_tokens)")
              .cast("double") / 1000000.0).as("mean_invp_r6"))
          .orderBy(col("doc_id"))
      },
      Some(sql("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM toks
        |       GROUP BY doc_id, word),
        |f AS (SELECT word, sum(tf)::BIGINT AS freq FROM tf
        |      GROUP BY word),
        |n AS (SELECT sum(len(string_split(text, ' ')))::BIGINT AS n_tot
        |      FROM documents),
        |ip AS (SELECT word, (1000000 * n_tot) // freq AS ip6 FROM f, n),
        |d AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
        |        sum(tf * ip6)::BIGINT AS s
        |      FROM tf JOIN ip USING (word) GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  ((2 * s + n_tokens) // (2 * n_tokens))::DOUBLE
        |    / 1000000.0 AS mean_invp_r6
        |FROM d ORDER BY doc_id"""))),

    // Deterministic global shuffle into training shards — the final step
    // before writing a training dataset: examples must be decorrelated
    // from crawl/source order (doc_id order IS source order in a scraped
    // corpus), reproducibly. Order key is an md5-derived uniform, shard =
    // key mod 16, position = rank within the shard by (key, doc_id) — a
    // doc's (shard, pos) is a pure function of its id, identical on any
    // engine, cluster size, or input row order. Plan shape: one hash
    // shuffle on `shard` (16-way) + a per-shard sort — at corpus scale
    // each shard sorts locally in its own partitions, the same cost class
    // as the D1 output sort every row-emitting key already pays. A
    // production WRITER drops the `pos` column and replaces the window
    // with repartition(shard).sortWithinPartitions(hk).write — same one
    // shuffle, no rank materialization; the rank is emitted here because
    // it is the verifiable contract (pos is dense 1..n per shard, and the
    // (shard, pos) assignment is what reproducibility means).
    Q("pipeline_shuffle_shard",
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            expr(whExpr("concat('shuf|', CAST(doc_id AS STRING))"))
              .as("hk"))
          .withColumn("shard", pmod(col("hk"), lit(16L)))
        d.withColumn("pos",
            row_number().over(Window.partitionBy(col("shard"))
              .orderBy(col("hk"), col("doc_id"))).cast("long"))
          .select(col("doc_id"), col("shard"), col("pos"))
          .orderBy(col("shard"), col("pos"))
      },
      Some(sql(s"""WITH d AS (
        |  SELECT doc_id,
        |    ${sqlWh("concat('shuf|', CAST(doc_id AS VARCHAR))")} AS hk
        |  FROM documents)
        |SELECT doc_id, hk % 16 AS shard,
        |  row_number() OVER (PARTITION BY hk % 16 ORDER BY hk, doc_id)
        |    AS pos
        |FROM d ORDER BY shard, pos"""))),

    // Domain mixture weighting (the sampling-weight table of DoReMi-style
    // / temperature-sampled pretraining mixes, α = 0.5): per-source doc
    // and token counts, token share, and share^0.5 as the up/down-
    // sampling weight. Two-level aggregation + one broadcast 1-row total —
    // linear, no wide shuffle. token_share and mix_weight_a05 are emitted
    // unrounded: both are bit-exact cross-engine (correctly-rounded IEEE
    // division of identical exact BIGINTs, then correctly-rounded sqrt —
    // no fma-contractable shape), declared in preflight EXEMPT_UNROUNDED.
    Q("text_domain_mix",
      (s, dir) => {
        val per = Tables.table(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("toks"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        val tot = per.agg(sum(col("n_tokens")).as("tot"))
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            (col("n_tokens").cast("double") / col("tot").cast("double"))
              .as("token_share"),
            sqrt(col("n_tokens").cast("double") / col("tot").cast("double"))
              .as("mix_weight_a05"))
          .transform(df => Det.orderedDomain(df, col("source")))
      },
      Some(sql("""WITH per AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(n_tokens)::BIGINT AS tot FROM per)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS token_share,
        |  sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE))
        |    AS mix_weight_a05
        |FROM per, tot ORDER BY source"""))),

    // PII scrubbing: regex redaction of emails and long digit runs (D6
    // regex subset — char classes and bounded repetition only). The
    // fixture text is clean lowercase words, so deterministic synthetic
    // PII is appended per row to give the scrubber real work; the op
    // itself is the production shape: narrow regexp_replace chain on the
    // scan, no shuffle.
    Q("text_pii_scrub",
      (s, dir) => Tables.table(s, dir, "documents")
        .withColumn("raw", concat(col("text"),
          lit(" user"), col("doc_id").cast("string"),
          lit("@mail.com code "),
          (col("n_chars") * lit(7919L) + col("doc_id")).cast("string")))
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("raw"),
              "[a-z0-9]+@[a-z0-9]+\\.[a-z]+", "<email>"),
            "[0-9]{4,}", "<num>").as("scrubbed"))
        .withColumn("n_email",
          (size(split(col("scrubbed"), "<email>", -1)) - 1).cast("long"))
        .withColumn("n_num",
          (size(split(col("scrubbed"), "<num>", -1)) - 1).cast("long"))
        .orderBy(col("doc_id")),
      Some(sql("""WITH scrub AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' user' || CAST(doc_id AS VARCHAR) ||
        |          '@mail.com code ' ||
        |          CAST(n_chars * 7919 + doc_id AS VARCHAR),
        |        '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<email>', 'g'),
        |      '[0-9]{4,}', '<num>', 'g') AS scrubbed
        |  FROM documents)
        |SELECT doc_id, scrubbed,
        |  (len(string_split(scrubbed, '<email>')) - 1)::BIGINT AS n_email,
        |  (len(string_split(scrubbed, '<num>')) - 1)::BIGINT AS n_num
        |FROM scrub ORDER BY doc_id"""))),
  )

  /** `text_countmin_topk`'s sketch shape: [[CmDepth]] hash rows ×
    * [[CmWidth]] counters. The width is interpolated into the oracle SQL;
    * the depth is its two spelled-out hash rows. Constants (`final val`,
    * inlined), so `qs` reads them before this object's body runs. */
  private[graft] final val CmDepth = 2
  private[graft] final val CmWidth = 4096

  /** Count-min estimates over the token stream at a given (depth, width)
    * — the parameterized core of `text_countmin_topk` (at [[CmDepth]] ×
    * [[CmWidth]]) and of the property test sweeping (d, w) to retest the
    * domination bound (VERDICT r3 task 6). Returns (word, true_cnt,
    * cm_est, overcount), unfiltered. The counter table is depth × width cells built in one
    * pass and broadcast back — queries never rescan the corpus. */
  private[graft] def countMinEstimates(
      s: SparkSession, dir: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad CM shape ($depth, $width)")
    val tokens = Tables.table(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
    def bucket(j: Int, w: String) =
      s"(${whExpr(s"concat('$j|', $w)")} % $width)"
    // ONE corpus tokenize+aggregate feeds everything (r17, guide §2.3):
    // the counter rows used to re-explode the corpus per depth row and
    // md5 EVERY TOKEN (depth× corpus-sized hash passes); deriving them
    // from the per-word counts — sum(true_cnt) grouped by the word's
    // bucket ≡ count of tokens in the bucket, exact BIGINTs — hashes
    // each word TYPE once (vocabulary-sized, Heaps' law ≪ corpus).
    // The word counts are CHECKPOINTED, not shared lazily: the depth+1
    // consumers carry different inferred isnotnull(bucket) join filters,
    // which Catalyst pushes below the aggregate into each subtree — the
    // exchanges stop canonicalizing equal, reuse never fires, and the
    // corpus was still tokenized depth+1 times WITH a per-token md5 in
    // the pushed filter (measured in the plan). The pinned blocks make
    // the corpus pass run once and every bucket hash vocabulary-sized.
    val words = tokens.groupBy(col("word"))
      .agg(count(lit(1)).as("true_cnt"))
      .localCheckpoint()
    val counters = (0 until depth).map { j =>
      words
        .select(lit(j).as("row_id"), expr(bucket(j, "word")).as("bucket"),
          col("true_cnt"))
        .groupBy(col("row_id"), col("bucket"))
        .agg(sum(col("true_cnt")).as("c"))
    }.reduce(_ unionByName _)
    val withBuckets = (0 until depth).foldLeft(words) { (df, j) =>
      df.withColumn(s"b$j", expr(bucket(j, "word")))
    }
    val joined = (0 until depth).foldLeft(withBuckets) { (df, j) =>
      df.join(broadcast(counters.filter(col("row_id") === j)
        .select(col("bucket").as(s"b$j"), col("c").as(s"c$j"))), s"b$j")
    }
    val est =
      if (depth == 1) col("c0")
      else least((0 until depth).map(j => col(s"c$j")): _*)
    joined
      .select(col("word"), col("true_cnt"), est.as("cm_est"))
      .withColumn("overcount", col("cm_est") - col("true_cnt"))
  }

  /** Wall-clock spent inside train-once memo MISSES (BPE merge loops, PQ
    * codebooks, coarse k-means). Bench samples the counter around each
    * query so `bench_detail.json` can report training separately from
    * search (VERDICT r9 task 3): in production these train once per
    * corpus and amortize over every subsequent search, so billing them
    * to whichever query happens to miss the cache misstates the steady
    * state. Cache HITS add zero — only the miss lambdas are timed. */
  private[graft] object TrainClock {
    private val acc = new java.util.concurrent.atomic.AtomicLong
    // Per-phase attribution (r15, VERDICT r14 task 6): the grown sweeps
    // showed train_warm_sec moving 60->96 s at 100x with no code change —
    // without a per-phase split there is no way to tell "k-means got
    // slower" from "the host dispatch floor moved". Keys are the training
    // family (kmeans_coarse / pq_codebook / bpe_word / bpe_byte), summed
    // across cache misses; Bench snapshots the map into `_meta`.
    private val phases = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]
    def nanos: Long = acc.get
    def phaseNanos: Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      phases.asScala.map { case (k, v) => k -> v.get }.toMap
    }
    def timed[T](phase: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally {
        val dt = System.nanoTime() - t0
        acc.addAndGet(dt)
        phases.computeIfAbsent(phase,
          _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(dt)
      }
    }
  }

  /** A train-once/search-many memo: `apply(s, key)(train)` runs `train`
    * once per (session, key) and serves the result after. Outer map:
    * WeakHashMap keyed by session, so a session's entries die with it
    * (the old flat map keyed on identityHashCode leaked entries forever
    * AND could alias a recycled identity hash — ADVICE r5). Keys are
    * strings (or tuples of them and params), never plan objects: a
    * LogicalRelation retains its SparkSession, and a value→key strong
    * reference would pin every WeakHashMap entry live, re-creating the
    * leak — frames key on [[planKey]]. */
  private[operators] final class SessionMemo[K, V] {
    private val bySession = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[K, V]]())
    def apply(s: SparkSession, key: K)(train: => V): V =
      bySession.computeIfAbsent(s,
          _ => new java.util.concurrent.ConcurrentHashMap[K, V]())
        .computeIfAbsent(key, _ => train)
  }

  /** Memo key of a frame: the canonicalized plan's normalized tree
    * STRING plus its sorted backing files. `canonicalized` normalizes
    * expr IDs, so structurally equal frames render identically, and
    * distinct trees render distinctly — unlike the previous 32-bit
    * hashCode, which could silently serve a codebook trained on DIFFERENT
    * data after a collision.
    *
    * The canonicalized string alone is NOT sufficient (r8 regression,
    * caught by the nprobe recall sweep): a parquet LogicalRelation's
    * canonical form prints columns but no file path, so structurally
    * identical reads of sf0.001 and sf0.1 render the SAME string and the
    * second search silently reuses the first dataset's codebook. The key
    * therefore also embeds the sorted `Dataset.inputFiles` — the public
    * API that names the backing files. */
  private[operators] def planKey(df: DataFrame): String =
    df.queryExecution.logical.canonicalized.toString +
      "|" + df.inputFiles.sorted.mkString(",")

  /** Corpus-count memo keyed by [[planKey]]: the SRP band width
    * ([[Curate.srpBits]]), the codebook training sample ([[Ann]]) and
    * `text_ngram_jaccard`'s partition count each need a corpus count per
    * plan build, and within a session each frame is counted once. */
  private val countMemo = new SessionMemo[String, Long]

  private[operators] def countOf(e0: DataFrame): Long =
    countMemo(e0.sparkSession, planKey(e0))(e0.count())
}
