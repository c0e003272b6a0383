package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond the SURVEY §2.1 inventory —
  * the north star's "dedup, similarity search, multimodal columns, text
  * analysis" surface a 100 TB corpus pipeline actually needs.
  *
  * Literature: SimHash is Charikar (STOC 2002) as deployed in Manku et
  * al. (WWW 2007); IVF coarse quantization follows the inverted-file
  * shape of Sivic & Zisserman (ICCV 2003) / Jégou et al. (PAMI 2011).
  *
  * Design notes:
  *  - every text op is a single scan + narrow transforms (+ one shuffle
  *    where grouped) — the shapes that scale linearly;
  *  - cross-engine word hashing uses md5-hex → BIGINT (both engines agree
  *    bit-for-bit; xxhash64 exists only in Spark);
  *  - `text_ngram_jaccard` joins on the shingle value — candidate pairs
  *    are generated per shingle bucket, never all-pairs (frequency-capped
  *    at scale to bound hot shingles);
  *  - `vec_ann_ivf` is the IVF(-flat) shape: coarse quantizer → inverted
  *    lists → nprobe-bounded search. The codebook is trained by
  *    deterministic k-means (first-k init, exact-decimal Lloyd means);
  *    on a cluster the codebook is tiny and broadcast, and only probed
  *    lists are scanned;
  *  - `mm_binary_meta` treats documents as opaque binary blobs with typed
  *    metadata: the decode step is a clearly-marked deterministic STUB
  *    (codec libraries are not in this container) but the Spark-side
  *    plumbing — binary column, schema, per-row metadata extraction — is
  *    real and oracle-checked.
  */
object PipelineOps {
  import Det._

  /** md5-derived 60-bit word hash, identical in Spark and DuckDB —
    * shared with TextOps' oracle-checked minhash signatures. */
  private[operators] def whExpr(w: String): String =
    s"CAST(conv(substring(md5($w), 1, 15), 16, 10) AS BIGINT)"
  private[operators] def sqlWh(w: String): String =
    s"CAST(concat('0x', substring(md5($w), 1, 15)) AS BIGINT)"

  /** Context length used by text_chunk_pack (and its roundtrip test). */
  private[graft] val CHUNK_LEN = 32

  /** Frequency-ranked vocabulary: id 1 = most frequent, ties by word —
    * shared by text_tokenize_ids, text_chunk_pack, pipeline_pretokenize,
    * and the roundtrip test so the ranking rule cannot drift between them.
    * Ranked via [[DistRank]] (r12, VERDICT r11 task 1): vocabulary grows
    * with the corpus (Heaps' law — ~10⁸⁺ types at 100 TB), so the old
    * unpartitioned `row_number` window was a single-task global sort; the
    * two-phase rank is bit-identical ((cnt desc, word) is a strict total
    * order — word is unique) with no single-partition exchange. */
  private[graft] def vocabOf(tokens: DataFrame): DataFrame =
    vocabOfCounts(tokens.groupBy(col("word")).agg(count(lit(1)).as("cnt")))

  /** [[vocabOf]] over a pre-aggregated `(word, cnt)` frame — the single
    * place the ranking rule (cnt desc, word asc, 1-based) lives. Callers
    * whose token source is expensive to recompute checkpoint the counts
    * frame first (pipeline_pretokenize — r17, guide §3.3: DistRank's
    * range sort evaluates its input twice, sampling + shuffle map, and
    * without the cut each evaluation replayed the whole curate chain). */
  private[graft] def vocabOfCounts(counts: DataFrame): DataFrame =
    DistRank.withRank(counts,
      Seq(col("cnt").desc, col("word").asc), "id")
      .select(col("word"), col("id"))

  private[graft] def tokensOf(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))

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

    // Benchmark decontamination: for every candidate training doc, how
    // many of its distinct 5-gram shingles appear in the held-out
    // "benchmark" set (docs from source='src1' stand in for the eval
    // suite). The canonical pre-training hygiene pass: shingle-level
    // n-gram overlap against the benchmark shingle dictionary via an
    // equi-join — the benchmark dictionary is small and broadcastable at
    // any corpus scale; candidate shingles stream past it. Left join so
    // clean docs emit 0.
    Q("text_contamination_ngrams",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        // raw (non-distinct) shingle stream — each branch dedups at its
        // own granularity so the benchmark side pays one shuffle, not two
        def shingles(d: org.apache.spark.sql.DataFrame) = d
          .withColumn("w", split(col("text"), " "))
          .filter(size(col("w")) >= 5)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(w) - 4),
              |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
              |    element_at(w, i + 2), element_at(w, i + 3),
              |    element_at(w, i + 4)))""".stripMargin)).as("sh"))
        val bench = shingles(docs.filter(col("source") === "src1"))
          .select(col("sh")).distinct()
          .withColumn("hit", lit(1))
        // single pass over the candidate shingles: total and contaminated
        // counts from one broadcast left join (count(hit) skips nulls)
        shingles(docs.filter(col("source") =!= "src1")).distinct()
          .join(broadcast(bench), Seq("sh"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            count(col("hit")).as("n_contaminated"))
          .withColumn("contamination_ratio",
            col("n_contaminated").cast("double") / col("n_shingles"))
          .orderBy(col("doc_id"))
      },
      Some(sql("""WITH sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    ws[k] || ' ' || ws[k+1] || ' ' || ws[k+2] || ' ' || ws[k+3]
        |      || ' ' || ws[k+4] AS sh
        |  FROM (SELECT doc_id, source, ws,
        |          unnest(generate_series(1, len(ws) - 4)) AS k
        |        FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
        |              FROM documents)
        |        WHERE len(ws) >= 5)),
        |bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src1'),
        |cand AS (SELECT doc_id, sh FROM sh WHERE source <> 'src1'),
        |hits AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_contaminated
        |  FROM cand SEMI JOIN bench USING (sh) GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*)::BIGINT AS n_shingles
        |        FROM cand GROUP BY doc_id)
        |SELECT doc_id, n_shingles,
        |  coalesce(n_contaminated, 0)::BIGINT AS n_contaminated,
        |  (coalesce(n_contaminated, 0)::DOUBLE / n_shingles)
        |    AS contamination_ratio
        |FROM tot LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id"""))),

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
    // per-stratum count rides the same domain-sized anchor aggregate, so
    // the separate quota aggregate (a second corpus scan) disappears:
    // quota = ceil(n/5) in exact integer arithmetic directly on the
    // anchor count ((n+4) DIV 5 — n·0.2 in binary doubles can land an
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

    // Near-dup cluster assignment: connected components over the dedup
    // candidate graph, Pregel-style min-label propagation. Edges are
    // star edges to each bucket's min doc (doc → min of its sha256
    // bucket, doc → min of its opening-3-token bucket) — LINEAR in corpus
    // size, never all-pairs-within-bucket; components then merge docs
    // transitively linked through either key (in production the same
    // machinery runs over MinHash/SimHash candidate pairs). The driver
    // loop is superstep-style: each iteration is one shuffle round, the
    // convergence check reads back a single decimal sum, and labels only
    // ever decrease so the sum strictly decreases until fixpoint; the
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
          AnnFixed.countOf(Tables.table(s, dir, "documents")) / 125)).toInt
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
        Tables.table(s, dir, "embeddings").select(
          col("vec_id"), col("embedding")),
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
        Tables.table(s, dir, "embeddings").select(
          col("vec_id"), col("embedding")),
        m = 4, k = 16, iters = 2),
      None),

    // IVF-PQ: the two quantizers composed into the billion-vector search
    // shape — coarse lists bound candidates, PQ lookup tables score them
    // without ever touching raw vectors (4 bytes/vector on the search
    // path). See [[ivfpqSearch]]; recall vs exact-ranked IVF-flat at the
    // same (nlists, nprobe) is measured in AnnRecallSpec.
    Q("vec_ann_ivfpq",
      (s, dir) => ivfpqSearch(
        Tables.table(s, dir, "embeddings").select(
          col("vec_id"), col("embedding")),
        nlists = 16, nprobe = 3, m = 8, k = 16, iters = 2, nQueries = 20),
      None),

    // Corpus tokenization: frequency-ranked vocabulary (id 1 = most
    // frequent, ties broken by word) and each document re-encoded as its
    // token-id sequence — the vocab-build + encode step of a training-data
    // pipeline. Two shuffles (vocab agg, doc re-assembly); the vocab is
    // dimension-sized and would broadcast at scale.
    Q("text_tokenize_ids",
      (s, dir) => {
        val tokens = tokensOf(s, dir)
        val vocab = vocabOf(tokens)
        tokens.join(broadcast(vocab), "word")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            concat_ws(",", expr(
              "transform(array_sort(collect_list(struct(pos, id))), x -> cast(x.id as string))"))
              .as("ids_csv"))
          .orderBy(col("doc_id"))
      },
      Some(sql("""WITH tokens AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, len(string_split(text, ' ')) - 1))
        |      AS pos,
        |    unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |vocab AS (
        |  SELECT word, row_number() OVER (ORDER BY count(*) DESC, word ASC)
        |    AS id
        |  FROM tokens GROUP BY word)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |  string_agg(id, ',' ORDER BY pos) AS ids_csv
        |FROM tokens JOIN vocab USING (word)
        |GROUP BY doc_id ORDER BY doc_id"""))),

    // BPE merge-table training — the vocabulary-LEARNING step of a
    // tokenizer pipeline (text_token_count/text_tokenize_ids apply a
    // vocabulary; this builds one). Classic word-frequency BPE: the
    // corpus collapses to a (word, freq) dictionary ONCE (the only
    // corpus-sized job — at 100 TB this is one shuffle and the dict is
    // millions of rows, not billions), the frequency head (top
    // BPE_MAX_TYPES types) is TakeOrdered-collected, and ALL R merge
    // rounds run driver-local over that bounded sample with an inverted
    // pair index — two Spark jobs total, however many merges (r13,
    // VERDICT r12 task 2; see bpeMerges for the full shape). Iterative
    // argmax has no SQL twin → rows-only; gated by the pure-Python
    // differential in scripts/preflight.py, and InvariantSpec pins
    // round-1 against an independently computed char-bigram argmax,
    // merged = left||right, and the applied-merge bookkeeping.
    Q("text_bpe_merges",
      (s, dir) => {
        import s.implicits._
        bpeMerges(s, dir)
          .toDF("rank", "left", "right", "merged", "pair_freq")
          .orderBy(col("rank"))
      },
      None),

    // Byte-level BPE merge-table training (VERDICT r7 task 5) — the
    // production-tokenizer variant of text_bpe_merges: symbols start as
    // UTF-8 bytes (decimal strings), so ANY input text trains without an
    // alphabet filter. Same iterative-argmax shape → rows-only; gated by
    // the independent pure-Python byte-BPE differential in
    // scripts/preflight.py (all 8 merge rounds must match).
    Q("text_bpe_bytes",
      (s, dir) => {
        import s.implicits._
        bpeByteMerges(s, dir)
          .toDF("rank", "left", "right", "merged", "pair_freq")
          .orderBy(col("rank"))
      },
      None),

    // BPE ENCODE — the apply half of the tokenizer (train builds the
    // merge table; this segments text with it): each vocabulary word is
    // split to chars and the trained merges are applied in rank order,
    // one greedy left-to-right non-overlapping pass per rule (a merged
    // symbol is a new token that cannot re-match its own rule, so one
    // pass per rule IS the BPE apply semantics — identical to the
    // training loop's own replace). Trained merges are engine-derived →
    // rows-only; the APPLY algebra is hash-checked by
    // `text_bpe_encode_fixed` below, and the roundtrip (strip spaces =
    // word) is pinned in InvariantSpec. One scan + one vocab-sized
    // groupBy at 100 TB: encoding is per-distinct-word, then a
    // broadcast-join maps documents to their encoded forms — this key
    // emits the vocabulary-level encoding, the reusable artifact.
    // Merge-table-width note: the R-rule regexp fold builds an R-deep
    // expression, right for the R=8 table here and oracle-shareable; a
    // production table (R ~ 10⁴) would encode via mapPartitions with the
    // rank-priority algorithm instead (repeatedly merge the
    // lowest-ranked adjacent pair) — equivalent output, because each
    // rule's constituents were merged before it during training, so
    // rank-order replay and rank-priority merging coincide.
    Q("text_bpe_encode",
      (s, dir) => {
        val merges = bpeMerges(s, dir).map(m => (m._2, m._3))
        tokensOf(s, dir)
          .filter(col("word").rlike("\\A[a-z]+\\z"))
          .groupBy(col("word")).agg(count(lit(1)).as("freq"))
          .withColumn("syms", trim(applyMerges(
            concat(lit(" "), concat_ws(" ",
              expr("filter(split(word, ''), x -> x <> '')")), lit(" ")),
            merges)))
          .select(col("word"), col("freq"),
            size(split(col("syms"), " ")).cast("long").as("n_syms"),
            col("syms"))
          .orderBy(col("word"))
      },
      None),

    // The BPE apply algebra hash-checked (r8): same fold as
    // text_bpe_encode but over a FIXED literal merge table, so both
    // engines run the identical replace chain. Lookbehind is not
    // RE2-expressible, so the shared formulation uses the double-space
    // trick instead: double every gap, match the plain literal
    // ' l  r ' (each symbol's flanking space is then exclusively its
    // own — adjacent matches no longer contend for one shared space),
    // replace with ' lr ', re-collapse. Leftmost non-overlapping global
    // replace is identical in Java and RE2 for a literal pattern, so
    // every intermediate string is equal cross-engine.
    Q("text_bpe_encode_fixed",
      (s, dir) => {
        tokensOf(s, dir)
          .filter(col("word").rlike("\\A[a-z]+\\z"))
          .groupBy(col("word")).agg(count(lit(1)).as("freq"))
          .withColumn("syms", trim(applyMerges(
            concat(lit(" "), concat_ws(" ",
              expr("filter(split(word, ''), x -> x <> '')")), lit(" ")),
            FIXED_MERGES)))
          .select(col("word"), col("freq"),
            size(split(col("syms"), " ")).cast("long").as("n_syms"),
            col("syms"))
          .orderBy(col("word"))
      },
      Some(sql(s"""WITH v AS (
        |  SELECT word, count(*)::BIGINT AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word
        |    FROM documents)
        |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
        |enc AS (
        |  SELECT word, freq,
        |    trim(${sqlApplyMerges(
               "' ' || array_to_string(string_split(word, ''), ' ') || ' '",
               FIXED_MERGES)}) AS syms
        |  FROM v)
        |SELECT word, freq,
        |  len(string_split(syms, ' '))::BIGINT AS n_syms, syms
        |FROM enc ORDER BY word"""))),

    // BYTE-level BPE encode — the apply half of `text_bpe_bytes`,
    // completing the {word, byte} × {train, encode} tokenizer matrix:
    // each word rendered as its UTF-8 bytes (decimal-string symbols, the
    // same alphabet the byte trainer uses — any input decomposes, no
    // [a-z]+ filter), trained byte merges applied in rank order with the
    // '.'-joined merged-symbol naming. Trained merges are engine-derived
    // → rows-only; the apply fold is the SAME applyMerges the
    // hash-checked `text_bpe_encode_fixed` pins, and the byte roundtrip
    // (syms with '.' → ' ' = the original byte rendering) is pinned in
    // InvariantSpec. Same 100 TB shape as the word-level encode: one
    // vocab-sized groupBy, then documents broadcast-join their words.
    Q("text_bpe_encode_bytes",
      (s, dir) => {
        val merges = bpeByteMerges(s, dir).map(m => (m._2, m._3))
        tokensOf(s, dir)
          .groupBy(col("word")).agg(count(lit(1)).as("freq"))
          .withColumn("syms", trim(applyMerges(
            concat(lit(" "), concat_ws(" ", expr(
              """transform(sequence(1, octet_length(word)),
                |  i -> conv(substring(hex(encode(word, 'UTF-8')),
                |            2 * i - 1, 2), 16, 10))""".stripMargin)),
              lit(" ")), merges, _ + "." + _)))
          .select(col("word"), col("freq"),
            size(split(col("syms"), " ")).cast("long").as("n_syms"),
            col("syms"))
          .orderBy(col("word"))
      },
      None),

    // Sequence packing: each document's token-id sequence split into
    // fixed-length chunks of 32 (context-length packing for training).
    // Chunk i is, by definition, the tokens at positions
    // [i·CHUNK_LEN, i·CHUNK_LEN + CHUNK_LEN), so packing is a REGROUP on
    // (doc_id, pos DIV CHUNK_LEN) — never "collect the whole document
    // then slice". The collect-then-slice formulation carried the full
    // per-doc id array once per chunk row; at the 100× sweep that
    // duplication OOM-killed the DuckDB oracle (list projections don't
    // spill), and on Spark it held doc-sized arrays through an explode
    // for no reason. The regroup's state per group is one chunk
    // (≤ CHUNK_LEN ids) — spill-friendly in any engine at any scale.
    Q("text_chunk_pack",
      (s, dir) => {
        val tokens = tokensOf(s, dir)
        val vocab = vocabOf(tokens)
        tokens.join(broadcast(vocab), "word")
          .groupBy(col("doc_id"),
            expr(s"pos DIV $CHUNK_LEN").cast("long").as("chunk_idx"))
          .agg(expr(
            "transform(array_sort(collect_list(struct(pos, id))), x -> x.id)")
            .as("chunk"))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk")).cast("long").as("chunk_len"),
            concat_ws(",", expr("transform(chunk, x -> cast(x as string))"))
              .as("chunk_csv"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some(sql("""WITH tokens AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, len(string_split(text, ' ')) - 1))
        |      AS pos,
        |    unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |vocab AS (
        |  SELECT word, row_number() OVER (ORDER BY count(*) DESC, word ASC)
        |    AS id
        |  FROM tokens GROUP BY word),
        |chunked AS (
        |  SELECT doc_id, pos // 32 AS chunk_idx, list(id ORDER BY pos)
        |    AS chunk
        |  FROM tokens JOIN vocab USING (word)
        |  GROUP BY doc_id, pos // 32)
        |SELECT doc_id, chunk_idx, len(chunk)::BIGINT AS chunk_len,
        |  array_to_string(chunk, ',') AS chunk_csv
        |FROM chunked ORDER BY doc_id, chunk_idx"""))),

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

    // Multimodal plumbing: documents as opaque binary + typed metadata.
    // The "decode" (width/height/frames) is a deterministic STUB derived
    // from the content hash — codec libs are not in this container; a real
    // deployment swaps the stub for mapPartitions over the codec while the
    // schema/partitioning/metadata shape stays identical.
    Q("mm_binary_meta",
      (s, dir) => Tables.table(s, dir, "documents")
        .withColumn("bin", col("text").cast("binary"))
        .withColumn("wh", expr(whExpr("text")))
        .select(col("doc_id"),
          length(col("bin")).cast("long").as("n_bytes"),
          hex(expr("substring(bin, 1, 8)")).as("first8_hex"),
          sha2(col("bin"), 256).as("content_sha256"),
          when(pmod(col("wh"), lit(3)) === 0, "image")
            .when(pmod(col("wh"), lit(3)) === 1, "audio")
            .otherwise("video").as("kind"),
          (lit(32L) + pmod(col("wh"), lit(480))).as("meta_width"),
          (lit(32L) + pmod(expr("wh DIV 480"), lit(480))).as("meta_height"),
          (lit(1L) + pmod(col("wh"), lit(30))).as("meta_frames"))
        .orderBy(col("doc_id")),
      Some(sql(s"""SELECT doc_id,
        |octet_length(encode(text))::BIGINT AS n_bytes,
        |hex(encode(substring(text, 1, 8))) AS first8_hex,
        |sha256(text) AS content_sha256,
        |CASE WHEN ${sqlWh("text")} % 3 = 0 THEN 'image'
        |     WHEN ${sqlWh("text")} % 3 = 1 THEN 'audio'
        |     ELSE 'video' END AS kind,
        |32 + ${sqlWh("text")} % 480 AS meta_width,
        |32 + (${sqlWh("text")} // 480) % 480 AS meta_height,
        |1 + ${sqlWh("text")} % 30 AS meta_frames
        |FROM documents ORDER BY doc_id"""))),
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

  /** Train-once memo for [[bpeMerges]] and [[bpeByteMerges]], keyed by
    * the input dir. */
  private val bpeMemo =
    new SessionMemo[String, Seq[(Long, String, String, String, Long)]]

  /** Word-type cap for BPE training — the frequency-weighted sample size
    * (VERDICT r12 task 2). Training collects at most this many word TYPES,
    * taken deterministically by (freq DESC, word ASC) — the head of the
    * frequency distribution, which at any corpus size carries ~all the
    * pair-count mass (Zipf: the tail types each contribute one count to
    * pairs the head already dominates; merge quality converges long
    * before the tail matters — the same truncation every production
    * tokenizer trainer applies). Every fixture SF and grown sweep has
    * vocabulary far below the cap, so the sample == the full dict there
    * and the pure-Python differential replays identically; the cap is
    * mirrored verbatim in scripts/preflight.py bpe_ref so both sides
    * truncate the same way if a future corpus crosses it. Driver memory
    * at the cap: ~1M short strings, tens of MB. */
  private[graft] val BPE_MAX_TYPES: Int = 1 << 20

  /** The 8-round BPE training behind `text_bpe_merges`, memoized per
    * (session, dir) so Verify/Bench/tests repeating the key pay training
    * once (the [[SessionMemo]] discipline). The symbol alphabet is the
    * DOCUMENTED [a-z]+: words outside it are dropped before training
    * (inert on the fixtures — every token matches — but it makes the
    * lexicographic tie-break well-defined: Spark's orderBy compares UTF-8
    * bytes while the reference replay compares code points, and the two
    * orders only agree on ASCII; ADVICE r6).
    *
    * Training is differentially tested: `scripts/preflight.py` replays
    * the same (word, freq) dict through an independent pure-Python BPE
    * and asserts all 8 merge rounds identical (VERDICT r6 task 5).
    *
    * SCALE SHAPE (r13, VERDICT r12 task 2 — replaces the r11 "honest
    * ceiling": R sequential `limit(1).collect()` argmax jobs + R
    * full-vocabulary regexp passes): training is now exactly TWO Spark
    * jobs regardless of R — (1) the corpus-proportional (word, freq)
    * count (map-side-combined hash agg), (2) a distributed TakeOrdered
    * top-[[BPE_MAX_TYPES]] collect of the dictionary head — followed by
    * [[bpeTrainLocal]], a driver-local greedy loop over the bounded
    * sample with an inverted pair→words index and an ordered pair-count
    * set, O(affected-word-bytes · log #pairs) per merge and ZERO Spark
    * jobs per round. A production merge table (R ~ 10⁴–10⁵) is minutes
    * of driver CPU over the cap-bounded sample instead of tens of
    * thousands of sequential cluster jobs. Greedy semantics (argmax by
    * pair freq, ties to the lexicographically smallest (l, r), greedy
    * leftmost non-overlapping rewrite) are unchanged — the differential
    * gate and the round-1 argmax specs pin them. */
  private[graft] def bpeMerges(s: SparkSession,
      dir: String): Seq[(Long, String, String, String, Long)] = {
    bpeMemo(s, dir)(TrainClock.timed("bpe_word") {
      // \A..\z whole-input anchors (ADVICE r7): Java's `$` also matches
      // before a trailing newline, while the preflight differential's
      // DuckDB/RE2 `$` is end-of-text only — "abc\n" must be dropped by
      // BOTH filters or the differential gate mis-fires on future data.
      // Words are ASCII [a-z]+ here, so chars == code points == UTF-8
      // bytes and the local split matches both the old split-on-'' and
      // the Python replay's tuple(word).
      bpeTrainLocal(
        bpeDict(s, dir, azOnly = true)
          .map { case (w, f) => (w.map(_.toString).toArray, f) },
        rounds = 8, mergeSym = _ + _)
    })
  }

  /** The shared dictionary job for both trainers: one corpus-proportional
    * (word, freq) hash agg, then the deterministic frequency-weighted
    * head — TakeOrdered top-[[BPE_MAX_TYPES]] by (freq DESC, word ASC),
    * a distributed per-partition top-K merge, never a full sort. */
  private def bpeDict(s: SparkSession, dir: String,
      azOnly: Boolean): Seq[(String, Long)] = {
    val toks = tokensOf(s, dir)
    val filtered = if (azOnly) toks.filter(col("word").rlike("\\A[a-z]+\\z"))
      else toks
    filtered.groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(BPE_MAX_TYPES)
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** Byte-level BPE training behind `text_bpe_bytes` (VERDICT r7 task 5):
    * the same greedy merge semantics as [[bpeMerges]], but the initial
    * symbol alphabet is each word's UTF-8 BYTES rendered as decimal
    * strings ("hello" → 104 101 108 108 111), the production-tokenizer
    * alphabet — every word participates, no [a-z]+ filter needed, because
    * any input (emoji, CJK, mojibake) decomposes into the same 256
    * symbols. Merged symbols join their parts with '.' ("104.101"), so a
    * symbol is always `[0-9.]+` and the lexicographic (l, r) tie-break
    * compares pure-ASCII strings — identical under Spark's UTF-8-byte
    * order and the Python replay's code-point order (the reason the
    * word-level variant needs its alphabet filter at all).
    * `scripts/preflight.py` replays the same (word, freq) dict through an
    * independent pure-Python byte BPE and asserts all 8 merge rounds
    * identical. Same two-job + driver-local scale shape as [[bpeMerges]]. */
  private[graft] def bpeByteMerges(s: SparkSession,
      dir: String): Seq[(Long, String, String, String, Long)] = {
    bpeMemo(s, dir + "#bytes")(TrainClock.timed("bpe_byte") {
      // (b & 0xff).toString == Python's str(b) for unsigned UTF-8 bytes
      // == the old SQL conv(hex(...), 16, 10) decimal rendering.
      bpeTrainLocal(
        bpeDict(s, dir, azOnly = false)
          .map { case (w, f) =>
            (w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              .map(b => (b & 0xff).toString), f)
          },
        rounds = 8, mergeSym = _ + "." + _)
    })
  }

  /** Fixed literal merge table for `text_bpe_encode_fixed` — rank order;
    * rule 2 consumes rule 1's output ("th"+"e"), so the apply fold's
    * multi-char symbol matching is exercised, not just char pairs.
    * A `def`, not a `val`: `qs` above initializes first and would read
    * null from a val declared below it (the TextOps CW_P lesson). */
  private def FIXED_MERGES: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"))

  /** Apply `merges` in rank order to a space-joined, space-padded symbol
    * string: per rule, double every gap, replace the literal ' l  r '
    * with ' lr ', re-collapse. The doubling gives each symbol an
    * exclusively-owned flanking space, so adjacent matches never contend
    * for a shared boundary space — the lookaround-free equivalent of the
    * training loop's `(?<= )…(?= )` replace, expressible identically in
    * Java and RE2 (RE2 has no lookbehind). One greedy leftmost
    * non-overlapping pass per rule is exact BPE apply semantics: a
    * merged symbol is a new token that cannot re-match its own rule. */
  private def applyMerges(c0: Column, merges: Seq[(String, String)],
      mergeSym: (String, String) => String = _ + _): Column =
    merges.foldLeft(c0) { case (c, (l, r)) =>
      regexp_replace(
        regexp_replace(
          regexp_replace(c, " ", "  "),
          " " + java.util.regex.Pattern.quote(l) + "  " +
            java.util.regex.Pattern.quote(r) + " ",
          java.util.regex.Matcher.quoteReplacement(s" ${mergeSym(l, r)} ")),
        " +", " ")
    }

  /** DuckDB twin of [[applyMerges]] (symbols here are [a-z]+ so no
    * regex/quote escaping is needed in the inlined literals). */
  private def sqlApplyMerges(e: String,
      merges: Seq[(String, String)]): String =
    merges.foldLeft(e) { case (s, (l, r)) =>
      s"regexp_replace(regexp_replace(regexp_replace($s, ' ', '  ', " +
        s"'g'), ' $l  $r ', ' ${l + r} ', 'g'), ' +', ' ', 'g')"
    }

  /** The shared greedy BPE merge loop, driver-local over the cap-bounded
    * frequency sample (r13 scale shape — see [[bpeMerges]]): each round
    * merges the most frequent adjacent symbol pair (ties to the
    * lexicographically smallest (l, r)) greedily left-to-right
    * non-overlapping, `mergeSym` names the merged symbol — bit-identical
    * semantics to the old R-job Spark loop and to preflight's bpe_ref.
    *
    * Data structures make R large-able: `byPair` is an inverted
    * pair → word-index set, so a merge touches only the words that
    * contain its pair; `ordered` is a TreeSet over (freq, l, r) with the
    * argmax comparator, so each round's winner is `head` in O(log n) and
    * every pair-count change is a remove+insert. Cost per merge:
    * O(Σ affected word lengths · log #pairs) — no full-dictionary rescan,
    * no full pair-table rescan, zero Spark jobs. */
  private[graft] def bpeTrainLocal(dict: Seq[(Array[String], Long)],
      rounds: Int, mergeSym: (String, String) => String)
      : Seq[(Long, String, String, String, Long)] = {
    import scala.collection.mutable
    val syms: Array[Array[String]] = dict.map(_._1).toArray
    val freq: Array[Long] = dict.map(_._2).toArray
    val pairFreq = mutable.HashMap.empty[(String, String), Long]
    val byPair = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    // argmax order: freq DESC, then (l, r) ASC — symbols are ASCII
    // ([a-z]+ chars or decimal byte strings), so String.compareTo's
    // UTF-16 order == UTF-8 byte order == code-point order.
    val ordered = mutable.TreeSet.empty[(Long, String, String)](
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String),
            b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) c
          else {
            val cl = a._2.compareTo(b._2)
            if (cl != 0) cl else a._3.compareTo(b._3)
          }
        }
      })
    def bump(p: (String, String), delta: Long): Unit = {
      val c0 = pairFreq.getOrElse(p, 0L)
      val c1 = c0 + delta
      if (c0 > 0) ordered.remove((c0, p._1, p._2))
      if (c1 > 0) { pairFreq(p) = c1; ordered.add((c1, p._1, p._2)) }
      else pairFreq.remove(p)
    }
    /** Per-word pair occurrence counts (a pair can repeat in one word). */
    def occ(a: Array[String]): mutable.HashMap[(String, String), Int] = {
      val m = mutable.HashMap.empty[(String, String), Int]
      var j = 0
      while (j < a.length - 1) {
        val p = (a(j), a(j + 1))
        m.update(p, m.getOrElse(p, 0) + 1)
        j += 1
      }
      m
    }
    def index(i: Int, sign: Int): Unit = occ(syms(i)).foreach {
      case (p, n) =>
        bump(p, sign.toLong * n * freq(i))
        if (sign > 0) byPair.getOrElseUpdate(p, mutable.Set.empty) += i
        else byPair.get(p).foreach { s =>
          s -= i; if (s.isEmpty) byPair.remove(p)
        }
    }
    syms.indices.foreach(index(_, 1))
    /** Greedy leftmost non-overlapping single-rule rewrite — a merged
      * symbol is a new token that cannot re-match its own rule. */
    def rewrite(a: Array[String], l: String, r: String,
        m: String): Array[String] = {
      val out = Array.newBuilder[String]
      var j = 0
      while (j < a.length) {
        if (j + 1 < a.length && a(j) == l && a(j + 1) == r) {
          out += m; j += 2
        } else { out += a(j); j += 1 }
      }
      out.result()
    }
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var r = 1
    while (r <= rounds && ordered.nonEmpty) {
      val (pf, l, rr) = ordered.head
      val m = mergeSym(l, rr)
      merges += ((r.toLong, l, rr, m, pf))
      val affected = byPair.getOrElse((l, rr), mutable.Set.empty).toArray
      affected.foreach { i =>
        index(i, -1)
        syms(i) = rewrite(syms(i), l, rr, m)
        index(i, 1)
      }
      r += 1
    }
    merges.result()
  }

  /** Trained-codebook memo for [[pqCodebook]], keyed by (planKey,
    * params). */
  private val pqMemo =
    new SessionMemo[(String, Int, Int, Int), Seq[(Int, Int, Seq[Double])]]

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

  /** (vec_id, sub, sv): each vector exploded into its m subvectors. */
  private def subFrame(e0: DataFrame, m: Int): DataFrame = e0
    .select(col("vec_id"),
      Det.widen(col("embedding")).as("v"))
    .select(col("vec_id"), posexplode(expr(
      s"""transform(sequence(0, $m - 1),
         |  j -> slice(v, j * (size(v) DIV $m) + 1, size(v) DIV $m))"""
        .stripMargin)).as(Seq("sub", "sv")))

  private def pqCbFrame(s: SparkSession,
      cb: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    import s.implicits._
    cb.toDF("csub", "code", "cv")
      .withColumn("cnorm2", dot(col("cv"), col("cv")))
  }

  /** Nearest centroid per (vector, subspace) against the broadcast
    * codebook: min (cost, code) struct via hash agg, where
    * cost = |c|² − 2x·c (equi-minimal with |x−c|²). */
  private def pqAssign(sub: DataFrame, cbDf: DataFrame): DataFrame = {
    sub.join(broadcast(cbDf), col("sub") === col("csub"))
      .withColumn("cost", col("cnorm2") - lit(2.0) * dot(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("cost"), col("code"))).as("a"))
      .select(col("vec_id"), col("sub"), col("a.code").as("code"),
        col("a.cost").as("cost"))
  }

  /** Trained per-subspace PQ codebooks (cached) — shared by
    * [[pqCodes]] and [[ivfpqSearch]]'s LUT construction. */
  private[graft] def pqCodebook(e0: DataFrame, m: Int, k: Int,
      iters: Int): Seq[(Int, Int, Seq[Double])] = {
    val s = e0.sparkSession
    val P53 = 9007199254740992.0 // 2^53
    pqMemo(s, (planKey(e0), m, k, iters))(TrainClock.timed("pq_codebook") {
      // Cap-bounded training subset (r16 — see [[trainSample]]): identity
      // at fixture SF; sizing count stays inside the memo+clock.
      // PERSIST the sampled subvector frame (r16, the trainCoarse
      // rationale): each iteration reads `sub` TWICE (pqAssign + the
      // join back), so unpersisted Lloyd paid 2×iters full-corpus
      // scan+filter+explode passes; cached it is ≤ ~cap × m subvector
      // rows. Exact-decimal means ⇒ caching cannot change a value.
      val eS = trainSample(e0)
      val sub = subFrame(eS, m)
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
        val updated = pqAssign(sub, pqCbFrame(s, c))
          .join(sub, Seq("vec_id", "sub"))
          .select(col("sub"), col("code"),
            posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy(col("sub"), col("code"), col("pos"))
          .agg((sum((col("x") * P53).cast(
            org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / P53 / count(lit(1))).as("x"))
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
      } finally sub.unpersist(false)
    })
  }

  /** Add `c0..c{m-1}` (and `cost0..cost{m-1}`) PQ code columns to
    * `frame` MAP-SIDE: the trained codebook is a driver-side Seq, so
    * per-subspace assignment is an argmin over k literal centroids — no
    * subvector explode, no broadcast join, no corpus shuffle (the
    * [[nearestListMap]] argument applied to the product quantizer; the
    * old subFrame→pqAssign→pivot path exchanged m rows per corpus
    * vector). `frame` must carry `embedding` as array<double>. |c|² is
    * folded driver-side in the same left-to-right order as graft_dot, so
    * every cost double is bit-identical to the join-based trainer's;
    * tie-break matches pqAssign's min(struct(cost, code)): first
    * (smallest) code among equal minima. */
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
      iters: Int): DataFrame = {
    pqEncode(e0, pqCodebook(e0, m, k, iters), m, k).orderBy(col("vec_id"))
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

  /** Trained-codebook memo for [[ivfSearch]], keyed by (planKey, params). */
  private val codebookMemo =
    new SessionMemo[(String, Int, Int), Seq[(Long, Seq[Double])]]

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

  /** (vec_id, u): unit-normalized double vectors — cosine becomes a
    * plain dot product downstream. Shared by the IVF family and the
    * fixed-codebook twins in [[AnnFixed]]. */
  private[operators] def normFrame(e0: DataFrame): DataFrame = {
    // The norm is computed ONCE per row, OUTSIDE the transform lambda
    // (r14, VERDICT r13 task 7): an ArrayTransform lambda body is
    // evaluated per ELEMENT on the interpreted expression path — with
    // `sqrt(dot(v,v))` inside the lambda, a 64-dim row paid 64
    // interpreted 64-dim dots, ~456 executor-CPU-seconds per run at
    // 100× grown (the whole 27 s vec_ann_ivfpq "probe wall" the r13
    // VERDICT flagged; Explain's stage-time attribution named the
    // broadcast-materialization stage). Factored out, the dot runs once
    // per row inside whole-stage codegen and only the trivial division
    // stays in the lambda. Doubles are bit-identical (same expressions,
    // same order — just not re-evaluated), pinned by the hash-checked
    // semantic-dedup/search keys built on this frame.
    e0.select(col("vec_id"),
        Det.widen(col("embedding")).as("v"))
      .withColumn("__n", sqrt(dot(col("v"), col("v"))))
      .withColumn("u", transform(col("v"), x => x / col("__n")))
      .select(col("vec_id"), col("u"))
  }

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
    val n = AnnFixed.countOf(e0)
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
    val P53 = 9007199254740992.0 // 2^53
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
          .agg((sum((col("c") * P53).cast(
            org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double") / P53 / count(lit(1))).as("c"))
          .groupBy(col("list_id"))
          .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
            .as("pc"))
          .select(col("list_id"), expr("transform(pc, x -> x.c)").as("cv"))
          // norm outside the lambda (r14, see normFrame) — domain-sized
          // frame, fixed for consistency with the corpus-sized sites
          .withColumn("__n", sqrt(dot(col("cv"), col("cv"))))
          .withColumn("cu", transform(col("cv"), x => x / col("__n")))
          .select(col("list_id"), col("cu"))
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
    * the fixed-codebook keys in [[AnnFixed]], whose oracle hash checks
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
      lloydIters: Int, nQueries: Int): DataFrame = {
    ivfTop3(normFrame(e0), trainCoarse(e0, nlists, lloydIters), nprobe,
      nQueries).transform(df => Det.orderedDomain(df, col("q_id"), col("rn")))
  }

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
    // values, marginally less consume plumbing on the fallback path.
    // NOTE this does NOT bring the scoring stage's whole-stage method
    // under the 8000-byte JIT limit (it reads 8339 either way), because
    // the assign expressions themselves — graft_matvec coarse assignment
    // + m graft_pq_costs kernels + 2m argmin builtins — are FUSED into
    // the same zero-shuffle stage as the two broadcast joins and
    // graft_adc. That stage is deliberately allowlisted in PlanSpec's
    // codegen-fallback audit: with hugeMethodLimit=8000 it runs
    // per-operator (each operator still drives codegen'd, JIT-able
    // UnsafeProjections — the r14 bisection measured 2.84 s at 100×
    // grown for this shape vs 30 s interpreted), and every split
    // alternative is worse at scale — an exchange would shuffle the
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
    val lutArr = qs.crossJoin(broadcast(pqCbFrame(e.sparkSession, pqCb)))
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
