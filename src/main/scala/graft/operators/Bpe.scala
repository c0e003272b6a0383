package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenization: the frequency-ranked vocabulary and token-id encoding,
  * BPE merge training (word- and byte-level) and BPE encode, and
  * fixed-length sequence packing. Trained merge tables are driver-local
  * over a cap-bounded frequency sample ([[bpeTrainLocal]]) and memoized
  * per (session, dir); the apply algebra is hash-checked by
  * `text_bpe_encode_fixed`, and training by the pure-Python differential
  * in scripts/preflight.py.
  */
object Bpe {
  import Det._
  import PipelineOps.{SessionMemo, TrainClock}

  /** Context length used by text_chunk_pack (and its roundtrip test). */
  private[graft] val CHUNK_LEN = 32

  /** Frequency-ranked vocabulary: id 1 = most frequent, ties by word —
    * shared by text_tokenize_ids, text_chunk_pack, pipeline_pretokenize,
    * and the roundtrip test so the ranking rule cannot drift between them.
    * Ranked via [[DistRank]] (r12, VERDICT r11 task 1): vocabulary grows
    * with the corpus (Heaps' law — ~10⁸⁺ types at 100 TB), so the old
    * unpartitioned `row_number` window was a single-task global sort; the
    * range-partitioned rank is bit-identical ((cnt desc, word) is a strict
    * total order — word is unique) with no single-partition exchange. */
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

  val qs: Seq[Q] = Seq(
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
      (s, dir) => mergeTable(s, bpeMerges(s, dir)),
      None),

    // Byte-level BPE merge-table training (VERDICT r7 task 5) — the
    // production-tokenizer variant of text_bpe_merges: symbols start as
    // UTF-8 bytes (decimal strings), so ANY input text trains without an
    // alphabet filter. Same iterative-argmax shape → rows-only; gated by
    // the independent pure-Python byte-BPE differential in
    // scripts/preflight.py (all 8 merge rounds must match).
    Q("text_bpe_bytes",
      (s, dir) => mergeTable(s, bpeByteMerges(s, dir)),
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
      (s, dir) => bpeEncode(azWords(s, dir), charSyms,
        bpeMerges(s, dir).map(m => (m._2, m._3))),
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
      (s, dir) => bpeEncode(azWords(s, dir), charSyms, FIXED_MERGES),
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
      (s, dir) => bpeEncode(tokensOf(s, dir), expr(
          """transform(sequence(1, octet_length(word)),
            |  i -> conv(substring(hex(encode(word, 'UTF-8')),
            |            2 * i - 1, 2), 16, 10))""".stripMargin),
        bpeByteMerges(s, dir).map(m => (m._2, m._3)), _ + "." + _),
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
  )

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
      azOnly: Boolean): Seq[(String, Long)] =
    (if (azOnly) azWords(s, dir) else tokensOf(s, dir))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(BPE_MAX_TYPES)
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

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

  /** A trained merge table as the merge keys' rank-ordered frame. */
  private def mergeTable(s: SparkSession,
      merges: Seq[(Long, String, String, String, Long)]): DataFrame = {
    import s.implicits._
    merges.toDF("rank", "left", "right", "merged", "pair_freq")
      .orderBy(col("rank"))
  }

  /** The documented [a-z]+ word alphabet of the char-level BPE keys. */
  private def azWords(s: SparkSession, dir: String): DataFrame =
    tokensOf(s, dir).filter(col("word").rlike("\\A[a-z]+\\z"))

  /** A word's chars, the char-level keys' initial symbols. */
  private def charSyms: Column = expr("filter(split(word, ''), x -> x <> '')")

  /** The three encode keys' body: per distinct word of `words`, (word,
    * freq, n_syms, syms), where `syms` is `sym0` (the word's initial
    * symbols) space-joined with `merges` applied in rank order. */
  private def bpeEncode(words: DataFrame, sym0: Column,
      merges: Seq[(String, String)],
      mergeSym: (String, String) => String = _ + _): DataFrame =
    words.groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", trim(applyMerges(
        concat(lit(" "), concat_ws(" ", sym0), lit(" ")), merges, mergeSym)))
      .select(col("word"), col("freq"),
        size(split(col("syms"), " ")).cast("long").as("n_syms"),
        col("syms"))
      .orderBy(col("word"))

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
}
