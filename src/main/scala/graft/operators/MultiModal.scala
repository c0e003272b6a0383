package graft.operators

import graft.{Det, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Decoded multimodal record: opaque binary payload → typed metadata.
  * In production `width/height/frames` come from the codec; here the
  * decode is a deterministic STUB (content-hash-derived — no codec libs in
  * this container) with the identical signature and batch shape. */
final case class MmMeta(doc_id: Long, n_bytes: Long, kind: String,
    meta_width: Long, meta_height: Long, meta_frames: Long)

/** Extracted feature record: 8 signed integer features + their L1 mass.
  * Scalar columns, not an array — the driver's column hasher compares
  * scalar cells (ROUND6_NOTES §2). */
final case class MmFeat(doc_id: Long, f0: Long, f1: Long, f2: Long,
    f3: Long, f4: Long, f5: Long, f6: Long, f7: Long, feat_l1: Long)

/** Multimodal decode via `mapPartitions` — the Scala analogue of
  * `mapInPandas` batch decoding: one decoder instantiation per partition,
  * rows streamed through it, typed case-class output schema. This is the
  * shape a real image/audio/video decode runs in (codec state is
  * per-partition, not per-row); the stub only replaces the innermost
  * "bytes → metadata" call.
  *
  * `mm_decode_partitions` must agree row-for-row with the pure-SQL
  * `mm_binary_meta` (MultiModalSpec asserts it), proving the stub and the
  * expression pipeline implement the same contract.
  */
object MultiModal {

  /** Per-partition "decoder": deterministic metadata from content bytes.
    * Real deployments replace ONLY this function with the codec call. */
  private def decodeStub(payload: Array[Byte]): (String, Long, Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(payload).map("%02x".format(_)).mkString
    val wh = java.lang.Long.parseLong(hex.take(15), 16)
    val kind = (wh % 3) match {
      case 0 => "image"
      case 1 => "audio"
      case _ => "video"
    }
    (kind, 32L + wh % 480, 32L + (wh / 480) % 480, 1L + wh % 30)
  }

  val qs: Seq[Q] = Seq(
    // Multimodal plumbing: documents as opaque binary + typed metadata.
    // The "decode" (width/height/frames) is a deterministic STUB derived
    // from the content hash — codec libs are not in this container; a real
    // deployment swaps the stub for mapPartitions over the codec while the
    // schema/partitioning/metadata shape stays identical.
    Q("mm_binary_meta",
      (s, dir) => Tables.table(s, dir, "documents")
        .withColumn("bin", col("text").cast("binary"))
        .withColumn("wh", expr(PipelineOps.whExpr("text")))
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
      Some(Det.sql(s"""SELECT doc_id,
        |octet_length(encode(text))::BIGINT AS n_bytes,
        |hex(encode(substring(text, 1, 8))) AS first8_hex,
        |sha256(text) AS content_sha256,
        |CASE WHEN ${PipelineOps.sqlWh("text")} % 3 = 0 THEN 'image'
        |     WHEN ${PipelineOps.sqlWh("text")} % 3 = 1 THEN 'audio'
        |     ELSE 'video' END AS kind,
        |32 + ${PipelineOps.sqlWh("text")} % 480 AS meta_width,
        |32 + (${PipelineOps.sqlWh("text")} // 480) % 480 AS meta_height,
        |1 + ${PipelineOps.sqlWh("text")} % 30 AS meta_frames
        |FROM documents ORDER BY doc_id"""))),

    // Transform planning over decoded metadata: aspect-preserving resize
    // to fit 224×224 and uniform 8-frame sampling — pure integer
    // arithmetic (exact in both engines), downstream of the (stubbed)
    // decode. The actual pixel/audio resample would run inside the same
    // mapPartitions stage as the decode.
    Q("mm_transform_plan",
      (s, dir) => Tables.table(s, dir, "documents")
        .withColumn("wh", expr(PipelineOps.whExpr("text")))
        .withColumn("w", lit(32L) + pmod(col("wh"), lit(480)))
        .withColumn("h", lit(32L) + pmod(expr("wh DIV 480"), lit(480)))
        .withColumn("n_frames", lit(1L) + pmod(col("wh"), lit(30)))
        .select(col("doc_id"), col("w").as("src_w"), col("h").as("src_h"),
          col("n_frames"),
          expr("(w * 224) DIV greatest(w, h)").as("fit_w"),
          expr("(h * 224) DIV greatest(w, h)").as("fit_h"),
          expr("""concat_ws(',', transform(sequence(0, 7),
            |  i -> cast((i * n_frames) DIV 8 as string)))""".stripMargin)
            .as("sampled_frames"))
        .orderBy(col("doc_id")),
      Some(Det.sql(s"""WITH meta AS (
        |  SELECT doc_id,
        |    32 + ${PipelineOps.sqlWh("text")}
        |      % 480 AS w,
        |    32 + (${PipelineOps.sqlWh("text")}
        |      // 480) % 480 AS h,
        |    1 + ${PipelineOps.sqlWh("text")}
        |      % 30 AS n_frames
        |  FROM documents)
        |SELECT doc_id, w AS src_w, h AS src_h, n_frames,
        |  (w * 224) // greatest(w, h) AS fit_w,
        |  (h * 224) // greatest(w, h) AS fit_h,
        |  array_to_string(list_transform(generate_series(0, 7),
        |    i -> (i * n_frames) // 8), ',') AS sampled_frames
        |FROM meta ORDER BY doc_id"""))),

    Q("mm_decode_partitions",
      (s, dir) => {
        import s.implicits._
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("bin"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            // per-partition decoder state lives here (stubbed)
            rows.map { case (docId, bin) =>
              val (kind, w, h, f) = decodeStub(bin)
              MmMeta(docId, bin.length.toLong, kind, w, h, f)
            }
          }
          .toDF()
          .orderBy(col("doc_id"))
      },
      // Same contract as mm_binary_meta's expression pipeline; md5 and the
      // hash-derived fake metadata are engine-identical, so the SQL twin
      // holds for the mapPartitions implementation too.
      Some(graft.Det.sql(s"""SELECT doc_id,
        |octet_length(encode(text))::BIGINT AS n_bytes,
        |CASE WHEN ${PipelineOps.sqlWh("text")}
        |       % 3 = 0 THEN 'image'
        |     WHEN ${PipelineOps.sqlWh("text")}
        |       % 3 = 1 THEN 'audio'
        |     ELSE 'video' END AS kind,
        |32 + ${PipelineOps.sqlWh("text")}
        |  % 480 AS meta_width,
        |32 + (${PipelineOps.sqlWh("text")}
        |  // 480) % 480 AS meta_height,
        |1 + ${PipelineOps.sqlWh("text")}
        |  % 30 AS meta_frames
        |FROM documents ORDER BY doc_id"""))),

    // Decode-batch packing: the batch shaping that feeds a GPU / codec
    // decode stage — per media kind, payloads pack in doc_id order into
    // ~4 KiB batches. batch_id derives from the EXCLUSIVE byte prefix sum
    // (start offset DIV capacity): pure window algebra, one shuffle keyed
    // by kind, deterministic on any engine/partitioning/row order. An
    // item straddling a boundary joins the batch its start offset falls
    // in — fixed-capacity start-offset bucketing, the one-pass shape that
    // scales (true bin packing is inherently serial). At 100 TB the
    // per-kind window would be keyed (kind, shard) so no single ordered
    // partition grows unbounded; batch ids then nest per shard.
    Q("mm_batch_pack",
      (s, dir) => {
        val w = Window.partitionBy(col("kind")).orderBy(col("doc_id"))
        Tables.table(s, dir, "documents")
          .withColumn("wh", expr(PipelineOps.whExpr("text")))
          .select(col("doc_id"),
            when(pmod(col("wh"), lit(3)) === 0, "image")
              .when(pmod(col("wh"), lit(3)) === 1, "audio")
              .otherwise("video").as("kind"),
            octet_length(col("text")).cast("long").as("n_bytes"))
          .withColumn("start_off",
            sum(col("n_bytes")).over(w) - col("n_bytes"))
          .select(col("doc_id"), col("kind"), col("n_bytes"),
            col("start_off"), expr("start_off DIV 4096").as("batch_id"))
          .orderBy(col("doc_id"))
      },
      Some(Det.sql(s"""WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN ${PipelineOps.sqlWh("text")} % 3 = 0 THEN 'image'
        |         WHEN ${PipelineOps.sqlWh("text")} % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    octet_length(encode(text))::BIGINT AS n_bytes
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, kind, n_bytes,
        |    (sum(n_bytes) OVER (PARTITION BY kind ORDER BY doc_id)
        |      - n_bytes)::BIGINT AS start_off
        |  FROM m)
        |SELECT doc_id, kind, n_bytes, start_off,
        |  start_off // 4096 AS batch_id
        |FROM b ORDER BY doc_id"""))),

    // Frame sampling as ROW EXPANSION: video assets explode into one row
    // per strided frame (every 5th), each with its decode timestamp at the
    // stub's 10 fps — the shape that feeds per-frame feature extraction
    // (each frame row is an independent unit of downstream work, unlike
    // mm_transform_plan's per-asset sampled-index string). explode of a
    // bounded sequence is narrow — no shuffle; at 100 TB the expansion
    // ratio (≤ 6 rows/video here) is what to budget, not the operator.
    Q("mm_frame_sample",
      (s, dir) => Tables.table(s, dir, "documents")
        .withColumn("wh", expr(PipelineOps.whExpr("text")))
        .filter(pmod(col("wh"), lit(3)) === 2) // decode stub: kind = video
        .withColumn("n_frames", lit(1L) + pmod(col("wh"), lit(30)))
        .select(col("doc_id"), col("n_frames"),
          explode(expr(
            "sequence(CAST(0 AS BIGINT), n_frames - 1, CAST(5 AS BIGINT))"))
            .as("frame_idx"))
        .withColumn("frame_us", expr("frame_idx * 1000000 DIV 10"))
        .orderBy(col("doc_id"), col("frame_idx")),
      Some(Det.sql(s"""WITH meta AS (
        |  SELECT doc_id,
        |    1 + ${PipelineOps.sqlWh("text")}
        |      % 30 AS n_frames
        |  FROM documents
        |  WHERE ${PipelineOps.sqlWh("text")}
        |    % 3 = 2),
        |f AS (
        |  SELECT doc_id, n_frames,
        |    unnest(generate_series(0, n_frames - 1, 5)) AS frame_idx
        |  FROM meta)
        |SELECT doc_id, n_frames, frame_idx,
        |  frame_idx * 1000000 // 10 AS frame_us
        |FROM f ORDER BY doc_id, frame_idx"""))),

    // Feature extraction — the remaining multimodal verb next to decode /
    // resize-plan / frame-sample: payload bytes → fixed-width feature
    // vector, run as `mapPartitions` so extractor state (in production a
    // loaded model / codec context) is per-partition, rows streamed
    // through it. The extractor is the same deterministic md5 STUB as the
    // decoder; the FEATURES ARE ORACLE-CHECKED — signed-byte windows of
    // the content hash, exact integers in both engines. Emitted as 8
    // scalar BIGINT columns (not an array — driver hasher contract).
    // At 100 TB: narrow map, no shuffle; the downstream consumer is the
    // embeddings table (vec_* family).
    Q("mm_feature_extract",
      (s, dir) => {
        import s.implicits._
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("bin"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            val md = java.security.MessageDigest.getInstance("MD5")
            rows.map { case (docId, bin) =>
              md.reset()
              val hex = md.digest(bin).map("%02x".format(_)).mkString
              val fs = (0 until 8).map(j =>
                java.lang.Long.parseLong(hex.substring(2 * j, 2 * j + 2),
                  16) - 128L)
              MmFeat(docId, fs(0), fs(1), fs(2), fs(3), fs(4), fs(5),
                fs(6), fs(7), fs.map(math.abs).sum)
            }
          }
          .toDF()
          .orderBy(col("doc_id"))
      },
      Some(Det.sql(s"""WITH f AS (
        |  SELECT doc_id, ${(0 until 8).map(j =>
             s"CAST(concat('0x', substring(md5(text), ${2 * j + 1}, 2)) " +
               s"AS BIGINT) - 128 AS f$j").mkString(", ")}
        |  FROM documents)
        |SELECT doc_id, f0, f1, f2, f3, f4, f5, f6, f7,
        |  abs(f0) + abs(f1) + abs(f2) + abs(f3) + abs(f4) + abs(f5)
        |    + abs(f6) + abs(f7) AS feat_l1
        |FROM f ORDER BY doc_id"""))),
  )
}
