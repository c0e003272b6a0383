package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tokenization is lossless: decoding the id sequences through the same
  * vocabulary must reproduce every document verbatim, and the chunking
  * must partition the id sequences exactly. */
class TokenizeRoundtripSpec extends AnyFunSuite {
  import TestSpark._

  private def vocab = graft.operators.Bpe.vocabOf(
    graft.operators.Bpe.tokensOf(spark, sf))

  test("text_tokenize_ids decodes back to the original text") {
    val ids = Registry.queries("text_tokenize_ids")(spark, sf)
    val decoded = ids
      .select(col("doc_id"),
        posexplode(split(col("ids_csv"), ",")).as(Seq("pos", "id_str")))
      .withColumn("id", col("id_str").cast("long"))
      .join(vocab, "id")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", expr(
        "transform(array_sort(collect_list(struct(pos, word))), x -> x.word)"))
        .as("decoded_text"))
    val diff = decoded
      .join(Tables.table(spark, sf, "documents"), "doc_id")
      .filter(col("decoded_text") =!= col("text"))
      .count()
    assert(diff === 0)
    assert(decoded.count() ===
      Tables.table(spark, sf, "documents").count())
  }

  test("text_chunk_pack partitions each id sequence exactly") {
    val chunks = Registry.queries("text_chunk_pack")(spark, sf)
    val ids = Registry.queries("text_tokenize_ids")(spark, sf)
    // chunk lengths sum to n_tokens; every chunk <= 32; reassembled csv
    // equals the full sequence
    val reassembled = chunks
      .groupBy(col("doc_id"))
      .agg(sum(col("chunk_len")).as("total_len"),
        max(col("chunk_len")).as("max_len"),
        concat_ws(",", expr(
          "transform(array_sort(collect_list(struct(chunk_idx, chunk_csv))), x -> x.chunk_csv)"))
          .as("joined_csv"))
    val bad = reassembled.join(ids, "doc_id")
      .filter(col("total_len") =!= col("n_tokens")
        || col("max_len") > graft.operators.Bpe.CHUNK_LEN
        || col("joined_csv") =!= col("ids_csv"))
      .count()
    assert(bad === 0)
  }
}
