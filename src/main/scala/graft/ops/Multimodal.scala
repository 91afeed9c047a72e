package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, and frame sampling over those payloads.
  */
object Multimodal {

  /** Wrap a text corpus as a multimodal table:
    * (doc_id, payload binary, meta struct<n_bytes, kind>).
    */
  def asBinaryTable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("string").as("doc_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(length(col(textCol)).cast("long").as("n_bytes"),
        lit("text/plain").as("kind")).as("meta"))

  /** Frame sampling: every `stride`-th byte of the payload (≙ sampling
    * video frames / audio windows), as a bounded-length binary.
    */
  def frameSample(bin: DataFrame, stride: Int, maxFrames: Int = 32): DataFrame =
    // empty payloads need an explicit branch: sequence(1, 0) is DESCENDING
    // ([1,0]), which would fabricate 2 frames for a 0-byte document
    bin.select(col("doc_id"),
      expr(s"CASE WHEN length(payload) = 0 THEN CAST(array() AS ARRAY<BINARY>) " +
        s"ELSE transform(sequence(1, least(CAST(ceil(length(payload) / ${stride}.0) AS INT), $maxFrames)), " +
        s"i -> substring(payload, (i - 1) * $stride + 1, 1)) END").as("frames"))
      .withColumn("n_frames", size(col("frames")).cast("long"))
}
