package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with an envelope of metadata computed as plain expressions, the
  * scan-time pass that runs before any decode would be scheduled. No media
  * is decoded.
  */
object Multimodal {

  /** Build a media table from the documents corpus (text bytes stand in for
    * media payloads).
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      col("text").cast("binary").as("content"))

  /** Metadata extraction as pure expressions (no decode): byte length,
    * content hash and head-of-payload hex.
    */
  def envelope(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("kind"),
      octet_length(col("content")).as("n_bytes"),
      sha2(col("content"), 256).as("content_sha"),
      hex(substring(col("content"), 1, 16)).as("head16"))
}
