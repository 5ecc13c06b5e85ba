package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llm.PortableHash._

/** Multimodal columns for training-data pipelines: the feature row a
  * media corpus keeps beside its binary payload. The test corpus has
  * no binary table, so the payload is `documents.text` as UTF-8 bytes.
  */
object Multimodal {

  /** `q_multimodal_features`: one row per document with the payload's
    * byte length, the first 8 bytes as upper-case hex, its MD5, pseudo
    * width and height (the portable content hash mod 1920 and mod
    * 1080), and the byte length mod 256 scaled to [0, 1].
    */
  def features(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        upper(substring(hex(col("text").cast("binary")), 1, 16)).as("head_hex"),
        md5(col("text")).as("content_md5"),
        (h60(col("text")) % 1920).cast("int").as("width"),
        (h60(col("text")) % 1080).cast("int").as("height"),
        ((octet_length(col("text")) % 256) / lit(255.0)).as("fake_feature"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_features" -> features _,
  )

  val oracles: Map[String, String] = Map(
    "q_multimodal_features" ->
      s"""SELECT doc_id,
         |  octet_length(encode(text)) AS n_bytes,
         |  upper(substr(hex(encode(text)), 1, 16)) AS head_hex,
         |  md5(text) AS content_md5,
         |  CAST(${sqlH60("text")} % 1920 AS INT) AS width,
         |  CAST(${sqlH60("text")} % 1080 AS INT) AS height,
         |  (octet_length(encode(text)) % 256) / 255.0 AS fake_feature
         |FROM documents""".stripMargin,
  )
}
