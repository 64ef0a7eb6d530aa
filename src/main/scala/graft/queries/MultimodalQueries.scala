package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in `Multimodal`, each beside its DuckDB oracle. */
object MultimodalQueries {
  val all: Seq[Q] = Seq(
    // ---- multimodal metadata stats over a derived binary table -------------
    // (documents' text bytes stand in for media payloads — the binary-column
    // plumbing is what's exercised; codecs are stubbed, TESTDATA has no
    // real media)
    Q("q_media_stats", "Multimodal", (s, dir) => {
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
        encode(col("text"), "UTF-8").as("payload"))
      Multimodal.mediaStats(media).orderBy(col("kind"))
    }, sql(
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  count(*) AS n,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  round(avg(octet_length(encode(text))), 3) AS avg_bytes
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- multimodal feature extraction. Oracle-checked: the stub-codec
    // byte histogram is portable SQL over ASCII payloads; bins 1 and 3
    // (bytes 32-63 / 96-127: punctuation+digits vs lowercase) carry the
    // signal for text payloads, and the oracle mirrors the FLOAT division
    // so round(.., 6) agrees bit-for-bit ------------------------------------
    Q("q_media_features", "Multimodal", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, Seq("image", "audio", "video")(id.toInt % 3),
            text.getBytes("UTF-8"), "stub", 8, 4, 1000L)
        }
      Multimodal.extractFeatures(media, bins = 8)
        .toDF()
        .select(col("media_id"), col("kind"),
          round(element_at(col("feature"), 2).cast("double"), 6).as("f1"),
          round(element_at(col("feature"), 4).cast("double"), 6).as("f3"))
        .orderBy(col("media_id"))
    }, sql(
      // stub-codec byte histogram over ASCII payloads; FLOAT division
      // mirrored so round(.., 6) agrees with the operator's Float math
      """WITH b AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    list_transform(generate_series(1, length(text)),
        |                   i -> unicode(substr(text, i, 1)) // 32) AS bins,
        |    length(text) AS n
        |  FROM documents)
        |SELECT media_id, kind,
        |  round(CAST(CAST(len(list_filter(bins, x -> x = 1)) AS FLOAT)
        |             / CAST(n AS FLOAT) AS DOUBLE), 6) AS f1,
        |  round(CAST(CAST(len(list_filter(bins, x -> x = 3)) AS FLOAT)
        |             / CAST(n AS FLOAT) AS DOUBLE), 6) AS f3
        |FROM b ORDER BY media_id""".stripMargin)),

    // ---- perceptual dHash over the decoded image planes (stub decode on
    // the synthetic corpus; the SAME operator hashes real BMP/PPM decodes
    // in MultimodalSpec) ---------------------------------------------------
    Q("q_media_dhash", "Multimodal", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, Seq("image", "audio", "video")(id.toInt % 3),
            text.getBytes("UTF-8"), "stub", 8, 4, 1000L)
        }
      Multimodal.dhash(Multimodal.decodeImages(media), hashW = 8, hashH = 8)
        .orderBy(col("media_id"))
    }, sql(
      // dHash: the stub decode's byte-cycled luma plane re-derived as a code
      // point list; 64 strict integer comparisons at driver-precomputed
      // sample indices (identical nearest-neighbor geometry)
      mediaDhashSql(hashW = 8, hashH = 8, w = 8, h = 4))))

  private def mediaDhashSql(hashW: Int, hashH: Int, w: Int, h: Int): String =
    s"""WITH ${mediaDhashCtes(hashW, hashH, w, h)}
       |SELECT media_id, dhash FROM sig ORDER BY media_id""".stripMargin
}
