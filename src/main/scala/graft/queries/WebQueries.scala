package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql

/** Queries whose headline call is in `Web`, each beside its DuckDB oracle. */
object WebQueries {
  val all: Seq[Q] = Seq(
    // ---- URL canonicalization dedup ledger (variants derived per doc) ----
    Q("q_url_canon", "Web", (s, dir) => {
      val g = expr("doc_id DIV 3").cast("string")
      val src = concat(lit("g"), pmod(expr("doc_id DIV 3"), lit(4)).cast("string"))
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("https://www."), src, lit(".example.com/docs/"), g,
            lit("?id="), g, lit("&a=1")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("HTTPS://WWW."), src, lit(".EXAMPLE.COM:443/docs/"), g,
            lit("/?a=1&utm_source=feed&id="), g))
        .otherwise(
          concat(lit("https://www."), src, lit(".example.com/docs/"), g,
            lit("?utm_campaign=x&id="), g, lit("&a=1#frag")))
      Web.urlDedup(
        Tables.documents(s, dir).select(col("doc_id"), url.as("url")),
        "doc_id", "url")
    }, sql(
      // URL canonicalization: identical regex pipeline, list_filter/list_sort
      // for the query-param normalization
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |           'https://www.g' || (doc_id // 3) % 4 || '.example.com/docs/' ||
        |           (doc_id // 3) || '?id=' || (doc_id // 3) || '&a=1'
        |         WHEN doc_id % 3 = 1 THEN
        |           'HTTPS://WWW.g' || (doc_id // 3) % 4 || '.EXAMPLE.COM:443/docs/' ||
        |           (doc_id // 3) || '/?a=1&utm_source=feed&id=' || (doc_id // 3)
        |         ELSE
        |           'https://www.g' || (doc_id // 3) % 4 || '.example.com/docs/' ||
        |           (doc_id // 3) || '?utm_campaign=x&id=' || (doc_id // 3) || '&a=1#frag'
        |    END AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
        |s2 AS (SELECT doc_id, nf,
        |         lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |         lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |         regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |         regexp_extract(nf, '\?([^#]*)', 1) AS q0
        |       FROM s1),
        |s3 AS (SELECT doc_id, scheme,
        |         CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |              WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |              ELSE hostport END AS host,
        |         CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
        |              ELSE regexp_replace(path0, '/+$', '') END AS pth,
        |         list_sort(list_filter(string_split(q0, '&'), p ->
        |           NOT regexp_matches(lower(p), '^(utm_|ref=|fbclid=|gclid=)')
        |           AND p <> '')) AS kept
        |       FROM s2),
        |c AS (SELECT doc_id,
        |        scheme || '://' || host || pth ||
        |        CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        |             ELSE '' END AS cu
        |      FROM s3)
        |SELECT cu AS canonical_url, CAST(count(*) AS BIGINT) AS n_variants,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, min(doc_id) AS min_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)))
}
