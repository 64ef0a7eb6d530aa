package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** What several query families share: the fixed time window, the memoized
  * cross-query frames (each built once per session and sf dir, released by
  * [[graft.SparkEntry.dropSharedFrame]]), and the oracle-SQL helpers more
  * than one family uses. */
object Shared {
  // Fixed, sf-independent window inside the events table's Jan-2024 span.
  private[graft] final val T0 = 1704672000000000L // 2024-01-08T00:00:00Z (us)
  private[graft] final val T1 = 1705881600000000L // 2024-01-22T00:00:00Z (us)
  private[graft] final val TMID = 1705276800000000L // 2024-01-15T00:00:00Z (us)
  private[graft] final val RUN_WEEK_US = 604800000000L // 7 days in micros

  /** The exact blocked-Jaccard pair set is the single most expensive frame
    * two audit queries both need: q_jaccard_dist IS it, and q_lsh_recall
    * joins the banded-LSH candidates against it. Computed and persisted
    * once per (session, sf-dir) so a bench/verify pass over the whole
    * surface pays the block sweep once, not twice — the shared-frame
    * lesson from the mutual-kNN audit family. Keyed by session so a
    * restarted session never sees another's stale cached plan.
    */
  private[graft] val exactPairCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def exactJaccardPairs(s: SparkSession, dir: String): DataFrame =
    exactPairCache.computeIfAbsent((s, dir), { case (ss, d) =>
      Dedup.ngramJaccardBlocked(Tables.documents(ss, d), "doc_id", "text",
        n = 2, threshold = 0.5).persist()
    })

  /** The k=5 exact kNN graph is the single most multiply-consumed sweep:
    * PageRank, label propagation, hubness AND the mutual-kNN backbone all
    * analyze the SAME `(query_id, neighbor_id, sim)` frame. Memoized
    * materialized (localCheckpoint) so the cosine sweep runs once per
    * (session, sf-dir), not once per analysis. */
  private[graft] val knnGraphCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def knnGraph5(s: SparkSession, dir: String): DataFrame =
    knnGraphCache.computeIfAbsent((s, dir), { case (ss, d) =>
      Similarity.knnGraph(Tables.embeddings(ss, d), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("sim"))
        .localCheckpoint()
    })

  /** The k=5 mutual-kNN edge list is the other multiply-consumed expensive
    * frame: six graph-audit queries (communities, triangles, assortativity,
    * k-core, negative sampling, link prediction) all analyze the SAME
    * graph — derived from the shared [[knnGraph5]] frame, so the memo pair
    * costs ONE cosine sweep total.
    */
  private[graft] val mutualEdgesCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def mutualKnnEdges5(s: SparkSession, dir: String): DataFrame =
    mutualEdgesCache.computeIfAbsent((s, dir), { case (ss, d) =>
      Similarity.mutualKnnEdgesFromGraph(knnGraph5(ss, d)).localCheckpoint()
    })

  /** Order-level brand baskets for the pattern-mining queries: each order
    * is one basket, its items the DISTINCT part brands it touches (the
    * part dim is broadcast — [[operators.Patterns.frequentItemsets]] does
    * the distinct). */
  private[graft] def brandBaskets(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val part = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
  }

  /** The full brand-basket Apriori mine (itemsets to size 3, incl. the
    * size-0 universe row) is consumed by BOTH pattern queries — itemsets
    * directly, association rules via [[operators.Patterns.associationRulesFrom]]
    * — so it joins the memoized shared-frame family (bench times the build
    * as `_shared_itemsets`, consumers honestly time cache reads). */
  private[graft] val itemsetsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def brandItemsets(s: SparkSession, dir: String): DataFrame =
    itemsetsCache.computeIfAbsent((s, dir), { case (ss, d) =>
      // traced: the per-level (wall, rows) decomposition rides BENCH_FULL's
      // probe_trace next to `_shared_itemsets`' timing;
      // overhead is three cached-frame counts at the local job floor
      operators.Patterns.frequentItemsets(brandBaskets(ss, d), "basket", "item",
        minSupportPpm = 4000L, maxSize = 3, traced = true)
    })

  private[graft] def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Probe terms for q_bm25 (words of the synthetic corpus vocabulary). */
  private[graft] final val BM25_TERMS = Seq("spark", "query", "merge")

  /** DuckDB mirror of [[TextAnalysis.bm25]]. Every floating-point constant
    * is interpolated from the SAME Scala doubles the Column plan uses
    * (shortest-round-trip toString), and term contributions add in `terms`
    * order with the Column operator precedence spelled out — double
    * arithmetic is order-sensitive, so the SQL must be the same expression
    * tree, not just the same formula. Null-text docs are filtered on BOTH
    * sides (the text operators' shared convention), so N/avgdl exclude
    * them regardless of engine null semantics.
    */
  private[graft] def bm25Sql(terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): String = {
    val tfCols = terms.indices.map(i =>
      s"CAST(len(list_filter(toks, x -> x = '${terms(i)}')) AS DOUBLE) AS tf$i").mkString(",\n  ")
    val dfAggs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1.0 ELSE 0.0 END) AS df$i").mkString(", ")
    val score = terms.indices.map { i =>
      s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${k1 + 1.0}) / " +
        s"(tf$i + $k1 * (1.0 - $b + $b * dl / avgdl))"
    }.mkString("\n    + ")
    val nTerms = terms.indices.map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
       |  $tfCols FROM t),
       |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl, $dfAggs FROM tf),
       |sc AS (SELECT doc_id,
       |  round($score, 6) AS score,
       |  CAST($nTerms AS BIGINT) AS n_terms
       |  FROM tf, s)
       |SELECT doc_id, score, n_terms FROM sc WHERE score > 0
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  private[graft] def shingleCte(n: Int, suffix: String = "", textExpr: String = "text"): String =
    s"""t$suffix AS (SELECT doc_id AS doc, string_split($textExpr, ' ') AS toks
       |      FROM documents WHERE text IS NOT NULL),
       |s$suffix AS (SELECT doc, unnest(list_distinct(list_transform(
       |        generate_series(0, greatest(len(toks) - $n, 0)),
       |        i -> array_to_string(toks[i + 1 : i + $n], ' ')))) AS shingle FROM t$suffix)""".stripMargin

  /** DuckDB fragment: NON-distinct per-doc n-grams `g(doc_id, g)` —
    * mirrors [[TextAnalysis.repetition]]'s exploded grams (same null-text
    * rule as [[shingleCte]]).
    */
  private[graft] def gramCte(n: Int): String =
    s"""tg AS (SELECT doc_id, string_split(text, ' ') AS toks
       |      FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, unnest(list_transform(
       |        generate_series(0, greatest(len(toks) - $n, 0)),
       |        i -> array_to_string(toks[i + 1 : i + $n], ' '))) AS g FROM tg)""".stripMargin

  /** CTE chain ending in `jp(d1, d2, jaccard)` — the thresholded near-dup
    * pairs, reused by the pair queries and the clustering oracle.
    * `textExpr` lets the PPJoin fixture derive a skewed corpus in place.
    */
  private[graft] def jaccardPairsCtes(textExpr: String = "text"): String =
    s"""${shingleCte(2, textExpr = textExpr)},
       |sz AS (SELECT doc, count(*) AS sz FROM s GROUP BY doc),
       |inter AS (SELECT a.doc AS d1, b.doc AS d2, count(*) AS i
       |          FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc < b.doc
       |          GROUP BY 1, 2),
       |jp AS (SELECT d1, d2, round(CAST(i AS DOUBLE) / (a.sz + b.sz - i), 6) AS jaccard
       |       FROM inter JOIN sz a ON d1 = a.doc JOIN sz b ON d2 = b.doc
       |       WHERE round(CAST(i AS DOUBLE) / (a.sz + b.sz - i), 6) >= 0.5)""".stripMargin

  /** Shared by q_embed_dedup (broadcast triangle) and q_embed_dedup_dist
    * (block-partitioned sweep): both plans must produce THIS all-pairs
    * result.
    */
  private[graft] lazy val embedDedupOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
       |        round(${cosineSql("a.v", "b.v")}, 6) AS sim
       |      FROM e a, e b WHERE a.vec_id < b.vec_id)
       |SELECT d1, d2, sim FROM p WHERE sim >= 0.45 ORDER BY d1, d2""".stripMargin

  /** DuckDB mirror of [[Multimodal.dhash]] over the STUB decode (payload =
    * the doc's bytes cycled into a `w × h` luma plane): the grid-sample
    * indices are precomputed with the identical integer geometry, and each
    * bit is one strict integer comparison — no floats anywhere.
    */
  /** CTE chain ending in `sig(media_id, dhash)` — the stub-plane dHash
    * shared by the signature and pair queries (the [[simhashSigCtes]]
    * pattern). Bit 63 IS populated (an 8×8 grid uses all 64 bits), so the
    * signed sum reproduces the engine's two's-complement long exactly.
    */
  private[graft] def mediaDhashCtes(hashW: Int, hashH: Int, w: Int, h: Int): String = {
    val n = w * h
    val terms = for (y <- 0 until hashH; x <- 0 until hashW) yield {
      val sy = math.min(h - 1, y * h / hashH)
      val sx1 = math.min(w - 1, x * w / (hashW + 1))
      val sx2 = math.min(w - 1, (x + 1) * w / (hashW + 1))
      val bit = 1L << (y * hashW + x)
      s"(CASE WHEN pix[${sy * w + sx1 + 1}] > pix[${sy * w + sx2 + 1}] THEN CAST($bit AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }
    s"""b AS (SELECT doc_id AS media_id,
       |    list_transform(generate_series(0, ${n - 1}),
       |      i -> CASE WHEN length(text) = 0 THEN 0
       |                ELSE unicode(substr(text, (i % length(text)) + 1, 1)) END) AS pix
       |  FROM documents WHERE doc_id % 3 = 0),
       |sig AS (SELECT media_id, CAST(${terms.mkString("\n  + ")} AS BIGINT) AS dhash FROM b)""".stripMargin
  }

  /** Shared by q_distinct_users (built-in count_distinct) and
    * q_distinct_users_salted ([[Skew.saltedDistinct]]): both plans must
    * produce THIS result.
    */
  private[graft] val distinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB fragment mirroring [[Similarity.cosine]] (dot / (‖a‖·‖b‖)). */
  private[graft] def cosineSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** Seeded random-hyperplane literals — the SAME PRNG stream as
    * [[Similarity.randomHyperplaneBuckets]], rendered as DuckDB DOUBLE[]
    * literals (shortest-repr doubles round-trip exactly through SQL
    * parsing, so the planes are bit-identical on both engines).
    */
  private[graft] def hyperplaneLits(planes: Int, dim: Int, seed: Long = 7L): Seq[String] = {
    val rng = new scala.util.Random(seed)
    (0 until planes).map(_ => "[" + Array.fill(dim)(rng.nextGaussian()).mkString(", ") + "]")
  }

  /** LSH-bucketed KNN oracle: bucket = sign pattern against the literal
    * hyperplanes, then same-bucket cosine top-k — mirrors
    * [[Similarity.bucketedKnn]] exactly (the only cross-engine freedom is
    * dot-product summation order, which can flip a bucket bit only when a
    * dot lands within an ulp of zero — vanishing for gaussian planes).
    */
  /** The LSH bucket id of vector column `v` as a DuckDB expression (same
    * seeded hyperplanes as [[Similarity.randomHyperplaneBuckets]]).
    */
  private[graft] def bucketExprSql(planes: Int, dim: Int): String = {
    val lits = hyperplaneLits(planes, dim)
    (0 until planes).map { p =>
      s"(CASE WHEN list_dot_product(v, ${lits(p)}) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" | ")
  }

  /** DuckDB fragment mirroring [[Sampling.hashBucket]] over `doc_id` with the
    * default "graft" salt.
    */
  private[graft] def docBucketSql(buckets: Long): String =
    s"CAST('0x' || substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % $buckets"
}
