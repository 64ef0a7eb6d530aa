package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in `Retrieval`, each beside its DuckDB oracle. */
object RetrievalQueries {
  val all: Seq[Q] = Seq(
    // ---- diversified retrieval: per-source cap over the full BM25 run,
    // then the global top-20 (two-stage re-rank) ----------------------------
    Q("q_search_diverse", "Retrieval", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.bm25(docs, "doc_id", "text", BM25_TERMS, k = Int.MaxValue)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      Retrieval.diversifiedTopK(scored.select(col("doc_id"), col("source"), col("score")),
        "doc_id", "score", "source", perGroup = 2, k = 20)
        .orderBy(col("rank"))
    }, sql(searchDiverseSql(BM25_TERMS, perGroup = 2, k = 20))),

    // ---- Rocchio pseudo-relevance feedback: BM25 top-10 as the feedback
    // set, re-rank the corpus by cosine to their embedding centroid ---------
    Q("q_rocchio", "Retrieval", (s, dir) => {
      Retrieval.rocchioExpand(Tables.documents(s, dir), "doc_id", "text", BM25_TERMS,
        Tables.embeddings(s, dir), "vec_id", "embedding", feedbackK = 10, k = 20)
    }, sql(
      // Rocchio PRF: the BM25 run as a subquery picks the feedback set; the
      // 6-dp per-dim centroid reassembles as an ordered list; cosine is the
      // same sequential list fold as every other embedding oracle
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |       WHERE embedding IS NOT NULL),
         |fb AS (SELECT doc_id FROM (${bm25Sql(BM25_TERMS, k = 10)}) r0),
         |rl AS (SELECT e0.v FROM fb JOIN e0 ON fb.doc_id = e0.vec_id),
         |x AS (SELECT unnest(list_transform(generate_series(1, len(v)),
         |    i -> {'dim': i - 1, 'x': v[i]})) AS u FROM rl),
         |cd AS (SELECT u.dim AS dim, round(CAST(sum(CAST(round((u.x) * 1000000.0) AS BIGINT)) AS BIGINT) / (count(CAST(round((u.x) * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS c FROM x GROUP BY 1),
         |cent AS (SELECT list(c ORDER BY dim) AS cv FROM cd)
         |SELECT vec_id, round(${cosineSql("v", "cv")}, 6) AS sim
         |FROM e0 CROSS JOIN cent
         |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin)),

    // ---- hybrid retrieval: RRF fusion of the BM25 lexical run and the
    // cosine KNN semantic run (doc ids and vec ids share a domain) ---------
    Q("q_hybrid_rrf", "Retrieval", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text",
        BM25_TERMS, k = 20)
        .select(col("doc_id"), row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast("long").as("rank"))
      val emb = Tables.embeddings(s, dir)
      val sem = Similarity.bruteForceKnn(emb, emb.where(col("vec_id") === 0),
        "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("rank"))
      Retrieval.rrfFuse(Seq(lex, sem), "doc_id", c = 60, k = 15)
    }, sql(
      // RRF fusion of the bm25 oracle (as a subquery) and a cosine-KNN run
      // for query vector 0; 1.0/(60+rank) sums are 2-term (commutative)
      s"""WITH lex AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM (${bm25Sql(BM25_TERMS, 20)})),
         |eq AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         |ec AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id <> 0),
         |ss AS (SELECT vec_id AS doc_id, round(${cosineSql("qv", "cv")}, 6) AS sim
         |  FROM ec, eq),
         |sem AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rank
         |  FROM ss ORDER BY sim DESC, doc_id LIMIT 20),
         |runs AS (
         |  SELECT doc_id, 1.0 / (60 + rank) AS s FROM lex
         |  UNION ALL
         |  SELECT doc_id, 1.0 / (60 + rank) AS s FROM sem)
         |SELECT doc_id, round(sum(s), 6) AS rrf, CAST(count(*) AS BIGINT) AS n_runs
         |FROM runs GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin)),

    // ---- retrieval eval: MRR / DCG@5 / nDCG@5 under label relevance ------
    Q("q_rank_metrics", "Retrieval", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val run = Similarity.bruteForceKnn(emb, emb.where(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
      Retrieval.rankMetrics(run, emb, "vec_id", "label", k = 5)
        .orderBy(col("query_id"))
    }, sql(
      // rank metrics: DCG discounts injected as driver-computed literals on
      // BOTH sides (libm log2 may differ in the last ulp; a literal cannot)
      {
      val k = 5
      val disc = graft.operators.Retrieval.dcgDiscounts(k)
      val discArr = "[" + disc.mkString(", ") + "]"
      val cumArr = "[" + disc.scanLeft(0.0)(_ + _).tail.mkString(", ") + "]"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
         |sc AS (SELECT query_id, vec_id AS neighbor_id, round(${cosineSql("qv", "v")}, 6) AS sim
         |       FROM q0, e WHERE query_id <> vec_id),
         |r AS (SELECT query_id, neighbor_id, rn AS rank FROM (
         |        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |        FROM sc) WHERE rn <= $k),
         |lab AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS lab FROM embeddings WHERE label IS NOT NULL),
         |cnt AS (SELECT lab, CAST(count(*) AS BIGINT) AS cnt FROM lab GROUP BY 1),
         |j AS (SELECT r.query_id, r.rank, ql.lab AS qlab,
         |        CASE WHEN nl.lab = ql.lab THEN 1 ELSE 0 END AS rel
         |      FROM r JOIN lab ql ON r.query_id = ql.id JOIN lab nl ON r.neighbor_id = nl.id),
         |g AS (SELECT query_id, qlab,
         |        CAST(sum(rel) AS BIGINT) AS n_rel_at_k,
         |        min(CASE WHEN rel = 1 THEN rank END) AS fr,
         |        sum(CASE WHEN rel = 1 THEN ($discArr)[rank] ELSE 0.0 END) AS dcg
         |      FROM j GROUP BY 1, 2),
         |f AS (SELECT g.*, greatest(cnt - 1, 0) AS nrel FROM g JOIN cnt ON g.qlab = cnt.lab)
         |SELECT query_id,
         |  CAST(coalesce(fr, 0) AS BIGINT) AS first_rel_rank,
         |  n_rel_at_k,
         |  CAST(round(CASE WHEN fr IS NOT NULL THEN CAST(1.0 AS DOUBLE) / fr ELSE 0.0 END, 6) AS DOUBLE) AS mrr,
         |  CAST(round(dcg, 6) AS DOUBLE) AS dcg,
         |  CAST(round(CASE WHEN nrel >= 1 THEN ($cumArr)[least(nrel, $k)] ELSE 0.0 END, 6) AS DOUBLE) AS idcg,
         |  CAST(round(CASE WHEN nrel >= 1 AND ($cumArr)[least(nrel, $k)] > 0
         |        THEN dcg / ($cumArr)[least(nrel, $k)] ELSE 0.0 END, 6) AS DOUBLE) AS ndcg
         |FROM f ORDER BY query_id""".stripMargin
    })),

    // ---- order preservation: Kendall tau between the exact and the LSH-
    // bucketed rankings (the quality axis recall@k cannot see) -------------
    Q("q_rank_agreement", "Retrieval", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") < 8)
      Retrieval.rankAgreement(
        Similarity.bruteForceKnn(emb, qs, "vec_id", "embedding", k = 5),
        Similarity.bucketedKnn(emb, qs, "vec_id", "embedding", k = 5, planes = 4, dim = 64),
        k = 5)
        .orderBy(col("query_id"))
    }, sql(
      // rank agreement: integer concordant/discordant counts over the items
      // shared by the exact and bucketed top-5 lists
      {
      val k = 5
      val bucketExpr = bucketExprSql(4, 64)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
         |sc AS (SELECT query_id, vec_id AS neighbor_id, round(${cosineSql("qv", "v")}, 6) AS sim
         |       FROM q0, e WHERE query_id <> vec_id),
         |ra AS (SELECT query_id, neighbor_id, rn AS rka FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |         FROM sc) WHERE rn <= $k),
         |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e),
         |qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 8),
         |sb AS (SELECT query_id, b.vec_id AS neighbor_id, round(${cosineSql("qv", "b.v")}, 6) AS sim
         |       FROM qb JOIN b USING (bucket) WHERE query_id <> b.vec_id),
         |rb AS (SELECT query_id, neighbor_id, rn AS rkb FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |         FROM sb) WHERE rn <= $k),
         |sh AS (SELECT ra.query_id, ra.neighbor_id, rka, rkb
         |       FROM ra JOIN rb ON ra.query_id = rb.query_id AND ra.neighbor_id = rb.neighbor_id),
         |ns AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_shared FROM sh GROUP BY 1),
         |pr AS (SELECT a.query_id,
         |         CASE WHEN (a.rka < b.rka AND a.rkb < b.rkb) OR (a.rka > b.rka AND a.rkb > b.rkb)
         |              THEN 1 ELSE 0 END AS conc
         |       FROM sh a JOIN sh b ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id),
         |pc AS (SELECT query_id, CAST(sum(conc) AS BIGINT) AS concordant,
         |         CAST(sum(1 - conc) AS BIGINT) AS discordant
         |       FROM pr GROUP BY 1)
         |SELECT ns.query_id, ns.n_shared,
         |  coalesce(pc.concordant, 0) AS concordant,
         |  coalesce(pc.discordant, 0) AS discordant,
         |  round(CASE WHEN ns.n_shared >= 2
         |    THEN CAST(coalesce(pc.concordant, 0) - coalesce(pc.discordant, 0) AS DOUBLE)
         |         / (ns.n_shared * (ns.n_shared - 1) / 2)
         |    ELSE 0.0 END, 6) AS tau
         |FROM ns LEFT JOIN pc ON ns.query_id = pc.query_id ORDER BY ns.query_id""".stripMargin
    })),

    // ---- MMR diversified re-rank of the top-20 ANN candidates. The
    // candidate CUT uses the rounded knn sim (discrete, engine-stable); the
    // greedy fold's relevance is the RAW cosine recomputed from the vectors
    // (see Retrieval.mmr's determinism contract) ---------------------------
    Q("q_mmr_rerank", "Retrieval", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cands = Similarity.bruteForceKnn(emb, emb.where(col("vec_id") < 3),
        "vec_id", "embedding", k = 20)
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")), Seq("neighbor_id"))
        .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("__qv")), Seq("query_id"))
        .withColumn("rel", Similarity.cosineFast(col("__qv"), col("embedding")))
      Retrieval.mmr(cands, "query_id", "neighbor_id", "rel", "embedding",
        k = 8, lambda = 0.7)
        .orderBy(col("query_id"), col("rank"))
    }, sql(
      // MMR re-rank: the greedy selection as a list_reduce fold with the
      // whole state in one VARCHAR of 'idx@score' picks (the q_holt /
      // q_downsample_stateful technique — scalar accumulators fold reliably
      // where struct ones mis-thread). Candidate lists are doc-id-ordered on
      // both sides, so argmax-by-first-position == smallest-id tie-break.
      {
      val selIdx = "[CAST(string_split(e,'@')[1] AS INT) FOR e IN list_filter(string_split(acc,','), e -> e <> '')]"
      // raw-double step score: both engines derive it from identical bits;
      // only the EMITTED score is floor-quantized (see Retrieval.mmr docs)
      val scoreI = s"CASE WHEN list_contains($selIdx, i) THEN -1e18 " +
        s"ELSE 0.7*rels[i] - 0.3*coalesce(list_max([simm[i][j] FOR j IN $selIdx]), 0.0) END"
      val scores = s"[$scoreI FOR i IN generate_series(1, len(ids))]"
      val best = s"list_position($scores, list_max($scores))"
      val step = s"acc || ',' || CAST($best AS VARCHAR) || '@' || CAST(list_max($scores) AS VARCHAR)"
      s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
         |c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
         |sc AS (SELECT qid, nid, round(${cosineSql("qv", "cv")}, 6) AS sim,
         |              ${cosineSql("qv", "cv")} AS rsim FROM q, c WHERE qid <> nid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
         |cand AS (SELECT r.qid, r.nid, r.rsim, c2.cv FROM r JOIN c c2 ON r.nid = c2.nid WHERE r.rn <= 20),
         |g AS (SELECT qid, list(nid ORDER BY nid) AS ids, list(rsim ORDER BY nid) AS rels,
         |             list(cv ORDER BY nid) AS vecs FROM cand GROUP BY qid),
         |m AS (SELECT qid, ids, rels,
         |        [[${cosineSql("vecs[i]", "vecs[j]")} FOR j IN generate_series(1, len(ids))]
         |         FOR i IN generate_series(1, len(ids))] AS simm FROM g),
         |sel AS (SELECT qid, ids,
         |  list_filter(string_split(list_reduce(['' FOR x IN generate_series(0, 8)], (acc, x) -> $step), ','), e -> e <> '') AS picks
         |  FROM m)
         |SELECT qid AS query_id,
         |  unnest(generate_series(1, len(picks))) AS rank,
         |  unnest([ids[CAST(string_split(p,'@')[1] AS INT)] FOR p IN picks]) AS doc_id,
         |  unnest([floor(CAST(string_split(p,'@')[2] AS DOUBLE) * 1000000.0) / 1000000.0 FOR p IN picks]) AS score
         |FROM sel ORDER BY query_id, rank""".stripMargin
    })),

    // ---- positional phrase search (repeated-term phrase, anchor merge) ---
    Q("q_phrase_search", "Retrieval", (s, dir) => {
      Retrieval.phraseSearch(Tables.documents(s, dir), "doc_id", "text",
        Seq("table", "table"))
    }, sql(
      // phrase search: position votes to anchors, all distinct offsets present
      """WITH toks AS (SELECT doc_id, u.p - 1 AS p, string_split(text, ' ')[u.p] AS tok
        |              FROM documents,
        |                unnest(generate_series(1, len(string_split(text, ' ')))) AS u(p)
        |              WHERE text IS NOT NULL),
        |terms AS (SELECT * FROM (VALUES (0::BIGINT, 'table'), (1::BIGINT, 'table')) t(i, term)),
        |v AS (SELECT doc_id, p - i AS anchor, i FROM toks JOIN terms ON tok = term),
        |a AS (SELECT doc_id, anchor, count(DISTINCT i) AS nv FROM v GROUP BY 1, 2),
        |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |      FROM a WHERE nv = 2 GROUP BY 1)
        |SELECT doc_id, n_hits FROM h ORDER BY doc_id""".stripMargin)))

  /** DuckDB fragment: distinct (doc, shingle) pairs, n-token shingles —
    * mirrors [[Dedup.docShingles]] / [[TextAnalysis.shingles]] INCLUDING
    * their null-text behavior (a null doc contributes no shingles: the
    * Spark sides guard or return empty arrays, while unguarded DuckDB
    * `greatest(len(NULL)-n, 0)` would ignore the null and mint one NULL
    * gram). `suffix` renames the CTEs so two shingle widths can coexist in
    * one composed query.
    */
  /** [[bm25Sql]]'s scoring chain (no limit) + source join + the per-source
    * cap and global top-k windows — the oracle of
    * [[graft.operators.Retrieval.diversifiedTopK]] over the BM25 run.
    */
  private def searchDiverseSql(terms: Seq[String], perGroup: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val tfCols = terms.indices.map(i =>
      s"CAST(len(list_filter(toks, x -> x = '${terms(i)}')) AS DOUBLE) AS tf$i").mkString(",\n  ")
    val dfAggs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1.0 ELSE 0.0 END) AS df$i").mkString(", ")
    val score = terms.indices.map { i =>
      s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${k1 + 1.0}) / " +
        s"(tf$i + $k1 * (1.0 - $b + $b * dl / avgdl))"
    }.mkString("\n    + ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
       |  $tfCols FROM t),
       |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl, $dfAggs FROM tf),
       |sc AS (SELECT doc_id, round($score, 6) AS score FROM tf, s),
       |j AS (SELECT sc.doc_id, d.source, score
       |      FROM sc JOIN documents d USING (doc_id) WHERE score > 0),
       |g AS (SELECT doc_id, source, score,
       |        row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS gr
       |      FROM j),
       |c AS (SELECT * FROM g WHERE gr <= $perGroup ORDER BY score DESC, doc_id LIMIT $k)
       |SELECT doc_id, source, score, CAST(gr AS BIGINT) AS group_rank,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |FROM c ORDER BY rank""".stripMargin
  }
}
