package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in `Similarity`, each beside its DuckDB oracle. */
object SimilarityQueries {
  val all: Seq[Q] = Seq(
    // ---- brute-force cosine top-k over embeddings --------------------------
    Q("q_knn_brute", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceKnn(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }, sql(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
         |sc AS (SELECT query_id, neighbor_id, round(${cosineSql("qv", "cv")}, 6) AS sim
         |       FROM q, c WHERE query_id <> neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM sc)
         |SELECT query_id, neighbor_id, sim, rn AS rank FROM r WHERE rn <= 5
         |ORDER BY query_id, rank""".stripMargin)),

    // ---- embedding-cosine near-dup pairs -----------------------------------
    Q("q_embed_dedup", "Similarity", (s, dir) => {
      Similarity.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.45)
        .orderBy(col("d1"), col("d2"))
    }, sql(embedDedupOracleSql)),

    // ---- same output via the DISTRIBUTED block-partitioned sweep (no
    // broadcast-size bound, no driver collect) — the exact scale path when
    // the embedding matrix exceeds executor memory. (cosinePairsJoin is the
    // declarative fallback; its per-pair UDF invocation over 25M boxed rows
    // is ~60× this primitive-array sweep.) --------------------------------
    Q("q_embed_dedup_dist", "Similarity", (s, dir) => {
      Similarity.cosinePairsBlocked(Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.45)
        .orderBy(col("d1"), col("d2"))
    }, sql(
      // identical result set, produced by the block-partitioned sweep
      embedDedupOracleSql)),

    // ---- int8 scalar quantization of the embedding corpus ------------------
    Q("q_embed_quantize", "Similarity", (s, dir) => {
      Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id"))
    }, sql(
      // int8 scalar quantization: per-dim min/max grid, affine codes in
      // [-128, 127] (integer stats compare exactly), 6-dp reconstruction MSE
      // (a vector's components aggregate in dimension order on both engines)
      """WITH x AS (SELECT vec_id,
        |    CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM x GROUP BY pos),
        |c AS (SELECT vec_id, v, mn, mx,
        |    CAST(least(greatest(round((v - mn) / ((mx - mn) / 255.0)), 0), 255) AS BIGINT) - 128 AS code
        |  FROM x JOIN st USING (pos) WHERE mx > mn)
        |SELECT vec_id,
        |  CAST(sum(code) AS BIGINT) AS code_sum,
        |  min(code) AS code_min, max(code) AS code_max,
        |  CAST(count(*) AS BIGINT) AS n_dims,
        |  round(CAST(sum(CAST(round(pow(v - (mn + (code + 128) * ((mx - mn) / 255.0)), 2) * 1000000000000.0) AS BIGINT)) AS BIGINT) / (count(CAST(round(pow(v - (mn + (code + 128) * ((mx - mn) / 255.0)), 2) * 1000000000000.0) AS BIGINT)) * 1000000000000.0), 6) AS mse
        |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // ---- per-label embedding norm stats ------------------------------------
    Q("q_norm_stats", "Similarity", (s, dir) => {
      Similarity.normStats(Tables.embeddings(s, dir), "label", "embedding")
        .orderBy(col("label"))
    }, sql(
      """SELECT label, count(*) AS n,
        |  round(CAST(sum(CAST(round((sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) * 1000000.0) AS BIGINT)) AS BIGINT) / (count(CAST(round((sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS avg_norm
        |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- LSH-bucketed approximate KNN (scale path). Oracle-checked: the
    // seeded gaussian hyperplanes are embedded in the SQL as literals ------
    Q("q_knn_bucketed", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bucketedKnn(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, planes = 4, dim = 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }, sql(knnBucketedSql(k = 5, planes = 4, dim = 64))),

    // ---- IVF approximate KNN. Oracle-checked via dataDependentOracles:
    // Verify trains the same seeded quantizer and embeds the centroids -----
    Q("q_knn_ivf", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfKnn(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCells = 8, nprobe = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }, (spark, dir) => {
      val cents = Similarity.trainIvfCentroids(
        Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, seed = 42L)
      ivfSql(cents, k = 5, nprobe = 3)
    }),

    // ---- PQ approximate KNN (codes + ADC). Oracle-checked via
    // dataDependentOracles: the same seeded sub-quantizers embedded as
    // SQL literals -----------------------------------------------------------
    Q("q_knn_pq", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqKnn(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
        topK = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }, (spark, dir) => {
      val books = Similarity.trainPqCodebooks(
        Tables.embeddings(spark, dir), "vec_id", "embedding", m = 4, k = 16, seed = 42L)
      pqSql(books, topK = 10)
    }),

    // ---- leave-one-out kNN majority-vote label audit (confusion matrix) ----
    Q("q_knn_classify", "Similarity", (s, dir) => {
      Similarity.knnClassify(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label", k = 10)
        .orderBy(col("label"), col("pred"))
    }, sql(
      // leave-one-out kNN label audit: ranking rule identical to q_knn_brute
      // (round-6 sim DESC, id tiebreak), vote rule integer-only (count DESC,
      // best rank, smaller label) — every output column is a BIGINT count
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings
         |           WHERE embedding IS NOT NULL AND label IS NOT NULL),
         |sc AS (SELECT a.vec_id AS q, b.vec_id AS nb, b.label AS nlab,
         |         round(${cosineSql("a.e", "b.e")}, 6) AS sim
         |       FROM v a, v b WHERE a.vec_id <> b.vec_id),
         |r AS (SELECT q, nlab,
         |        row_number() OVER (PARTITION BY q ORDER BY sim DESC, nb) AS rn
         |      FROM sc),
         |t AS (SELECT q, nlab, count(*) AS cnt, min(rn) AS mr
         |      FROM r WHERE rn <= 10 GROUP BY q, nlab),
         |p AS (SELECT q, nlab,
         |        row_number() OVER (PARTITION BY q ORDER BY cnt DESC, mr, nlab) AS pr
         |      FROM t)
         |SELECT CAST(v.label AS BIGINT) AS label, CAST(p.nlab AS BIGINT) AS pred,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM p JOIN v ON p.q = v.vec_id WHERE p.pr = 1
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- ANN quality gate: recall@k of the LSH-bucketed KNN against the
    // exact brute-force ranking on the same query sample ---------------------
    Q("q_knn_recall", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") < 5)
      Similarity.recallAtK(
        Similarity.bruteForceKnn(emb, qs, "vec_id", "embedding", k = 5),
        Similarity.bucketedKnn(emb, qs, "vec_id", "embedding", k = 5, planes = 4, dim = 64),
        k = 5)
        .orderBy(col("query_id"))
    }, sql(knnRecallSql(k = 5, planes = 4, dim = 64))),

    // ---- semantic outliers: the 25 vectors farthest from their nearest
    // IVF centroid (the curation pipeline's "weird tail" report) -----------
    Q("q_semantic_outliers", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", k = 8, seed = 42L)
      Similarity.semanticOutliers(emb, "vec_id", "embedding", cents, topN = 25)
    }, (spark, dir) => {
      val cents = Similarity.trainIvfCentroids(
        Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, seed = 42L)
      semanticOutliersSql(cents, topN = 25)
    }),

    // ---- per-label mean embeddings (class centroids), long format --------
    Q("q_label_centroids", "Similarity", (s, dir) => {
      Similarity.labelCentroids(Tables.embeddings(s, dir), "label", "embedding")
        .orderBy(col("label"), col("dim"))
    }, sql(
      // long-format class centroids: one row per (label, dim)
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |x AS (SELECT label, unnest(list_transform(generate_series(1, len(v)),
        |    i -> {'dim': i - 1, 'x': v[i]})) AS u FROM e)
        |SELECT label, CAST(u.dim AS BIGINT) AS dim, count(*) AS n,
        |  round(CAST(sum(CAST(round((u.x) * 1000000.0) AS BIGINT)) AS BIGINT) / (count(CAST(round((u.x) * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS mean
        |FROM x GROUP BY 1, 2 ORDER BY label, dim""".stripMargin)),

    // ---- hard-negative mining: for each query vector, the nearest
    // DIFFERENT-label vectors (the contrastive-training near-misses) -------
    Q("q_hard_negatives", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 8),
        "vec_id", "embedding", "label", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }, sql(
      // hard negatives: the knn_brute CTE with a label-mismatch join guard
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, CAST(label AS BIGINT) AS qlab
         |  FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL AND label IS NOT NULL),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, CAST(label AS BIGINT) AS nlab
         |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
         |sc AS (SELECT query_id, qlab, neighbor_id, nlab, round(${cosineSql("qv", "cv")}, 6) AS sim
         |       FROM q, c WHERE query_id <> neighbor_id AND qlab <> nlab),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM sc)
         |SELECT query_id, qlab AS query_label, neighbor_id, nlab AS neighbor_label, sim, CAST(rn AS BIGINT) AS rank
         |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ---- matryoshka truncation audit: recall@5 of prefix-d cosine KNN vs
    // the full 64-dim truth, the gate for searching truncated vectors ------
    Q("q_trunc_recall", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.truncatedRecall(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, dims = Seq(8, 16, 32))
        .orderBy(col("dims"))
    }, sql(
      // truncation recall: exact top-5 on prefix-d slices vs the full width;
      // micro recall over integer hit counts (order-insensitive)
      {
      def knnCte(name: String, qvExpr: String, cvExpr: String) =
        s"""$name AS (SELECT qid, nid FROM (
           |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY
           |    round(${cosineSql(qvExpr, cvExpr)}, 6) DESC, nid) AS rn
           |  FROM q, c WHERE qid <> nid) WHERE rn <= 5)""".stripMargin
      def recSel(d: Int) =
        s"""SELECT CAST($d AS BIGINT) AS dims,
           |  CAST(count(DISTINCT e.qid) AS BIGINT) AS n_queries,
           |  CAST(count(*) AS BIGINT) AS n_exact,
           |  CAST(sum(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  round(sum(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS recall
           |FROM ex e LEFT JOIN ax$d a ON e.qid = a.qid AND e.nid = a.nid""".stripMargin
      s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
         |${knnCte("ex", "qv", "cv")},
         |${Seq(8, 16, 32).map(d => knnCte(s"ax$d", s"qv[1:$d]", s"cv[1:$d]")).mkString(",\n")}
         |${Seq(8, 16, 32).map(recSel).mkString("\nUNION ALL\n")}
         |ORDER BY dims""".stripMargin
    })),

    // ---- semantic source map: cosine between per-source mean embeddings --
    Q("q_source_centroids", "Similarity", (s, dir) => {
      val joined = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
      Similarity.groupCentroidCosine(joined, "source", "embedding")
        .orderBy(col("g1"), col("g2"))
    }, sql(
      // source centroids: per-(source, dim) means from aligned unnests, then
      // a dim-keyed pair join — the semantic face of q_source_similarity
      s"""WITH j AS (SELECT d.source, e.embedding::DOUBLE[] AS v
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         |  WHERE e.embedding IS NOT NULL),
         |l AS (SELECT source, unnest(generate_series(1, len(v))) AS i, unnest(v) AS x FROM j),
         |c AS (SELECT source, i, avg(x) AS c FROM l GROUP BY 1, 2),
         |nm AS (SELECT source, sqrt(sum(c * c)) AS n FROM c GROUP BY 1),
         |p AS (SELECT a.source AS g1, b.source AS g2, sum(a.c * b.c) AS dot
         |      FROM c a JOIN c b ON a.i = b.i AND a.source < b.source GROUP BY 1, 2)
         |SELECT g1, g2, round(dot / (na.n * nb.n), 6) AS cosine
         |FROM p JOIN nm na ON p.g1 = na.source JOIN nm nb ON p.g2 = nb.source
         |ORDER BY g1, g2""".stripMargin)),

    // ---- embedding dimension covariance/correlation matrix (the leading
    // 16-dim block: 136 pair moments over the whole corpus) ----------------
    Q("q_embed_cov", "Similarity", (s, dir) => {
      Similarity.covarianceMatrix(
        Tables.embeddings(s, dir).withColumn("embedding", slice(col("embedding"), 1, 16)),
        "embedding")
        .orderBy(col("i"), col("j"))
    }, sql(
      // embedding covariance: aligned unnests zip (x, dim) into long format;
      // components quantized to 1e-6-grid BIGINTs BEFORE summation (the
      // engine's order-independent fixed-point moments — sum(double) flips
      // 6-dp roundings with summation order), population moments as exact
      // integers, then ONE double expression mirrored from the engine;
      // diagonal joined back for the corr normalization
      """WITH v AS (SELECT vec_id, (embedding::DOUBLE[])[1:16] AS e FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |l0 AS (SELECT vec_id, unnest(generate_series(1, len(e))) AS ix, unnest(e) AS x FROM v),
        |l AS (SELECT vec_id, ix, CAST(round(x * 1000000.0) AS BIGINT) AS q FROM l0),
        |p AS (SELECT a.ix - 1 AS i, b.ix - 1 AS j, count(*) AS n,
        |        CAST(sum(a.q * b.q) AS BIGINT) AS sp,
        |        CAST(sum(a.q) AS BIGINT) AS si, CAST(sum(b.q) AS BIGINT) AS sj
        |      FROM l a JOIN l b ON a.vec_id = b.vec_id AND a.ix <= b.ix GROUP BY 1, 2),
        |m AS (SELECT i, j, n,
        |        sp::DOUBLE / 1000000000000.0 / n -
        |          (si::DOUBLE / 1000000.0 / n) * (sj::DOUBLE / 1000000.0 / n) AS cov
        |      FROM p),
        |d AS (SELECT i, cov AS var FROM m WHERE i = j)
        |SELECT m.i, m.j, CAST(m.n AS BIGINT) AS n, round(m.cov, 6) + 0.0 AS cov,
        |  round(m.cov / sqrt(di.var * dj.var), 6) + 0.0 AS corr
        |FROM m JOIN d di ON m.i = di.i JOIN d dj ON m.j = dj.i
        |ORDER BY m.i, m.j""".stripMargin)),

    // ---- embedding hubness: in-degree over the full exact kNN graph ------
    Q("q_hubness", "Similarity", (s, dir) => {
      // Similarity.hubness's exact shape, over the shared kNN-graph frame
      val degrees = knnGraph5(s, dir)
        .groupBy(col("neighbor_id")).agg(count(lit(1)).as("in_degree"))
      Tables.embeddings(s, dir).where(col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("vec_id"))
        .join(degrees.withColumnRenamed("neighbor_id", "vec_id"), Seq("vec_id"), "left_outer")
        .select(col("vec_id"), coalesce(col("in_degree"), lit(0L)).as("in_degree"))
        .orderBy(col("vec_id"))
    }, sql(
      // hubness: in-degree over the exact kNN graph (same ranking contract as
      // q_knn_brute); zero-degree vectors kept by the left join
      hubnessSql)),

    // ---- the SAME hubness oracle through the distributed 2-D block sweep
    // (knnGraph's beyond-broadcast path, pinned at 4 blocks), so the 100 TB
    // plan shape gets its own hard CORRECTNESS row against the exact oracle
    Q("q_hubness_blocked", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val degrees = Similarity.knnGraphBlocked(emb, "vec_id", "embedding", 5, 4)
        .groupBy(col("neighbor_id")).agg(count(lit(1)).as("in_degree"))
      emb.where(col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("vec_id"))
        .join(degrees.withColumnRenamed("neighbor_id", "vec_id"), Seq("vec_id"), "left_outer")
        .select(col("vec_id"), coalesce(col("in_degree"), lit(0L)).as("in_degree"))
        .orderBy(col("vec_id"))
    }, sql(
      // identical oracle — the engine side runs the distributed block sweep,
      // so a divergence between the two physical paths is a red row here
      hubnessSql)),

    // ---- PCA 2-D semantic map. Oracle-checked via dataDependentOracles:
    // Verify trains the same deterministic power-iteration components and
    // embeds them (and the mean offsets) as SQL literals ------------------
    Q("q_pca_project", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (means, comps, _) = Similarity.trainPca(emb, "vec_id", "embedding",
        nComponents = 2)
      Similarity.pcaProject(emb, "vec_id", "embedding", means, comps)
        .orderBy(col("vec_id"))
    }, (spark, dir) => {
      val (means, comps, _) = Similarity.trainPca(
        Tables.embeddings(spark, dir), "vec_id", "embedding", nComponents = 2)
      pcaSql(means, comps)
    }),

    // ---- per-dimension z-score standardization of the embeddings ---------
    Q("q_embed_standardize", "Similarity", (s, dir) => {
      Similarity.standardize(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy(col("vec_id"), col("dim"))
    }, sql(
      // standardization: the q_embed_cov aligned-unnest long format; z is one
      // double expression over the per-dim moments, mirrored term for term
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |l AS (SELECT vec_id, unnest(generate_series(1, len(e))) - 1 AS dim, unnest(e) AS x FROM v),
        |s AS (SELECT dim, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx FROM l GROUP BY 1),
        |m AS (SELECT dim, sx / n AS mean, sxx / n - (sx / n) * (sx / n) AS var FROM s
        |      WHERE sxx / n - (sx / n) * (sx / n) > 0)
        |SELECT vec_id, CAST(l.dim AS BIGINT) AS dim, round((x - mean) / sqrt(var), 6) AS z
        |FROM l JOIN m ON l.dim = m.dim ORDER BY vec_id, dim""".stripMargin)),

    // ---- deterministic DBSCAN over cosine similarity: density family
    // (kmeans is the centroid family); min-label border attachment --------
    Q("q_dbscan", "Similarity", (s, dir) => {
      Similarity.dbscan(Tables.embeddings(s, dir), "vec_id", "embedding",
        simEps = 0.35, minPts = 4)
        .orderBy(col("vec_id"))
    }, sql(
      // DBSCAN: round6-cosine eps-pairs, degree+1 core test, recursive-CTE
      // components over core-core edges (min reachable id), min-label border
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE embedding IS NOT NULL),
         |p AS MATERIALIZED (SELECT a.vec_id AS d1, b.vec_id AS d2
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE round(${cosineSql("a.ev", "b.ev")}, 6) >= 0.35),
         |deg AS (SELECT n AS vid, CAST(count(*) AS BIGINT) AS dg
         |        FROM (SELECT d1 AS n FROM p UNION ALL SELECT d2 FROM p) GROUP BY 1),
         |core AS MATERIALIZED (SELECT e.vec_id AS vid FROM e
         |  LEFT JOIN deg ON e.vec_id = deg.vid WHERE coalesce(dg, 0) + 1 >= 4),
         |ce AS MATERIALIZED (SELECT p.d1, p.d2 FROM p
         |  JOIN core c1 ON p.d1 = c1.vid JOIN core c2 ON p.d2 = c2.vid),
         |eu AS (SELECT d1 AS a, d2 AS b FROM ce UNION SELECT d2, d1 FROM ce),
         |reach(a, b) AS (SELECT a, b FROM eu
         |  UNION SELECT r.a, e2.b FROM reach r JOIN eu e2 ON r.b = e2.a),
         |comp AS (SELECT a AS vid, least(a, min(b)) AS component FROM reach GROUP BY a),
         |cl AS MATERIALIZED (SELECT c.vid, coalesce(comp.component, c.vid) AS cluster
         |      FROM core c LEFT JOIN comp ON c.vid = comp.vid),
         |adj AS (SELECT d1 AS vid, d2 AS nb FROM p UNION ALL SELECT d2, d1 FROM p),
         |bord AS (SELECT adj.vid, CAST(min(cl.cluster) AS BIGINT) AS cluster
         |         FROM adj JOIN cl ON adj.nb = cl.vid
         |         WHERE adj.vid NOT IN (SELECT vid FROM cl)
         |         GROUP BY 1)
         |SELECT e.vec_id,
         |  CASE WHEN cl.vid IS NOT NULL THEN 'core'
         |       WHEN bord.vid IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
         |  CAST(coalesce(cl.cluster, bord.cluster, -1) AS BIGINT) AS cluster
         |FROM e LEFT JOIN cl ON e.vec_id = cl.vid LEFT JOIN bord ON e.vec_id = bord.vid
         |ORDER BY vec_id""".stripMargin)),

    // ---- integer-exact Lloyd k-means over the embedding corpus:
    // deterministic smallest-id init, BIGINT distances, integer means ------
    Q("q_kmeans", "Similarity", (s, dir) => {
      Similarity.kmeans(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8, iters = 5)
        .orderBy(col("vec_id"))
    }, sql(kmeansSql(k = 8, iters = 5))),

    // ---- LASER-style margin-scored cross-group pair mining (label parity
    // stands in for the two languages of a bitext-mining run) -------------
    Q("q_margin_mining", "Similarity", (s, dir) => {
      Similarity.marginMining(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("label") % 2, srcGroup = "0", k = 3, threshold = 1.0)
        .orderBy(col("src_id"))
    }, sql(
      // margin mining: cross-group top-k CTE (the q_hubness ranking shape
      // with a group-inequality join), INTEGER neighborhood sums of
      // round(sim*1e6) — no float accumulation order — and one mirrored
      // double division for the margin
      marginMiningSql(k = 3, threshold = 1.0))),

    // ---- two-stage ANN: PQ/ADC shortlist -> exact cosine re-rank ---------
    Q("q_knn_rerank", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqRerankKnn(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
        topK = 10, shortlist = 30)
        .orderBy(col("query_id"), col("rank"))
    }, (spark, dir) => {
      val books = Similarity.trainPqCodebooks(
        Tables.embeddings(spark, dir), "vec_id", "embedding", m = 4, k = 16, seed = 42L)
      pqRerankSql(books, shortlist = 30, topK = 10)
    }),

    // ---- multi-probe LSH KNN (single-bit-flip neighbor buckets) ----------
    Q("q_knn_multiprobe", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.multiProbeKnn(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, planes = 4, dim = 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }, sql(
      // multi-probe: the bucketed CTE with single-bit-flip probe membership
      knnMultiProbeSql(k = 5, planes = 4, dim = 64))),

    // ---- medoid exemplar per IVF cell ------------------------------------
    Q("q_cluster_medoids", "Similarity", (s, dir) => {
      val cents = Similarity.trainIvfCentroids(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, seed = 42L)
      Similarity.clusterMedoids(Tables.embeddings(s, dir), "vec_id",
        "embedding", cents)
    }, (spark, dir) => {
      val cents = Similarity.trainIvfCentroids(
        Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, seed = 42L)
      val dim = cents.head.length
      val cf = cents.flatten.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings
         |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
         |    AND len(embedding) = $dim),
         |m AS (SELECT $cf AS cf),
         |d AS (SELECT vec_id,
         |        list_transform(generate_series(0, ${cents.length - 1}), j ->
         |          sqrt(list_reduce(list_concat([0.0::DOUBLE],
         |            list_transform(generate_series(1, $dim), i ->
         |              (CAST(v[i] AS DOUBLE) - cf[j * $dim + i]) *
         |              (CAST(v[i] AS DOUBLE) - cf[j * $dim + i]))),
         |            (acc, x) -> acc + x))) AS ds
         |      FROM e, m),
         |ab AS (SELECT vec_id, ds, list_sort(ds)[1] AS a FROM d),
         |sc AS (SELECT CAST(list_position(ds, a) - 1 AS BIGINT) AS cell,
         |         round(a, 6) AS dd, vec_id
         |       FROM ab),
         |mn AS (SELECT cell, min(struct_pack(d := dd, i := vec_id)) AS m
         |       FROM sc GROUP BY 1)
         |SELECT cell, m.i AS vec_id, m.d AS dist
         |FROM mn ORDER BY cell""".stripMargin
    }),

    // ---- per-cluster silhouette over the trained IVF cells ---------------
    Q("q_silhouette", "Similarity", (s, dir) => {
      val cents = Similarity.trainIvfCentroids(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, seed = 42L)
      Similarity.silhouetteByCentroid(Tables.embeddings(s, dir), "vec_id",
        "embedding", cents)
    }, (spark, dir) => {
      val cents = Similarity.trainIvfCentroids(
        Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, seed = 42L)
      val dim = cents.head.length
      val cf = cents.flatten.map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings
         |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
         |    AND len(embedding) = $dim),
         |m AS (SELECT $cf AS cf),
         |d AS (SELECT vec_id,
         |        list_transform(generate_series(0, ${cents.length - 1}), j ->
         |          sqrt(list_reduce(list_concat([0.0::DOUBLE],
         |            list_transform(generate_series(1, $dim), i ->
         |              (CAST(v[i] AS DOUBLE) - cf[j * $dim + i]) *
         |              (CAST(v[i] AS DOUBLE) - cf[j * $dim + i]))),
         |            (acc, x) -> acc + x))) AS ds
         |      FROM e, m),
         |ab AS (SELECT vec_id, ds, list_sort(ds)[1] AS a, list_sort(ds)[2] AS b
         |       FROM d),
         |sc AS (SELECT CAST(list_position(ds, a) - 1 AS BIGINT) AS cell,
         |         CASE WHEN greatest(a, b) > 0.0
         |              THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s
         |       FROM ab)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(CAST(round(s * 1000000.0) AS BIGINT)) AS BIGINT)
         |        / (count(CAST(round(s * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS mean_s
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // ---- ridge linear probe: label-noise screen by |residual| ------------
    Q("q_linear_probe", "Similarity", (s, dir) => {
      Similarity.linearProbeResiduals(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label", dim = 64, lambda = 1.0, topN = 20)
    }, (spark, dir) => {
      // re-derive the identical coefficients (fixed-point moments make the
      // distributed aggregation shuffle-order-independent, the solve is
      // deterministic driver arithmetic) and embed them as literals
      val cf = Similarity.trainRidge(Tables.embeddings(spark, dir),
        "embedding", "label", dim = 64, lambda = 1.0)
      val b0 = s"CAST(${cf(0)} AS DOUBLE)"
      val cfList = cf.drop(1).map(v => s"CAST($v AS DOUBLE)").mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding AS v, CAST(label AS BIGINT) AS label
         |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
         |    AND len(embedding) = 64),
         |m AS (SELECT $cfList AS cf),
         |p AS (SELECT vec_id, label,
         |        list_reduce(list_concat([$b0],
         |          list_transform(generate_series(1, 64), i ->
         |            cf[i] * CAST(v[i] AS DOUBLE))),
         |          (acc, x) -> acc + x) AS pr
         |      FROM e, m)
         |SELECT vec_id, label, round(pr, 6) AS pred,
         |  round(label - pr, 6) AS residual
         |FROM p ORDER BY abs(round(label - pr, 6)) DESC, vec_id LIMIT 20""".stripMargin
    }),

    // ---- int8-compression retrieval quality gate (recall vs full float) --
    Q("q_int8_recall", "Similarity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val recon = Similarity.int8Reconstruct(emb, "vec_id", "embedding")
      val qsE = emb.where(col("vec_id") < 50)
      val qsR = recon.where(col("vec_id") < 50)
      Similarity.recallAtK(
        Similarity.bruteForceKnn(emb, qsE, "vec_id", "embedding", k = 5),
        Similarity.bruteForceKnn(recon, qsR, "vec_id", "recon", k = 5),
        k = 5)
        .orderBy(col("query_id"))
    }, sql(int8RecallSql(k = 5, dim = 64, nQueries = 50))),

    // ---- JL sparse-projection distortion audit over the embeddings -------
    Q("q_jl_audit", "Similarity", (s, dir) => {
      Similarity.jlDistortionAudit(Tables.embeddings(s, dir), "vec_id",
        "embedding", inDim = 64, outDim = 16)
    }, sql(jlAuditSql)),

    // ---- active-learning uncertainty sampling (kNN vote margin) ----------
    Q("q_uncertainty", "Similarity", (s, dir) => {
      Similarity.uncertaintySampling(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label", k = 5, topN = 50)
    }, sql(
      // uncertainty sampling: kNN rank CTE -> integer vote table -> ordered
      // label window -> margin; every quantity an exact BIGINT
      uncertaintySql(k = 5, topN = 50))))

  /** Shared by q_hubness (broadcast kNN path) and q_hubness_blocked (the
    * distributed 2-D block sweep): hubness in-degrees over the exact kNN
    * graph (same ranking contract as q_knn_brute); zero-degree vectors
    * kept by the left join.
    */
  private lazy val hubnessSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
       |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, round(${cosineSql("a.v", "b.v")}, 6) AS sim
       |       FROM e a JOIN e b ON a.vec_id <> b.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
       |deg AS (SELECT nid, CAST(count(*) AS BIGINT) AS in_degree FROM r WHERE rn <= 5 GROUP BY 1)
       |SELECT e.vec_id, coalesce(deg.in_degree, CAST(0 AS BIGINT)) AS in_degree
       |FROM e LEFT JOIN deg ON e.vec_id = deg.nid ORDER BY vec_id""".stripMargin

  /** DuckDB mirror of [[Similarity.uncertaintySampling]]: the hubness kNN
    * CTE over the labeled vectors, an integer vote table, the same
    * `(count DESC, best rank, label)` ordering, margin = top − second.
    */
  private def uncertaintySql(k: Int, topN: Int): String =
    s"""WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
       |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
       |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, round(${cosineSql("a.ev", "b.ev")}, 6) AS sim
       |       FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
       |t AS (SELECT qid, nid, rn FROM r WHERE rn <= $k),
       |v AS (SELECT t.qid, CAST(e.label AS BIGINT) AS lab, CAST(count(*) AS BIGINT) AS c,
       |        CAST(min(t.rn) AS BIGINT) AS br
       |      FROM t JOIN emb e ON t.nid = e.vec_id GROUP BY 1, 2),
       |o AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY c DESC, br, lab) AS lr FROM v),
       |f AS (SELECT qid AS vec_id,
       |        max(CASE WHEN lr = 1 THEN lab END) AS pred_label,
       |        max(CASE WHEN lr = 1 THEN c END) AS n_top,
       |        coalesce(max(CASE WHEN lr = 2 THEN c END), 0) AS n_second
       |      FROM o GROUP BY 1)
       |SELECT vec_id, pred_label, n_top, CAST(n_second AS BIGINT) AS n_second,
       |  CAST(n_top - n_second AS BIGINT) AS margin
       |FROM f ORDER BY margin, vec_id LIMIT $topN""".stripMargin

  /** DuckDB mirror of [[Similarity.jlDistortionAudit]] (64 → 16, seed 42):
    * the identical seeded ±1/0 matrix as a list literal, the same
    * fixed-order scalar folds (init prepended — DuckDB 1.0 list_reduce has
    * no init arg), every float CAST to DOUBLE before arithmetic.
    */
  private lazy val jlAuditSql: String = {
    val rl = Similarity.jlMatrix(64, 16, 42L).mkString("[", ",", "]")
    val scale = s"CAST(${math.sqrt(3.0 / 16)} AS DOUBLE)"
    s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings
       |           WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
       |             AND len(embedding) = 64),
       |p AS (SELECT a.id AS id_a, b.id AS id_b, a.v AS va, b.v AS vb
       |      FROM e a JOIN e b ON b.id = a.id + 1 WHERE a.id % 2 = 0),
       |m AS (SELECT $rl AS rl),
       |pr AS (SELECT id_a, id_b, va, vb,
       |         list_transform(generate_series(0, 15), j ->
       |           list_reduce(list_concat([0.0::DOUBLE],
       |             list_transform(generate_series(1, 64), i ->
       |               CAST(va[i] AS DOUBLE) * rl[j * 64 + i])),
       |             (acc, x) -> acc + x)) AS pa,
       |         list_transform(generate_series(0, 15), j ->
       |           list_reduce(list_concat([0.0::DOUBLE],
       |             list_transform(generate_series(1, 64), i ->
       |               CAST(vb[i] AS DOUBLE) * rl[j * 64 + i])),
       |             (acc, x) -> acc + x)) AS pb
       |       FROM p, m),
       |c AS (SELECT id_a, id_b,
       |        sqrt(list_reduce(list_concat([0.0::DOUBLE],
       |          list_transform(generate_series(1, 64), i ->
       |            (CAST(va[i] AS DOUBLE) - CAST(vb[i] AS DOUBLE)) *
       |            (CAST(va[i] AS DOUBLE) - CAST(vb[i] AS DOUBLE)))),
       |          (acc, x) -> acc + x)) AS dor,
       |        $scale * sqrt(list_reduce(list_concat([0.0::DOUBLE],
       |          list_transform(generate_series(1, 16), j ->
       |            (pa[j] - pb[j]) * (pa[j] - pb[j]))),
       |          (acc, x) -> acc + x)) AS dpr
       |      FROM pr)
       |SELECT id_a, id_b, round(dor, 6) AS d_orig, round(dpr, 6) AS d_proj,
       |  CASE WHEN dor > 0.0 THEN round(dpr / dor, 6) END AS ratio
       |FROM c ORDER BY id_a""".stripMargin
  }

  /** DuckDB mirror of [[Similarity.marginMining]] over label-parity groups:
    * cross-group exact top-k, integer neighborhood sums, one double
    * division per pair, per-source argmax window with the same tie-break.
    */
  private def marginMiningSql(k: Int, threshold: Double): String = {
    val denomScale = 2.0 * k * 1000000.0
    s"""WITH emb AS (SELECT vec_id, label % 2 AS g, embedding::DOUBLE[] AS ev
       |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
       |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, a.g AS ga,
       |         round(${cosineSql("a.ev", "b.ev")}, 6) AS sim
       |       FROM emb a JOIN emb b ON a.g <> b.g),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
       |t AS (SELECT * FROM r WHERE rn <= $k),
       |su AS (SELECT qid, CAST(sum(CAST(round(sim * 1000000.0) AS BIGINT)) AS BIGINT) AS isum
       |       FROM t GROUP BY qid),
       |m AS (SELECT c.qid AS src_id, c.nid AS dst_id, c.sim,
       |        round(c.sim / (CAST(sa.isum + sb.isum AS DOUBLE) / $denomScale), 6) AS margin
       |      FROM t c JOIN su sa ON c.qid = sa.qid JOIN su sb ON c.nid = sb.qid
       |      WHERE c.ga = 0),
       |best AS (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, dst_id) AS rb
       |         FROM m)
       |SELECT src_id, dst_id, sim AS cos, margin
       |FROM best WHERE rb = 1 AND margin >= $threshold ORDER BY src_id""".stripMargin
  }

  /** DuckDB mirror of [[operators.Similarity.kmeans]]: `iters` unrolled
    * Lloyd rounds over the 1e-6-quantized integer coordinates — per round
    * one k-way cross join scoring exact BIGINT squared distances (ties to
    * the smaller centroid id) and one flooring `//` mean per (cid, dim) —
    * plus the final assignment. Init is the `k` smallest-id vectors, so
    * both engines start identically; empty clusters keep their previous
    * centroid via the LEFT JOIN coalesce.
    */
  private def kmeansSql(k: Int, iters: Int): String = {
    val rounds = (1 to iters + 1).map { i =>
      val assign =
        s"""s$i AS (SELECT q.vid, q.qv, c.cid,
           |    CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
           |      j -> (q.qv[j] - c.cv[j]) * (q.qv[j] - c.cv[j]))) AS BIGINT) AS d
           |  FROM q CROSS JOIN c${i - 1} c),
           |a$i AS MATERIALIZED (SELECT vid, qv, cid, d FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn FROM s$i)
           |  WHERE rn = 1)""".stripMargin
      if (i <= iters)
        assign + ",\n" +
          s"""m$i AS (SELECT cid, j,
             |    CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS v
             |  FROM (SELECT a.cid, generate_subscripts(a.qv, 1) AS j, unnest(a.qv) AS x
             |        FROM a$i a) GROUP BY 1, 2),
             |c$i AS MATERIALIZED (SELECT p.cid, coalesce(m.cv, p.cv) AS cv
             |  FROM c${i - 1} p LEFT JOIN
             |    (SELECT cid, list(v ORDER BY j) AS cv FROM m$i GROUP BY cid) m USING (cid))""".stripMargin
      else assign
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT vec_id AS vid,
       |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000.0) AS BIGINT)) AS qv
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS BIGINT) AS cid, qv AS cv
       |  FROM (SELECT vid, qv FROM q ORDER BY vid LIMIT $k)),
       |$rounds
       |SELECT vid AS vec_id, cid AS cluster, d AS dist2
       |FROM a${iters + 1} ORDER BY vec_id""".stripMargin
  }

  /** DuckDB mirror of [[Similarity.multiProbeKnn]]: the bucketed CTE with
    * an OR-membership join over the query bucket and its single-bit flips.
    */
  private def knnMultiProbeSql(k: Int, planes: Int, dim: Int): String = {
    val bucketExpr = bucketExprSql(planes, dim)
    val membership = (s"c.bucket = q.bucket" +:
      (0 until planes).map(p => s"c.bucket = xor(q.bucket, ${1 << p})")).mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM b),
       |sc AS (SELECT query_id, neighbor_id, round(${cosineSql("qv", "cv")}, 6) AS sim
       |       FROM q JOIN c ON ($membership) AND query_id <> neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM sc)
       |SELECT query_id, neighbor_id, sim, rn AS rank FROM r WHERE rn <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  private def knnBucketedSql(k: Int, planes: Int, dim: Int): String = {
    val bucketExpr = bucketExprSql(planes, dim)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
       |c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM b),
       |sc AS (SELECT query_id, neighbor_id, round(${cosineSql("qv", "cv")}, 6) AS sim
       |       FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM sc)
       |SELECT query_id, neighbor_id, sim, rn AS rank FROM r WHERE rn <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Recall@k of the LSH-bucketed KNN against the exact brute-force
    * ranking — both plans restated in full (same rounded-sim tie-break
    * ranking as their standalone oracles) and joined per (query, neighbor).
    */
  private def knnRecallSql(k: Int, planes: Int, dim: Int): String = {
    val bucketExpr = bucketExprSql(planes, dim)
    val hit = "CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |sc AS (SELECT query_id, vec_id AS neighbor_id, round(${cosineSql("qv", "v")}, 6) AS sim
       |       FROM q0, e WHERE query_id <> vec_id),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |         FROM sc) WHERE rn <= $k),
       |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM e),
       |qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
       |sb AS (SELECT query_id, b.vec_id AS neighbor_id, round(${cosineSql("qv", "b.v")}, 6) AS sim
       |       FROM qb JOIN b USING (bucket) WHERE query_id <> b.vec_id),
       |ap AS (SELECT query_id, neighbor_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |         FROM sb) WHERE rn <= $k)
       |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(sum($hit) AS BIGINT) AS n_hit,
       |  round(CAST(sum($hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
       |FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  /** DuckDB mirror of q_int8_recall: the int8 reconstruction CTE (same
    * per-dim grid, clamped half-up codes, float-cast decode as
    * [[Similarity.int8Reconstruct]]) feeding the same brute top-k shape as
    * [[knnRecallSql]], recall of the compressed run against full float.
    */
  private def int8RecallSql(k: Int, dim: Int, nQueries: Int): String = {
    val hit = "CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |x AS (SELECT vec_id, u.i AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
       |      FROM embeddings, unnest(generate_series(1, $dim)) AS u(i)
       |      WHERE embedding IS NOT NULL),
       |st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM x GROUP BY 1),
       |rc AS (SELECT vec_id, pos,
       |         CAST(CASE WHEN mx > mn
       |           THEN mn + least(greatest(round((v - mn) / ((mx - mn) / 255.0), 0), 0.0), 255.0)
       |                * ((mx - mn) / 255.0)
       |           ELSE mn END AS REAL) AS r
       |       FROM x JOIN st USING (pos)),
       |rv AS (SELECT vec_id, CAST(list(r ORDER BY pos) AS DOUBLE[]) AS rvec
       |       FROM rc GROUP BY 1),
       |q0 AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |sc AS (SELECT query_id, vec_id AS neighbor_id, round(${cosineSql("qv", "v")}, 6) AS sim
       |       FROM q0, e WHERE query_id <> vec_id),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |         FROM sc) WHERE rn <= $k),
       |qr AS (SELECT vec_id AS query_id, rvec AS qv FROM rv WHERE vec_id < $nQueries),
       |sr AS (SELECT query_id, rv.vec_id AS neighbor_id, round(${cosineSql("qv", "rvec")}, 6) AS sim
       |       FROM qr, rv WHERE query_id <> rv.vec_id),
       |ap AS (SELECT query_id, neighbor_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |         FROM sr) WHERE rn <= $k)
       |SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(sum($hit) AS BIGINT) AS n_hit,
       |  round(CAST(sum($hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
       |FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  /** IVF KNN oracle around Verify-time centroids: the coarse quantizer is
    * trained by the SAME seeded Scala k-means the operator uses
    * ([[Similarity.trainIvfCentroids]]) and embedded as literals; the SQL
    * then mirrors assignment (first-nearest cell), probing (nprobe nearest
    * cells by (distance, cell)), and same-cell cosine top-k.
    */
  private def ivfSql(cents: Array[Array[Double]], k: Int, nprobe: Int): String = {
    val lits = cents.map(c => "[" + c.mkString(", ") + "]")
    val n = lits.length
    val dists = (0 until n).map(i => s"list_distance(v, ${lits(i)}) AS d$i").mkString(", ")
    val m = s"least(${(0 until n).map("d" + _).mkString(", ")})"
    val cellCase = "CASE " + (0 until n).map(i => s"WHEN d$i = $m THEN $i").mkString(" ") + " END"
    val probeStructs = (0 until n).map(i => s"{'cell': $i, 'd': d$i}").mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dd AS (SELECT vec_id, v, $dists FROM e),
       |cb AS (SELECT vec_id AS neighbor_id, v AS cv, $cellCase AS cell FROM dd),
       |qq AS (SELECT vec_id, v, unnest([$probeStructs]) AS u FROM dd WHERE vec_id < 5),
       |qp AS (SELECT vec_id AS query_id, v AS qv, u.cell AS cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY u.d, u.cell) AS pr FROM qq),
       |q AS (SELECT query_id, qv, cell FROM qp WHERE pr <= $nprobe),
       |sc AS (SELECT query_id, neighbor_id, round(${cosineSql("qv", "cv")}, 6) AS sim
       |       FROM q JOIN cb USING (cell) WHERE query_id <> neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM sc)
       |SELECT query_id, neighbor_id, sim, rn AS rank FROM r WHERE rn <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** PCA-projection oracle around Verify-time components: each score is
    * `list_dot_product(v, w_c) − (means·w_c)` — the dot in index order on
    * both sides, the offset a driver-computed Scala-dot literal — so both
    * engines evaluate identical float expressions, rounded to 6.
    */
  private def pcaSql(means: Array[Double], comps: Array[Array[Double]]): String = {
    val cols = comps.zipWithIndex.map { case (w, c) =>
      val off = Similarity.dotIdx(means, w)
      s"round(list_dot_product(v, [${w.mkString(", ")}]) - ($off), 6) AS pc${c + 1}"
    }
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |       WHERE embedding IS NOT NULL)
       |SELECT vec_id,
       |  ${cols.mkString(",\n  ")}
       |FROM e ORDER BY vec_id""".stripMargin
  }

  /** Semantic-outlier oracle around Verify-time centroids: squared
    * distances in the PQ family's engine-portable `v·v − 2 v·c + c·c`
    * form (dots via `list_dot_product` = index order, `c·c` a Scala-dot
    * literal), first-minimum cell, `round(sqrt(greatest(min,0)),6)`
    * distance, top-N by (dist DESC, vec_id).
    */
  private def semanticOutliersSql(cents: Array[Array[Double]], topN: Int): String = {
    val lits = cents.map(c => "[" + c.mkString(", ") + "]")
    val n = lits.length
    val ccs = cents.map(c => Similarity.dotIdx(c, c))
    val vcs = (0 until n).map(i => s"list_dot_product(v, ${lits(i)}) AS vc$i").mkString(",\n  ")
    val ds = (0 until n).map(i => s"vv - 2.0*vc$i + ${ccs(i)} AS d$i").mkString(",\n  ")
    val m = s"least(${(0 until n).map("d" + _).mkString(", ")})"
    val cellCase = "CASE " + (0 until n).map(i => s"WHEN d$i = $m THEN $i").mkString(" ") + " END"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |       WHERE embedding IS NOT NULL),
       |p1 AS (SELECT vec_id, list_dot_product(v, v) AS vv,
       |  $vcs FROM e),
       |p2 AS (SELECT vec_id,
       |  $ds FROM p1),
       |p3 AS (SELECT vec_id, CAST($cellCase AS BIGINT) AS cell,
       |  round(sqrt(greatest($m, 0.0)), 6) AS dist FROM p2)
       |SELECT vec_id, cell, dist FROM p3
       |ORDER BY dist DESC, vec_id LIMIT $topN""".stripMargin
  }

  /** PQ/ADC oracle around Verify-time codebooks. Every distance is the
    * engine-portable `v·v − 2 v·c + c·c` (dot products via
    * `list_dot_product` = the encoder's index-order loop; `c·c` a literal
    * computed by the SAME Scala dot), code assignment is first-minimum,
    * and ADC sums subspace lookups in subspace order — so both engines
    * evaluate identical float expressions end to end.
    */
  private def pqSql(books: Array[Array[Array[Double]]], topK: Int): String =
    s"""${pqCtes(books)}
       |SELECT query_id, neighbor_id, adc, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= $topK
       |ORDER BY query_id, rank""".stripMargin

  /** Two-stage oracle: the [[pqCtes]] ADC chain cut at `shortlist`, then an
    * exact-cosine re-rank of just those candidates (same round-6 cosine and
    * tie-break as the brute-force oracles).
    */
  private def pqRerankSql(books: Array[Array[Array[Double]]], shortlist: Int, topK: Int): String =
    s"""${pqCtes(books)},
       |short AS (SELECT query_id, neighbor_id FROM r WHERE rn <= $shortlist),
       |x AS (SELECT s.query_id, s.neighbor_id, round(${cosineSql("q.v", "n.v")}, 6) AS sim
       |      FROM short s JOIN e q ON s.query_id = q.vec_id JOIN e n ON s.neighbor_id = n.vec_id),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn2
       |       FROM x)
       |SELECT query_id, neighbor_id, sim, CAST(rn2 AS BIGINT) AS rank FROM rr WHERE rn2 <= $topK
       |ORDER BY query_id, rank""".stripMargin

  private def pqCtes(books: Array[Array[Array[Double]]]): String = {
    val m = books.length
    val k = books(0).length
    val sub = books(0)(0).length
    val ccn = books.map(_.map(c => Similarity.dotIdx(c, c)))
    def slice(s: Int) = s"v[${s * sub + 1}:${(s + 1) * sub}]"
    val vvs = (0 until m).map(s =>
      s"list_dot_product(${slice(s)}, ${slice(s)}) AS vv$s").mkString(",\n  ")
    val vcs = (for (s <- 0 until m; j <- 0 until k) yield
      s"list_dot_product(${slice(s)}, [${books(s)(j).mkString(", ")}]) AS vc${s}_$j")
      .mkString(",\n  ")
    val ds = (for (s <- 0 until m; j <- 0 until k) yield
      s"vv$s - 2.0*vc${s}_$j + ${ccn(s)(j)} AS d${s}_$j").mkString(",\n  ")
    val mins = (0 until m).map(s =>
      s"least(${(0 until k).map(j => s"d${s}_$j").mkString(", ")}) AS m$s").mkString(",\n  ")
    val codes = (0 until m).map(s =>
      "CASE " + (0 until k).map(j => s"WHEN d${s}_$j = m$s THEN $j").mkString(" ") +
        s" END AS c$s").mkString(",\n  ")
    val qcols = (for (s <- 0 until m; j <- 0 until k) yield
      s"d${s}_$j AS q${s}_$j").mkString(", ")
    val adc = (0 until m).map(s =>
      s"(CASE c$s " + (0 until k).map(j => s"WHEN $j THEN q${s}_$j").mkString(" ") + " END)")
      .mkString("\n    + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |       WHERE embedding IS NOT NULL),
       |p1 AS (SELECT vec_id,
       |  $vvs,
       |  $vcs FROM e),
       |p2 AS (SELECT vec_id,
       |  $ds FROM p1),
       |p3 AS (SELECT *,
       |  $mins FROM p2),
       |cb AS (SELECT vec_id AS neighbor_id,
       |  $codes FROM p3),
       |qd AS (SELECT vec_id AS query_id, $qcols FROM p2 WHERE vec_id < 5),
       |sc AS (SELECT query_id, neighbor_id,
       |  round($adc, 6) AS adc
       |  FROM qd, cb WHERE query_id <> neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn FROM sc)""".stripMargin
  }
}
