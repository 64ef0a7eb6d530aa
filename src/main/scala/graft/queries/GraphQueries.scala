package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in `Graph`, each beside its DuckDB oracle. */
object GraphQueries {
  val all: Seq[Q] = Seq(
    // ---- resource-allocation link prediction over the mutual-kNN graph
    // ("which neighbors did ANN miss"); integer-exact fixed-point scores --
    Q("q_link_predict", "Graph", (s, dir) => {
      val edges = mutualKnnEdges5(s, dir)
      Graph.linkPredict(edges, "d1", "d2", maxDegree = 64, topK = 100)
    }, sql(
      // link prediction: same mutual-kNN m CTE; degree-annotated adjacency,
      // wedge self-join with the hub cap, integer floor fixed-point RA sum,
      // anti-join of existing edges, top-100 by (ra DESC, d1, d2)
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |       FROM embeddings WHERE embedding IS NOT NULL),
         |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |         round(${cosineSql("a.v", "b.v")}, 6) AS sim
         |       FROM e0 a JOIN e0 b ON a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
         |g AS (SELECT qid, nid FROM r WHERE rn <= 5),
         |m AS (SELECT g.qid AS d1, g.nid AS d2 FROM g
         |      JOIN g g2 ON g.qid = g2.nid AND g.nid = g2.qid WHERE g.qid < g.nid),
         |adj AS (SELECT d1 AS z, d2 AS nb FROM m UNION ALL SELECT d2, d1 FROM m),
         |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY z),
         |aj AS (SELECT adj.z, adj.nb, deg.d FROM adj JOIN deg USING (z) WHERE d <= 64),
         |cand AS (SELECT l.nb AS d1, r2.nb AS d2, 1000000000000 // l.d AS c
         |         FROM aj l JOIN aj r2 ON l.z = r2.z AND l.nb < r2.nb),
         |scored AS (SELECT d1, d2, CAST(count(*) AS BIGINT) AS cn,
         |             CAST(sum(c) AS BIGINT) AS ra
         |           FROM cand GROUP BY 1, 2)
         |SELECT s2.d1, s2.d2, s2.cn, s2.ra FROM scored s2
         |LEFT JOIN m ON s2.d1 = m.d1 AND s2.d2 = m.d2
         |WHERE m.d1 IS NULL
         |ORDER BY s2.ra DESC, s2.d1, s2.d2 LIMIT 100""".stripMargin)),

    // ---- integer-exact PageRank over the exact kNN graph (hub/authority
    // scores for retrieval-quality audits; all-BIGINT arithmetic) ----------
    Q("q_pagerank", "Graph", (s, dir) => {
      Graph.pageRank(knnGraph5(s, dir), "query_id", "neighbor_id", iters = 10)
        .select(col("node").as("vec_id"), col("pagerank"))
        .orderBy(col("vec_id"))
    }, sql(
      // PageRank: the q_hubness kNN-edge CTE + an unrolled chain of 10
      // integer-exact iterations — every update is BIGINT `div`, so both
      // engines produce the SAME longs (no float accumulation order to
      // diverge); teleport and init use the identical integer divisions the
      // Scala loop computes on the driver
      pageRankSql(iters = 10, k = 5, scale = 1000000000000L))),

    // ---- integer-exact HITS over the same kNN graph: the auth/hub split
    // PageRank's single score conflates (authority ≈ eigenvector-weighted
    // hubness; hub ≈ "do my neighbors matter") ----------------------------
    Q("q_hits", "Graph", (s, dir) => {
      Graph.hits(knnGraph5(s, dir), "query_id", "neighbor_id", iters = 5)
        .select(col("node").as("vec_id"), col("auth"), col("hub"))
        .orderBy(col("vec_id"))
    }, sql(hitsSql(iters = 5, k = 5, scale = 1000000000L))),

    // ---- landmark harmonic centrality over the mutual-kNN backbone:
    // "which vectors sit closest to the whole corpus" — integer-exact BFS
    // contributions (scale = lcm(1..16)), seeds a deterministic modulus ----
    Q("q_harmonic", "Graph", (s, dir) => {
      val m = mutualKnnEdges5(s, dir)
      val und = m.select(col("d1").as("src"), col("d2").as("dst"))
        .unionByName(m.select(col("d2").as("src"), col("d1").as("dst")))
      Graph.harmonicCentrality(und, "src", "dst", seedMod = 5L, maxHops = 4)
        .select(col("node").as("vec_id"), col("harmonic"))
        .orderBy(col("vec_id"))
    }, sql(
      // landmark harmonic centrality: 4 unrolled BFS frontiers over the
      // mutual-kNN backbone, integer scale//hop contributions
      harmonicSql(seedMod = 5L, maxHops = 4,
      scale = 720720L, k = 5))),

    // ---- cluster-label purity scorecard over the semantic clusters -------
    Q("q_cluster_purity", "Graph", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.cosinePairsBlocked(emb, "vec_id", "embedding", threshold = 0.45)
      Graph.clusterPurity(Dedup.connectedComponents(pairs, "d1", "d2"),
        emb, "vec_id", "label")
        .orderBy(col("component"))
    }, sql(
      // cluster purity: the q_semantic_clusters closure joined to labels,
      // one grouped rollup, (count DESC, label) dominant pick
      s"""WITH RECURSIVE e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
         |        round(${cosineSql("a.v", "b.v")}, 6) AS sim
         |      FROM e0 a, e0 b WHERE a.vec_id < b.vec_id),
         |jp AS (SELECT d1, d2 FROM p WHERE sim >= 0.45),
         |e AS (SELECT d1 AS a, d2 AS b FROM jp UNION SELECT d2, d1 FROM jp),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r2.a, e.b FROM reach r2 JOIN e ON r2.b = e.a),
         |comp AS (SELECT a AS doc, least(a, min(b)) AS component
         |         FROM reach GROUP BY a),
         |cl AS (SELECT comp.component, CAST(e2.label AS BIGINT) AS lab
         |       FROM comp JOIN embeddings e2 ON comp.doc = e2.vec_id
         |       WHERE e2.label IS NOT NULL),
         |g AS (SELECT component, lab, CAST(count(*) AS BIGINT) AS c FROM cl GROUP BY 1, 2),
         |o AS (SELECT *, row_number() OVER (PARTITION BY component ORDER BY c DESC, lab) AS rn FROM g)
         |SELECT component, CAST(sum(c) AS BIGINT) AS n_members,
         |  CAST(count(*) AS BIGINT) AS n_labels,
         |  max(CASE WHEN rn = 1 THEN lab END) AS top_label,
         |  CAST(max(c) AS BIGINT) AS top_count,
         |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS purity,
         |  round(CAST(sum(c) * sum(c) AS DOUBLE) / sum(c * c), 6) AS eff_labels
         |FROM o GROUP BY component ORDER BY component""".stripMargin)),

    // ---- triangle census + clustering coefficient of the mutual-kNN graph
    Q("q_triangles", "Graph", (s, dir) => {
      val edges = mutualKnnEdges5(s, dir)
      Graph.triangleStats(edges, "d1", "d2")
    }, sql(
      // triangles: the q_knn_communities mutual-edge CTE, two ordered-edge
      // equi-joins (each a<b<c triple once), integer wedge sum
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |       FROM embeddings WHERE embedding IS NOT NULL),
         |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |         round(${cosineSql("a.v", "b.v")}, 6) AS sim
         |       FROM e0 a JOIN e0 b ON a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
         |g AS (SELECT qid, nid FROM r WHERE rn <= 5),
         |m AS (SELECT g.qid AS d1, g.nid AS d2 FROM g
         |      JOIN g g2 ON g.qid = g2.nid AND g.nid = g2.qid WHERE g.qid < g.nid),
         |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |        FROM m e1 JOIN m e2 ON e1.d2 = e2.d1
         |        JOIN m e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2),
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
         |        FROM (SELECT d1 AS n FROM m UNION ALL SELECT d2 FROM m) GROUP BY n),
         |ds AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
         |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM m)
         |SELECT n_nodes, n_edges, n_triangles, n_wedges,
         |  CASE WHEN n_wedges = 0 THEN NULL
         |       ELSE round(CAST(3 * n_triangles AS DOUBLE) / n_wedges, 6) END AS clustering
         |FROM ds CROSS JOIN ec CROSS JOIN tri""".stripMargin)),

    // ---- degree assortativity of the mutual-kNN graph --------------------
    Q("q_assortativity", "Graph", (s, dir) => {
      val edges = mutualKnnEdges5(s, dir)
      Graph.assortativity(edges, "d1", "d2")
    }, sql(
      // assortativity: same edge CTE, integer-exact Pearson over both edge
      // orientations
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |       FROM embeddings WHERE embedding IS NOT NULL),
         |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |         round(${cosineSql("a.v", "b.v")}, 6) AS sim
         |       FROM e0 a JOIN e0 b ON a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
         |g AS (SELECT qid, nid FROM r WHERE rn <= 5),
         |m AS (SELECT g.qid AS a, g.nid AS b FROM g
         |      JOIN g g2 ON g.qid = g2.nid AND g.nid = g2.qid WHERE g.qid < g.nid),
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
         |          SELECT a AS n FROM m UNION ALL SELECT b FROM m) GROUP BY 1),
         |pairs AS (SELECT da.d AS x, db.d AS y FROM m
         |          JOIN deg da ON m.a = da.n JOIN deg db ON m.b = db.n),
         |sym AS (SELECT x, y FROM pairs UNION ALL SELECT y, x FROM pairs),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS m2, CAST(sum(x) AS BIGINT) AS sx,
         |        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
         |        CAST(sum(y * y) AS BIGINT) AS syy, CAST(sum(x * y) AS BIGINT) AS sxy
         |      FROM sym)
         |SELECT m2 // 2 AS n_edges,
         |  CASE WHEN (m2 * sxx - sx * sx) > 0 AND (m2 * syy - sy * sy) > 0
         |       THEN round((m2 * sxy - sx * sy) /
         |              sqrt(CAST((m2 * sxx - sx * sx) * (m2 * syy - sy * sy) AS DOUBLE)), 6)
         |  END AS r
         |FROM t""".stripMargin)),

    // ---- k-core backbone of the mutual-kNN graph -------------------------
    Q("q_kcore", "Graph", (s, dir) => {
      val edges = mutualKnnEdges5(s, dir)
      Graph.kCore(edges, "d1", "d2", k = 3)
    }, sql(
      // k-core: the q_triangles edge CTE + 30 unrolled degree-peel rounds
      // (idempotent past the fixpoint the engine converges to and asserts)
      {
      // MATERIALIZED: each round references its predecessor three times —
      // inlined CTEs would expand 3^rounds embedding scans ("too many open
      // files" long before any result). 30 rounds covers the sf0.1 graph's
      // 13-round fixpoint with margin; later rounds are idempotent no-ops
      val rounds = (0 until 30).map { i =>
        s"""d$i AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS c FROM (
           |  SELECT a AS n FROM e$i UNION ALL SELECT b FROM e$i) GROUP BY 1),
           |k$i AS MATERIALIZED (SELECT n FROM d$i WHERE c >= 3),
           |e${i + 1} AS MATERIALIZED (SELECT e$i.a, e$i.b FROM e$i
           |  SEMI JOIN k$i ka ON e$i.a = ka.n
           |  SEMI JOIN k$i kb ON e$i.b = kb.n)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0x AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |       FROM embeddings WHERE embedding IS NOT NULL),
         |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |         round(${cosineSql("a.v", "b.v")}, 6) AS sim
         |       FROM e0x a JOIN e0x b ON a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
         |g AS (SELECT qid, nid FROM r WHERE rn <= 5),
         |e0 AS MATERIALIZED (SELECT g.qid AS a, g.nid AS b FROM g
         |      JOIN g g2 ON g.qid = g2.nid AND g.nid = g2.qid WHERE g.qid < g.nid),
         |$rounds
         |SELECT n AS node, CAST(count(*) AS BIGINT) AS degree FROM (
         |  SELECT a AS n FROM e30 UNION ALL SELECT b FROM e30)
         |GROUP BY 1 HAVING count(*) >= 3 ORDER BY node""".stripMargin
    })),

    // ---- deterministic negative-edge sampling over the mutual-kNN graph --
    Q("q_neg_sample", "Graph", (s, dir) => {
      val edges = mutualKnnEdges5(s, dir)
      Graph.negativeSample(edges, "d1", "d2", perNode = 3)
    }, sql(
      // negative sampling: same mutual-kNN edge CTE as q_triangles, ranked
      // node table, identical seeded hash index arithmetic, canonical
      // anti-join
      {
      val (a1, a2) = Graph.negSampleConsts(42L)
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |       FROM embeddings WHERE embedding IS NOT NULL),
         |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |         round(${cosineSql("a.v", "b.v")}, 6) AS sim
         |       FROM e0 a JOIN e0 b ON a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
         |g AS (SELECT qid, nid FROM r WHERE rn <= 5),
         |m AS (SELECT g.qid AS d1, g.nid AS d2 FROM g
         |      JOIN g g2 ON g.qid = g2.nid AND g.nid = g2.qid WHERE g.qid < g.nid),
         |nd AS (SELECT DISTINCT n FROM (SELECT d1 AS n FROM m UNION ALL SELECT d2 FROM m)),
         |rk AS (SELECT n, CAST(row_number() OVER (ORDER BY n) AS BIGINT) AS r FROM nd),
         |cn AS (SELECT CAST(max(r) AS BIGINT) AS cnt FROM rk),
         |cand AS (SELECT n, u.slot AS slot,
         |           (($a1 * CAST('0x' || substr(md5(CAST(n AS VARCHAR)), 1, 8) AS BIGINT)
         |             + $a2 * (u.slot + 1)) % 2147483647) % cnt + 1 AS idx
         |         FROM rk, cn, unnest(generate_series(0, 2)) AS u(slot)),
         |pt AS (SELECT cand.n, cand.slot, rk.n AS p
         |       FROM cand JOIN rk ON cand.idx = rk.r
         |       WHERE rk.n <> cand.n),
         |neg AS (SELECT pt.n, pt.slot, pt.p FROM pt
         |        ANTI JOIN m ON least(pt.n, pt.p) = m.d1 AND greatest(pt.n, pt.p) = m.d2)
         |SELECT n AS node, CAST(slot AS BIGINT) AS slot, p AS neg
         |FROM neg ORDER BY node, slot""".stripMargin
    })),

    // ---- semi-supervised label propagation over the symmetrized kNN graph
    // (10% frozen seeds label the rest of the corpus; integer votes) -------
    Q("q_label_prop", "Graph", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val g = knnGraph5(s, dir)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      val sym = g.unionByName(g.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      val seeds = emb.where(col("vec_id") % 10 === 0).select(col("vec_id"), col("label"))
      Graph.labelPropagation(sym, "src", "dst", seeds, "vec_id", "label", iters = 5)
        .orderBy(col("node"))
    }, sql(
      // label propagation: unrolled integer-vote iterations over the
      // symmetrized kNN edge CTE; argmax = (count DESC, label) row_number
      labelPropSql(iters = 5, k = 5))))

  /** DuckDB mirror of [[operators.Graph.labelPropagation]] over the
    * symmetrized kNN graph with `vec_id % 10 == 0` seeds: `iters` unrolled
    * integer-vote rounds; the per-node argmax is a `(count DESC, label)`
    * row_number — the exact tie-break `min_by` applies engine-side.
    */
  private def labelPropSql(iters: Int, k: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""p$i AS (SELECT n.node, coalesce(s.seed, w.best, p.label) AS label
         |  FROM nodes n
         |  LEFT JOIN p${i - 1} p ON n.node = p.node
         |  LEFT JOIN seeds s ON n.node = s.node
         |  LEFT JOIN (SELECT node, best FROM (
         |      SELECT e.dst AS node, q.label AS best, count(*) AS cnt,
         |             row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, q.label) AS rn
         |      FROM p${i - 1} q JOIN ed e ON e.src = q.node WHERE q.label IS NOT NULL
         |      GROUP BY e.dst, q.label) t WHERE rn = 1) w ON n.node = w.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE embedding IS NOT NULL),
       |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, round(${cosineSql("a.ev", "b.ev")}, 6) AS sim
       |       FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
       |e0 AS (SELECT qid AS src, nid AS dst FROM r WHERE rn <= $k),
       |ed AS (SELECT DISTINCT src, dst FROM
       |       (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
       |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |seeds AS (SELECT vec_id AS node, CAST(label AS BIGINT) AS seed FROM embeddings
       |          WHERE vec_id % 10 = 0 AND label IS NOT NULL),
       |p0 AS (SELECT n.node, s.seed AS label FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
       |$steps
       |SELECT node, label FROM p$iters ORDER BY node""".stripMargin
  }

  /** DuckDB mirror of [[operators.Graph.pageRank]] over the exact kNN edge
    * list (the q_hubness ranking CTE): `iters` unrolled iterations, each one
    * keyed join + keyed sum, with every update in BIGINT integer division —
    * both engines produce the SAME longs by construction.
    */
  private def pageRankSql(iters: Int, k: Int, scale: Long): String = {
    val tele15 = scale * 15L / 100L // teleport numerator, as the Scala loop
    val steps = (1 to iters).map { i =>
      s"""p$i AS (SELECT nd.node, CAST(($tele15 // nn.n) + coalesce(s.m, 0) AS BIGINT) AS pr
         |  FROM nodes nd CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(((p.pr * 85) // 100) // e.outdeg) AS BIGINT) AS m
         |    FROM p${i - 1} p JOIN ed e ON e.src = p.node GROUP BY 1) s ON nd.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE embedding IS NOT NULL),
       |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, round(${cosineSql("a.ev", "b.ev")}, 6) AS sim
       |       FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
       |edges AS (SELECT qid AS src, nid AS dst FROM r WHERE rn <= $k),
       |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, o.outdeg FROM edges e JOIN outd o USING (src)),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |p0 AS (SELECT node, CAST($scale // nn.n AS BIGINT) AS pr FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT node AS vec_id, pr AS pagerank FROM p$iters ORDER BY vec_id""".stripMargin
  }

  /** DuckDB mirror of [[operators.Graph.hits]] over the exact kNN edge
    * list: `iters` unrolled auth/hub half-steps, each a keyed sum plus the
    * integer L1 normalization `x // greatest(sum // scale, 1)` — all
    * BIGINT, so both engines produce the SAME longs by construction.
    */
  private def hitsSql(iters: Int, k: Int, scale: Long): String = {
    // MATERIALIZED throughout: edges/nodes are referenced 2× per
    // iteration and DuckDB inlines plain CTEs — without it the all-pairs
    // cosine re-runs ~20× and dies on fd exhaustion before it gets slow
    // enough to notice
    val steps = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS raw
         |  FROM h${i - 1} h JOIN edges e ON e.src = h.node GROUP BY 1),
         |aq$i AS (SELECT greatest(CAST(sum(raw) AS BIGINT) // $scale, 1) AS q FROM ar$i),
         |a$i AS MATERIALIZED (SELECT n.node, CAST(coalesce(r.raw, 0) // s.q AS BIGINT) AS auth
         |  FROM nodes n LEFT JOIN ar$i r ON n.node = r.node CROSS JOIN aq$i s),
         |hr$i AS MATERIALIZED (SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS raw
         |  FROM a$i a JOIN edges e ON e.dst = a.node GROUP BY 1),
         |hq$i AS (SELECT greatest(CAST(sum(raw) AS BIGINT) // $scale, 1) AS q FROM hr$i),
         |h$i AS MATERIALIZED (SELECT n.node, CAST(coalesce(r.raw, 0) // s.q AS BIGINT) AS hub
         |  FROM nodes n LEFT JOIN hr$i r ON n.node = r.node CROSS JOIN hq$i s)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE embedding IS NOT NULL),
       |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, round(${cosineSql("a.ev", "b.ev")}, 6) AS sim
       |       FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
       |edges AS MATERIALIZED (SELECT qid AS src, nid AS dst FROM r WHERE rn <= $k),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |h0 AS (SELECT node, CAST($scale // nn.n AS BIGINT) AS hub FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT a.node AS vec_id, a.auth, h.hub
       |FROM a$iters a JOIN h$iters h ON a.node = h.node ORDER BY vec_id""".stripMargin
  }

  /** DuckDB mirror of [[operators.Graph.harmonicCentrality]] over the
    * symmetrized mutual-kNN backbone: `maxHops` unrolled BFS frontiers
    * (per-seed visited sets via NOT EXISTS), each newly-reached `(s, v)`
    * at hop `h` contributing the exact integer `scale // h`. MATERIALIZED
    * like [[hitsSql]] — each frontier is referenced by the next hop AND
    * the contribution sum.
    */
  private def harmonicSql(seedMod: Long, maxHops: Int, scale: Long, k: Int): String = {
    val hops = (1 to maxHops).map { h =>
      s"""f$h AS MATERIALIZED (SELECT DISTINCT f.s, e.b AS v
         |  FROM f${h - 1} f JOIN e ON f.v = e.a
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${h - 1} x WHERE x.s = f.s AND x.v = e.b)),
         |vis$h AS MATERIALIZED (SELECT s, v FROM vis${h - 1} UNION ALL SELECT s, v FROM f$h)""".stripMargin
    }.mkString(",\n")
    val contribs = (1 to maxHops).map(h =>
      s"SELECT v, CAST(count(*) * ${scale / h} AS BIGINT) AS h FROM f$h GROUP BY v")
      .mkString("\n  UNION ALL ")
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE embedding IS NOT NULL),
       |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid, round(${cosineSql("a.ev", "b.ev")}, 6) AS sim
       |       FROM e0 a JOIN e0 b ON a.vec_id <> b.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
       |g AS (SELECT qid, nid FROM r WHERE rn <= $k),
       |m AS MATERIALIZED (SELECT g.qid AS d1, g.nid AS d2 FROM g
       |     JOIN g g2 ON g.qid = g2.nid AND g.nid = g2.qid WHERE g.qid < g.nid),
       |e AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM m UNION ALL SELECT d2, d1 FROM m),
       |nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM e),
       |f0 AS MATERIALIZED (SELECT node AS s, node AS v FROM nodes WHERE node % $seedMod = 0),
       |vis0 AS MATERIALIZED (SELECT s, v FROM f0),
       |$hops,
       |contrib AS ($contribs),
       |hsum AS (SELECT v AS node, CAST(sum(h) AS BIGINT) AS harmonic FROM contrib GROUP BY 1)
       |SELECT n.node AS vec_id, coalesce(hs.harmonic, CAST(0 AS BIGINT)) AS harmonic
       |FROM nodes n LEFT JOIN hsum hs USING (node) ORDER BY vec_id""".stripMargin
  }
}
