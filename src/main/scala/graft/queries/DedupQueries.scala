package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in `Dedup`, each beside its DuckDB oracle. */
object DedupQueries {
  val all: Seq[Q] = Seq(
    // ---- exact dedup (group identical docs by fingerprint) -----------------
    Q("q_dedup_exact", "Dedup", (s, dir) => {
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text").orderBy(col("fp"))
    }, sql(
      """SELECT md5(text) AS fp, min(doc_id) AS rep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- incremental dedup: a new shard (doc_id ≡ 0 mod 5) against the
    // existing corpus (the rest) — the append-only crawl-drop question ------
    Q("q_dedup_incremental", "Dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalExact(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    }, sql(
      // anti-join as NOT EXISTS on the fingerprint: null-md5 docs stay (a
      // null key matches nothing), same as Spark's left_anti null semantics
      """SELECT d.doc_id, md5(d.text) AS fp FROM documents d
        |WHERE d.doc_id % 5 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents e
        |  WHERE e.doc_id % 5 <> 0 AND md5(e.text) = md5(d.text))
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- asymmetric containment: docs mostly contained in another ----------
    Q("q_containment", "Dedup", (s, dir) => {
      Dedup.ngramContainment(Tables.documents(s, dir), "doc_id", "text",
        n = 2, threshold = 0.8)
        .orderBy(col("src"), col("dst"))
    }, sql(
      s"""WITH ${shingleCte(2)},
         |sz AS (SELECT doc, count(*) AS sz FROM s GROUP BY doc),
         |inter AS (SELECT a.doc AS d1, b.doc AS d2, count(*) AS i
         |          FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc < b.doc
         |          GROUP BY 1, 2),
         |dir AS (SELECT d1 AS src, d2 AS dst, i FROM inter
         |        UNION ALL SELECT d2 AS src, d1 AS dst, i FROM inter)
         |SELECT src, dst, round(CAST(i AS DOUBLE) / sz.sz, 6) AS containment
         |FROM dir JOIN sz ON src = sz.doc
         |WHERE round(CAST(i AS DOUBLE) / sz.sz, 6) >= 0.8
         |ORDER BY src, dst""".stripMargin)),

    // ---- n-gram Jaccard near-dup pairs (broadcast all-pairs sweep) ---------
    Q("q_jaccard", "Dedup", (s, dir) => {
      Dedup.ngramJaccardBroadcast(Tables.documents(s, dir), "doc_id", "text", n = 2, threshold = 0.5)
        .orderBy(col("d1"), col("d2"))
    }, sql(jaccardOracleSql)),

    // ---- same output via the DISTRIBUTED block-partitioned sweep — the
    // 100 TB exact path for dense corpora: no driver collect, no full
    // broadcast, shuffle O(n·blocks), one task per block pair. (The
    // prefix-filtered PPJoin form Dedup.ngramJaccard is the Zipfian-corpus
    // alternative; on this dense small-vocab corpus prefixes prune nothing
    // and it degenerates to a slower all-pairs.) ---------------------------
    Q("q_jaccard_dist", "Dedup", (s, dir) => {
      exactJaccardPairs(s, dir).orderBy(col("d1"), col("d2"))
    }, sql(
      // identical result set, produced by the block-partitioned sweep
      jaccardOracleSql)),

    // ---- the ROUTED Jaccard entry point: the df-histogram
    // gate estimates the PPJoin prefix-candidate volume against C(n,2)/8
    // and picks the plan — this dense corpus stays on the block sweep
    // (same oracle as q_jaccard_dist); the Zipfian flip to PPJoin is
    // pinned by RoutingSpec and drilled as _pairs_ngram_routed -------------
    Q("q_jaccard_auto", "Dedup", (s, dir) => {
      Dedup.ngramJaccardAuto(Tables.documents(s, dir), "doc_id", "text",
        n = 2, threshold = 0.5)
        .orderBy(col("d1"), col("d2"))
    }, sql(jaccardOracleSql)),

    // ---- MinHash signatures (portable universal-hash family) ---------------
    Q("q_minhash_sig", "Dedup", (s, dir) => {
      Dedup.minhashSignature(Tables.documents(s, dir), "doc_id", "text", n = 3, numPerm = NUM_PERM)
        .orderBy(col("doc"))
    }, sql(minhashSigSql(NUM_PERM, 3))),

    // ---- MinHash LSH near-dup pairs (band join + exact-Jaccard verify) -----
    Q("q_minhash_lsh", "Dedup", (s, dir) => {
      Dedup.minhashDedup(Tables.documents(s, dir), "doc_id", "text",
        n = 2, numPerm = NUM_PERM, bands = 4, threshold = 0.5)
        .orderBy(col("d1"), col("d2"))
    }, sql(minhashLshSql(NUM_PERM, 4, 2, 0.5))),

    // ---- chunk-level ("paragraph") dedup with document reassembly ----------
    Q("q_chunk_dedup", "Dedup", (s, dir) => {
      Dedup.chunkDedup(Tables.documents(s, dir), "doc_id", "text", chunkTokens = 25)
        .orderBy(col("doc_id"))
    }, sql(
      // chunk-level dedup: first occurrence elected per distinct chunk
      // (window row_number here; the engine's map-side min(struct) election
      // is the same rule), surviving chunks re-joined in index order
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws
        |              FROM documents WHERE text IS NOT NULL),
        |ch AS (SELECT doc_id, u.i AS cidx,
        |         array_to_string(ws[u.i * 25 + 1 : (u.i + 1) * 25], ' ') AS chunk
        |       FROM toks, unnest(generate_series(0, (len(ws) - 1) // 25)) AS u(i)),
        |r AS (SELECT doc_id, cidx, chunk,
        |        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
        |      FROM ch)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(chunk, ' ' ORDER BY cidx) FILTER (WHERE rn = 1), '') AS text_dedup
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- Levenshtein confirmation of the MinHash near-dup candidates -------
    Q("q_edit_verify", "Dedup", (s, dir) => {
      Dedup.editVerify(Tables.documents(s, dir), "doc_id", "text",
        n = 2, numPerm = NUM_PERM, bands = 4, jaccardThreshold = 0.5)
        .orderBy(col("d1"), col("d2"))
    }, sql(editVerifySql(NUM_PERM, 4, 2, 0.5))),

    // ---- SimHash 60-bit signatures -----------------------------------------
    Q("q_simhash", "Dedup", (s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text").orderBy(col("doc"))
    }, sql(simhashSql)),

    // ---- SimHash near-dup pairs: 16-bit prefix bucket join + Hamming cap ---
    Q("q_simhash_pairs", "Dedup", (s, dir) => {
      Dedup.simhashDedup(Tables.documents(s, dir), "doc_id", "text",
        prefixBits = 16, maxHamming = 8)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("d1"), col("d2"))
    }, sql(simhashPairsSql(prefixBits = 16, maxHamming = 8))),

    // ---- prefix-filtered PPJoin Jaccard on its intended SKEWED corpus
    // (see [[zipfFixtureSql]]) — the prefix filter prunes the Zipf-head
    // shingles for real; same `jp` oracle CTE as the other two Jaccard
    // plans, over the identical derived text ---------------------------------
    Q("q_jaccard_ppjoin", "Dedup", (s, dir) => {
      val skewed = Tables.documents(s, dir)
        .where(col("text").isNotNull) // mirror the oracle CTE's null guard
        .select(col("doc_id"), expr(zipfFixtureSql("DIV", "STRING")).as("text"))
      Dedup.ngramJaccard(skewed, "doc_id", "text", n = 2, threshold = 0.5)
        .orderBy(col("d1"), col("d2"))
    }, sql(
      // same jp CTE as q_jaccard/q_jaccard_dist, over the skewed derived text
      s"""WITH ${jaccardPairsCtes(zipfFixtureSql("//", "VARCHAR"))}
         |SELECT d1, d2, jaccard FROM jp ORDER BY d1, d2""".stripMargin)),

    // ---- near-dup clusters: pairwise Jaccard output resolved to connected
    // components (min-id representative per cluster) — pairs (1,2)+(2,3)
    // are ONE cluster, the decision a dedup pipeline actually needs --------
    Q("q_dedup_clusters", "Dedup", (s, dir) => {
      val pairs = exactJaccardPairs(s, dir)
      Dedup.connectedComponents(pairs, "d1", "d2").orderBy(col("doc"))
    }, sql(
      // transitive closure over the symmetric pair edges; component = the
      // smallest id reachable (DuckDB recursive CTE mirrors the engine's
      // hash-min label-propagation fixpoint)
      s"""WITH RECURSIVE ${jaccardPairsCtes()},
         |e AS (SELECT d1 AS a, d2 AS b FROM jp UNION SELECT d2, d1 FROM jp),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |comp AS (SELECT a AS doc, least(a, min(b)) AS component
         |         FROM reach GROUP BY a)
         |SELECT doc, component FROM comp ORDER BY doc""".stripMargin)),

    // ---- semantic near-dup clusters: the same CC core over embedding-cosine
    // pairs instead of n-gram Jaccard — SimClusters-style dedup ---------------
    Q("q_semantic_clusters", "Dedup", (s, dir) => {
      val pairs = Similarity.cosinePairsBlocked(
        Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.45)
      Dedup.connectedComponents(pairs, "d1", "d2").orderBy(col("doc"))
    }, sql(
      // identical CC oracle over the q_embed_dedup cosine-pair CTE
      s"""WITH RECURSIVE e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
         |        round(${cosineSql("a.v", "b.v")}, 6) AS sim
         |      FROM e0 a, e0 b WHERE a.vec_id < b.vec_id),
         |jp AS (SELECT d1, d2 FROM p WHERE sim >= 0.45),
         |e AS (SELECT d1 AS a, d2 AS b FROM jp UNION SELECT d2, d1 FROM jp),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |comp AS (SELECT a AS doc, least(a, min(b)) AS component
         |         FROM reach GROUP BY a)
         |SELECT doc, component FROM comp ORDER BY doc""".stripMargin)),

    // ---- cross-corpus NEAR-dup incremental dedup: the odd-id shard deduped
    // against the even-id corpus — LSH banding on both sides, bucket-keyed
    // candidate join, exact-Jaccard verify, survivors by anti-join ----------
    Q("q_minhash_incremental", "Dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalMinhash(
        docs.where(col("doc_id") % 2 === 1), docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 2, numPerm = NUM_PERM, bands = 4, threshold = 0.5)
        .orderBy(col("doc_id"))
    }, sql(minhashIncrementalSql(NUM_PERM, 4, 2, 0.5))),

    // ---- repeated-span (exact substring) duplication profile: per-doc
    // coverage by 8-token spans seen verbatim in >= 2 distinct docs --------
    Q("q_span_dedup", "Dedup", (s, dir) => {
      Dedup.repeatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    }, sql(
      // repeated 8-token spans seen in >= 2 distinct docs; coverage is the
      // UNION of overlapping span positions (count DISTINCT token index)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |sp AS (SELECT doc_id, unnest(generate_series(0, n - 8)) AS pos, toks
        |  FROM b WHERE n >= 8),
        |h AS (SELECT doc_id, pos,
        |  md5(array_to_string(toks[pos + 1 : pos + 8], ' ')) AS h FROM sp),
        |dup AS (SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT doc_id, count(DISTINCT pos) AS n_dup_spans,
        |    count(DISTINCT ti) AS dup_tokens
        |  FROM (SELECT s.doc_id, s.pos,
        |          unnest(generate_series(s.pos, s.pos + 7)) AS ti
        |        FROM h s JOIN dup USING (h))
        |  GROUP BY 1)
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
        |  CAST(greatest(b.n - 7, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(cov.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  round(CAST(coalesce(cov.dup_tokens, 0) AS DOUBLE) / CAST(b.n AS DOUBLE), 6)
        |    AS dup_frac
        |FROM b LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- quality-aware dedup representative: per near-dup cluster, keep
    // the highest-quality member (not the lowest id) -----------------------
    Q("q_cluster_best", "Dedup", (s, dir) => {
      val d = Tables.documents(s, dir)
      // same pair set as q_jaccard/q_jaccard_dist (one oracle, three plans);
      // the broadcast twin keeps its own row via q_jaccard, so the shared
      // blocked frame serves the cluster queries
      val comps = Dedup.connectedComponents(exactJaccardPairs(s, dir), "d1", "d2")
      val q = TextAnalysis.qualityScore(d, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      Dedup.clusterBestSurvivors(comps, q, "doc_id", "quality")
        .orderBy(col("component"))
    }, sql(
      // quality-aware representative: the q_dedup_clusters closure joined to
      // the q_quality score, argmax per component via a deterministic window
      s"""WITH RECURSIVE ${jaccardPairsCtes()},
         |e AS (SELECT d1 AS a, d2 AS b FROM jp UNION SELECT d2, d1 FROM jp),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |comp AS (SELECT a AS doc, least(a, min(b)) AS component
         |         FROM reach GROUP BY a),
         |q AS (SELECT doc_id,
         |  round(ln(1.0 + len(string_split(text, ' '))) *
         |        (1.0 - CAST(len(list_filter(string_split(text, ' '),
         |              t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
         |             / len(string_split(text, ' '))), 6) AS quality
         |  FROM documents),
         |sel AS (SELECT component, doc, quality,
         |          row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc) AS rn,
         |          count(*) OVER (PARTITION BY component) AS nm
         |        FROM comp JOIN q ON comp.doc = q.doc_id)
         |SELECT component, doc AS rep_id, quality AS best_score, CAST(nm AS BIGINT) AS n_members
         |FROM sel WHERE rn = 1 ORDER BY component""".stripMargin)),

    // ---- decontaminated eval split: the 'val' shard minus near-dups of
    // anything in 'train' (split leakage is the subtle eval-inflation bug
    // every careful pipeline screens for) ----------------------------------
    Q("q_clean_eval_split", "Dedup", (s, dir) => {
      val d = Tables.documents(s, dir)
      val split = Sampling.splitAssign(d, "doc_id")
      Dedup.incrementalMinhash(
        split.where(col("split") === "val"), split.where(col("split") === "train"),
        "doc_id", "text", n = 2, numPerm = NUM_PERM, bands = 4, threshold = 0.5)
        .orderBy(col("doc_id"))
    }, sql(
      // decontaminated eval split: the incremental-minhash oracle over the
      // split-bucket predicates instead of the parity shards
      minhashIncrementalSql(NUM_PERM, 4, 2, 0.5,
      newPred = s"${docBucketSql(100)} >= 80 AND ${docBucketSql(100)} < 90",
      existingPred = s"${docBucketSql(100)} < 80"))),

    // ---- dataset snapshot diff: churn between two corpus versions --------
    // (old = doc_id%10 in 0..7, new = 2..9 with %10==5 texts mutated, so
    // added/removed/changed all appear)
    Q("q_snapshot_diff", "Dedup", (s, dir) => {
      val d = Tables.documents(s, dir)
      val oldS = d.where(col("doc_id") % 10 < 8)
      val newS = d.where(col("doc_id") % 10 >= 2)
        .withColumn("text", when(col("doc_id") % 10 === 5,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Dedup.snapshotDiff(oldS, newS, "doc_id", "text").orderBy(col("doc_id"))
    }, sql(
      // snapshot diff: md5 fingerprints compare as hex strings in both engines
      """WITH o AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 < 8),
        |nw AS (SELECT doc_id, md5(CASE WHEN doc_id % 10 = 5 THEN text || ' v2' ELSE text END) AS fp
        |       FROM documents WHERE doc_id % 10 >= 2)
        |SELECT doc_id, status FROM (
        |  SELECT coalesce(o.doc_id, nw.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN nw.doc_id IS NULL THEN 'removed'
        |         WHEN o.fp <> nw.fp THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id)
        |WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin)),

    // ---- cross-source duplication (leakage) matrix over near-dup pairs ---
    Q("q_source_leakage", "Dedup", (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.leakageMatrix(exactJaccardPairs(s, dir), d, "doc_id", "source")
        .orderBy(col("g1"), col("g2"))
    }, sql(
      // source leakage: the q_jaccard pair CTEs rolled up to source level
      s"""WITH ${jaccardPairsCtes()}
         |SELECT least(sa.source, sb.source) AS g1, greatest(sa.source, sb.source) AS g2,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM jp JOIN documents sa ON jp.d1 = sa.doc_id JOIN documents sb ON jp.d2 = sb.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- mutual-kNN graph communities (same CC core as the Jaccard and
    // semantic clusters; the mutuality filter keeps hubs from fusing
    // everything) ----------------------------------------------------------
    Q("q_knn_communities", "Dedup", (s, dir) => {
      val edges = mutualKnnEdges5(s, dir)
      Dedup.connectedComponents(edges, "d1", "d2").orderBy(col("doc"))
    }, sql(
      // mutual-kNN communities: the kNN ranking CTE is the q_hubness oracle,
      // the mutuality join keeps only reciprocal pairs, and the closure is
      // the same recursive CTE as q_semantic_clusters
      s"""WITH RECURSIVE e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |       FROM embeddings WHERE embedding IS NOT NULL),
         |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |         round(${cosineSql("a.v", "b.v")}, 6) AS sim
         |       FROM e0 a JOIN e0 b ON a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM sc),
         |g AS (SELECT qid, nid FROM r WHERE rn <= 5),
         |m AS (SELECT g.qid AS d1, g.nid AS d2 FROM g
         |      JOIN g g2 ON g.qid = g2.nid AND g.nid = g2.qid WHERE g.qid < g.nid),
         |e AS (SELECT d1 AS a, d2 AS b FROM m UNION SELECT d2, d1 FROM m),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r2.a, e.b FROM reach r2 JOIN e ON r2.b = e.a),
         |comp AS (SELECT a AS doc, least(a, min(b)) AS component
         |         FROM reach GROUP BY a)
         |SELECT doc, component FROM comp ORDER BY doc""".stripMargin)),

    // ---- MinHash estimate-vs-exact calibration over the LSH candidates ----
    Q("q_minhash_error", "Dedup", (s, dir) => {
      Dedup.minhashEstimateAudit(Tables.documents(s, dir), "doc_id", "text",
        n = 2, numPerm = NUM_PERM, bands = 4)
        .orderBy(col("d1"), col("d2"))
    }, sql(
      // MinHash calibration: estimate vs exact Jaccard over the band-colliding
      // candidates (no threshold — the audit wants the misses too)
      minhashErrorSql(NUM_PERM, 4, 2))),

    // ---- lexical (MinHash) vs semantic (embedding-cosine) near-dup
    // agreement — which dedup pass does this corpus actually need? --------
    Q("q_dedup_agreement", "Dedup", (s, dir) => {
      val lex = Dedup.minhashDedup(Tables.documents(s, dir), "doc_id", "text",
        n = 2, numPerm = NUM_PERM, bands = 4, threshold = 0.5)
      val sem = Similarity.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.45)
      Dedup.pairAgreement(lex, sem).orderBy(col("d1"), col("d2"))
    }, sql(
      // lexical vs semantic near-dup agreement: the two oracles composed as
      // subqueries and full-outer joined on the pair key
      s"""WITH lex AS (SELECT * FROM (${minhashLshSql(NUM_PERM, 4, 2, 0.5)}) tl),
         |sem AS (SELECT * FROM ($embedDedupOracleSql) ts)
         |SELECT coalesce(lex.d1, sem.d1) AS d1, coalesce(lex.d2, sem.d2) AS d2,
         |  lex.jaccard, sem.sim,
         |  CASE WHEN lex.jaccard IS NOT NULL AND sem.sim IS NOT NULL THEN 'both'
         |       WHEN lex.jaccard IS NOT NULL THEN 'lexical_only'
         |       ELSE 'semantic_only' END AS verdict
         |FROM lex FULL OUTER JOIN sem ON lex.d1 = sem.d1 AND lex.d2 = sem.d2
         |ORDER BY d1, d2""".stripMargin)),

    // ---- cross-document shared-span (plagiarism/quotation) pair matrix ----
    Q("q_span_pairs", "Dedup", (s, dir) => {
      Dedup.spanPairs(Tables.documents(s, dir), "doc_id", "text", k = 8,
        maxDocsPerSpan = 10, minShared = 2)
        .orderBy(col("d1"), col("d2"))
    }, sql(
      // span pairs: the q_span_dedup hashing chain, boilerplate degree cap,
      // bounded pair self-join; containment denominator uses UNCAPPED sizes
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
        |sp AS (SELECT DISTINCT doc_id,
        |    md5(array_to_string(toks[u.pos + 1 : u.pos + 8], ' ')) AS h
        |  FROM b, unnest(generate_series(0, n - 8)) AS u(pos)),
        |keep AS (SELECT h FROM sp GROUP BY h HAVING count(*) BETWEEN 2 AND 10),
        |ds AS (SELECT sp.doc_id, sp.h FROM sp JOIN keep USING (h)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sp GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS d1, b2.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_shared
        |      FROM ds a JOIN ds b2 ON a.h = b2.h AND a.doc_id < b2.doc_id
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT d1, d2, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / least(s1.sz, s2.sz), 6) AS overlap
        |FROM p JOIN sz s1 ON p.d1 = s1.doc_id JOIN sz s2 ON p.d2 = s2.doc_id
        |ORDER BY d1, d2""".stripMargin)),

    // ---- content-defined chunking dedup (insertion-robust sub-document
    // dedup: boundaries follow the content, not the offsets) ---------------
    Q("q_cdc_dedup", "Dedup", (s, dir) => {
      Dedup.cdcDedup(Tables.documents(s, dir), "doc_id", "text", window = 4, divisor = 8)
        .orderBy(col("doc_id"))
    }, sql(
      // CDC dedup: cut positions from the same 8-hex-char md5 hash, per-doc
      // cumulative-sum chunk ids, q_chunk_dedup's election + reassembly
      cdcDedupSql(window = 4, divisor = 8))),

    // ---- crawl page-stitch seams (pagination artifacts) ------------------
    Q("q_page_stitch", "Dedup", (s, dir) => {
      Dedup.stitchCandidates(Tables.documents(s, dir), "doc_id", "text",
        k = 8, maxPerSeam = 10)
        .orderBy(col("prev_id"), col("next_id"))
    }, sql(
      // page stitch: head/tail seam strings, degree caps, one equi-join
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) >= 8),
        |h AS (SELECT doc_id AS next_id, array_to_string(ws[1 : 8], ' ') AS seam FROM b),
        |tl AS (SELECT doc_id AS prev_id, array_to_string(ws[n - 7 : n], ' ') AS seam FROM b),
        |hd AS (SELECT seam FROM h GROUP BY seam HAVING count(*) <= 10),
        |td AS (SELECT seam FROM tl GROUP BY seam HAVING count(*) <= 10)
        |SELECT tl.prev_id, h.next_id, tl.seam
        |FROM tl JOIN td ON tl.seam = td.seam
        |  JOIN h ON tl.seam = h.seam
        |  JOIN hd ON h.seam = hd.seam
        |WHERE tl.prev_id <> h.next_id
        |ORDER BY prev_id, next_id""".stripMargin)),

    // ---- LSH recall audit vs the exact thresholded pair set (the exact
    // side reuses q_jaccard_dist's persisted block sweep) ------------------
    Q("q_lsh_recall", "Dedup", (s, dir) => {
      Dedup.lshRecallAudit(Tables.documents(s, dir), "doc_id", "text",
        n = 2, numPerm = NUM_PERM, bands = 4, threshold = 0.5,
        exactPairs = Some(exactJaccardPairs(s, dir)))
    }, sql(
      // LSH recall: the exact jp pair CTE left-joined to the banded result
      s"""WITH ${jaccardPairsCtes()},
         |lsh AS (SELECT d1, d2 FROM (${minhashLshSql(NUM_PERM, 4, 2, 0.5)}) tq),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |        CAST(sum(CASE WHEN l.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh
         |      FROM jp LEFT JOIN lsh l ON jp.d1 = l.d1 AND jp.d2 = l.d2)
         |SELECT n_exact, n_lsh, n_exact - n_lsh AS n_missed,
         |  CASE WHEN n_exact = 0 THEN NULL
         |       ELSE round(CAST(n_lsh AS DOUBLE) / n_exact, 6) END AS recall
         |FROM a""".stripMargin)),

    // ---- per-cluster provenance rollup (survivorship audit record) -------
    Q("q_cluster_provenance", "Dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = exactJaccardPairs(s, dir)
      Dedup.clusterProvenance(Dedup.connectedComponents(pairs, "d1", "d2"),
        docs, "doc_id", "source", "n_chars")
        .orderBy(col("component"))
    }, sql(
      // cluster provenance: the recursive-CTE clusters joined to metadata,
      // one grouped rollup; sources as a sorted-distinct comma join
      s"""WITH RECURSIVE ${jaccardPairsCtes()},
         |e AS (SELECT d1 AS a, d2 AS b FROM jp UNION SELECT d2, d1 FROM jp),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |comp AS (SELECT a AS doc, least(a, min(b)) AS component
         |         FROM reach GROUP BY a)
         |SELECT comp.component, CAST(count(*) AS BIGINT) AS n_members,
         |  min(comp.doc) AS rep_id,
         |  CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
         |  string_agg(DISTINCT d.source, ',' ORDER BY d.source) AS sources,
         |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars
         |FROM comp JOIN documents d ON comp.doc = d.doc_id
         |GROUP BY comp.component ORDER BY component""".stripMargin)),

    // ---- sorted-neighborhood near-dup pairs (sort-merge blocking) --------
    Q("q_snm_dedup", "Dedup", (s, dir) => {
      Dedup.sortedNeighborhood(Tables.documents(s, dir), "doc_id", "text",
        windowSize = 6, threshold = 0.5)
        .orderBy(col("d1"), col("d2"))
    }, sql(
      // sorted-neighborhood: DuckDB keeps the plain global row_number (the
      // engine's chunked ranking produces the same total order); window
      // membership as a rank-difference join, exact distinct-token Jaccard
      """WITH b AS (SELECT doc_id AS doc,
        |    list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks,
        |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 20) AS k
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT doc, toks, row_number() OVER (ORDER BY k, doc) AS rank FROM b),
        |c AS (SELECT a.doc AS da, a.toks AS ta, b2.doc AS db, b2.toks AS tb
        |      FROM r a JOIN r b2 ON b2.rank - a.rank BETWEEN 1 AND 5),
        |j AS (SELECT least(da, db) AS d1, greatest(da, db) AS d2,
        |        len(list_intersect(ta, tb)) AS i, len(ta) + len(tb) - len(list_intersect(ta, tb)) AS u
        |      FROM c WHERE len(ta) + len(tb) - len(list_intersect(ta, tb)) > 0)
        |SELECT d1, d2, round(CAST(i AS DOUBLE) / u, 6) AS jaccard
        |FROM j WHERE round(CAST(i AS DOUBLE) / u, 6) >= 0.5
        |ORDER BY d1, d2""".stripMargin)),

    // ---- perceptual near-dup IMAGE pairs: the generic Hamming-LSH bucket
    // join over the dHash frame — closes the multimodal dedup loop (the
    // signature query above feeds the same never-all-pairs path text
    // signatures use) -----------------------------------------------------
    Q("q_dhash_pairs", "Dedup", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.MediaRow(id, Seq("image", "audio", "video")(id.toInt % 3),
            text.getBytes("UTF-8"), "stub", 8, 4, 1000L)
        }
      val sig = Multimodal.dhash(Multimodal.decodeImages(media), hashW = 8, hashH = 8)
      Dedup.hammingPairs(sig, "media_id", "dhash", prefixBits = 8, maxHamming = 10)
        .orderBy(col("d1"), col("d2"))
    }, sql(dhashPairsSql(prefixBits = 8, maxHamming = 10))))

  /** MinHash width used by q_minhash_sig / q_minhash_lsh. */
  private final val NUM_PERM = 16

  private final val MERSENNE = 2305843009213693951L // 2^61 - 1

  /** DuckDB fragment mirroring [[Dedup.shingleHash]]. */
  private val shingleHashSql = "CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT)"

  /** Shared by q_jaccard (broadcast sweep), q_jaccard_dist (block-
    * partitioned sweep) and q_jaccard_auto (the df-histogram-routed entry):
    * all plans must produce THIS naive-join result.
    */
  private lazy val jaccardOracleSql: String =
    s"""WITH ${jaccardPairsCtes()}
       |SELECT d1, d2, jaccard FROM jp ORDER BY d1, d2""".stripMargin

  private def minhashSigSql(numPerm: Int, n: Int): String = {
    val mins = (0 until numPerm).map { i =>
      val (a, b) = Dedup.perm(i)
      s"min((h * $a + $b) % $MERSENNE) AS mh$i"
    }
    s"""WITH ${shingleCte(n)},
       |h AS (SELECT doc, $shingleHashSql AS h FROM s)
       |SELECT doc, ${mins.mkString(", ")} FROM h GROUP BY doc ORDER BY doc""".stripMargin
  }

  private def minhashLshSql(numPerm: Int, bands: Int, n: Int, threshold: Double): String = {
    val rows = numPerm / bands
    val bandJoins = (0 until bands).map { b =>
      val eqs = (b * rows until (b + 1) * rows).map(i => s"a.mh$i = b.mh$i").mkString(" AND ")
      s"SELECT a.doc AS d1, b.doc AS d2 FROM sig a JOIN sig b ON $eqs AND a.doc < b.doc"
    }
    s"""WITH ${shingleCte(n)},
       |h AS (SELECT doc, $shingleHashSql AS h FROM s),
       |sig AS (SELECT doc, ${(0 until numPerm).map { i =>
          val (a, bb) = Dedup.perm(i)
          s"min((h * $a + $bb) % $MERSENNE) AS mh$i"
        }.mkString(", ")} FROM h GROUP BY doc),
       |cand AS (SELECT DISTINCT d1, d2 FROM (${bandJoins.mkString(" UNION ALL ")})),
       |sz AS (SELECT doc, count(*) AS sz FROM s GROUP BY doc),
       |inter AS (SELECT c.d1, c.d2, count(*) AS i
       |          FROM cand c JOIN s x ON c.d1 = x.doc JOIN s y ON c.d2 = y.doc AND x.shingle = y.shingle
       |          GROUP BY c.d1, c.d2)
       |SELECT d1, d2, round(CAST(i AS DOUBLE) / (a.sz + b.sz - i), 6) AS jaccard
       |FROM inter JOIN sz a ON d1 = a.doc JOIN sz b ON d2 = b.doc
       |WHERE round(CAST(i AS DOUBLE) / (a.sz + b.sz - i), 6) >= $threshold
       |ORDER BY d1, d2""".stripMargin
  }

  /** DuckDB mirror of [[Dedup.cdcDedup]]: identical window hash (8 hex
    * chars of md5 as BIGINT), cut predicate, cumulative-sum chunk ids and
    * first-occurrence election.
    */
  private def cdcDedupSql(window: Int, divisor: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |b AS (SELECT doc_id, ws, len(ws) AS n FROM t),
       |cuts AS (SELECT doc_id, u.i + 1 AS sp
       |         FROM b, unnest(generate_series($window - 1, n - 2)) AS u(i)
       |         WHERE n >= $window + 1
       |           AND CAST('0x' || substr(md5(array_to_string(ws[u.i - $window + 2 : u.i + 1], ' ')), 1, 8) AS BIGINT) % $divisor = 0),
       |toks AS (SELECT doc_id, u.pos, ws[u.pos + 1] AS tok
       |         FROM b, unnest(generate_series(0, n - 1)) AS u(pos)),
       |fl AS (SELECT tk.doc_id, tk.pos, tk.tok,
       |         CASE WHEN c.sp IS NOT NULL THEN 1 ELSE 0 END AS f
       |       FROM toks tk LEFT JOIN cuts c ON tk.doc_id = c.doc_id AND tk.pos = c.sp),
       |ch AS (SELECT doc_id, pos, tok, sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS cidx FROM fl),
       |cg AS (SELECT doc_id, cidx, string_agg(tok, ' ' ORDER BY pos) AS chunk
       |       FROM ch GROUP BY doc_id, cidx),
       |r AS (SELECT doc_id, cidx, chunk,
       |        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn FROM cg)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  coalesce(string_agg(chunk, ' ' ORDER BY cidx) FILTER (WHERE rn = 1), '') AS text_dedup
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Mirrors [[Dedup.hammingPairs]] over the media dHash frame: low-bit
    * mask bucket join, pairs kept at Hamming ≤ cap over all 64 bits. */
  private def dhashPairsSql(prefixBits: Int, maxHamming: Int): String = {
    val mask = (1L << prefixBits) - 1L
    s"""WITH ${mediaDhashCtes(hashW = 8, hashH = 8, w = 8, h = 4)},
       |m AS (SELECT media_id, dhash, dhash & $mask AS bucket FROM sig)
       |SELECT a.media_id AS d1, c.media_id AS d2,
       |       CAST(bit_count(xor(a.dhash, c.dhash)) AS BIGINT) AS hamming
       |FROM m a JOIN m c ON a.bucket = c.bucket AND a.media_id < c.media_id
       |WHERE bit_count(xor(a.dhash, c.dhash)) <= $maxHamming
       |ORDER BY d1, d2""".stripMargin
  }

  /** DuckDB mirror of [[Dedup.minhashEstimateAudit]]: the [[minhashLshSql]]
    * candidate chain, the per-pair signature-agreement count as an integer
    * CASE sum, and the exact-Jaccard verify with no threshold. The estimate
    * `n_match / numPerm` is an exact binary fraction (numPerm a power of
    * two), so the doubles agree bit-for-bit across engines.
    */
  private def minhashErrorSql(numPerm: Int, bands: Int, n: Int): String = {
    val rows = numPerm / bands
    val bandJoins = (0 until bands).map { b =>
      val eqs = (b * rows until (b + 1) * rows).map(i => s"a.mh$i = b.mh$i").mkString(" AND ")
      s"SELECT a.doc AS d1, b.doc AS d2 FROM sig a JOIN sig b ON $eqs AND a.doc < b.doc"
    }
    val matches = (0 until numPerm)
      .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
    val jac = "CAST(coalesce(i.i, 0) AS DOUBLE) / (a.sz + b.sz - coalesce(i.i, 0))"
    s"""WITH ${shingleCte(n)},
       |h AS (SELECT doc, $shingleHashSql AS h FROM s),
       |sig AS (SELECT doc, ${(0 until numPerm).map { i =>
          val (a, bb) = Dedup.perm(i)
          s"min((h * $a + $bb) % $MERSENNE) AS mh$i"
        }.mkString(", ")} FROM h GROUP BY doc),
       |cand AS (SELECT DISTINCT d1, d2 FROM (${bandJoins.mkString(" UNION ALL ")})),
       |m AS (SELECT c.d1, c.d2, $matches AS n_match
       |      FROM cand c JOIN sig a ON c.d1 = a.doc JOIN sig b ON c.d2 = b.doc),
       |sz AS (SELECT doc, count(*) AS sz FROM s GROUP BY doc),
       |inter AS (SELECT c.d1, c.d2, count(*) AS i
       |          FROM cand c JOIN s x ON c.d1 = x.doc JOIN s y ON c.d2 = y.doc AND x.shingle = y.shingle
       |          GROUP BY c.d1, c.d2)
       |SELECT m.d1, m.d2, CAST(m.n_match AS BIGINT) AS n_match,
       |  round(CAST(m.n_match AS DOUBLE) / $numPerm, 6) AS est_jaccard,
       |  round($jac, 6) AS jaccard,
       |  round(abs(CAST(m.n_match AS DOUBLE) / $numPerm - round($jac, 6)), 6) AS abs_err
       |FROM m LEFT JOIN inter i ON m.d1 = i.d1 AND m.d2 = i.d2
       |  JOIN sz a ON m.d1 = a.doc JOIN sz b ON m.d2 = b.doc
       |ORDER BY m.d1, m.d2""".stripMargin
  }

  /** [[minhashLshSql]]'s candidate chain extended with the Levenshtein
    * verify: same banded candidates + exact-Jaccard gate, then integer
    * `levenshtein` on the pair texts and a floor-quantized normalized
    * similarity (a ratio of two ints can land exactly on a decimal
    * half-point; floor of bit-identical doubles is engine-invariant).
    */
  private def editVerifySql(numPerm: Int, bands: Int, n: Int, threshold: Double): String = {
    val rows = numPerm / bands
    val bandJoins = (0 until bands).map { b =>
      val eqs = (b * rows until (b + 1) * rows).map(i => s"a.mh$i = b.mh$i").mkString(" AND ")
      s"SELECT a.doc AS d1, b.doc AS d2 FROM sig a JOIN sig b ON $eqs AND a.doc < b.doc"
    }
    val lev = "levenshtein(ta.text, tb.text)"
    s"""WITH ${shingleCte(n)},
       |h AS (SELECT doc, $shingleHashSql AS h FROM s),
       |sig AS (SELECT doc, ${(0 until numPerm).map { i =>
          val (a, bb) = Dedup.perm(i)
          s"min((h * $a + $bb) % $MERSENNE) AS mh$i"
        }.mkString(", ")} FROM h GROUP BY doc),
       |cand AS (SELECT DISTINCT d1, d2 FROM (${bandJoins.mkString(" UNION ALL ")})),
       |sz AS (SELECT doc, count(*) AS sz FROM s GROUP BY doc),
       |inter AS (SELECT c.d1, c.d2, count(*) AS i
       |          FROM cand c JOIN s x ON c.d1 = x.doc JOIN s y ON c.d2 = y.doc AND x.shingle = y.shingle
       |          GROUP BY c.d1, c.d2),
       |jp AS (SELECT d1, d2, round(CAST(i AS DOUBLE) / (a.sz + b.sz - i), 6) AS jaccard
       |       FROM inter JOIN sz a ON d1 = a.doc JOIN sz b ON d2 = b.doc
       |       WHERE round(CAST(i AS DOUBLE) / (a.sz + b.sz - i), 6) >= $threshold)
       |SELECT d1, d2, jaccard, CAST($lev AS BIGINT) AS edit_dist,
       |  floor((CAST(1 AS DOUBLE) - CAST($lev AS DOUBLE) / greatest(length(ta.text), length(tb.text))) * 1000000.0) / 1000000.0 AS edit_sim
       |FROM jp JOIN documents ta ON jp.d1 = ta.doc_id JOIN documents tb ON jp.d2 = tb.doc_id
       |ORDER BY d1, d2""".stripMargin
  }

  /** DuckDB mirror of [[Dedup.incrementalMinhash]] over the odd/even doc_id
    * split: both shards' signatures from the same seeded permutation family
    * as [[minhashLshSql]], band-equality candidates, exact-Jaccard verify,
    * survivors = odd ids (null-text included) minus verified dups.
    */
  private def minhashIncrementalSql(numPerm: Int, bands: Int, n: Int,
      threshold: Double,
      newPred: String = "doc_id % 2 = 1",
      existingPred: String = "doc_id % 2 = 0"): String = {
    val rows = numPerm / bands
    def sigCtes(sfx: String, pred: String): String =
      s"""t$sfx AS (SELECT doc_id AS doc, string_split(text, ' ') AS toks
         |      FROM documents WHERE text IS NOT NULL AND ($pred)),
         |s$sfx AS (SELECT doc, unnest(list_distinct(list_transform(
         |        generate_series(0, greatest(len(toks) - $n, 0)),
         |        i -> array_to_string(toks[i + 1 : i + $n], ' ')))) AS shingle FROM t$sfx),
         |h$sfx AS (SELECT doc, $shingleHashSql AS h FROM s$sfx),
         |sig$sfx AS (SELECT doc, ${(0 until numPerm).map { i =>
            val (a, bb) = Dedup.perm(i)
            s"min((h * $a + $bb) % $MERSENNE) AS mh$i"
          }.mkString(", ")} FROM h$sfx GROUP BY doc)""".stripMargin
    val bandJoins = (0 until bands).map { b =>
      val eqs = (b * rows until (b + 1) * rows).map(i => s"a.mh$i = b.mh$i").mkString(" AND ")
      s"SELECT a.doc AS dn, b.doc AS dx FROM sigN a JOIN sigX b ON $eqs"
    }
    s"""WITH ${sigCtes("N", newPred)},
       |${sigCtes("X", existingPred)},
       |cand AS (SELECT DISTINCT dn, dx FROM (${bandJoins.mkString(" UNION ALL ")})),
       |inter AS (SELECT c.dn, c.dx, count(*) AS i
       |          FROM cand c JOIN sN x ON c.dn = x.doc
       |                      JOIN sX y ON c.dx = y.doc AND x.shingle = y.shingle
       |          GROUP BY c.dn, c.dx),
       |szN AS (SELECT doc, count(*) AS sz FROM sN GROUP BY doc),
       |szX AS (SELECT doc, count(*) AS sz FROM sX GROUP BY doc),
       |dups AS (SELECT DISTINCT dn FROM inter
       |         JOIN szN a ON dn = a.doc JOIN szX b ON dx = b.doc
       |         WHERE round(CAST(i AS DOUBLE) / (a.sz + b.sz - i), 6) >= $threshold)
       |SELECT doc_id FROM documents
       |WHERE text IS NOT NULL AND ($newPred) AND doc_id NOT IN (SELECT dn FROM dups)
       |ORDER BY doc_id""".stripMargin
  }

  /** CTE chain ending in `sig(doc, simhash)` — shared by the signature and
    * pair queries.
    */
  private def simhashSigCtes: String = {
    val bits = 60
    val votes = (0 until bits)
      .map(k => s"sum(CASE WHEN (h >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS v$k").mkString(", ")
    val sig = (0 until bits)
      .map(k => s"(CASE WHEN v$k > 0 THEN (1::BIGINT << $k) ELSE 0 END)").mkString(" | ")
    s"""tok AS (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS t FROM documents),
       |h AS (SELECT doc, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok),
       |v AS (SELECT doc, $votes FROM h GROUP BY doc),
       |sig AS (SELECT doc, $sig AS simhash FROM v)""".stripMargin
  }

  private def simhashSql: String =
    s"""WITH $simhashSigCtes
       |SELECT doc, simhash FROM sig ORDER BY doc""".stripMargin

  /** Mirrors [[Dedup.simhashDedup]]: same-16-bit-prefix bucket join, pairs
    * kept at Hamming ≤ cap over the full 60-bit signature.
    */
  private def simhashPairsSql(prefixBits: Int, maxHamming: Int): String =
    s"""WITH $simhashSigCtes,
       |b AS (SELECT doc, simhash, simhash >> ${60 - prefixBits} AS bucket FROM sig)
       |SELECT a.doc AS d1, b2.doc AS d2,
       |       CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming
       |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc < b2.doc
       |WHERE bit_count(xor(a.simhash, b2.simhash)) <= $maxHamming
       |ORDER BY d1, d2""".stripMargin

  /** Zipfian fixture for the PPJoin plan (q_jaccard_ppjoin), derived from
    * doc_id so both engines compute the identical corpus. The documents
    * table's own text is PPJoin's documented ANTI-regime (dense small
    * vocabulary — every shingle frequent, prefixes prune nothing, the
    * blocked sweep is the oracled plan there); this fixture is the regime
    * the operator exists for: docs 2k/2k+1 share five rare group bigrams
    * (near-dup pairs, Jaccard 0.555556 or 0.6 by tail), each doc carries
    * df=1 marker bigrams through its unique `z<id>` token (always inside
    * the ascending-df prefix), and the `hot wall [big]` tail bigrams have
    * df=n_docs/2 (the Zipf head — always OUTSIDE the prefix, so the hot
    * join the naive oracle pays never happens in the engine plan).
    * `div`/`str`: integer-division keyword and string type name ("DIV"/
    * "STRING" on Spark, "//"/"VARCHAR" on DuckDB).
    */
  private[graft] def zipfFixtureSql(div: String, str: String): String =
    s"'a' || CAST((doc_id $div 2) % 101 AS $str) || ' b' || CAST((doc_id $div 2) % 89 AS $str)" +
      s" || ' c' || CAST((doc_id $div 2) % 97 AS $str) || ' d' || CAST((doc_id $div 2) % 83 AS $str)" +
      s" || ' e' || CAST((doc_id $div 2) % 79 AS $str) || ' z' || CAST(doc_id AS $str)" +
      s" || CASE WHEN (doc_id $div 2) % 2 = 0 THEN ' hot wall' ELSE ' hot wall big' END"
}
