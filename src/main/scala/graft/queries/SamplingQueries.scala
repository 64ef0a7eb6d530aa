package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in `Sampling`, each beside its DuckDB oracle. */
object SamplingQueries {
  val all: Seq[Q] = Seq(
    // ---- diversity sampling: per-semantic-cell cap over IVF cells ----------
    Q("q_diverse_sample", "Sampling", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", k = 8, seed = 42L)
      val cells = Similarity.assignCells(emb, "vec_id", "embedding", cents)
      Sampling.perGroupCap(cells, "vec_id", "cell", cap = 20)
        .select(col("vec_id"), col("cell").cast("long").as("cell"), col("cap_rank"))
        .orderBy(col("cell"), col("cap_rank"))
    }, (spark, dir) => {
      val cents = Similarity.trainIvfCentroids(
        Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, seed = 42L)
      diverseSampleSql(cents, cap = 20)
    }),

    // ---- weight-proportional deterministic Bernoulli sampling (quality-
    // weighted corpus thinning) ---------------------------------------------
    Q("q_weighted_sample", "Sampling", (s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      Sampling.weightedSample(q, "doc_id", "quality").orderBy(col("doc_id"))
    }, sql(
      // deterministic weighted Bernoulli draw: integer md5 bucket vs the
      // bit-identical double threshold (round-6 quality / exact max)
      s"""WITH q AS (SELECT doc_id,
         |    round(ln(1.0 + len(string_split(text, ' '))) *
         |          (1.0 - CAST(len(list_filter(string_split(text, ' '),
         |                t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
         |               / len(string_split(text, ' '))), 6) AS quality
         |  FROM documents),
         |m AS (SELECT max(quality) AS wmax FROM q WHERE quality > 0)
         |SELECT doc_id, quality FROM q, m
         |WHERE quality > 0 AND ${docBucketSql(1000000)} < quality / wmax * 1000000.0
         |ORDER BY doc_id""".stripMargin)),

    // ---- deterministic train/val/test split: pure map, no shuffle, stable
    // under corpus growth -----------------------------------------------------
    Q("q_split_assign", "Sampling", (s, dir) => {
      Sampling.splitAssign(Tables.documents(s, dir), "doc_id")
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }, sql(
      s"""SELECT doc_id,
         |  CASE WHEN ${docBucketSql(100)} < 80 THEN 'train'
         |       WHEN ${docBucketSql(100)} < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- per-language stratified downsampling (driver-resolved integer
    // thresholds; membership reproducible by any engine) ----------------------
    Q("q_sample_stratified", "Sampling", (s, dir) => {
      Sampling.sampleStratified(Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 0.5, "fr" -> 0.25), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, sql(
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${docBucketSql(1000000)} <
         |  CASE WHEN lang = 'fr' THEN 250000
         |       WHEN lang = 'en' THEN 500000
         |       ELSE 100000 END
         |ORDER BY doc_id""".stripMargin)),

    // ---- per-source cap: no single domain dominates the corpus --------------
    Q("q_source_cap", "Sampling", (s, dir) => {
      Sampling.perGroupCap(Tables.documents(s, dir), "doc_id", "source", cap = 20)
        .select(col("doc_id"), col("source"), col("cap_rank"))
        .orderBy(col("source"), col("cap_rank"))
    }, sql(
      s"""SELECT doc_id, source, cap_rank FROM (
         |  SELECT doc_id, source, CAST(row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY ${docBucketSql(1073741824)}, doc_id) AS BIGINT) AS cap_rank
         |  FROM documents)
         |WHERE cap_rank <= 20 ORDER BY source, cap_rank""".stripMargin)),

    // ---- token-budget mixing: ~3000 chars per source, hash-drawn -----------
    Q("q_token_budget", "Sampling", (s, dir) => {
      Sampling.perGroupTokenCap(Tables.documents(s, dir), "doc_id", "source",
        col("n_chars"), budget = 3000)
        .select(col("doc_id"), col("source"), col("cum_tokens").as("cum_chars"))
        .orderBy(col("source"), col("cum_chars"))
    }, sql(
      s"""SELECT doc_id, source, cum_chars FROM (
         |  SELECT doc_id, source, n_chars, CAST(sum(n_chars) OVER (
         |    PARTITION BY source ORDER BY ${docBucketSql(1073741824)}, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
         |  FROM documents)
         |WHERE cum_chars - n_chars < 3000 ORDER BY source, cum_chars""".stripMargin)),

    // ---- the full curation pipeline composed end-to-end: near-dup cluster
    // survivors, minus high-repetition docs, minus eval-contaminated docs,
    // capped per source, split train/val/test — the manifest a training job
    // would actually consume. Every stage is an operator oracled on its own
    // above; this proves they COMPOSE. -----------------------------------------
    Q("q_corpus_manifest", "Sampling", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = exactJaccardPairs(s, dir)
      val surv = Dedup.clusterSurvivors(
        docs, "doc_id", Dedup.connectedComponents(pairs, "d1", "d2"))
      val lowRep = TextAnalysis.repetition(docs, "doc_id", "text", n = 2)
        .where(col("dup_frac") <= 0.05).select(col("doc_id"))
      val contaminated = TextAnalysis.contamination(
        docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
        "doc_id", "text", n = 4).select(col("doc_id"))
      val kept = surv.where(col("doc_id") >= 10) // the eval set never trains
        .join(lowRep, "doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti")
      Sampling.splitAssign(Sampling.perGroupCap(kept, "doc_id", "source", cap = 40), "doc_id")
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))
    }, sql(
      // the per-stage oracles composed: recursive-CTE clusters -> drop list,
      // repetition + contamination filters, hash cap, hash split
      s"""WITH RECURSIVE ${jaccardPairsCtes()},
         |e AS (SELECT d1 AS a, d2 AS b FROM jp UNION SELECT d2, d1 FROM jp),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |dropdup AS (SELECT a AS doc FROM reach GROUP BY a HAVING least(a, min(b)) <> a),
         |${gramCte(2)},
         |gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         |lowrep AS (SELECT doc_id FROM gc GROUP BY doc_id
         |           HAVING round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6) <= 0.05),
         |${shingleCte(4, "4")},
         |contam AS (SELECT DISTINCT c.doc FROM s4 c
         |           JOIN (SELECT DISTINCT shingle FROM s4 WHERE doc < 10) ev USING (shingle)
         |           WHERE c.doc >= 10),
         |kept AS (SELECT d.doc_id, d.source FROM documents d
         |         JOIN lowrep USING (doc_id)
         |         WHERE d.doc_id >= 10
         |           AND d.doc_id NOT IN (SELECT doc FROM dropdup)
         |           AND d.doc_id NOT IN (SELECT doc FROM contam)),
         |capped AS (SELECT doc_id, source FROM (
         |    SELECT doc_id, source, row_number() OVER (
         |      PARTITION BY source ORDER BY ${docBucketSql(1073741824)}, doc_id) AS rn
         |    FROM kept) WHERE rn <= 40)
         |SELECT doc_id, source,
         |  CASE WHEN ${docBucketSql(100)} < 80 THEN 'train'
         |       WHEN ${docBucketSql(100)} < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM capped ORDER BY doc_id""".stripMargin)),

    // ---- sequence packing: concat-and-chunk docs into 512-token context
    // windows across 8 shards (hash order = the training shuffle) ------------
    Q("q_pack_sequences", "Sampling", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.packSequences(docs, "doc_id",
        size(split(col("text"), " ")), seqLen = 512, shards = 8)
        .orderBy(col("doc_id"))
    }, sql(
      s"""WITH d AS (SELECT doc_id,
         |    ${docBucketSql(8)} AS shard,
         |    CAST('0x' || substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
         |      % 1073741824 AS ord,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |    COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum
         |  FROM d)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(floor(cum / 512.0) AS BIGINT) AS bin,
         |  cum % 512 AS tok_offset
         |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- temperature-scaled source mixture (mT5/XLM-R alpha sampling) ----
    Q("q_mixture_weights", "Sampling", (s, dir) => {
      Sampling.mixtureWeights(Tables.documents(s, dir), "source",
        size(TextAnalysis.tokens(col("text"))), alpha = 0.5, budgetTokens = 1000000L)
        .orderBy(col("source"))
    }, sql(
      // alpha-sampling mixture: weight = n_tokens^0.5 / sum over sources;
      // target spends the 1M-token budget by weight (same expression order)
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(pow(n_tokens, 0.5)) AS z FROM per)
        |SELECT source, n_docs, n_tokens,
        |  round(pow(n_tokens, 0.5) / z, 6) AS weight,
        |  round(pow(n_tokens, 0.5) / z * 1000000, 3) AS target_tokens
        |FROM per, tot ORDER BY source""".stripMargin)),

    // ---- UniMax water-filling token-budget allocation --------------------
    Q("q_unimax_budget", "Sampling", (s, dir) => {
      Sampling.unimaxAllocate(Tables.documents(s, dir), "source", col("n_chars"),
        budgetTokens = 280000L, maxEpochs = 2L)
        .orderBy(col("source"))
    }, sql(
      // UniMax: the constrained-prefix predicate over the capacity-ascending
      // window is exact long arithmetic; only the final share is a double
      // division of two exact longs (identical in both engines)
      """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) * 2 AS BIGINT) AS cap
        |  FROM documents GROUP BY source),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY cap, source) AS i,
        |    CAST(sum(cap) OVER (ORDER BY cap, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM per),
        |c AS (SELECT *, cap * (m - i + 1) <= 280000 - (cum - cap) AS con FROM r),
        |t AS (SELECT CAST(sum(CASE WHEN con THEN cap ELSE 0 END) AS BIGINT) AS ccap,
        |             CAST(sum(CASE WHEN con THEN 0 ELSE 1 END) AS BIGINT) AS nu FROM c),
        |a AS (SELECT c.*, CASE WHEN con THEN CAST(cap AS DOUBLE)
        |        ELSE CAST(280000 - ccap AS DOUBLE) / nu END AS alloc FROM c, t)
        |SELECT source, n_docs, n_tokens, cap,
        |  round(alloc, 3) AS alloc_tokens, round(alloc / n_tokens, 6) AS epochs
        |FROM a ORDER BY source""".stripMargin)),

    // ---- per-source Pareto front over (n_tokens, quality) ----------------
    Q("q_pareto_front", "Sampling", (s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"), col("quality"))
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      Sampling.paretoFront(q.join(src, "doc_id"), "source", "n_tokens", "quality")
        .orderBy(col("doc_id"))
    }, sql(
      // Pareto front: dense_rank on quality desc (ties share a rank), then
      // the max token count over STRICTLY-higher-quality rows via a
      // RANGE 1 PRECEDING frame on the rank — dominated iff that max is
      // strictly greater. quality is the 6-dp q_quality number on both sides
      """WITH q AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    round(ln(1.0 + len(string_split(text, ' '))) *
        |          (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |                t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |               / len(string_split(text, ' '))), 6) AS quality
        |  FROM documents),
        |r AS (SELECT *, dense_rank() OVER (PARTITION BY source ORDER BY quality DESC) AS yr FROM q),
        |m AS (SELECT *, max(n_tokens) OVER (PARTITION BY source ORDER BY yr
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx FROM r)
        |SELECT doc_id, n_tokens, quality, source FROM m
        |WHERE mx IS NULL OR mx <= n_tokens ORDER BY doc_id""".stripMargin)),

    // ---- packing-efficiency sweep over candidate sequence lengths --------
    Q("q_pack_efficiency", "Sampling", (s, dir) => {
      Sampling.packingEfficiency(
        Tables.documents(s, dir).where(col("text").isNotNull),
        size(TextAnalysis.tokens(col("text"))), Seq(128, 256, 512, 1024))
        .orderBy(col("seq_len"))
    }, sql(
      // packing efficiency: integer ceilings per candidate length from one
      // aggregate; fills are single divisions of exact longs
      packEfficiencySql(Seq(128, 256, 512, 1024)))),

    // ---- purged temporal split with a 1-day embargo band -----------------
    Q("q_purged_split", "Sampling", (s, dir) => {
      Sampling.purgedTemporalSplit(events(s, dir), "ts_us", tSplit = TMID,
        embargoUs = 86400000000L)
    }, (spark, dir) => {
      val lo = TMID - 86400000000L
      s"""SELECT CASE WHEN epoch_us(ts) < $lo THEN 'train'
         |            WHEN epoch_us(ts) >= $TMID THEN 'test'
         |            ELSE 'embargo' END AS split,
         |  CAST(count(*) AS BIGINT) AS n,
         |  min(epoch_us(ts)) AS t_min_us, max(epoch_us(ts)) AS t_max_us
         |FROM events WHERE ts IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // ---- stratified k-fold CV assignment balance -------------------------
    Q("q_cv_folds", "Sampling", (s, dir) => {
      Sampling.cvFoldReport(Tables.embeddings(s, dir), "vec_id", "label", k = 5)
        .orderBy(col("fold"), col("label"))
    }, sql(
      // CV folds: the docBucketSql hash over vec_id, per-fold label shares
      """WITH a AS (SELECT CAST('0x' || substr(md5('graft' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 5 AS fold,
        |    CAST(label AS BIGINT) AS label
        |  FROM embeddings WHERE label IS NOT NULL),
        |c AS (SELECT fold, label, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY 1, 2),
        |t AS (SELECT fold, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.fold, c.label, c.n, round(CAST(c.n AS DOUBLE) / t.tot, 6) AS share
        |FROM c JOIN t ON c.fold = t.fold ORDER BY c.fold, c.label""".stripMargin)),

    // ---- rendezvous-hash shard rebalance matrix (4 -> 5 shards) ----------
    Q("q_shard_rebalance", "Sampling", (s, dir) => {
      val before = Sampling.rendezvousShard(Tables.documents(s, dir), "doc_id",
        (0 until 4).map("s" + _), "shard_before")
      Sampling.rendezvousShard(before, "doc_id", (0 until 5).map("s" + _), "shard_after")
        .groupBy(col("shard_before"), col("shard_after"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("shard_before"), col("shard_after"))
    }, sql(
      // shard rebalance: the same "md5 || '|' || shard" greatest-string
      // argmax on both sides (hash first, shard-name tie-break)
      shardRebalanceSql)),

    // ---- curriculum schedule: quartile difficulty stages over the shared
    // 6-dp quality score, deterministic within-stage shuffle key — stage
    // thresholds are ONE broadcast percentile row, assignment is map-only -
    Q("q_curriculum", "Sampling", (s, dir) => {
      val q = TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      Sampling.curriculumSchedule(q, "doc_id", col("quality"), stages = 4)
        .orderBy(col("stage"), col("ord"), col("doc_id"))
    }, sql(
      // stage thresholds are the interpolated quartiles (quantile_cont ==
      // Spark's exact percentile, the L35 interop contract); ord is the same
      // salted md5 as the engine's within-stage shuffle key
      """WITH q AS (SELECT doc_id,
        |    round(ln(1.0 + len(string_split(text, ' '))) *
        |          (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |                t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |               / len(string_split(text, ' '))), 6) AS difficulty
        |  FROM documents WHERE text IS NOT NULL),
        |th AS (SELECT quantile_cont(difficulty, 0.25) AS t1,
        |    quantile_cont(difficulty, 0.5) AS t2,
        |    quantile_cont(difficulty, 0.75) AS t3 FROM q)
        |SELECT doc_id, difficulty,
        |  CAST(1 + (CASE WHEN difficulty > t1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN difficulty > t2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN difficulty > t3 THEN 1 ELSE 0 END) AS INTEGER) AS stage,
        |  md5('graft' || CAST(doc_id AS VARCHAR)) AS ord
        |FROM q CROSS JOIN th
        |ORDER BY stage, ord, doc_id""".stripMargin)))

  /** DuckDB mirror of [[Sampling.packingEfficiency]]: one aggregate CTE,
    * one UNION ALL branch per candidate length with the identical integer
    * ceiling arithmetic.
    */
  private def packEfficiencySql(seqLens: Seq[Int]): String = {
    val pads = seqLens.map(l => s"CAST(sum((t + ${l - 1}) // $l) AS BIGINT) AS pad$l").mkString(",\n  ")
    val branches = seqLens.map { l =>
      val packed = s"(total + ${l - 1}) // $l"
      s"""SELECT CAST($l AS BIGINT) AS seq_len, n_docs, total AS total_tokens,
         |  $packed AS packed_seqs, pad$l AS padded_seqs,
         |  CASE WHEN $packed = 0 THEN NULL
         |       ELSE round(CAST(total AS DOUBLE) / CAST(($packed) * $l AS DOUBLE), 6) END AS packed_fill,
         |  CASE WHEN pad$l = 0 THEN NULL
         |       ELSE round(CAST(total AS DOUBLE) / CAST(pad$l * $l AS DOUBLE), 6) END AS padded_fill
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS t
       |  FROM documents WHERE text IS NOT NULL),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(t) AS BIGINT) AS total,
       |  $pads FROM d)
       |$branches
       |ORDER BY seq_len""".stripMargin
  }

  /** DuckDB mirror of [[Sampling.rendezvousShard]]'s 4→5 shard movement
    * matrix.
    */
  private lazy val shardRebalanceSql: String = {
    def pick(shards: Seq[String]): String = {
      val tagged = shards.map(s => s"md5(CAST(doc_id AS VARCHAR) || ':$s') || '|$s'")
      s"substr(greatest(${tagged.mkString(", ")}), 34)"
    }
    s"""WITH a AS (SELECT ${pick((0 until 4).map("s" + _))} AS shard_before,
       |  ${pick((0 until 5).map("s" + _))} AS shard_after FROM documents)
       |SELECT shard_before, shard_after, CAST(count(*) AS BIGINT) AS n
       |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Diversity-sampling oracle: IVF cell assignment (same centroid literals
    * and first-nearest CASE as [[ivfSql]]) followed by the q_source_cap
    * hash-order window cap, keyed on vec_id.
    */
  private def diverseSampleSql(cents: Array[Array[Double]], cap: Int): String = {
    val lits = cents.map(c => "[" + c.mkString(", ") + "]")
    val n = lits.length
    val dists = (0 until n).map(i => s"list_distance(v, ${lits(i)}) AS d$i").mkString(", ")
    val m = s"least(${(0 until n).map("d" + _).mkString(", ")})"
    val cellCase = "CASE " + (0 until n).map(i => s"WHEN d$i = $m THEN $i").mkString(" ") + " END"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dd AS (SELECT vec_id, v, $dists FROM e),
       |cb AS (SELECT vec_id, CAST($cellCase AS BIGINT) AS cell FROM dd),
       |r AS (SELECT vec_id, cell, CAST(row_number() OVER (
       |    PARTITION BY cell ORDER BY
       |    CAST('0x' || substr(md5('graft' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 1073741824,
       |    vec_id) AS BIGINT) AS cap_rank FROM cb)
       |SELECT vec_id, cell, cap_rank FROM r WHERE cap_rank <= $cap
       |ORDER BY cell, cap_rank""".stripMargin
  }
}
