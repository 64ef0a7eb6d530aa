package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in `TextAnalysis`, each beside its DuckDB oracle. */
object TextAnalysisQueries {
  val all: Seq[Q] = Seq(
    // ---- corpus vocabulary head: top-50 word bigrams -----------------------
    Q("q_vocab_topk", "TextAnalysis", (s, dir) => {
      TextAnalysis.vocabTopK(Tables.documents(s, dir), "doc_id", "text", n = 2, k = 50)
    }, sql(
      s"""WITH ${gramCte(2)},
         |pc AS (SELECT g, doc_id, count(*) AS c FROM g GROUP BY 1, 2)
         |SELECT g AS gram, CAST(sum(c) AS BIGINT) AS n_occur, count(*) AS n_docs
         |FROM pc GROUP BY 1 ORDER BY n_occur DESC, gram LIMIT 50""".stripMargin)),

    // ---- native text normalization over an adversarially mutated corpus
    // (NFD combining mark + tab + space runs appended to every doc) ----------
    Q("q_text_clean", "TextAnalysis", (s, dir) => {
      graft.Engine.registerFunctions(s)
      val mutated = concat(col("text"), lit("  spark\te\u0301 "))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.normalizeText(mutated).as("clean"))
        .orderBy(col("doc_id"))
    }, sql(
      // mutation appends a decomposed e+U+0301, a tab, and space runs; the
      // normalizer must NFC-compose, scrub the control char, and collapse
      """SELECT doc_id, trim(regexp_replace(regexp_replace(
        |  nfc_normalize(text || '  spark' || chr(9) || 'e' || chr(769) || ' '),
        |  '[\p{Cc}\p{Cf}]', ' ', 'g'), ' +', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- BM25 lexical retrieval (fixed probe terms, top-20) ----------------
    Q("q_bm25", "TextAnalysis", (s, dir) => {
      TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text",
        BM25_TERMS, k = 20)
    }, sql(bm25Sql(BM25_TERMS, k = 20))),

    // ---- CUBE rollup over curation dimensions (subtotals + grand total) ---
    Q("q_corpus_cube", "TextAnalysis", (s, dir) => {
      TextAnalysis.corpusRollup(Tables.documents(s, dir), "text", Seq("lang", "source"))
        .orderBy(col("lang"), col("source"))
    }, sql(
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY CUBE(lang, source)
        |ORDER BY lang, source""".stripMargin)),

    // ---- text stats: tokens / chars / stopword ratio -----------------------
    Q("q_text_stats", "TextAnalysis", (s, dir) => {
      TextAnalysis.stats(Tables.documents(s, dir), "doc_id", "text")
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .withColumn("n_chars", col("n_chars").cast("long"))
        .withColumn("n_stop", col("n_stop").cast("long"))
        .orderBy(col("doc_id"))
    }, sql(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(string_split(text, ' '),
        |       t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS BIGINT) AS n_stop,
        |  round(CAST(len(list_filter(string_split(text, ' '),
        |       t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |       / len(string_split(text, ' ')), 6) AS stop_ratio,
        |  round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |       / len(string_split(text, ' ')), 6) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- language ID by marker-token hits ----------------------------------
    Q("q_lang_id", "TextAnalysis", (s, dir) => {
      TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text")
        .withColumn("marker_hits", col("marker_hits").cast("long"))
        .orderBy(col("doc_id"))
    }, sql(
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to'))) AS BIGINT) AS h_en,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','ist'))) AS BIGINT) AS h_de,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le','la','les','et','est'))) AS BIGINT) AS h_fr
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN greatest(h_en, h_de, h_fr) = 0 THEN 'und'
        |       WHEN h_fr = greatest(h_en, h_de, h_fr) THEN 'fr'
        |       WHEN h_en = greatest(h_en, h_de, h_fr) THEN 'en'
        |       ELSE 'de' END AS lang_pred,
        |  greatest(h_en, h_de, h_fr) AS marker_hits
        |FROM h ORDER BY doc_id""".stripMargin)),

    // ---- declared-vs-detected language confusion matrix ------------------
    Q("q_lang_confusion", "TextAnalysis", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.langId(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(coalesce(col("lang"), lit("null")).as("declared"),
          col("lang_pred").as("detected"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("declared"), col("detected"))
    }, sql(
      // language confusion: the q_lang_id detector joined to the declared
      // column — the mislabeled-language screen before per-language routing
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to'))) AS BIGINT) AS h_en,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','ist'))) AS BIGINT) AS h_de,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le','la','les','et','est'))) AS BIGINT) AS h_fr
        |  FROM documents),
        |p AS (SELECT coalesce(lang, 'null') AS declared,
        |        CASE WHEN greatest(h_en, h_de, h_fr) = 0 THEN 'und'
        |             WHEN h_fr = greatest(h_en, h_de, h_fr) THEN 'fr'
        |             WHEN h_en = greatest(h_en, h_de, h_fr) THEN 'en'
        |             ELSE 'de' END AS detected
        |      FROM h)
        |SELECT declared, detected, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- quality score (length + stopword-density heuristic) ---------------
    Q("q_quality", "TextAnalysis", (s, dir) => {
      TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    }, sql(
      """SELECT doc_id,
        |  round(ln(1.0 + len(string_split(text, ' '))) *
        |        (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |             / len(string_split(text, ' '))), 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- BPE-ish token counting ---------------------------------------------
    Q("q_token_count", "TextAnalysis", (s, dir) => {
      val toks = TextAnalysis.bpeTokens(col("text"))
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_bpe"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .orderBy(col("doc_id"))
    }, sql(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe,
        |  CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS n_distinct
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- document fingerprints (md5 + rolling hash) ------------------------
    Q("q_fingerprint", "TextAnalysis", (s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp_md5"),
          TextAnalysis.rollingHash(col("text")).as("fp_roll"))
        .orderBy(col("doc_id"))
    }, sql(
      """SELECT doc_id, md5(text) AS fp_md5,
        |  CASE WHEN length(text) = 0 THEN NULL ELSE
        |    list_reduce(list_transform(generate_series(1, length(text)),
        |                i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)),
        |                (a, b) -> (a * 31 + b) % 1000000007) END AS fp_roll
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- composite training-data curation pipeline: exact-dedup survivors
    // with language + quality gates, joined to their embedding labels -------
    Q("q_curation", "TextAnalysis", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val reps = Dedup.exact(docs, "doc_id", "text").select(col("rep_id"))
      val quality = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality"), col("n_tokens").cast("long").as("n_tokens"))
      val lang = TextAnalysis.langId(docs, "doc_id", "text").select(col("doc_id"), col("lang_pred"))
      docs.join(reps, col("doc_id") === col("rep_id"))
        .join(quality, "doc_id")
        .join(lang, "doc_id")
        .where(col("quality") > lit(2.0) && col("lang_pred") =!= "und")
        .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("quality"), col("n_tokens"), col("lang_pred"),
          col("label").cast("long").as("label"))
        .orderBy(col("doc_id"))
    }, sql(
      """WITH stats AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    round(ln(1.0 + len(string_split(text, ' '))) *
        |          (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |                t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |               / len(string_split(text, ' '))), 6) AS quality
        |  FROM documents),
        |langs AS (
        |  SELECT doc_id,
        |    CASE WHEN greatest(h_en, h_de, h_fr) = 0 THEN 'und'
        |         WHEN h_fr = greatest(h_en, h_de, h_fr) THEN 'fr'
        |         WHEN h_en = greatest(h_en, h_de, h_fr) THEN 'en'
        |         ELSE 'de' END AS lang_pred
        |  FROM (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to'))) AS BIGINT) AS h_en,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','ist'))) AS BIGINT) AS h_de,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le','la','les','et','est'))) AS BIGINT) AS h_fr
        |  FROM documents)),
        |reps AS (SELECT min(doc_id) AS rep_id FROM documents GROUP BY md5(text))
        |SELECT d.doc_id, s.quality, s.n_tokens, l.lang_pred, CAST(e.label AS BIGINT) AS label
        |FROM documents d
        |JOIN reps r ON d.doc_id = r.rep_id
        |JOIN stats s ON d.doc_id = s.doc_id
        |JOIN langs l ON d.doc_id = l.doc_id
        |JOIN embeddings e ON d.doc_id = e.vec_id
        |WHERE s.quality > 2.0 AND l.lang_pred <> 'und'
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- benchmark-contamination scan: docs sharing a 4-gram with the
    // "eval set" (stand-in: doc_id < 10), broadcast semi-join ----------------
    Q("q_contamination", "TextAnalysis", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.contamination(
        docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
        "doc_id", "text", n = 4)
        .orderBy(col("doc_id"))
    }, sql(
      s"""WITH ${shingleCte(4)},
         |ev AS (SELECT DISTINCT shingle FROM s WHERE doc < 10)
         |SELECT c.doc AS doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM s c JOIN ev USING (shingle)
         |WHERE c.doc >= 10
         |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ---- Gopher-style repetition quality signals ---------------------------
    Q("q_repetition", "TextAnalysis", (s, dir) => {
      TextAnalysis.repetition(Tables.documents(s, dir), "doc_id", "text", n = 2)
        .orderBy(col("doc_id"))
    }, sql(
      s"""WITH ${gramCte(2)},
         |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |        count(*) AS n_distinct, max(c) AS top FROM c GROUP BY 1)
         |SELECT doc_id, n_grams, n_distinct,
         |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS dup_frac,
         |  round(CAST(top AS DOUBLE) / n_grams, 6) AS top_frac
         |FROM a ORDER BY doc_id""".stripMargin)),

    // ---- PII scrub over a deterministically PII-laced corpus (the synthetic
    // documents carry no PII, so the gate splices an email/phone/IP per doc
    // from doc_id — identically in the oracle — and hash-checks the counts
    // AND the redacted text) --------------------------------------------------
    Q("q_pii_redact", "TextAnalysis", (s, dir) => {
      val laced = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(
          col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com or +1 (555) 000-"), col("doc_id"),
          lit(" ip 10.0."), col("doc_id") % 256, lit(".7")).as("text"))
      TextAnalysis.piiRedact(laced, "doc_id", "text")
        .orderBy(col("doc_id"))
    }, sql(
      s"""WITH laced AS (SELECT doc_id,
         |  text || ' contact user' || doc_id || '@mail.example.com or +1 (555) 000-'
         |       || doc_id || ' ip 10.0.' || (doc_id % 256) || '.7' AS text
         |  FROM documents),
         |r1 AS (SELECT doc_id, text,
         |    regexp_replace(text, '$PII_EMAIL', '<EMAIL>', 'g') AS t1 FROM laced),
         |r2 AS (SELECT doc_id, text, t1,
         |    regexp_replace(t1, '$PII_IPV4', '<IP>', 'g') AS t2 FROM r1)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$PII_EMAIL')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t1, '$PII_IPV4')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(t2, '$PII_PHONE')) AS BIGINT) AS n_phone,
         |  regexp_replace(t2, '$PII_PHONE', '<PHONE>', 'g') AS redacted
         |FROM r2 ORDER BY doc_id""".stripMargin)),

    // ---- fixed-window document chunking with overlap — map-only, the
    // training-sequence producer upstream of q_pack_sequences ---------------
    Q("q_chunk_docs", "TextAnalysis", (s, dir) => {
      TextAnalysis.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_id"))
    }, sql(
      // fixed 64-token windows, 16-token overlap -> step 48; DuckDB list
      // slices are 1-based inclusive and clamp at the end like Spark's slice
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, toks, len(toks) AS n,
        |    ((greatest(len(toks) - 64, 0) + 47) // 48) + 1 AS nc FROM t),
        |e AS (SELECT doc_id, toks, n,
        |    unnest(generate_series(0, nc - 1)) AS chunk_id FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk,
        |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_tokens
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- TextRank centrality over each document's chunks: which windows
    // are most representative (RAG extractive selection)? Doc-local
    // overlap graph + weighted integer PageRank, vectorized across docs --
    Q("q_textrank", "TextAnalysis", (s, dir) => {
      TextAnalysis.textRank(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 64, overlap = 16, iters = 5, topK = 3)
        .orderBy(col("doc_id"), col("rank"))
    }, sql(
      // TextRank over chunks: unrolled weighted integer PageRank per doc
      textRankSql(chunkTokens = 64, overlap = 16, iters = 5,
      topK = 3, scale = 1000000000L))),

    // ---- bigram-LM cross-entropy (perplexity-proxy quality score),
    // self-trained on the corpus with add-k smoothing ------------------------
    Q("q_lm_xent", "TextAnalysis", (s, dir) => {
      TextAnalysis.lmCrossEntropy(Tables.documents(s, dir), "doc_id", "text", addK = 0.5)
        .orderBy(col("doc_id"))
    }, sql(
      // self-trained add-k bigram LM; the score reuses the EXACT expression
      // tree of the Column plan: (c2 + k) / (c1 + k * v), log2, avg, negate,
      // round — double arithmetic is order-sensitive
      lmXentSql)),

    // ---- tokenizer-vocabulary coverage: per-doc OOV fraction against the
    // self-derived top-100 unigram head (L14 composed with L28) --------------
    Q("q_oov", "TextAnalysis", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = TextAnalysis.vocabTopK(docs, "doc_id", "text", n = 1, k = 100)
        .select(col("gram").as("token"))
      TextAnalysis.oovRate(docs, "doc_id", "text", vocab)
        .orderBy(col("doc_id"))
    }, sql(
      // OOV coverage vs the corpus's own top-100 unigram head (the q_vocab_topk
      // ranking at n = 1, same deterministic tie-break)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |pc AS (SELECT tok, doc_id, count(*) AS c FROM u GROUP BY 1, 2),
        |vocab AS (SELECT tok FROM (
        |  SELECT tok, sum(c) AS n_occur FROM pc GROUP BY 1
        |  ORDER BY n_occur DESC, tok LIMIT 100)),
        |j AS (SELECT u.doc_id, CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END AS hit
        |      FROM u LEFT JOIN vocab v ON u.tok = v.tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) - sum(hit) AS BIGINT) AS n_oov,
        |  round(CAST(count(*) - sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- per-source quality calibration (percent_rank within source) ------
    Q("q_quality_calibrated", "TextAnalysis", (s, dir) => {
      TextAnalysis.calibrateByGroup(Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy(col("doc_id"))
    }, sql(
      // per-source percent_rank calibration over the shared 6-dp quality
      """WITH q AS (SELECT doc_id, source,
        |    round(ln(1.0 + len(string_split(text, ' '))) *
        |          (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |                t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |               / len(string_split(text, ' '))), 6) AS quality
        |  FROM documents)
        |SELECT doc_id, source, quality,
        |  floor(percent_rank() OVER (PARTITION BY source ORDER BY quality) * 1000000.0) / 1000000.0 AS pct
        |FROM q ORDER BY doc_id""".stripMargin)),

    // ---- corpus drift between two snapshots (even vs odd doc ids): tokens
    // with the largest smoothed log2 frequency-ratio shift ------------------
    Q("q_vocab_shift", "TextAnalysis", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.vocabShift(
        docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", k = 50, addK = 0.5)
    }, sql(
      // even vs odd snapshot drift; same smoothed-ratio expression tree as the
      // Column plan, ranked on the ROUNDED shift
      """WITH ta AS (SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
        |ca AS (SELECT token, count(*) AS n_a FROM ta GROUP BY 1),
        |tb AS (SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1),
        |cb AS (SELECT token, count(*) AS n_b FROM tb GROUP BY 1),
        |j AS (SELECT coalesce(ca.token, cb.token) AS token,
        |        coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |      FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        |s AS (SELECT CAST(sum(n_a) AS DOUBLE) AS ta2, CAST(sum(n_b) AS DOUBLE) AS tb2,
        |        CAST(count(*) AS DOUBLE) AS v FROM j)
        |SELECT token, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  round(log2(((n_a + 0.5) / (ta2 + 0.5 * v)) / ((n_b + 0.5) / (tb2 + 0.5 * v))), 6) AS shift
        |FROM j, s ORDER BY abs(shift) DESC, token LIMIT 50""".stripMargin)),

    // ---- BPE merge statistics: corpus-weighted adjacent char pairs,
    // expanded over the VOCAB (the corpus pays one agg) ---------------------
    Q("q_bpe_merges", "TextAnalysis", (s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), "text", k = 50), sql(
      // adjacent char pairs weighted by word frequency; pair expansion runs
      // over the distinct-word table, mirroring the vocab-sized Spark plan
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |wc AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
        |p AS (SELECT c, unnest(list_transform(generate_series(1, length(w) - 1),
        |        i -> substr(w, i, 2))) AS pair
        |  FROM wc WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS n FROM p GROUP BY 1
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin)),

    // ---- learned BPE: greedy merge learning on the word-vocabulary frame,
    // then the deterministic per-word encode fold over the merge list ------
    Q("q_bpe_encode", "TextAnalysis", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextAnalysis.bpeLearn(docs, "text", nMerges = 20)
      docs.where(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.bpeEncode(col("text"), merges).as("__t"))
        .select(col("doc_id"), array_join(col("__t"), " ").as("encoded"),
          size(col("__t")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }, (spark, dir) => {
      val merges = TextAnalysis.bpeLearn(Tables.documents(spark, dir), "text", nMerges = 20)
      bpeEncodeSql(merges)
    }),

    // ---- perplexity-quartile profile: exact quantile thresholds over the
    // (identically rounded) lm_xent scores, then per-bucket stats ----------
    Q("q_quality_buckets", "TextAnalysis", (s, dir) => {
      val xent = TextAnalysis.lmCrossEntropy(Tables.documents(s, dir), "doc_id", "text",
        addK = 0.5)
      val qs = xent.agg(expr("percentile(xent, array(0.25D, 0.5D, 0.75D))").as("__q"))
      xent.crossJoin(broadcast(qs))
        .select(col("xent"),
          when(col("xent") <= col("__q").getItem(0), 0L)
            .when(col("xent") <= col("__q").getItem(1), 1L)
            .when(col("xent") <= col("__q").getItem(2), 2L)
            .otherwise(3L).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          operators.FixedPoint.mean6(col("xent")).as("avg_xent"),
          round(min(col("xent")), 6).as("min_xent"), round(max(col("xent")), 6).as("max_xent"))
        .orderBy(col("bucket"))
    }, sql(
      // perplexity-proxy quartile profile over the lm_xent result: thresholds
      // from exact interpolated quantiles over the (identically rounded)
      // xent column, buckets compared on identical doubles in both engines
      s"""WITH lx AS ($lmXentSql),
         |qs AS (SELECT quantile_cont(xent, CAST(0.25 AS DOUBLE)) AS q1,
         |       quantile_cont(xent, CAST(0.5 AS DOUBLE)) AS q2,
         |       quantile_cont(xent, CAST(0.75 AS DOUBLE)) AS q3 FROM lx),
         |b AS (SELECT doc_id, xent,
         |    CASE WHEN xent <= q1 THEN 0 WHEN xent <= q2 THEN 1
         |         WHEN xent <= q3 THEN 2 ELSE 3 END AS bucket FROM lx, qs)
         |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
         |  round(CAST(sum(CAST(round((xent) * 1000000.0) AS BIGINT)) AS BIGINT) / (count(CAST(round((xent) * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS avg_xent, round(min(xent), 6) AS min_xent,
         |  round(max(xent), 6) AS max_xent
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- one-row corpus dataset card ------------------------------------
    Q("q_dataset_card", "TextAnalysis", (s, dir) =>
      TextAnalysis.datasetCard(Tables.documents(s, dir), "text", "lang", "source"), sql(
      // one-row corpus summary; entropy written ln(p)/ln(2) on both sides
      """WITH card AS (SELECT count(*) AS n_docs,
        |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT source) AS n_sources,
        |    count(DISTINCT md5(text)) AS uniq
        |  FROM documents),
        |lc AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM lc),
        |ent AS (SELECT round(-sum((c / tot) * (ln(c / tot) / ln(2.0))), 6)
        |        AS lang_entropy FROM lc, tot)
        |SELECT n_docs, n_null_text, n_tokens, avg_tokens, n_langs, n_sources,
        |  round(1.0 - (uniq / (n_docs - n_null_text)), 6) AS dup_frac,
        |  lang_entropy
        |FROM card, ent""".stripMargin)),

    // ---- per-source top terms (exact heavy hitters; window over the
    // vocab-sized count table, never the corpus) ---------------------------
    Q("q_source_top_terms", "TextAnalysis", (s, dir) =>
      TextAnalysis.topTermsPerGroup(Tables.documents(s, dir), "source", "text", k = 5)
        .orderBy(col("source"), col("rank")), sql(
      // per-source exact heavy hitters; rank ties break on the term
      """WITH u AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT source, term, count(*) AS n FROM u GROUP BY 1, 2),
        |r AS (SELECT source, term, CAST(n AS BIGINT) AS n,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n DESC, term) AS BIGINT) AS rank
        |  FROM c)
        |SELECT source, term, n, rank
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin)),

    // ---- source-vocabulary cosine: which sources read alike --------------
    Q("q_source_similarity", "TextAnalysis", (s, dir) =>
      TextAnalysis.groupVocabCosine(Tables.documents(s, dir), "source", "text")
        .orderBy(col("g1"), col("g2")), sql(
      // inverted-index self-join on the term: pairwise structure is
      // vocab-bounded, never group x group x vocab
      """WITH u AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT source, t, CAST(count(*) AS DOUBLE) AS c FROM u GROUP BY 1, 2),
        |n AS (SELECT source, sqrt(sum(c * c)) AS nrm FROM c GROUP BY 1),
        |d AS (SELECT a.source AS g1, b.source AS g2, sum(a.c * b.c) AS dot
        |  FROM c a JOIN c b ON a.t = b.t AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT g1, g2, round(dot / (n1.nrm * n2.nrm), 6) AS cosine
        |FROM d JOIN n n1 ON d.g1 = n1.source JOIN n n2 ON d.g2 = n2.source
        |ORDER BY g1, g2""".stripMargin)),

    // ---- filter-funnel attrition: per-stage doc/char survival through an
    // ordered curation gauntlet — one scan, one combinable agg -------------
    Q("q_filter_funnel", "TextAnalysis", (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      TextAnalysis.filterFunnel(Tables.documents(s, dir), "text", Seq(
        "nonempty" -> (length(col("text")) > 0),
        "lang_en" -> (col("lang") === "en"),
        "min_tokens" -> (size(filter(toks, t => t =!= "")) >= 30),
        "max_chars" -> (length(col("text")) <= 400),
        "no_dup_marker" -> !col("text").contains("dup")))
        .orderBy(col("stage_idx"))
    }, sql(
      // filter funnel: the same first-failing-stage CASE chain, stage rows by
      // conditional sums (3VL: NOT coalesce(pred, FALSE) = failure)
      {
      val preds = Seq(
        "nonempty" -> "len(text) > 0",
        "lang_en" -> "lang = 'en'",
        "min_tokens" -> "len(list_filter(string_split(text, ' '), t -> t <> '')) >= 30",
        "max_chars" -> "len(text) <= 400",
        "no_dup_marker" -> "NOT contains(text, 'dup')")
      val chain = preds.zipWithIndex
        .map { case ((_, p), i) => s"WHEN NOT coalesce($p, FALSE) THEN $i" }
        .mkString(" ")
      val stages = preds.zipWithIndex.map { case ((name, _), i) =>
        s"""SELECT CAST(${i + 1} AS BIGINT) AS stage_idx, '$name' AS stage,
           |  CAST(sum(CASE WHEN fail >= $i THEN 1 ELSE 0 END) AS BIGINT) AS docs_in,
           |  CAST(sum(CASE WHEN fail > $i THEN 1 ELSE 0 END) AS BIGINT) AS docs_out,
           |  CAST(sum(CASE WHEN fail >= $i THEN 1 ELSE 0 END) - sum(CASE WHEN fail > $i THEN 1 ELSE 0 END) AS BIGINT) AS docs_dropped,
           |  CAST(sum(CASE WHEN fail > $i THEN l ELSE 0 END) AS BIGINT) AS chars_out
           |FROM f""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH f AS (SELECT CASE $chain ELSE ${preds.size} END AS fail,
         |  coalesce(len(text), 0) AS l FROM documents)
         |$stages
         |ORDER BY stage_idx""".stripMargin
    })),

    // ---- weighted (tf-idf) near-dup pairs. This corpus is the SMALL-VOCAB
    // regime (31 terms, dense postings), so the headline entry runs the
    // broadcast JIT sweep; the inverted-index plan — the Zipfian-corpus
    // path — is oracled on a subset below (vs the same oracle shape) ------
    // ---- per-document TF-IDF keyword extraction (integer-exact weights;
    // the df-gate IS the stopword list) -----------------------------------
    Q("q_keywords", "TextAnalysis", (s, dir) => {
      TextAnalysis.keywords(Tables.documents(s, dir), "doc_id", "text",
        k = 5, maxDfPct = 60)
        .orderBy(col("doc"), col("rank"))
    }, sql(
      // per-doc TF-IDF top-k keywords: the tfidf_pairs integer weighting
      // (w = tf * ((N*100) // df), df-gated) ranked per doc, ties to the term
      """WITH t AS (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf FROM t WHERE term <> '' GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT doc, term, tf, tf * ((n.n * 100) // df.df) AS weight
        |      FROM tf JOIN df USING (term) CROSS JOIN n WHERE df.df * 100 <= n.n * 60),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc ORDER BY weight DESC, term) AS rank FROM w)
        |SELECT doc, term, tf, weight, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY doc, rank""".stripMargin)),

    // ---- corpus keyphrases, RAKE-style: maximal runs between stopwords
    // (df-gate ∪ the closed-class list), integer degree/freq scores -------
    Q("q_keyphrases", "TextAnalysis", (s, dir) => {
      TextAnalysis.keyphrases(Tables.documents(s, dir), "doc_id", "text",
        k = 20, stopDfPct = 90, maxPhraseLen = 4,
        extraStops = TextAnalysis.stopwords)
    }, sql(
      // tf-idf pairs: integer-quantized idf (w = tf * ((N*100) // df), terms
      // with df > 78% of docs dropped) makes dots and norms exact BIGINT sums.
      // The _inv twin is the identical computation over the doc_id%10 subset
      // (N and df re-derived WITHIN the subset, exactly like the operator
      // sees them).
      // RAKE keyphrases: islands between stopwords (df-gate at 90% finds
      // none in this corpus; the closed-class list does the splitting),
      // integer degree/freq word scores summed per distinct phrase
      """WITH tok AS (SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
        |        unnest(string_split(text, ' ')) AS term
        |      FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT * FROM tok WHERE term <> ''),
        |d AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE text IS NOT NULL),
        |stop AS (SELECT term FROM d CROSS JOIN n WHERE df * 100 > n * 90
        |         UNION SELECT unnest(['the','a','an','and','or','of','to','in','is','it'])),
        |nt AS (SELECT doc_id, pos, term,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |       FROM t WHERE term NOT IN (SELECT term FROM stop)),
        |p AS (SELECT doc_id, grp, string_agg(term, ' ' ORDER BY pos) AS phrase,
        |        CAST(count(*) AS BIGINT) AS n_words
        |      FROM nt GROUP BY 1, 2),
        |pf AS (SELECT * FROM p WHERE n_words <= 4),
        |w AS (SELECT unnest(string_split(phrase, ' ')) AS term, n_words FROM pf),
        |ws AS (SELECT term, CAST(sum(n_words) * 1000000 // count(*) AS BIGINT) AS wscore
        |       FROM w GROUP BY 1),
        |ph AS (SELECT phrase, CAST(min(n_words) AS BIGINT) AS n_words,
        |         CAST(count(*) AS BIGINT) AS occurrences
        |       FROM pf GROUP BY 1),
        |sc AS (SELECT u.phrase, CAST(sum(ws.wscore) AS BIGINT) AS score_ppm
        |       FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS term FROM ph) u
        |       JOIN ws USING (term) GROUP BY 1)
        |SELECT ph.phrase, ph.n_words, ph.occurrences, sc.score_ppm
        |FROM ph JOIN sc USING (phrase)
        |ORDER BY score_ppm DESC, occurrences DESC, phrase
        |LIMIT 20""".stripMargin)),

    Q("q_tfidf_pairs", "TextAnalysis", (s, dir) => {
      TextAnalysis.tfidfSimilarDense(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.9, maxDfPct = 78)
        .orderBy(col("d1"), col("d2"))
    }, sql(
      """WITH t AS (SELECT doc_id AS d, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT d, tok, CAST(count(*) AS BIGINT) AS c FROM t WHERE tok <> '' GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT d, tok, c * ((n.n * 100) // df.df) AS w
        |      FROM tf JOIN df USING (tok) CROSS JOIN n WHERE df.df * 100 <= n.n * 78),
        |nm AS (SELECT d, sum(w * w) AS n2 FROM w GROUP BY 1),
        |p AS (SELECT a.d AS d1, b.d AS d2, sum(a.w * b.w) AS dot
        |      FROM w a JOIN w b ON a.tok = b.tok AND a.d < b.d GROUP BY 1, 2)
        |SELECT d1, d2, sim FROM (
        |  SELECT d1, d2, round(dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) AS sim
        |  FROM p JOIN nm na ON p.d1 = na.d JOIN nm nb ON p.d2 = nb.d)
        |WHERE sim >= 0.9 ORDER BY d1, d2""".stripMargin)),

    // ---- the inverted-index twin, unchanged semantics; route PINNED to
    // the index so the salted posting-list plan stays oracle-checked (the
    // auto gate would route this dense corpus to the dense sweep) ----------
    Q("q_tfidf_pairs_inv", "TextAnalysis", (s, dir) => {
      TextAnalysis.tfidfSimilar(
        Tables.documents(s, dir).where(col("doc_id") % 10 === 0), "doc_id", "text",
        threshold = 0.9, maxDfPct = 78, route = "index")
        .orderBy(col("d1"), col("d2"))
    }, sql(tfidfPairsInvOracleSql)),

    // ---- the ROUTED entry point: the density gate compares
    // Σ C(df,2) against C(n,2) and picks the physical plan — on this dense
    // small-vocab corpus it flips to the dense sweep; same oracle as the
    // pinned index twin proves hash equality across the routes -------------
    Q("q_tfidf_auto", "TextAnalysis", (s, dir) => {
      TextAnalysis.tfidfSimilar(
        Tables.documents(s, dir).where(col("doc_id") % 10 === 0), "doc_id", "text",
        threshold = 0.9, maxDfPct = 78)
        .orderBy(col("d1"), col("d2"))
    }, sql(
      // the routed entry answers the SAME oracle as the pinned index twin —
      // routing is a physical choice only (hash-equality proof)
      tfidfPairsInvOracleSql)),

    // ---- boilerplate n-gram coverage: per-doc fraction of 3-gram
    // occurrences that appear in > 60% of documents ------------------------
    Q("q_boilerplate", "TextAnalysis", (s, dir) => {
      TextAnalysis.boilerplateCoverage(Tables.documents(s, dir), "doc_id", "text",
        n = 3, minDfPct = 60)
        .orderBy(col("doc_id"))
    }, sql(
      // boilerplate coverage: doc-distinct grams -> df blocklist; the per-doc
      // occurrence stream left-joins it; integer counts, one final ratio
      """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id,
        |    unnest([array_to_string(toks[i:i+2], ' ') FOR i IN generate_series(1, len(toks) - 2)]) AS gm
        |  FROM d WHERE len(toks) >= 3),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE text IS NOT NULL),
        |bl AS (SELECT gm FROM (SELECT gm, count(DISTINCT doc_id) AS df FROM g GROUP BY 1)
        |       CROSS JOIN n WHERE df * 100 > n.n * 60)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN bl.gm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  round(sum(CASE WHEN bl.gm IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS boiler_frac
        |FROM g LEFT JOIN bl ON g.gm = bl.gm
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- per-source bigram diversity (type-token ratio) ------------------
    Q("q_ngram_diversity", "TextAnalysis", (s, dir) => {
      TextAnalysis.ngramDiversity(Tables.documents(s, dir), "source", "text", n = 2)
        .orderBy(col("source"))
    }, sql(
      // bigram diversity: distinct/total n-gram counts are exact integers
      """WITH d AS (SELECT source, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT source,
        |    unnest([array_to_string(toks[i:i+1], ' ') FOR i IN generate_series(1, len(toks) - 1)]) AS gm
        |  FROM d WHERE len(toks) >= 2),
        |c AS (SELECT source, gm, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_grams, CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(count(*)::DOUBLE / CAST(sum(c) AS DOUBLE), 6) AS ttr
        |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // ---- token co-occurrence lift (exp-PMI association table) ------------
    Q("q_cooccur_lift", "TextAnalysis", (s, dir) => {
      TextAnalysis.cooccurrenceLift(Tables.documents(s, dir), "doc_id", "text", minCount = 5L)
        .orderBy(col("t1"), col("t2"))
    }, sql(
      // co-occurrence lift: document-presence counts are exact integers; lift
      // is one double division of exact integer products (no logs - libm ulps
      // differ between engines, so exp-PMI is emitted instead of PMI)
      """WITH d AS (SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        |ct AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
        |p AS (SELECT a.tok AS t1, b.tok AS t2, CAST(count(*) AS BIGINT) AS n_both
        |      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok GROUP BY 1, 2)
        |SELECT p.t1, p.t2, p.n_both,
        |  round((p.n_both * n.n)::DOUBLE / (ca.c * cb.c)::DOUBLE, 6) AS lift
        |FROM p JOIN ct ca ON p.t1 = ca.tok JOIN ct cb ON p.t2 = cb.tok CROSS JOIN n
        |WHERE p.n_both >= 5 ORDER BY t1, t2""".stripMargin)),

    // ---- Flesch / Flesch-Kincaid readability ------------------------------
    Q("q_readability", "TextAnalysis", (s, dir) => {
      TextAnalysis.readability(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, sql(
      // readability: both counts are single character-class regexes (Java
      // regex == RE2 semantics); the formulas are double arithmetic over
      // exact longs with identically-parsed literal constants
      """WITH b AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sents,
        |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS n_syll
        |  FROM documents)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
        |        - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch,
        |  round(0.39 * (CAST(n_words AS DOUBLE) / n_sents)
        |        + 11.8 * (CAST(n_syll AS DOUBLE) / n_words) - 15.59, 6) AS fk_grade
        |FROM b ORDER BY doc_id""".stripMargin)),

    // ---- per-source Simpson token diversity ------------------------------
    Q("q_token_diversity", "TextAnalysis", (s, dir) => {
      TextAnalysis.tokenDiversity(Tables.documents(s, dir), "source", "text")
        .orderBy(col("source"))
    }, sql(
      // Simpson diversity: every emitted number is a ratio of exact integer
      // sums — no logs, no float accumulation order anywhere
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
        |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        CAST(count(*) AS BIGINT) AS n_types,
        |        CAST(sum(c * (c - 1)) AS BIGINT) AS d FROM c GROUP BY 1)
        |SELECT source, n_tokens, n_types,
        |  round(1.0 - CAST(d AS DOUBLE) / (n_tokens * (n_tokens - 1)), 6) AS simpson,
        |  round(CAST(n_tokens * n_tokens AS DOUBLE) / (d + n_tokens), 6) AS eff_types
        |FROM a ORDER BY source""".stripMargin)),

    // ---- tokenizer fertility per language (subword cost report) ----------
    Q("q_fertility", "TextAnalysis", (s, dir) => {
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir), "text", col("lang"))
        .orderBy(col("lang"))
    }, sql(
      // fertility: one agg of exact BIGINT sums per language; the same
      // split/regex tokenizers as q_text_stats / q_token_count
      """WITH d AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS b,
        |    CAST(length(text) AS BIGINT) AS c
        |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words, CAST(sum(b) AS BIGINT) AS n_tokens,
        |  CAST(sum(c) AS BIGINT) AS n_chars,
        |  CASE WHEN sum(w) = 0 THEN NULL
        |       ELSE round(CAST(sum(b) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) END AS fertility,
        |  CASE WHEN sum(b) = 0 THEN NULL
        |       ELSE round(CAST(sum(c) AS DOUBLE) / CAST(sum(b) AS DOUBLE), 6) END AS chars_per_token
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- chance-corrected labeling-function agreement (Cohen's kappa) ----
    Q("q_lf_kappa", "TextAnalysis", (s, dir) => {
      TextAnalysis.kappaMatrix(Tables.documents(s, dir), Seq(
        "len_ok" -> when(col("n_chars") >= 300, 1).otherwise(-1),
        "is_en" -> when(col("lang").isNull, 0).when(col("lang") === "en", 1).otherwise(-1),
        "mentions_spark" -> when(col("text").isNull, 0)
          .when(col("text").contains("spark"), 1).otherwise(0)))
        .orderBy(col("lf_a"), col("lf_b"))
    }, sql(
      // Cohen's kappa per LF pair: same vote CTE as the labeling matrix,
      // chance correction from the co-fired marginals
      lfKappaSql)),

    // ---- weak-supervision labeling-function agreement matrix -------------
    Q("q_labeling_matrix", "TextAnalysis", (s, dir) => {
      TextAnalysis.labelingMatrix(Tables.documents(s, dir), Seq(
        "len_ok" -> when(col("n_chars") >= 300, 1).otherwise(-1),
        "is_en" -> when(col("lang").isNull, 0).when(col("lang") === "en", 1).otherwise(-1),
        "mentions_spark" -> when(col("text").isNull, 0)
          .when(col("text").contains("spark"), 1).otherwise(0)))
        .orderBy(col("lf_a"), col("lf_b"))
    }, sql(
      // labeling matrix: the three LF CASE votes restated, one aggregate of
      // conditional sums, pair rows as UNION ALL branches
      labelingMatrixSql)))

  /** Shared by q_tfidf_pairs_inv (route pinned to the salted inverted
    * index) and q_tfidf_auto (the density-routed entry, which flips this
    * dense corpus to the dense sweep): both physical plans must produce
    * THIS result — the hash-equality proof across routes rides the oracle.
    */
  private lazy val tfidfPairsInvOracleSql: String =
    """WITH t AS (SELECT doc_id AS d, unnest(string_split(text, ' ')) AS tok
      |  FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0),
      |tf AS (SELECT d, tok, CAST(count(*) AS BIGINT) AS c FROM t WHERE tok <> '' GROUP BY 1, 2),
      |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0),
      |w AS (SELECT d, tok, c * ((n.n * 100) // df.df) AS w
      |      FROM tf JOIN df USING (tok) CROSS JOIN n WHERE df.df * 100 <= n.n * 78),
      |nm AS (SELECT d, sum(w * w) AS n2 FROM w GROUP BY 1),
      |p AS (SELECT a.d AS d1, b.d AS d2, sum(a.w * b.w) AS dot
      |      FROM w a JOIN w b ON a.tok = b.tok AND a.d < b.d GROUP BY 1, 2)
      |SELECT d1, d2, sim FROM (
      |  SELECT d1, d2, round(dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) AS sim
      |  FROM p JOIN nm na ON p.d1 = na.d JOIN nm nb ON p.d2 = nb.d)
      |WHERE sim >= 0.9 ORDER BY d1, d2""".stripMargin

  /** DuckDB mirror of [[TextAnalysis.labelingMatrix]] over the three
    * q_labeling_matrix functions — identical CASE votes, one aggregate of
    * conditional sums, pair rows as UNION ALL branches.
    */
  private lazy val labelingMatrixSql: String = {
    val names = Seq("len_ok", "is_en", "mentions_spark")
    val votes = Seq(
      "CASE WHEN n_chars >= 300 THEN 1 ELSE -1 END",
      "CASE WHEN lang IS NULL THEN 0 WHEN lang = 'en' THEN 1 ELSE -1 END",
      "CASE WHEN text IS NULL THEN 0 WHEN contains(text, 'spark') THEN 1 ELSE 0 END")
    val pairs = for (i <- names.indices; j <- names.indices if i <= j) yield (i, j)
    val sums = pairs.flatMap { case (i, j) =>
      val f = s"l$i <> 0 AND l$j <> 0"
      Seq(
        s"CAST(sum(CASE WHEN $f THEN 1 ELSE 0 END) AS BIGINT) AS b${i}_$j",
        s"CAST(sum(CASE WHEN $f AND l$i = l$j THEN 1 ELSE 0 END) AS BIGINT) AS a${i}_$j",
        s"CAST(sum(CASE WHEN $f AND l$i <> l$j THEN 1 ELSE 0 END) AS BIGINT) AS c${i}_$j")
    }.mkString(",\n  ")
    val branches = pairs.map { case (i, j) =>
      s"""SELECT '${names(i)}' AS lf_a, '${names(j)}' AS lf_b, n AS n_rows,
         |  b${i}_$j AS n_both, a${i}_$j AS n_agree, c${i}_$j AS n_conflict FROM agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT ${votes.zipWithIndex.map { case (v, i) => s"$v AS l$i" }.mkString(", ")}
       |  FROM documents),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  $sums FROM v)
       |$branches
       |ORDER BY lf_a, lf_b""".stripMargin
  }

  /** DuckDB mirror of [[TextAnalysis.kappaMatrix]] over the same three
    * labeling functions as [[labelingMatrixSql]]: one aggregate of
    * conditional sums (co-fire count, agreement, both marginals), kappa
    * assembled per pair as UNION ALL branches with the engine's exact
    * expression shape (`pe` from the two +1 marginal shares).
    */
  private lazy val lfKappaSql: String = {
    val names = Seq("len_ok", "is_en", "mentions_spark")
    val votes = Seq(
      "CASE WHEN n_chars >= 300 THEN 1 ELSE -1 END",
      "CASE WHEN lang IS NULL THEN 0 WHEN lang = 'en' THEN 1 ELSE -1 END",
      "CASE WHEN text IS NULL THEN 0 WHEN contains(text, 'spark') THEN 1 ELSE 0 END")
    val pairs = for (i <- names.indices; j <- names.indices if i < j) yield (i, j)
    val sums = pairs.flatMap { case (i, j) =>
      val f = s"l$i <> 0 AND l$j <> 0"
      Seq(
        s"CAST(sum(CASE WHEN $f THEN 1 ELSE 0 END) AS BIGINT) AS n${i}_$j",
        s"CAST(sum(CASE WHEN $f AND l$i = l$j THEN 1 ELSE 0 END) AS BIGINT) AS o${i}_$j",
        s"CAST(sum(CASE WHEN $f AND l$i = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ap${i}_$j",
        s"CAST(sum(CASE WHEN $f AND l$j = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bp${i}_$j")
    }.mkString(",\n  ")
    val branches = pairs.map { case (i, j) =>
      val n = s"n${i}_$j"
      val po = s"(CAST(o${i}_$j AS DOUBLE) / $n)"
      val ap = s"(CAST(ap${i}_$j AS DOUBLE) / $n)"
      val bp = s"(CAST(bp${i}_$j AS DOUBLE) / $n)"
      val pe = s"($ap * $bp + (1.0 - $ap) * (1.0 - $bp))"
      s"""SELECT '${names(i)}' AS lf_a, '${names(j)}' AS lf_b, $n AS n_both,
         |  CASE WHEN $n > 0 THEN round($po, 6) END AS po,
         |  CASE WHEN $n > 0 THEN round($pe, 6) END AS pe,
         |  CASE WHEN $n > 0 AND $pe < 1.0
         |       THEN round(($po - $pe) / (1.0 - $pe), 6) END AS kappa
         |FROM agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT ${votes.zipWithIndex.map { case (v, i) => s"$v AS l$i" }.mkString(", ")}
       |  FROM documents),
       |agg AS (SELECT $sums FROM v)
       |$branches
       |ORDER BY lf_a, lf_b""".stripMargin
  }

  /** DuckDB mirror of [[TextAnalysis.bpeEncode]] around Verify-time learned
    * merges: the identical wrapped-symbol replace fold, as nested built-in
    * `replace` calls per word (list_transform keeps word order; no explode).
    * Merge symbols interpolate as SQL literals with quotes doubled.
    */
  private def bpeEncodeSql(merges: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("'", "''")
    val wrapped = "'·' || array_to_string(string_split(w, ''), '··') || '·'"
    val folded = merges.foldLeft(wrapped) { case (c, (a, b)) =>
      s"replace($c, '·${esc(a)}··${esc(b)}·', '·${esc(a)}${esc(b)}·')"
    }
    s"""WITH e AS (SELECT doc_id,
       |    flatten(list_transform(string_split(text, ' '),
       |      w -> string_split(regexp_replace($folded, '^·|·$$', '', 'g'), '··'))) AS toks
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id, array_to_string(toks, ' ') AS encoded,
       |  CAST(len(toks) AS BIGINT) AS n_tokens
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** Self-trained add-k bigram LM cross-entropy — shared by q_lm_xent and
    * (as a CTE) q_quality_buckets. The score reuses the EXACT expression
    * tree of the Column plan: (c2 + k) / (c1 + k * v), log2, avg, negate,
    * round — double arithmetic is order-sensitive.
    */
  private val lmXentSql: String =
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
      |g AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(0, len(toks) - 2),
      |    i -> array_to_string(toks[i + 1 : i + 2], ' '))) AS g FROM tk),
      |c2 AS (SELECT g, count(*) AS c2 FROM g GROUP BY 1),
      |c1 AS (SELECT string_split(g, ' ')[1] AS w1, count(*) AS c1 FROM g GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v
      |      FROM (SELECT unnest(toks) AS t FROM tk))
      |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(-avg(log2((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v))), 6) AS xent
      |FROM g JOIN c2 ON g.g = c2.g
      |       JOIN c1 ON string_split(g.g, ' ')[1] = c1.w1, v
      |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[operators.TextAnalysis.textRank]]: the q_chunk_docs
    * slice math builds distinct-token chunk sets, a doc-local inequality
    * join weights edges by intersect size, and `iters` rounds of the
    * weighted integer PageRank recurrence are UNROLLED (the pageRankSql
    * convention) — all BIGINT, `//` truncation == Spark's DIV. */
  private def textRankSql(chunkTokens: Int, overlap: Int, iters: Int,
      topK: Int, scale: Long): String = {
    val step = chunkTokens - overlap
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      s"""c$i AS (SELECT e.doc_id, e.v AS cid,
         |    CAST(sum(((a.pr * 85) // 100) * e.w // ow.W) AS BIGINT) AS m
         |  FROM e JOIN $prev a ON e.doc_id = a.doc_id AND e.u = a.cid
         |         JOIN ow ON ow.doc_id = e.doc_id AND ow.u = e.u
         |  GROUP BY 1, 2),
         |p$i AS (SELECT p.doc_id, p.cid, p.tp,
         |    p.tp + coalesce(c$i.m, CAST(0 AS BIGINT)) AS pr
         |  FROM $prev p LEFT JOIN c$i ON p.doc_id = c$i.doc_id AND p.cid = c$i.cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT doc_id, toks,
       |    ((greatest(len(toks) - $chunkTokens, 0) + ${step - 1}) // $step) + 1 AS nc FROM t),
       |ch AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS cid FROM c),
       |cs AS (SELECT doc_id, CAST(cid AS BIGINT) AS cid,
       |    list_distinct(toks[cid * $step + 1 : cid * $step + $chunkTokens]) AS ts FROM ch),
       |e0 AS (SELECT a.doc_id, a.cid AS u, b.cid AS v,
       |    CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS w
       |  FROM cs a JOIN cs b ON a.doc_id = b.doc_id AND a.cid < b.cid
       |  WHERE len(list_intersect(a.ts, b.ts)) > 0),
       |e AS (SELECT doc_id, u, v, w FROM e0
       |  UNION ALL SELECT doc_id, v, u, w FROM e0),
       |ow AS (SELECT doc_id, u, CAST(sum(w) AS BIGINT) AS W FROM e GROUP BY 1, 2),
       |nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM cs GROUP BY 1),
       |p0 AS (SELECT cs.doc_id, cs.cid,
       |    CAST($scale AS BIGINT) // n AS pr,
       |    (CAST($scale AS BIGINT) * 15 // 100) // n AS tp
       |  FROM cs JOIN nd ON cs.doc_id = nd.doc_id),
       |$rounds
       |SELECT doc_id, cid AS chunk_id, CAST(rank AS BIGINT) AS rank,
       |  CAST(pr AS BIGINT) AS score
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY pr DESC, cid) AS rank FROM p$iters)
       |WHERE rank <= $topK ORDER BY doc_id, rank""".stripMargin
  }

  // the PII patterns, shared verbatim with [[TextAnalysis]] (lookaround-free:
  // legal in both Java regex and RE2)
  private val PII_EMAIL = TextAnalysis.piiEmailRe

  private val PII_IPV4 = TextAnalysis.piiIpv4Re

  private val PII_PHONE = TextAnalysis.piiPhoneRe
}
