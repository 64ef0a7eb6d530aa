package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Telemetry

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, fingerprinting. All pure
  * `functions._` compositions — codegen'd, no UDFs, embarrassingly parallel
  * (per-row), so they scale linearly with input splits.
  */
object TextAnalysis {

  /** [[graft.Telemetry.note]] key of the plan each [[tfidfSimilar]] call
    * took ("index" | "dense") — routing evidence for specs and the scale
    * drill. Diagnostic only. */
  final val TfidfRoute = "text.tfidf.route"

  /** Whitespace tokens of a single-spaced document. */
  def tokens(text: Column): Column = split(text, " ")

  /** The closed-class list behind [[isStopword]] — public so callers (the
    * RAKE keyphrase query) can pass it as [[keyphrases]]' `extraStops`. */
  val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def isStopword(t: Column): Column = t.isin(stopwords.map(_.asInstanceOf[Any]): _*)

  /** Token count, char count, average token length, stopword ratio. */
  def stats(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = tokens(col(text))
    df.select(
      col(id),
      size(toks).as("n_tokens"),
      length(col(text)).as("n_chars"),
      size(filter(toks, isStopword _)).as("n_stop"))
      .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_tokens"), 6))
      .withColumn(
        "avg_token_len",
        round((col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"), 6))
  }

  /** Snorkel-style labeling-function agreement matrix: each LF is a Column
    * emitting an INT vote (`1` positive, `-1` negative, `0` abstain); the
    * report gives, for every LF pair `(a <= b)`, how often both fired, how
    * often they agreed, and how often they CONFLICTED — the diagnostics
    * weak-supervision label models are tuned on (diagonal rows double as
    * per-LF coverage). Null votes count as abstain.
    *
    * ONE map-side-combinable aggregate carries all `3·k(k+1)/2` conditional
    * sums; the pair rows explode from the single result row (the
    * filter-funnel pattern) — the corpus is scanned once no matter how many
    * LFs are compared.
    */
  def labelingMatrix(df: DataFrame, fns: Seq[(String, Column)]): DataFrame = {
    require(fns.nonEmpty, "need at least one labeling function")
    val votes = fns.zipWithIndex.map { case ((_, c), i) =>
      coalesce(c.cast("int"), lit(0)).as(s"__l$i")
    }
    val base = df.select(votes: _*)
    val pairs = for (i <- fns.indices; j <- fns.indices if i <= j) yield (i, j)
    val aggs = count(lit(1)).as("__n") +: pairs.flatMap { case (i, j) =>
      val fired = col(s"__l$i") =!= 0 && col(s"__l$j") =!= 0
      Seq(
        sum(when(fired, 1L).otherwise(0L)).as(s"__b${i}_$j"),
        sum(when(fired && col(s"__l$i") === col(s"__l$j"), 1L).otherwise(0L)).as(s"__a${i}_$j"),
        sum(when(fired && col(s"__l$i") =!= col(s"__l$j"), 1L).otherwise(0L)).as(s"__c${i}_$j"))
    }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (i, j) =>
      struct(
        lit(fns(i)._1).as("lf_a"), lit(fns(j)._1).as("lf_b"),
        col("__n").as("n_rows"),
        coalesce(col(s"__b${i}_$j"), lit(0L)).as("n_both"),
        coalesce(col(s"__a${i}_$j"), lit(0L)).as("n_agree"),
        coalesce(col(s"__c${i}_$j"), lit(0L)).as("n_conflict"))
    }
    one.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** Cohen's kappa per labeling-function pair — chance-corrected agreement
    * over the rows where BOTH functions fired (abstains excluded, the
    * Snorkel convention): `κ = (p_o − p_e) / (1 − p_e)` with `p_e` from the
    * two functions' marginal vote distributions on that shared support.
    * Raw agreement ([[labelingMatrix]]) rewards a pair that both vote +1 on
    * everything; kappa calls that 0 — the signal dataset-weak-supervision
    * audits actually rank LF pairs by.
    *
    * Same single-scan shape as [[labelingMatrix]]: every pair's agreement
    * AND marginal counts are conditional sums in ONE map-side-combinable
    * aggregation pass; kappa assembles on the one result row. `kappa` is
    * null when a pair never co-fires or when `p_e = 1` (both functions
    * constant — chance agreement saturates and κ is undefined).
    * Ratios round to 6 places (ratios of engine-exact longs).
    */
  def kappaMatrix(df: DataFrame, fns: Seq[(String, Column)]): DataFrame = {
    require(fns.size >= 2, s"need at least two labeling functions, got ${fns.size}")
    val votes = fns.zipWithIndex.map { case ((_, c), i) =>
      coalesce(c.cast("int"), lit(0)).as(s"__l$i")
    }
    val base = df.select(votes: _*)
    val pairs = for (i <- fns.indices; j <- fns.indices if i < j) yield (i, j)
    val aggs = pairs.flatMap { case (i, j) =>
      val fired = col(s"__l$i") =!= 0 && col(s"__l$j") =!= 0
      Seq(
        sum(when(fired, 1L).otherwise(0L)).as(s"__n${i}_$j"),
        sum(when(fired && col(s"__l$i") === col(s"__l$j"), 1L).otherwise(0L)).as(s"__o${i}_$j"),
        sum(when(fired && col(s"__l$i") === 1, 1L).otherwise(0L)).as(s"__ap${i}_$j"),
        sum(when(fired && col(s"__l$j") === 1, 1L).otherwise(0L)).as(s"__bp${i}_$j"))
    }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (i, j) =>
      val n = coalesce(col(s"__n${i}_$j"), lit(0L))
      val po = col(s"__o${i}_$j") / n
      val ap = col(s"__ap${i}_$j") / n // P(A = +1 | both fired)
      val bp = col(s"__bp${i}_$j") / n
      val pe = ap * bp + (lit(1.0) - ap) * (lit(1.0) - bp)
      struct(
        lit(fns(i)._1).as("lf_a"), lit(fns(j)._1).as("lf_b"),
        n.as("n_both"),
        when(n > 0, round(po, 6)).as("po"),
        when(n > 0, round(pe, 6)).as("pe"),
        when(n > 0 && pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
    }
    one.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** Tokenizer fertility per group (usually language): subword tokens per
    * whitespace word and characters per subword token — the cross-lingual
    * cost report behind vocabulary-size decisions. A language whose
    * fertility is 2× pays 2× the sequence length for the same text; UniMax/
    * mT5-style budget planning reads exactly this table. Uses the BPE-ish
    * regex tokenizer ([[bpeTokens]]) over the whitespace-word baseline.
    *
    * ONE map-side-combinable aggregate; ratios are single divisions of
    * exact BIGINT sums.
    */
  def tokenizerFertility(df: DataFrame, text: String, group: Column): DataFrame = {
    val base = df.where(col(text).isNotNull && group.isNotNull)
      .select(group.cast("string").as("lang"),
        size(tokens(col(text))).cast("long").as("__w"),
        size(bpeTokens(col(text))).cast("long").as("__b"),
        length(col(text)).cast("long").as("__c"))
    base.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__b")).as("n_tokens"),
        sum(col("__c")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"), col("n_chars"),
        when(col("n_words") === 0, lit(null))
          .otherwise(round(col("n_tokens") / col("n_words"), 6)).as("fertility"),
        when(col("n_tokens") === 0, lit(null))
          .otherwise(round(col("n_chars") / col("n_tokens"), 6)).as("chars_per_token"))
  }

  /** Per-group token diversity via Simpson's index — vocabulary
    * CONCENTRATION, the signal [[ngramDiversity]]'s type-token ratio can't
    * give: `simpson = 1 − Σ c(c−1) / (T(T−1))` is the probability two
    * tokens drawn without replacement differ, and `eff_types = T² / Σc²`
    * is the equivalent number of equally-frequent types (inverse-Simpson).
    * A source whose eff_types craters while n_types stays high is a few
    * templates hiding behind a long tail.
    *
    * Every number is a ratio of EXACT integer sums — no logs, no float
    * accumulation order — so any engine reproduces the 6-dp values
    * bit-for-bit (the [[cooccurrenceLift]] no-libm principle). The integer
    * products bound the corpus at ~3·10⁹ tokens per group (T² in a long);
    * beyond that, promote to double at a last-ulp cost.
    *
    * Plan shape: one explode into two stacked map-side-combinable
    * aggregations — corpus → vocab-sized count table → groups-sized
    * summary. Nothing corpus-sized shuffles twice.
    */
  def tokenDiversity(df: DataFrame, group: String, text: String): DataFrame = {
    val counts = df.where(col(text).isNotNull)
      .select(col(group), explode(tokens(col(text))).as("tok"))
      .groupBy(col(group), col("tok")).agg(count(lit(1)).as("c"))
    counts.groupBy(col(group))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c") * (col("c") - 1)).as("__d"))
      .select(col(group), col("n_tokens"), col("n_types"),
        round(lit(1.0) - col("__d").cast("double") /
          (col("n_tokens") * (col("n_tokens") - 1)), 6).as("simpson"),
        round((col("n_tokens") * col("n_tokens")).cast("double") /
          (col("__d") + col("n_tokens")), 6).as("eff_types"))
  }

  /** Flesch reading-ease and Flesch–Kincaid grade per document, with a
    * vowel-group syllable heuristic (each maximal `[aeiouy]+` run counts
    * one syllable — the standard dictionary-free approximation) and
    * `[.!?]+` runs as sentence ends (min 1, so fragments don't divide by
    * zero). Both counts are single character-class regexes, semantically
    * identical under Java regex and RE2, so any engine reproduces the
    * integers; the two score formulas are then double arithmetic over
    * exact longs, rounded to 6.
    *
    * Map-only codegen'd projection — per-row, shuffle-free, linear in
    * input splits. The scores feed the same gates as [[qualityScore]]: a
    * corpus whose Flesch collapses is template spam or OCR noise.
    */
  def readability(df: DataFrame, id: String, text: String): DataFrame = {
    val w = size(tokens(col(text))).cast("double")
    val s = greatest(lit(1), regexp_count(col(text), lit("[.!?]+"))).cast("double")
    val y = regexp_count(col(text), lit("[aeiouyAEIOUY]+")).cast("double")
    df.select(
      col(id),
      size(tokens(col(text))).cast("long").as("n_words"),
      greatest(lit(1), regexp_count(col(text), lit("[.!?]+"))).cast("long").as("n_sents"),
      regexp_count(col(text), lit("[aeiouyAEIOUY]+")).cast("long").as("n_syll"),
      round(lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (y / w), 6).as("flesch"),
      round(lit(0.39) * (w / s) + lit(11.8) * (y / w) - lit(15.59), 6).as("fk_grade"))
  }

  /** Quality score: length-normalized token count damped by stopword density —
    * a deterministic heuristic in the spirit of C4/Gopher quality filters
    * (length + stopword signals), chosen to be exactly reproducible in ANSI
    * SQL for the oracle.
    */
  def qualityScore(df: DataFrame, id: String, text: String): DataFrame =
    // the stopword ratio here is NOT the (display-rounded) stats() column:
    // rounding before the product would shift the 6th decimal of the score
    stats(df, id, text).withColumn(
      "quality",
      round(
        log(lit(1.0) + col("n_tokens")) *
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")), 6))

  /** Grouping-sets corpus rollup — the OLAP reporting cut over curation
    * dimensions: document and token counts for every `CUBE(dims)` cell
    * (each dim combination plus all subtotals and the grand total),
    * subtotal slots labeled `"ALL"`. One aggregation — Spark expands the
    * cube into grouping sets inside a single `Aggregate`, all counts are
    * map-side combinable, output is bounded by the dimension cardinality
    * product. Assumes the dims themselves are non-null (the testdata
    * convention); a null dim value would conflate with its subtotal row.
    */
  def corpusRollup(df: DataFrame, text: String, dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "corpusRollup needs at least one dimension")
    df.cube(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col(text))).cast("long")).as("n_tokens"))
      .select(dims.map(d => coalesce(col(d), lit("ALL")).as(d)) ++
        Seq(col("n_docs"), col("n_tokens")): _*)
  }

  /** Per-group quality-score calibration — the cross-source comparability
    * fix every mixture pipeline needs before thresholding on a heuristic
    * score: raw [[qualityScore]] distributions differ by source (a news
    * crawl and a forum dump don't share a scale), so each document gets its
    * `percent_rank` WITHIN its group. A single global threshold on the
    * calibrated rank then keeps the same top fraction of every source
    * instead of silently dropping whole sources whose raw scores run low.
    *
    * `pct` is floor-quantized to 6 places; percent_rank itself is the
    * exact rational `(rank-1)/(n-1)` over the already-6dp-rounded quality
    * (ties share a rank, so equal scores calibrate equally) — engine-exact
    * given identical scores.
    *
    * Plan shape: the scoring scan plus ONE rank window partitioned by the
    * group — per-partition state is a sort of that group's scores. Groups
    * at 100 TB are source-sized (large): swap the window for the two-pass
    * histogram rank (bucketed counts + prefix sums) if a single source
    * outgrows a task's sort budget.
    */
  def calibrateByGroup(df: DataFrame, id: String, text: String, group: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(group)).orderBy(col("quality"))
    qualityScore(df, id, text)
      .select(col(id), col("quality"))
      .join(df.select(col(id), col(group)), Seq(id))
      .withColumn("pct",
        floor(percent_rank().over(w) * 1000000.0) / 1000000.0)
      .select(col(id), col(group), col("quality"), col("pct"))
  }

  /** n-gram-heuristic language ID: score each candidate language by its
    * marker-token hit count; highest hit count wins, ties and zero hits fall
    * back to "und". Marker lists are deterministic and tiny (broadcast as
    * literals into the plan).
    */
  def langId(df: DataFrame, id: String, text: String): DataFrame = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and", "of", "to"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "fr" -> Seq("le", "la", "les", "et", "est"))
    val toks = tokens(col(text))
    val scored = markers.foldLeft(df.select(col(id), toks.as("__toks"))) { case (acc, (lang, ws)) =>
      acc.withColumn(s"__hits_$lang", size(filter(col("__toks"), t => t.isin(ws.map(_.asInstanceOf[Any]): _*))))
    }
    val best = markers.map { case (lang, _) => struct(col(s"__hits_$lang").as("h"), lit(lang).as("l")) }
    scored
      .withColumn("__best", greatest(best: _*))
      .select(
        col(id),
        when(col("__best.h") > 0, col("__best.l")).otherwise(lit("und")).as("lang_pred"),
        col("__best.h").as("marker_hits"))
  }

  /** Document fingerprint: md5 of the exact text (the grouping key for exact
    * dedup) — stable across engines, unlike engine-specific hash functions.
    */
  def fingerprint(text: Column): Column = md5(text)

  /** BPE-ish pre-tokenization: letter runs, digit runs, and single
    * punctuation marks (the GPT-2-style pre-tokenizer shape, minus the
    * lookaheads RE2-based engines cannot run). Used for token counting on
    * corpora where whitespace splitting undercounts.
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))

  /** Polynomial rolling hash over code points: h0 = c0, h = (h*31 + c) mod
    * (1e9+7) — engine-reproducible (DuckDB: `list_reduce` over `unicode`),
    * cheap (single JIT pass), and order-sensitive unlike a bag-of-words
    * hash. The streaming-friendly fingerprint for incremental pipelines.
    */
  val rollingHash: org.apache.spark.sql.expressions.UserDefinedFunction = udf { (s: String) =>
    if (s == null || s.isEmpty) null.asInstanceOf[java.lang.Long]
    else {
      val cps = s.codePoints().toArray
      var h = cps(0).toLong
      var i = 1
      while (i < cps.length) { h = (h * 31 + cps(i)) % 1000000007L; i += 1 }
      java.lang.Long.valueOf(h)
    }
  }

  /** Word n-gram shingles of a document: positions i..i+n-1 joined by a
    * space. Array-lambda expansion; no UDF. Null text yields a null array
    * (no shingles after explode) — without the guard, `greatest(null, 0)`
    * IGNORES the null and a null doc would mint one phantom "" shingle.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(text.isNotNull,
      transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** The explode-site twin of [[shingles]] as one JIT pass (same windows —
    * [[Dedup.shingleWindows]] — and the same null contract: null text → null
    * array → nothing after explode). Catalyst's interpreted `transform`/
    * `slice` lambdas cost ~10× this loop on corpus-wide gram explodes, so
    * the explode-based operators below use these; the Column form stays for
    * in-plan array composition.
    */
  private val gramsUdf = udf { (s: String, n: Int) =>
    if (s == null) null else Dedup.shingleWindows(s, n)
  }

  private val distinctGramsUdf = udf { (s: String, n: Int) =>
    if (s == null) null else Dedup.shingleWindows(s, n).distinct
  }

  /** Benchmark-contamination scan: which corpus documents share at least one
    * word n-gram with an evaluation set, and how many distinct n-grams they
    * share — the standard train/test-overlap check run before training.
    *
    * The eval side (always small — benchmarks are thousands of items, not
    * terabytes) is distinct-ed and BROADCAST, so the 100 TB corpus side is a
    * single map pass: shingle, hash-semi-join against the in-memory eval
    * set, then one partially-aggregated count per contaminated doc. The
    * corpus is never shuffled; only matching (id, shingle) pairs reach the
    * aggregation exchange.
    */
  def contamination(corpus: DataFrame, evalDf: DataFrame,
      id: String, text: String, n: Int): DataFrame = {
    val evalShingles = evalDf
      .select(explode(distinctGramsUdf(col(text), lit(n))).as("shingle"))
      .distinct()
    corpus
      .select(col(id), explode(distinctGramsUdf(col(text), lit(n))).as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Gopher-style repetition statistics per document: total and distinct
    * word n-grams, the duplicate fraction `1 - distinct/total`, and the
    * share of the single most-repeated n-gram — the signals behind the
    * "repetitious documents" quality filters. Two partial aggregations
    * ((id, gram) then id), both map-side combinable; no windows, no UDFs.
    */
  def repetition(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    df.select(col(id), explode(gramsUdf(col(text), lit(n))).as("__g"))
      .groupBy(col(id), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(id))
      .agg(
        sum(col("__c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("__c")).as("__top"))
      .select(
        col(id),
        col("n_grams"),
        col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6).as("dup_frac"),
        round(col("__top").cast("double") / col("n_grams"), 6).as("top_frac"))

  /** C4/ftfy-lite normalization (NFC + control-char scrub + whitespace
    * collapse) — Column form of the native codegen'd
    * [[graft.plans.NormalizeTextExpr]]; requires
    * [[graft.Engine.registerFunctions]] (or the extensions) to have run.
    */
  def normalizeText(text: Column): Column =
    graft.plans.NormalizeTextExpr.normalizeText(text)

  /** Corpus vocabulary: the `k` most frequent word n-grams, with total
    * occurrences and the number of distinct documents containing each — the
    * Zipf head a curation pass inspects for boilerplate. Two stacked
    * aggregations ((gram, id) then gram), both map-side combinable, then a
    * `TakeOrdered` top-k — never a full sort of the vocabulary.
    */
  def vocabTopK(df: DataFrame, id: String, text: String, n: Int, k: Int): DataFrame =
    df.select(col(id), explode(gramsUdf(col(text), lit(n))).as("gram"))
      .groupBy(col("gram"), col(id))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("gram"))
      .agg(sum(col("__c")).as("n_occur"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occur").desc, col("gram"))
      .limit(k)

  /** Per-group top-k terms — the "what does each source talk about"
    * report (heavy hitters per group, exact). Two stacked
    * map-side-combinable aggregations down to a (group × vocab)-sized
    * table, then ONE rank window over that table — the window runs over
    * vocabulary rows, never corpus rows, so the sort is group-local and
    * small. Rank ties break on the term (deterministic cut at k).
    */
  def topTermsPerGroup(df: DataFrame, group: String, text: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(text).isNotNull)
      .select(col(group), explode(tokens(col(text))).as("term"))
      .groupBy(col(group), col("term"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(group)).orderBy(col("n").desc, col("term"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Per-document TF-IDF keyword extraction: the `k` terms that best
    * characterize each document against the corpus — the tagging /
    * faceting signal a curation UI or a topic sampler consumes (contrast
    * [[topTermsPerGroup]], which profiles sources by raw frequency and so
    * surfaces stopwords unless the corpus is pre-cleaned; IDF does that
    * demotion here automatically).
    *
    * Weighting is the integer-exact scheme shared with [[tfidfSimilar]]:
    * `w = tf * ((N * 100) div df)` — BIGINT end to end, so rank order is
    * bit-identical on any engine (no `log` ulps to reorder near-ties), and
    * terms in more than `maxDfPct`% of documents are dropped outright
    * (df-gate = the stopword list you don't have to curate). Plan shape:
    * one corpus-paying explode into a (doc, term)-keyed agg, a vocab-sized
    * df agg joined back term-keyed, a 1-row broadcast N, then ONE rank
    * window over the (doc × doc-vocab) weighted frame — partitioned by
    * document, so the sort is doc-local; no global window at any size.
    * Rank ties break (weight DESC, term ASC) — deterministic cut at k.
    */
  def keywords(df: DataFrame, id: String, text: String, k: Int = 5,
      maxDfPct: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDfPct >= 1 && maxDfPct <= 100, s"maxDfPct in [1,100], got $maxDfPct")
    val tf = df.where(col(text).isNotNull)
      .select(col(id).as("doc"), explode(tokens(col(text))).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val nDocs = df.where(col(text).isNotNull).agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col("doc")).orderBy(col("weight").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .join(broadcast(nDocs))
      .where(col("__df") * 100 <= col("__n") * maxDfPct)
      .select(col("doc"), col("term"), col("tf"),
        (col("tf") * expr("(__n * 100L) DIV __df")).as("weight"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Corpus-level keyphrase extraction, RAKE-style (Rose et al. 2010):
    * candidate phrases are the maximal token runs BETWEEN stopwords, and a
    * phrase scores by the summed degree/frequency ratio of its member
    * words — multi-word phrases whose members mostly co-occur inside
    * phrases (high degree, low solo frequency) outrank bare frequent
    * words. The stopword list is the same df-gate [[keywords]] uses
    * (terms in more than `stopDfPct`% of documents), so nothing is
    * hand-curated.
    *
    * Integer-exact scoring: `wordScore_ppm = degree · 1e6 div freq` where
    * `freq` counts a word's occurrences inside candidate phrases and
    * `degree` sums the lengths of the phrases it occurs in (the classic
    * RAKE co-occurrence degree, diagonal included); a phrase's score is
    * the BIGINT sum of its member scores — no floats, bit-identical on
    * any engine. Deterministic top-k: total order (score DESC,
    * occurrences DESC, phrase ASC) through a sort-limit, not a global
    * window.
    *
    * Plan shape: one posexplode of the corpus into a (doc, pos, term)
    * frame; the df-gate is a vocab-sized agg broadcast back as one sorted
    * array; islands come from ONE doc-keyed window (sort is doc-local);
    * phrases from one (doc, island)-keyed agg; word stats from one
    * term-keyed agg joined back term-keyed. Nothing global until the
    * final k-row sort-limit.
    *
    * Output: `(phrase, n_words, occurrences, score_ppm)`, the top `k`.
    */
  def keyphrases(df: DataFrame, id: String, text: String, k: Int = 20,
      stopDfPct: Int = 60, maxPhraseLen: Int = 4,
      extraStops: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(stopDfPct >= 1 && stopDfPct <= 100, s"stopDfPct in [1,100], got $stopDfPct")
    require(maxPhraseLen >= 1, s"maxPhraseLen must be >= 1, got $maxPhraseLen")
    // persisted: the token frame feeds BOTH the df-gate (stops) and the
    // island pass (members) — without the cache the corpus is tokenized
    // twice per call, and on a cached 1-file table both passes serialize
    // on its frozen partition layout (r12 in-suite probe)
    val toks = df.where(col(text).isNotNull)
      .select(col(id).as("doc"), posexplode(tokens(col(text))).as(Seq("pos", "term")))
      .where(col("term") =!= "")
      .persist()
    // try/finally: an exception between persist and the trailing unpersist
    // would otherwise leak the cached token frame for the rest of the
    // session, competing for executor memory with every later query
    // (r13 ADVICE; the Graph.kCore / Dedup.connectedComponents convention)
    try {
    val dfreq = toks.select(col("doc"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val nDocs = df.where(col(text).isNotNull).agg(count(lit(1)).as("__n"))
    // the stopword list: ubiquitous terms ∪ the explicit list, broadcast
    // as ONE sorted array
    val stops = dfreq.join(broadcast(nDocs))
      .where(col("__df") * 100 > col("__n") * stopDfPct)
      .agg(sort_array(array_union(collect_list(col("term")),
        typedLit(extraStops))).as("__stop"))
    // gaps-and-islands: consecutive non-stop positions share (pos - rn)
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val members = toks.join(broadcast(stops))
      .where(not(array_contains(col("__stop"), col("term"))))
      .select(col("doc"), col("pos"), col("term"),
        (col("pos") - row_number().over(w)).as("grp"))
    val phrases = members
      .groupBy(col("doc"), col("grp"))
      .agg(array_sort(collect_list(struct(col("pos"), col("term")))).as("__m"))
      .select(concat_ws(" ", expr("transform(__m, m -> m.term)")).as("phrase"),
        size(col("__m")).cast("long").as("n_words"))
      .where(col("n_words") <= maxPhraseLen)
      .persist() // three consumers (ph, word stats, scoring) — ONE corpus pass
    try {
    // RAKE word stats over phrase members: freq = occurrences, degree =
    // summed length of containing phrases (diagonal included)
    val wordStats = phrases
      .select(explode(split(col("phrase"), " ")).as("term"), col("n_words"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("__freq"), sum(col("n_words")).as("__deg"))
      .select(col("term"),
        expr("__deg * 1000000L DIV __freq").as("__wscore"))
    val ph = phrases.groupBy(col("phrase"))
      .agg(first(col("n_words")).as("n_words"), count(lit(1)).as("occurrences"))
    // score each DISTINCT phrase once: explode its members, join the word
    // scores term-keyed, sum — a repeated word contributes per instance
    // (the RAKE contract)
    val scored = ph.select(col("phrase"), explode(split(col("phrase"), " ")).as("term"))
      .join(wordStats, Seq("term"))
      .groupBy(col("phrase")).agg(sum(col("__wscore")).as("score_ppm"))
    ph.join(scored, Seq("phrase"))
      .select(col("phrase"), col("n_words"), col("occurrences"), col("score_ppm"))
      .orderBy(col("score_ppm").desc, col("occurrences").desc, col("phrase"))
      .limit(k)
      .localCheckpoint() // k rows; materialize so the persists can release
    } finally phrases.unpersist(blocking = false)
    } finally toks.unpersist(blocking = false)
  }

  /** Source-vocabulary similarity: cosine between the token-frequency
    * vectors of every pair of groups — "which sources read alike", the
    * corpus-composition diagnostic behind mixture decisions (a new crawl
    * that cosines 0.99 against an existing source adds volume, not
    * diversity).
    *
    * Scale shape: the corpus collapses to a (group × vocab)-sized count
    * table in one map-side-combinable agg; the pairwise structure is an
    * inverted-index self-join ON THE TERM (never group × group × vocab),
    * followed by a pair-keyed dot-product agg and a broadcast of the
    * groups-sized norm table. Dot products sum in deterministic rounding
    * range (6 places) on both engines.
    */
  def groupVocabCosine(df: DataFrame, group: String, text: String): DataFrame = {
    val counts = df.filter(col(text).isNotNull)
      .select(col(group), explode(tokens(col(text))).as("__t"))
      .groupBy(col(group), col("__t"))
      .agg(count(lit(1)).cast("double").as("__c"))
    val norms = counts.groupBy(col(group))
      .agg(sqrt(sum(col("__c") * col("__c"))).as("__norm"))
    val a = counts.select(col(group).as("g1"), col("__t"), col("__c").as("__c1"))
    val b = counts.select(col(group).as("g2"), col("__t"), col("__c").as("__c2"))
    a.join(b, Seq("__t"))
      .where(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2"))
      .agg(sum(col("__c1") * col("__c2")).as("__dot"))
      .join(broadcast(norms.select(col(group).as("g1"), col("__norm").as("__n1"))), Seq("g1"))
      .join(broadcast(norms.select(col(group).as("g2"), col("__norm").as("__n2"))), Seq("g2"))
      .select(col("g1"), col("g2"),
        round(col("__dot") / (col("__n1") * col("__n2")), 6).as("cosine"))
  }

  /** BPE merge-pair statistics — iteration zero of byte-pair-encoding
    * tokenizer training: the corpus-weighted frequency of every adjacent
    * character pair inside words, whose top entry is the first merge a BPE
    * trainer would perform. Running this over a 100 TB corpus is how a
    * production tokenizer's merge table is seeded.
    *
    * Scale shape — the key trick is that the pair explosion runs over the
    * VOCABULARY, not the corpus: the corpus pays exactly one exploded-token
    * aggregation (map-side combinable) down to a word-frequency table;
    * adjacent pairs are then expanded from each distinct word and weighted
    * by its count. Corpus-sized work is a single groupBy; everything after
    * is vocab-sized. Top-k is a TakeOrdered (no global sort).
    */
  def bpePairCounts(df: DataFrame, text: String, k: Int): DataFrame = {
    val wordCounts = df.filter(col(text).isNotNull)
      .select(explode(tokens(col(text))).as("__w"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__c"))
    wordCounts
      .filter(length(col("__w")) >= 2) // guard: sequence(0,-1) would descend
      .select(col("__c"),
        explode(expr("transform(sequence(0, length(__w) - 2), i -> substring(__w, i + 1, 2))"))
          .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("__c")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** BPE symbol-string separator: each symbol is wrapped `·sym·`, so a
    * merge of (a, b) is the plain string replace `·a··b·` → `·ab·` — and
    * because adjacent wrapped symbols share NO characters, built-in
    * left-to-right non-overlapping replace IS the greedy BPE application
    * (`a a a a` merging (a,a) gives `aa aa`, not `aa a a`). U+00B7 cannot
    * appear in the ASCII corpora this tokenizes.
    */
  private val BpeSep = "·"

  private def bpeWrap(w: Column): Column =
    concat(lit(BpeSep), array_join(split(w, ""), BpeSep + BpeSep), lit(BpeSep))

  /** Greedy BPE merge learning (Sennrich, Haddow & Birch 2016) on the
    * word-frequency table — the real subword-vocabulary construction the
    * regex [[bpeTokens]] approximates: start from characters, repeatedly
    * merge the corpus-wide most frequent adjacent symbol pair (ties to the
    * lexicographically smaller pair — deterministic), `nMerges` times.
    *
    * Plan shape per round ([[graft.operators.Graph.pageRank]]'s
    * "driver steers, cluster computes" contract): one pair explode + one
    * combinable count over the WORD-VOCABULARY frame (never the corpus —
    * the corpus is paid once, in the initial word count), and the single
    * driver-side action is the 1-row argmax. Lineage is truncated every
    * few rounds. Stops early when no pair remains.
    *
    * Returns the ordered merge list — feed it to [[bpeEncode]].
    */
  def bpeLearn(df: DataFrame, text: String, nMerges: Int,
      maxDriverVocab: Long = 1000000L): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var vocab = df.filter(col(text).isNotNull)
      .select(explode(tokens(col(text))).as("__w"))
      .where(col("__w") =!= "")
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .select(bpeWrap(col("__w")).as("__s"), col("__c"))
      .localCheckpoint() // vocab-sized; materializes the one corpus pass
    // Size-gated two-path routing (the kCore/knnGraph pattern): the merge
    // loop iterates over the WORD VOCABULARY, which is bounded by the
    // language (≈10⁵–10⁶ forms) no matter how many petabytes the corpus
    // is — so past the one distributed corpus pass above, a collected loop
    // beats nMerges cluster rounds each paying the per-job floor (r7
    // bench: 20 rounds = 2.6 s of mostly scheduling at sf0.1). The
    // distributed round loop remains the unbounded path; BpeGateSpec pins
    // the two paths to identical merge lists.
    val vocabN = vocab.count()
    if (vocabN <= maxDriverVocab) return bpeLearnDriver(vocab, nMerges)
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val syms = split(regexp_replace(col("__s"), s"^$BpeSep|$BpeSep$$", ""), BpeSep + BpeSep)
      val pairs = when(size(syms) >= 2,
        transform(sequence(lit(0), size(syms) - 2),
          i => struct(element_at(syms, i + 1).as("a"), element_at(syms, i + 2).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
      val best = vocab
        .select(explode(pairs).as("__p"), col("__c"))
        .groupBy(col("__p.a"), col("__p.b"))
        .agg(sum(col("__c")).as("__n"))
        .orderBy(col("__n").desc, col("a"), col("b"))
        .limit(1)
        .collect() // ONE row: the argmax pair
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        vocab = vocab.withColumn("__s",
          replace(col("__s"), lit(s"$BpeSep$a$BpeSep$BpeSep$b$BpeSep"),
            lit(s"$BpeSep$a$b$BpeSep")))
        round += 1
        if (round % 5 == 0) vocab = vocab.localCheckpoint()
      }
    }
    merges.result()
  }

  /** Driver half of [[bpeLearn]]'s size gate: the SAME greedy recurrence —
    * corpus-wide most frequent adjacent pair, ties to the smaller (a, b) —
    * over the collected word-frequency table. Pair order ties compare
    * UTF-8 BYTES (java.util.Arrays.compare), exactly Spark's binary string
    * ordering, so the gate can never change the learned merges, only where
    * the argmax runs. */
  private def bpeLearnDriver(vocab: DataFrame, nMerges: Int): Seq[(String, String)] = {
    val sepSep = BpeSep + BpeSep
    // unwrap ·a··b··c· → symbols [a, b, c]
    val words: Array[(Array[String], Long)] = vocab.collect().map { r =>
      val s = r.getString(0)
      (s.substring(1, s.length - 1).split(java.util.regex.Pattern.quote(sepSep), -1),
        r.getLong(1))
    }
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def byteLt(x: String, y: String): Boolean =
      java.util.Arrays.compare(x.getBytes(utf8), y.getBytes(utf8)) < 0
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), c, _ + _)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestN = -1L
        counts.forEach { (p, n) =>
          if (n > bestN || (n == bestN && (byteLt(p._1, best._1) ||
              (p._1 == best._1 && byteLt(p._2, best._2))))) {
            best = p; bestN = n
          }
        }
        val (a, b) = best
        merges += ((a, b))
        // greedy left-to-right non-overlapping, same as the engine-native
        // replace over the wrapped form
        var w = 0
        while (w < words.length) {
          val (syms, c) = words(w)
          var hit = false
          var i = 0
          while (!hit && i < syms.length - 1) {
            hit = syms(i) == a && syms(i + 1) == b; i += 1
          }
          if (hit) {
            val out = Array.newBuilder[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                out += a + b; j += 2
              } else { out += syms(j); j += 1 }
            }
            words(w) = (out.result(), c)
          }
          w += 1
        }
        round += 1
      }
    }
    merges.result()
  }

  /** Apply an ordered BPE merge list to a text column — the tokenizer's
    * ENCODE half: each whitespace word starts as wrapped characters and
    * folds through the merges in learned order (each application is one
    * engine-native `replace`, greedy left-to-right by the wrap construction
    * — see [[bpeWrap]]). Map-only, no UDF, reproducible in any engine with
    * string replace. Returns the subword token array of the document.
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    val perWord = transform(tokens(text), w => {
      val folded = merges.foldLeft(bpeWrap(w)) { case (c, (a, b)) =>
        replace(c, lit(s"$BpeSep$a$BpeSep$BpeSep$b$BpeSep"), lit(s"$BpeSep$a$b$BpeSep"))
      }
      split(regexp_replace(folded, s"^$BpeSep|$BpeSep$$", ""), BpeSep + BpeSep)
    })
    flatten(perWord)
  }

  /** BM25 lexical retrieval (Robertson/Spärck Jones; the +1 idf form used
    * by Lucene, so idf is always positive): top-k documents for a small
    * fixed term set — the lexical baseline next to the embedding ANN, and
    * the retrieval step of data-curation passes (finding docs "about" a
    * probe topic).
    *
    * Physical shape: per-term tf is a per-row array filter (codegen, no
    * explode — the term set is a handful of literals); corpus stats (N,
    * avgdl, per-term document frequency) are ONE partial aggregation
    * producing a single broadcast row. The corpus is never shuffled; the
    * only movement is the top-k TakeOrdered. Term contributions sum in
    * `terms` order and round once at the end, so results are reproducible
    * across engines.
    */
  def bm25(df: DataFrame, id: String, text: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one term")
    val toks = tokens(col(text))
    // null docs carry no terms and must not dilute N/avgdl. Filtering (the
    // other text operators' null convention) also keeps parity independent
    // of ANSI mode: with ANSI off, size(null) = -1 would otherwise poison
    // __dl and let a null doc score.
    val base = df.where(col(text).isNotNull).select(col(id), toks.as("__toks"),
      size(toks).cast("double").as("__dl"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (acc, (t, i)) =>
      acc.withColumn(s"__tf_$i",
        size(filter(col("__toks"), x => x === lit(t))).cast("double"))
    }.drop("__toks")
    val statAggs =
      count(lit(1)).cast("double").as("__n") ::
        avg(col("__dl")).as("__avgdl") ::
        terms.indices.map(i =>
          sum((col(s"__tf_$i") > 0).cast("double")).as(s"__df_$i")).toList
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
    val score = terms.indices.map { i =>
      val tf = col(s"__tf_$i")
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df_$i") + lit(0.5)) / (col(s"__df_$i") + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select(
        col(id),
        round(score, 6).as("score"),
        terms.indices.map(i => (col(s"__tf_$i") > 0).cast("long")).reduce(_ + _).as("n_terms"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col(id))
      .limit(k)
  }

  /** Fixed-size token-window chunking with overlap — the step that turns
    * curated documents into training sequences (the upstream sibling of
    * [[graft.operators.Sampling.packSequences]]). Windows start every
    * `chunkTokens - overlap` tokens; the last window is the first one that
    * reaches the document end, so no trailing stub is fully contained in
    * its predecessor. Map-only (explode + slice over codegen'd collection
    * ops, no lambda, no shuffle) — scales linearly with input splits.
    */
  def chunkDocs(df: DataFrame, id: String, text: String, chunkTokens: Int,
      overlap: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens) or every step would revisit the same window")
    val step = chunkTokens - overlap
    val toks = tokens(col(text))
    // chunks = 1 + ceil((n - chunkTokens) / step) for n > chunkTokens else 1;
    // ints < 2^53 are exact in the double division, so floor is safe
    val extra = greatest(size(toks) - lit(chunkTokens), lit(0))
    val nChunks = floor((extra + lit(step - 1)).cast("double") / lit(step.toDouble))
      .cast("int") + lit(1)
    df.where(col(text).isNotNull)
      .select(col(id), toks.as("__toks"), size(toks).as("__n"),
        explode(sequence(lit(0), nChunks - lit(1))).as("__ci"))
      .select(
        col(id),
        col("__ci").cast("long").as("chunk_id"),
        array_join(slice(col("__toks"), col("__ci") * lit(step) + lit(1), lit(chunkTokens)),
          " ").as("chunk"),
        least(lit(chunkTokens), col("__n") - col("__ci") * lit(step)).cast("long").as("n_tokens"))
  }

  /** Bigram language-model cross-entropy — the perplexity-proxy quality
    * score of KenLM-style corpus filtering, self-trained: an add-k smoothed
    * bigram model `P(w2|w1) = (c(w1 w2) + k) / (c(w1 ·) + k·|V|)` is
    * estimated on the scored corpus itself, and each document (≥2 tokens,
    * non-null) scores the negative mean log2-probability of its bigrams —
    * i.e. log2 perplexity. Low xent = predictable boilerplate, high =
    * noise; both tails are the usual filter targets.
    *
    * Physical shape: one gram explode (the shared JIT shingling loop), two
    * map-side-combinable count aggregations, a single-row broadcast for
    * |V|, and key-partitioned joins of grams to their counts — model state
    * is never broadcast whole, so the plan survives corpora whose bigram
    * vocabulary exceeds executor memory.
    */
  def lmCrossEntropy(df: DataFrame, id: String, text: String,
      addK: Double = 0.5): DataFrame = {
    require(addK > 0, "addK must be positive (an unsmoothed zero has log 0)")
    val docs = df.where(col(text).isNotNull && size(tokens(col(text))) >= 2)
    val grams = docs.select(col(id), explode(gramsUdf(col(text), lit(2))).as("__g"))
    val c2 = grams.groupBy(col("__g")).agg(count(lit(1)).as("__c2"))
    // context counts derive from the bigram table, not a second corpus
    // explode: c1(w1) = Σ c2 over grams starting with w1 — identical
    // counts from a distinct-gram-sized input
    val c1 = c2.groupBy(substring_index(col("__g"), " ", 1).as("__w1"))
      .agg(sum(col("__c2")).as("__c1"))
    val vocab = docs.select(explode(tokens(col(text))).as("__t"))
      .agg(countDistinct(col("__t")).cast("double").as("__v"))
    grams
      .join(c2, "__g")
      .join(c1, substring_index(col("__g"), " ", 1) === col("__w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(-avg(log2((col("__c2") + lit(addK)) / (col("__c1") + lit(addK) * col("__v")))), 6)
          .as("xent"))
  }

  /** One-row corpus "dataset card": doc/token volume, null-text count,
    * language and source cardinalities, exact-duplicate fraction (md5),
    * and the Shannon entropy of the language distribution — the summary
    * block a dataset release ships next to the data.
    *
    * Scale shape: two corpus scans (the flat aggregate and the language
    * histogram), each ONE map-side-combinable aggregation; everything
    * downstream is 1-row or languages-sized frames stitched by broadcast.
    * Entropy is written `ln(p)/ln(2)` so both engines evaluate the same
    * float expression.
    */
  def datasetCard(df: DataFrame, text: String, lang: String, source: String): DataFrame = {
    val toks = size(tokens(col(text)))
    val card = df.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col(text).isNull, 1L).otherwise(0L)).cast("long").as("n_null_text"),
      sum(toks).cast("long").as("n_tokens"),
      round(avg(toks), 6).as("avg_tokens"),
      count_distinct(col(lang)).as("n_langs"),
      count_distinct(col(source)).as("n_sources"),
      count_distinct(md5(col(text))).as("__uniq"))
    val langCounts = df.groupBy(col(lang)).agg(count(lit(1)).as("__c"))
    val tot = langCounts.agg(sum(col("__c")).cast("double").as("__tot"))
    val entropy = langCounts.crossJoin(broadcast(tot))
      .agg(round(-sum((col("__c") / col("__tot")) *
        (log(col("__c") / col("__tot")) / log(lit(2.0)))), 6).as("lang_entropy"))
    card.crossJoin(broadcast(entropy))
      .select(col("n_docs"), col("n_null_text"), col("n_tokens"), col("avg_tokens"),
        col("n_langs"), col("n_sources"),
        round(lit(1.0) - col("__uniq") / (col("n_docs") - col("n_null_text")), 6)
          .as("dup_frac"),
        col("lang_entropy"))
  }

  /** Tokenizer-vocabulary coverage: per-document out-of-vocabulary token
    * count and fraction against a vocabulary dimension — the pre-training
    * check that a tokenizer/vocab actually covers a corpus (a high OOV
    * fraction flags mojibake, the wrong language, or a stale vocab).
    * Compose with [[vocabTopK]] (n = 1) for a self-derived head vocabulary.
    *
    * Physical shape: the vocabulary is dimension-sized, so it broadcasts;
    * the exploded token stream left-joins it map-side and re-aggregates per
    * doc with map-side combine — the only shuffle is O(docs), never
    * O(tokens).
    */
  def oovRate(df: DataFrame, id: String, text: String, vocab: DataFrame,
      token: String = "token"): DataFrame = {
    val toks = tokens(col(text))
    val dim = vocab.select(col(token).as("__t")).distinct()
      .withColumn("__in", lit(1L))
    df.where(col(text).isNotNull)
      .select(col(id), explode(toks).as("__t"))
      .join(broadcast(dim), Seq("__t"), "left_outer")
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_tokens"),
        coalesce(sum(col("__in")), lit(0L)).as("__nin"))
      .select(col(id), col("n_tokens"),
        (col("n_tokens") - col("__nin")).as("n_oov"),
        round((col("n_tokens") - col("__nin")).cast("double") / col("n_tokens"), 6)
          .as("oov_frac"))
  }

  /** Corpus-shift report: the k tokens whose relative frequency moved most
    * between two corpus snapshots — the drift monitor run between crawl
    * drops before retraining (a big |shift| flags new jargon, a language
    * mix change, or a scraper regression). `shift` is the add-k smoothed
    * log2 probability ratio `log2(P_a(t) / P_b(t))` with a shared vocab
    * size V = |tokens(a) ∪ tokens(b)|; positive = gained ground in `a`.
    *
    * Physical shape: each side collapses to vocab-sized token counts
    * (map-side combine) before the full-outer join; totals and V travel as
    * one broadcast row; ranking is a TakeOrdered over the rounded shift.
    * Nothing data-sized is broadcast or windowed.
    */
  def vocabShift(a: DataFrame, b: DataFrame, id: String, text: String,
      k: Int, addK: Double = 0.5): DataFrame = {
    require(addK > 0, "addK must be positive (an unseen token has log 0)")
    def counts(df: DataFrame, side: String) =
      df.where(col(text).isNotNull)
        .select(explode(tokens(col(text))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as(side))
    val joined = counts(a, "n_a").join(counts(b, "n_b"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val stats = joined.agg(
      sum(col("n_a")).cast("double").as("__ta"),
      sum(col("n_b")).cast("double").as("__tb"),
      count(lit(1)).cast("double").as("__v"))
    joined.crossJoin(broadcast(stats))
      .select(col("token"), col("n_a"), col("n_b"),
        round(log2(
          ((col("n_a") + lit(addK)) / (col("__ta") + lit(addK) * col("__v"))) /
            ((col("n_b") + lit(addK)) / (col("__tb") + lit(addK) * col("__v")))), 6)
          .as("shift"))
      .orderBy(abs(col("shift")).desc, col("token"))
      .limit(k)
  }

  // PII patterns, deliberately lookaround-free so they run identically on
  // Java regex (Spark) and RE2 (DuckDB, Go tooling): emails, dotted-quad
  // IPv4s, and +-prefixed international phone numbers (an unanchored
  // domestic-number pattern would eat arbitrary digit runs)
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiIpv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val piiPhoneRe = "\\+[0-9][0-9 ()-]{6,}[0-9]"

  /** PII scrub: per-document counts of emails / IPv4 addresses / phone
    * numbers plus the redacted text. Replacement order (email → ip → phone)
    * matters for byte-identical output and is safe because the replacement
    * tokens contain no digits or '@'. Each count runs on the text AFTER the
    * earlier replacements, so `n_phone` always equals the number of
    * `<PHONE>` tokens in `redacted` — counting on the raw text would tally
    * a phone-shaped digit run inside an email's local part that the email
    * replacement then consumes. Pure regexp columns — codegen'd, per-row,
    * shuffle-free.
    */
  def piiRedact(df: DataFrame, id: String, text: String): DataFrame = {
    val afterEmail = regexp_replace(col(text), lit(piiEmailRe), lit("<EMAIL>"))
    val afterIp = regexp_replace(afterEmail, lit(piiIpv4Re), lit("<IP>"))
    df.select(
      col(id),
      regexp_count(col(text), lit(piiEmailRe)).cast("long").as("n_email"),
      regexp_count(afterEmail, lit(piiIpv4Re)).cast("long").as("n_ip"),
      regexp_count(afterIp, lit(piiPhoneRe)).cast("long").as("n_phone"),
      regexp_replace(afterIp, lit(piiPhoneRe), lit("<PHONE>")).as("redacted"))
  }

  /** Filter-funnel attrition report: run the corpus through an ORDERED list
    * of named filter predicates and report, per stage, how many documents
    * (and how much text) enter, survive, and drop. This is the first chart
    * every curation pipeline publishes — which gate costs how much data —
    * and the one that catches a mis-ordered or over-aggressive filter
    * before a 100 TB run commits to it.
    *
    * Execution is ONE corpus scan and ONE map-side-combinable aggregation:
    * each document computes its first-failing-stage index (a codegen'd CASE
    * chain; a NULL predicate counts as a failure, mirroring SQL 3VL
    * filtering), the aggregation takes 3·n_stages conditional sums, and the
    * per-stage rows explode from that single row. Output is bounded by the
    * stage count regardless of corpus size.
    */
  def filterFunnel(df: DataFrame, text: String, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "filterFunnel needs at least one stage")
    val n = stages.size
    val failIdx = stages.zipWithIndex.foldRight(lit(n): Column) {
      case (((_, pred), i), rest) => when(!coalesce(pred, lit(false)), lit(i)).otherwise(rest)
    }
    val d = df.withColumn("__fail", failIdx)
      .withColumn("__chars", coalesce(length(col(text)).cast("long"), lit(0L)))
    val aggs = (0 until n).flatMap { i =>
      Seq(
        sum(when(col("__fail") >= i, 1L).otherwise(0L)).as(s"__in$i"),
        sum(when(col("__fail") > i, 1L).otherwise(0L)).as(s"__out$i"),
        sum(when(col("__fail") > i, col("__chars")).otherwise(0L)).as(s"__chars$i"))
    }
    val row = d.agg(aggs.head, aggs.tail: _*)
    row
      .select(posexplode(array((0 until n).map { i =>
        struct(
          lit(stages(i)._1).as("stage"),
          col(s"__in$i").as("docs_in"),
          col(s"__out$i").as("docs_out"),
          col(s"__chars$i").as("chars_out"))
      }: _*)))
      .select(
        (col("pos") + 1).cast("long").as("stage_idx"),
        col("col.stage"),
        col("col.docs_in"),
        col("col.docs_out"),
        (col("col.docs_in") - col("col.docs_out")).as("docs_dropped"),
        col("col.chars_out"))
  }

  /** Document-level tf-idf cosine similarity above a threshold, via an
    * inverted index — the weighted near-duplicate detector that catches
    * template reuse MinHash underrates (shared RARE terms count for much
    * more than shared boilerplate).
    *
    * Weighting is integer-quantized so the result is exactly
    * engine-reproducible: `w = tf · ((N·100) div df)` — a percent-scaled
    * reciprocal-df idf. Dots and squared norms are then sums of BIGINTs
    * (order-insensitive, no float associativity), and only the final
    * `dot/(‖a‖·‖b‖)` touches floating point. The quantized idf is bounded
    * by `100/minDfFrac` independent of corpus size, so the integers cannot
    * overflow at any scale. Terms present in more than `maxDfPct`% of
    * documents are dropped BEFORE weighting (their idf carries no signal,
    * and they dominate posting-list length): norms are over the pruned
    * representation, i.e. this is cosine in the pruned tf-idf space.
    *
    * Physical shape: tokenize→(doc,term) tf agg; term-keyed df agg; the
    * corpus-size scalar arrives by broadcast (1-row frame, no collect); the
    * pair work is a term-keyed self-join of postings whose lists the df cap
    * bounds, then one (d1,d2)-keyed sum. All joins/aggs are key-partitioned
    * shuffles; nothing is driver-side. For web-scale corpora compose with
    * the PPJoin prefix filter ([[Dedup.ngramJaccard]]) to skip pairs that
    * cannot reach the threshold.
    *
    * DENSITY ROUTING (`route = "auto"`, r13 verdict ask #1): the inverted
    * index is the right plan only for Zipfian vocabularies. Its residual
    * pair volume after the df cap is Σ_t C(df_t, 2) — on a dense
    * small-vocabulary corpus that sum EXCEEDS the brute-force all-pairs
    * volume C(n, 2) (a single capped-hot term alone contributes
    * C(0.78·n, 2) ≈ 0.6·C(n, 2)), so the index pays more shuffled
    * aggregation rows than a blocked sweep pays cheap in-memory merge
    * steps, and the salt can only spread that volume, not shrink it. The
    * auto route computes both volumes with ONE vocab-sized aggregation
    * (collected as a single row — the [[knnGraph]]-style admission job)
    * and flips to [[tfidfSimilarDense]] exactly when
    * `Σ C(df,2) > C(n,2)` AND the dense path's driver admission holds
    * (pruned vocab ≤ `maxVocab`, docs ≤ `maxBroadcastDocs`); otherwise it
    * stays on the salted index — the only fully-distributed plan, and the
    * honest one for corpora too large to broadcast. `route = "index"` /
    * `"dense"` force a plan (the registered `q_tfidf_pairs_inv` /
    * `q_tfidf_pairs` queries pin one each so both physical strategies stay
    * oracle-checked); the taken route is noted under [[TfidfRoute]]
    * through [[graft.Telemetry.note]]. Both plans share the
    * integer-quantized weighting, so routing changes the physical plan
    * only, never the result (RoutingSpec pins hash equality).
    */
  def tfidfSimilar(df: DataFrame, id: String, text: String, threshold: Double,
      maxDfPct: Int = 78, saltBuckets: Int = 16, route: String = "auto",
      maxVocab: Int = 1 << 16, maxBroadcastDocs: Long = 200000L): DataFrame = {
    require(maxDfPct >= 1 && maxDfPct <= 100, s"maxDfPct in [1,100], got $maxDfPct")
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    require(Set("auto", "index", "dense")(route),
      s"route must be auto|index|dense, got $route")
    if (route == "dense") {
      Telemetry.note(df.sparkSession, TfidfRoute, "dense")
      return tfidfSimilarDense(df, id, text, threshold, maxDfPct, maxVocab)
    }
    val tf = df.where(col(text).isNotNull)
      .select(col(id).as("__d"), explode(tokens(col(text))).as("__t"))
      .where(col("__t") =!= "")
      .groupBy(col("__d"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val nDocs = df.where(col(text).isNotNull)
      .agg(count(lit(1)).as("__n")) // 1 row, joins by broadcast
    if (route == "auto") {
      // the density gate: ONE vocab-sized aggregation collected as a
      // single row — (Σ C(df,2) over PRUNED terms, pruned vocab size, n).
      // Doubles, not BIGINTs: the volumes are a routing heuristic, and
      // Σ df² can exceed 2^63 at corpus sizes the index still handles.
      val row = dfreq.join(broadcast(nDocs))
        .where(col("__df") * 100 <= col("__n") * maxDfPct)
        .agg(
          sum(col("__df").cast("double") * (col("__df") - 1) / 2).as("__v"),
          count(lit(1)).as("__vocab"),
          first(col("__n")).as("__nd"))
        .collect()(0)
      val vIdx = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      val vocabN = row.getLong(1)
      val n = if (row.isNullAt(2)) 0L else row.getLong(2)
      val vPairs = n.toDouble * (n - 1) / 2
      if (vIdx > vPairs && vocabN <= maxVocab && n <= maxBroadcastDocs) {
        Telemetry.note(df.sparkSession, TfidfRoute, "dense")
        return tfidfSimilarDense(df, id, text, threshold, maxDfPct, maxVocab)
      }
    }
    Telemetry.note(df.sparkSession, TfidfRoute, "index")
    val weighted = tf
      .join(dfreq, Seq("__t"))
      .join(broadcast(nDocs))
      .where(col("__df") * 100 <= col("__n") * maxDfPct)
      .select(col("__d"), col("__t"),
        (col("__tf") * expr("(__n * 100L) DIV __df")).as("__w"))
    val norms = weighted.groupBy(col("__d"))
      .agg(sum(col("__w") * col("__w")).as("__n2"))
    // SALTED posting-list self-join (r13 scale-drill catch): joining on
    // the bare term puts a hot term's ENTIRE C(df,2) pair generation in
    // one task — at 10× corpus density the drill measured one 93 s
    // single-task stage on 3 kB of input, invisible to AQE's bytes-based
    // skew split (combinatorial fan-out, the coalesce lesson's skew twin).
    // Bucketing one side by pmod(doc, m) and replicating the other over
    // all m buckets splits every posting list m ways; each (d1, d2) pair
    // still meets EXACTLY once (in d1's bucket), so results are identical.
    // Cost: the replicated side shuffles m× — the standard skew trade.
    val m = saltBuckets
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    // counts pinned (REPARTITION_BY_NUM): the salted shuffle is byte-small
    // but its join fan-out is combinatorial — left coalescible, AQE packed
    // it into 11 fat tasks whose partial-agg maps spilled 14.7 GB
    val a = weighted.select(col("__d").as("d1"), col("__t"), col("__w").as("__w1"),
      pmod(col("__d"), lit(m)).cast("int").as("__g"))
      .repartition(nPart, col("__t"), col("__g"))
    val b = weighted.select(col("__d").as("d2"), col("__t"), col("__w").as("__w2"))
      .withColumn("__g", explode(expr(s"sequence(0, ${m - 1})")))
      .repartition(nPart, col("__t"), col("__g"))
    a.join(b, Seq("__t", "__g"))
      .where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(col("__w1") * col("__w2")).as("__dot"))
      // norms are doc-keyed (corpus-sized): plain equi-joins — AQE broadcasts
      // them when small, sort-merge joins them at scale; never a hint here
      .join(norms.select(col("__d").as("d1"), col("__n2").as("__na")), Seq("d1"))
      .join(norms.select(col("__d").as("d2"), col("__n2").as("__nb")), Seq("d2"))
      .select(col("d1"), col("d2"),
        round(col("__dot").cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))), 6).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Per-group n-gram diversity (type-token ratio over n-grams) — the
    * diversity-collapse detector: a source whose distinct-bigram fraction
    * craters is template spam or model-generated loops, long before a
    * human reads it. `ttr = distinct n-grams / total n-grams` per group,
    * with both counts emitted (the ratio alone hides volume).
    *
    * One corpus-paying explode into two stacked aggregations (gram-keyed
    * then group-keyed), both map-side combinable; output bounded by group
    * cardinality.
    */
  def ngramDiversity(df: DataFrame, group: String, text: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = filter(tokens(col(text)), t => t =!= "")
    df.where(col(text).isNotNull && size(toks) >= n)
      .withColumn("__toks", toks)
      .select(col(group), explode(expr(
        s"transform(sequence(0, size(__toks) - $n), i -> array_join(slice(__toks, i + 1, $n), ' '))"))
        .as("__g"))
      .groupBy(col(group), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(group))
      .agg(
        sum(col("__c")).as("n_grams"),
        count(lit(1)).as("n_distinct"))
      .select(col(group), col("n_grams"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_grams"), 6).as("ttr"))
  }

  /** Boilerplate n-gram mining + per-document coverage: n-grams present in
    * more than `minDfPct`% of documents are, by definition, template
    * chrome (navigation, licence lines, generated scaffolding) — the
    * blocklist a line/span-level cleaner consumes. The coverage face
    * scores each document by the fraction of its n-gram OCCURRENCES that
    * are boilerplate — a template-spam ranking signal that document-level
    * dedup never fires on.
    *
    * Two corpus passes, both combinable: doc-distinct grams → df (the
    * blocklist is df-bounded); the per-doc occurrence stream joins the
    * blocklist gram-keyed. Integer counts throughout; the only real is
    * the final ratio.
    */
  def boilerplateCoverage(df: DataFrame, id: String, text: String, n: Int,
      minDfPct: Int): DataFrame = {
    require(minDfPct >= 1 && minDfPct <= 100, s"minDfPct in [1,100], got $minDfPct")
    val toks = filter(tokens(col(text)), t => t =!= "")
    val base = df.where(col(text).isNotNull && size(toks) >= n)
      .withColumn("__toks", toks)
      .select(col(id).as("__d"), explode(expr(
        s"transform(sequence(0, size(__toks) - $n), i -> array_join(slice(__toks, i + 1, $n), ' '))"))
        .as("__g"))
    val nDocs = df.where(col(text).isNotNull).agg(count(lit(1)).as("__n"))
    val blocklist = base.select(col("__d"), col("__g")).distinct()
      .groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .join(broadcast(nDocs))
      .where(col("__df") * 100 > col("__n") * minDfPct)
      .select(col("__g"), lit(1L).as("__boiler"))
    base
      .join(blocklist, Seq("__g"), "left_outer")
      .groupBy(col("__d"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("__boiler"), lit(0L))).as("n_boiler"))
      .select(col("__d").as(id), col("n_grams"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_grams"), 6).as("boiler_frac"))
  }

  /** Token co-occurrence lift — the association-mining table behind GloVe
    * co-occurrence matrices and phrase/collocation detection: for every
    * unordered token pair appearing together in at least `minCount`
    * documents, `lift = P(a,b)/(P(a)·P(b)) = c_ab·N/(c_a·c_b)` over
    * document-level presence. Lift is exp(PMI); it is emitted instead of
    * PMI itself so the number is a ratio of exact integers (one double
    * division, engine-reproducible) rather than a transcendental log whose
    * last ulp differs between libm implementations.
    *
    * Scale shape: the corpus pays one distinct-token explode + the
    * [[Pairs.coOccurrence]] per-doc triangle (bounded by per-doc distinct
    * tokens, which document length bounds); everything downstream —
    * term counts, the pair table, the lift joins — is vocabulary-bounded,
    * never corpus-bounded. The 1-row N frame arrives by broadcast.
    */
  def cooccurrenceLift(df: DataFrame, id: String, text: String, minCount: Long = 2L): DataFrame = {
    val toks = df.where(col(text).isNotNull)
      .select(col(id).as("__d"),
        explode(array_distinct(filter(tokens(col(text)), t => t =!= ""))).as("__t"))
    val pair = Pairs.coOccurrence(toks, "__d", "__t") // (m1, m2, score = c_ab)
    val ct = toks.groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    val n = df.where(col(text).isNotNull).agg(count(lit(1)).as("__n"))
    pair.where(col("score") >= minCount)
      .join(ct.select(col("__t").as("m1"), col("__c").as("__ca")), Seq("m1"))
      .join(ct.select(col("__t").as("m2"), col("__c").as("__cb")), Seq("m2"))
      .join(broadcast(n))
      .select(col("m1").as("t1"), col("m2").as("t2"), col("score").as("n_both"),
        round((col("score") * col("__n")).cast("double") /
          (col("__ca") * col("__cb")).cast("double"), 6).as("lift"))
  }

  /** [[tfidfSimilar]]'s broadcast-sweep twin: identical output, different
    * physical plan for the OPPOSITE corpus regime. The inverted index wins
    * on Zipfian vocabularies (long tail of rare terms → short posting
    * lists); on a SMALL-vocabulary corpus its posting lists approach the
    * corpus itself and the term-keyed self-join degenerates to
    * all-pairs × vocab. Here the pruned sparse weight vectors are instead
    * collected and broadcast (the [[Similarity.cosinePairs]] pattern), and
    * a JIT `mapPartitions` sweep merge-joins sorted index arrays over the
    * pair triangle — pure integer arithmetic, no shuffle at all after the
    * two tf/df aggregations. The broadcast side must fit in executor
    * memory (weights are df-pruned, so this is the doc count times the
    * per-doc distinct-term count); beyond that, shard the sweep like
    * [[Similarity.cosinePairsBlocked]] or fall back to [[tfidfSimilar]].
    *
    * Same integer-quantized weighting as [[tfidfSimilar]], so the two
    * plans agree bit-for-bit (cross-checked in TextAnalysisSpec and by
    * sharing one oracle).
    */
  def tfidfSimilarDense(df: DataFrame, id: String, text: String, threshold: Double,
      maxDfPct: Int = 78, maxVocab: Int = 1 << 16): DataFrame = {
    require(maxDfPct >= 1 && maxDfPct <= 100, s"maxDfPct in [1,100], got $maxDfPct")
    val spark = df.sparkSession
    import spark.implicits._
    val tf = df.where(col(text).isNotNull)
      .select(col(id).cast("long").as("__d"), explode(tokens(col(text))).as("__t"))
      .where(col("__t") =!= "")
      .groupBy(col("__d"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val nDocs = df.where(col(text).isNotNull).count()
    // vocab-sized driver resolution (the IVF-trainer pattern): term → idx +
    // integer idf; guarded so a genuinely Zipfian corpus is routed back to
    // the inverted-index plan instead of blowing the driver
    val vocab = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .where(col("__df") * 100 <= lit(nDocs) * maxDfPct)
      .select(col("__t"), expr(s"(${nDocs}L * 100L) DIV __df").as("__idf"))
      .as[(String, Long)].collect()
    require(vocab.length <= maxVocab,
      s"pruned vocab ${vocab.length} exceeds $maxVocab — use tfidfSimilar (inverted index)")
    val dict = vocab.sortBy(_._1).zipWithIndex
      .map { case ((t, idf), i) => t -> ((i, idf)) }.toMap
    val bcDict = spark.sparkContext.broadcast(dict)
    val sparseRows = tf.as[(Long, String, Long)]
      .mapPartitions { it =>
        val d = bcDict.value
        it.flatMap { case (doc, t, tfc) =>
          d.get(t).map { case (idx, idf) => (doc, idx, tfc * idf) }
        }
      }.collect()
    // per-doc sorted sparse vectors + exact integer norms², broadcast once
    val data = sparseRows.groupBy(_._1).toArray.sortBy(_._1).map { case (doc, rows) =>
      val sorted = rows.sortBy(_._2)
      (doc, sorted.map(_._2), sorted.map(_._3))
    }
    val norms2 = data.map { case (_, _, ws) =>
      var s = 0L; var i = 0
      while (i < ws.length) { s += ws(i) * ws(i); i += 1 }
      s
    }
    Sweep.broadcastRows(spark, data.length, (data, norms2)) { case ((d, n2), i) =>
      val (id1, ix1, w1) = d(i)
      val na = math.sqrt(n2(i).toDouble)
      (i + 1 until d.length).iterator.flatMap { j =>
        val (id2, ix2, w2) = d(j)
        var dot = 0L; var a = 0; var b = 0
        while (a < ix1.length && b < ix2.length) {
          if (ix1(a) < ix2(b)) a += 1
          else if (ix1(a) > ix2(b)) b += 1
          else { dot += w1(a) * w2(b); a += 1; b += 1 }
        }
        val sim =
          if (dot == 0L) Double.NaN
          else Sweep.cos6(dot.toDouble, na, math.sqrt(n2(j).toDouble), threshold)
        if (sim.isNaN) Iterator.empty else Iterator.single((id1, id2, sim))
      }
    }.toDF("d1", "d2", "sim")
  }

  /** TextRank-style centrality over a document's CHUNKS — the extractive
    * selection a RAG/summarization pipeline runs after [[chunkDocs]]:
    * which windows of a long document are most representative? Each doc's
    * chunks form a doc-local graph whose edge weight is the DISTINCT-token
    * overlap count (an integer — the classic sentence-overlap TextRank
    * weight without the log-length damping, kept integral so two engines
    * replay it bit-for-bit), and the score is `iters` rounds of the
    * weighted integer PageRank recurrence
    * `pr' = teleport + Σ ((pr·85) div 100)·w div W` (`W` = the node's
    * total incident weight; teleport and the uniform init are per-doc).
    * Ties rank by ascending chunk id. An isolated chunk keeps only its
    * teleport mass — scores are for RANKING inside a doc, they don't sum
    * to `scale`.
    *
    * Overflow bound (loud require, the [[graft.operators.FixedPoint]]
    * convention): `scale · 85 · chunkTokens < 2^63` — contributions are
    * `(pr·85 div 100)·w` with `w ≤ chunkTokens` and `pr ≤ ~2·scale`.
    *
    * Scale shape: chunking and token sets are map-only; the pair join is
    * keyed by doc id with a chunk-index inequality, so pair work is
    * doc-local (bounded by the longest document, never cross-doc); every
    * PageRank round is ONE keyed join + one map-side-combinable sum over
    * the edge frame, vectorized across ALL docs at once — no per-doc
    * driver loop; edges/nodes persist once with eager per-round lineage
    * cuts (the distributed-HITS double-reference lesson). Size-gated
    * two-path routing (the [[graft.operators.Graph.pageRank]] convention):
    * under `maxDriverEdges` nodes+edges the integer recurrence runs over
    * collected rows — bit-identical by construction (spec-pinned), and
    * `iters` sequential cluster rounds of job floor are skipped; the
    * distributed loop remains the unbounded-corpus path.
    *
    * Output: `(doc_id, chunk_id, rank, score)` — the `topK` most central
    * chunks per document.
    */
  def textRank(df: DataFrame, id: String, text: String,
      chunkTokens: Int = 64, overlap: Int = 16, iters: Int = 5,
      topK: Int = 3, scale: Long = 1000000000L,
      maxDriverEdges: Long = 2000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // compare WITHOUT multiplying the untrusted operand: `scale * 85` can
    // itself wrap for scale > ~1.08e17, passing the old guard while the
    // recurrence then wraps silently (r9 ADVICE)
    require(scale > 0 && scale < Long.MaxValue / 85L / chunkTokens,
      s"scale * 85 * chunkTokens must stay under 2^63, got $scale")
    val step = chunkTokens - overlap
    val toks = tokens(col(text))
    val extra = greatest(size(toks) - lit(chunkTokens), lit(0))
    val nChunks = floor((extra + lit(step - 1)).cast("double") / lit(step.toDouble))
      .cast("int") + lit(1)
    // (doc, chunk_id, distinct-token set) — the chunkDocs slice math
    val sets = df.where(col(text).isNotNull)
      .select(col(id).as("doc"), toks.as("__toks"),
        explode(sequence(lit(0), nChunks - lit(1))).as("__ci"))
      .select(col("doc"), col("__ci").cast("long").as("cid"),
        array_distinct(slice(col("__toks"), col("__ci") * lit(step) + lit(1),
          lit(chunkTokens))).as("ts"))
      .persist()
    try {
      val half = sets.as("a").join(sets.as("b"),
          col("a.doc") === col("b.doc") && col("a.cid") < col("b.cid"))
        .select(col("a.doc").as("doc"), col("a.cid").as("u"),
          col("b.cid").as("v"),
          size(array_intersect(col("a.ts"), col("b.ts"))).cast("long").as("w"))
        .where(col("w") > 0)
      val e = half.unionByName(half.select(col("doc"), col("v").as("u"),
        col("u").as("v"), col("w"))).persist()
      val nNodes = sets.count()
      val nE = e.count()
      if (nNodes + nE <= maxDriverEdges) {
        val out = textRankDriver(
          sets.select(col("doc"), col("cid")), e, iters, topK, scale)
        e.unpersist(blocking = false)
        return out
      }
      // "wt" not "W": Spark resolves case-insensitively, so w/W collide.
      // Rows-derived width for the loop's cached edge frame
      // (SizeGates.loopPartitions + coalesce view, r14 — the
      // Graph.pageRank note); nE is the gate count, already paid
      val loopP = SizeGates.loopPartitions(nE)
      val eL = e.coalesce(loopP)
      val outW = eL.groupBy(col("doc"), col("u")).agg(sum(col("w")).as("wt"))
      val ew = eL.join(outW, Seq("doc", "u")).coalesce(loopP).persist()
      val nd = sets.groupBy(col("doc")).agg(count(lit(1)).as("n"))
      var pr = sets.join(nd, Seq("doc"))
        .select(col("doc"), col("cid"),
          expr(s"${scale}L DIV n").as("pr"),
          expr(s"(${scale}L * 15 DIV 100) DIV n").as("tp"))
      for (_ <- 1 to iters) {
        val contrib = ew.join(pr.select(col("doc"), col("cid").as("u"), col("pr")),
            Seq("doc", "u"))
          .groupBy(col("doc"), col("v").as("cid"))
          .agg(sum(expr("((pr * 85) DIV 100) * w DIV wt")).as("m"))
        // EAGER cut each round: the score frame feeds BOTH the contrib agg
        // and the fill join, so an uncut lineage doubles per round — the
        // distributed-HITS lesson (87 s of recompute at sf0.1), not the
        // linear pageRank chain a lazy every-3-rounds cut suffices for
        pr = pr.join(contrib, Seq("doc", "cid"), "left_outer")
          .select(col("doc"), col("cid"),
            (col("tp") + coalesce(col("m"), lit(0L))).as("pr"), col("tp"))
          .localCheckpoint()
      }
      val rw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc")).orderBy(col("pr").desc, col("cid"))
      val out = pr
        .withColumn("rank", row_number().over(rw).cast("long"))
        .where(col("rank") <= topK)
        .select(col("doc").as("doc_id"), col("cid").as("chunk_id"),
          col("rank"), col("pr").as("score"))
        .localCheckpoint()
      ew.unpersist(blocking = false)
      e.unpersist(blocking = false)
      out
    } finally sets.unpersist(blocking = false)
  }

  /** Driver half of [[textRank]]'s size gate: the identical weighted
    * integer recurrence over collected rows — integer sums commute and
    * every division is on non-negative operands (Java `/` == SQL DIV
    * there), so the two paths are bit-equal by construction (spec-pinned).
    * Keys are (doc, chunk) pairs (doc ids keep their input type), so the
    * index is a boxed map rather than the graph loops' primitive CSR —
    * fine under the node+edge gate. */
  private def textRankDriver(nodes: DataFrame, edges: DataFrame, iters: Int,
      topK: Int, scale: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = nodes.sparkSession
    val docType = nodes.schema("doc").dataType
    val nrows = nodes.coalesce(1).collect()
    val erows = edges.coalesce(1).collect()
    val n = nrows.length
    val idx = new java.util.HashMap[(Any, Long), Int](2 * n)
    var i = 0
    while (i < n) { idx.put((nrows(i).get(0), nrows(i).getLong(1)), i); i += 1 }
    val docN = new java.util.HashMap[Any, Long]()
    nrows.foreach(r => docN.merge(r.get(0), 1L, (a, b) => a + b))
    val tp = new Array[Long](n); val pr = new Array[Long](n)
    i = 0
    while (i < n) {
      val dn = docN.get(nrows(i).get(0))
      pr(i) = scale / dn
      tp(i) = (scale * 15L / 100L) / dn
      i += 1
    }
    val m = erows.length
    val eu = new Array[Int](m); val ev = new Array[Int](m)
    val ww = new Array[Long](m); val wt = new Array[Long](n)
    i = 0
    while (i < m) {
      val r = erows(i)
      eu(i) = idx.get((r.get(0), r.getLong(1)))
      ev(i) = idx.get((r.get(0), r.getLong(2)))
      ww(i) = r.getLong(3)
      wt(eu(i)) += ww(i)
      i += 1
    }
    for (_ <- 1 to iters) {
      val nx = tp.clone()
      var j = 0
      while (j < m) {
        nx(ev(j)) += ((pr(eu(j)) * 85L) / 100L) * ww(j) / wt(eu(j))
        j += 1
      }
      System.arraycopy(nx, 0, pr, 0, n)
    }
    val out = new scala.collection.mutable.ArrayBuffer[Row]()
    nrows.indices.groupBy(j => nrows(j).get(0)).foreach { case (doc, is) =>
      val sorted = is.sortBy(j => (-pr(j), nrows(j).getLong(1)))
      sorted.take(topK).zipWithIndex.foreach { case (j, rk) =>
        out += Row(doc, nrows(j).getLong(1), (rk + 1).toLong, pr(j))
      }
    }
    val schema = StructType(Seq(
      StructField("doc_id", docType), StructField("chunk_id", LongType),
      StructField("rank", LongType), StructField("score", LongType)))
    spark.createDataFrame(
      java.util.Arrays.asList(out.toArray: _*), schema)
  }
}
