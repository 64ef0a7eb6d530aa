package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: combining ranked runs from different systems
  * (lexical BM25, embedding ANN, ...) into one result list.
  *
  * Reference surface: the engine's retrieval pack gives a lexical ranker
  * ([[TextAnalysis.bm25]]) and several semantic rankers
  * ([[Similarity.bruteForceKnn]] and its LSH/IVF/PQ scale variants), all
  * emitting the same (id, rank) contract — fusion is the standard way a
  * curation pipeline actually uses them together (find docs "about" a
  * topic by keyword AND by meaning).
  */
object Retrieval {

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09):
    * `score(d) = Σ_runs 1/(c + rank_run(d))` — the de-facto standard
    * hybrid-search combiner (c=60 in the original paper) because it needs
    * no score calibration between systems, only ranks. A document missing
    * from a run simply contributes nothing for it.
    *
    * Input runs each expose (`id`, `rank`) with rank starting at 1; runs
    * are top-k lists, so every frame here is k-sized — fusion costs one
    * union + one tiny aggregation regardless of corpus size (the corpus
    * was paid inside the runs). With two runs the double sum is exactly
    * commutative (a+b == b+a bitwise), so the rounded score is
    * engine-reproducible without ordering care; for 3+ runs the rounding
    * absorbs association differences.
    *
    * Output: top `k` of (id, rrf, n_runs) by (rrf DESC, id).
    */
  def rrfFuse(runs: Seq[DataFrame], id: String, c: Int = 60, k: Int = 10): DataFrame = {
    require(runs.nonEmpty, "rrfFuse needs at least one ranked run")
    runs
      .map(_.select(col(id), (lit(1.0) / (lit(c) + col("rank"))).as("__s")))
      .reduce(_ unionByName _)
      .groupBy(col(id))
      .agg(round(sum(col("__s")), 6).as("rrf"), count(lit(1)).cast("long").as("n_runs"))
      .orderBy(col("rrf").desc, col(id))
      .limit(k)
  }

  /** Search-result diversification by source capping — the re-rank stage
    * between candidate generation and presentation: at most `perGroup` hits
    * per `group` survive (in score order), then the global top `k` is cut.
    * Prevents one domain from monopolizing a result page — the retrieval
    * face of the corpus-curation per-source cap.
    *
    * Ordering is fully deterministic: both cuts order by
    * `(score DESC, id)` over the already-6dp-rounded score. Plan shape: one
    * group-keyed row_number window (per-task state = one group's hits),
    * then a TakeOrdered global cut; the final rank window sees at most `k`
    * rows. `scored` is any frame with (id, group, score) — BM25, cosine,
    * or fused scores alike.
    */
  def diversifiedTopK(scored: DataFrame, id: String, score: String, group: String,
      perGroup: Int, k: Int): DataFrame = {
    require(perGroup >= 1, s"perGroup must be >= 1, got $perGroup")
    require(k >= 1, s"k must be >= 1, got $k")
    val wg = Window.partitionBy(col(group)).orderBy(col(score).desc, col(id))
    val capped = scored
      .withColumn("__gr", row_number().over(wg))
      .where(col("__gr") <= perGroup)
      .orderBy(col(score).desc, col(id))
      .limit(k)
    val wk = Window.orderBy(col(score).desc, col(id)) // <= k rows
    capped
      .withColumn("rank", row_number().over(wk).cast("long"))
      .select(col(id), col(group), col(score), col("__gr").cast("long").as("group_rank"), col("rank"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR'98):
    * greedily build a result list of `k` documents maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)` — relevance traded
    * against redundancy, the classic answer to a result page (or a RAG
    * context window) full of near-duplicates of one good hit.
    *
    * Input is a CANDIDATE frame `(queryId, docId, rel, vec)` — the top-N of
    * an upstream ranker (BM25, ANN, RRF), so per-query group size is
    * bounded by that N and the greedy O(k·N) loop with its O(N²) cosine
    * matrix is constant work per query. The corpus was paid upstream;
    * this stage shuffles once on `queryId` and parallelizes across
    * queries (`KeyValueGroupedDataset.flatMapGroups`, the idiomatic Spark
    * form for bounded per-key sequential logic).
    *
    * Determinism contract (mirrored by the DuckDB oracle's fold): every
    * quantity the greedy loop COMPARES is a raw IEEE double derived from
    * the input bits by the same operations in both engines — `rel` as
    * supplied (derive it identically in the oracle; do NOT pre-round it:
    * decimal and FP rounding rules disagree on ulps, and an ulp moves the
    * argmax), candidate-candidate sims as unrounded left-to-right cosine,
    * and the step score `λ·rel − (1−λ)·maxSim`. Only the EMITTED score is
    * quantized, as floor(x·1e6)/1e6 — pure FP, so engines agree exactly.
    * Ties pick the smallest docId (candidates are scanned in docId order
    * and only a strictly greater score displaces the champion). Null
    * vectors are dropped up front.
    */
  def mmr(candidates: DataFrame, queryId: String, docId: String, rel: String, vec: String,
      k: Int, lambda: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val rows = candidates
      .where(col(vec).isNotNull)
      .select(col(queryId).cast("long"), col(docId).cast("long"),
        col(rel).cast("double"), col(vec).cast("array<float>"))
      .as[(Long, Long, Double, Array[Float])]
    rows.groupByKey(_._1).flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Float])]) =>
      val cands = it.toArray.sortBy(_._2) // docId order = index order = tie order
      val n = cands.length
      val norms = cands.map(c => Sweep.norm(c._4))
      def sim(a: Int, b: Int): Double = // raw: see determinism contract above
        Sweep.cosine(Sweep.dot(cands(a)._4, cands(b)._4), norms(a), norms(b))
      val chosen = new Array[Boolean](n)
      val selected = new scala.collection.mutable.ArrayBuffer[Int](k)
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)](math.min(k, n))
      var step = 0
      while (step < math.min(k, n)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < n) {
          if (!chosen(c)) {
            var maxSim = 0.0
            var s = 0
            while (s < selected.length) {
              val sm = sim(c, selected(s))
              if (s == 0 || sm > maxSim) maxSim = sm
              s += 1
            }
            val score = lambda * cands(c)._3 - (1.0 - lambda) * maxSim
            if (score > bestScore) { best = c; bestScore = score } // strict: first (lowest docId) wins ties
          }
          c += 1
        }
        chosen(best) = true
        selected += best
        out += ((qid, (step + 1).toLong, cands(best)._2, math.floor(bestScore * 1e6) / 1e6))
        step += 1
      }
      out.iterator
    }.toDF("query_id", "rank", "doc_id", "score")
  }

  /** DCG discount table 1/log2(i+1) for ranks 1..k, computed ONCE on the
    * driver and embedded as literals in the plan (and, by the caller, in
    * the oracle SQL) — engines' libm log2 may differ in the last ulp, but
    * a literal is a literal everywhere.
    */
  private[graft] def dcgDiscounts(k: Int): Seq[Double] =
    (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** Ranking-quality metrics for a retrieval run under label relevance:
    * per query, the first relevant rank, MRR, DCG@k / ideal-DCG@k / nDCG@k
    * — the standard eval battery run over every ANN index and fused ranker
    * before it ships. A neighbor is relevant when it carries the query's
    * label; the ideal DCG uses the corpus-wide count of other same-label
    * items (capped at k), so nDCG = 1 means "as good as any ordering could
    * be given the corpus".
    *
    * Determinism: ranks and relevance are integers; the only reals are
    * the DCG discounts, which are injected as driver-computed literals
    * ([[dcgDiscounts]]) — mirror them into the oracle as literals too.
    * Physical shape: the run is k-sized per query; two broadcast-size
    * label joins, a label-keyed corpus count, one per-query aggregation.
    */
  def rankMetrics(run: DataFrame, labels: DataFrame, id: String, label: String,
      k: Int): DataFrame = {
    val disc = dcgDiscounts(k)
    val discCol = array(disc.map(lit): _*)
    val cumCol = array(disc.scanLeft(0.0)(_ + _).tail.map(lit): _*)
    val lab = labels.where(col(label).isNotNull)
      .select(col(id).cast("long").as("__id"), col(label).cast("long").as("__lab"))
    // relevant-per-label corpus counts (minus self: a query can't retrieve itself)
    val labCounts = lab.groupBy(col("__lab")).agg(count(lit(1)).as("__cnt"))
    val scored = run.where(col("rank") <= k)
      .join(lab.select(col("__id").as("query_id"), col("__lab").as("__qlab")), Seq("query_id"))
      .join(lab.select(col("__id").as("neighbor_id"), col("__lab").as("__nlab")), Seq("neighbor_id"))
      .withColumn("__rel", (col("__qlab") === col("__nlab")).cast("long"))
    scored
      .groupBy(col("query_id"), col("__qlab"))
      .agg(
        sum(col("__rel")).as("n_rel_at_k"),
        min(when(col("__rel") === 1, col("rank"))).as("__fr"),
        sum(when(col("__rel") === 1, element_at(discCol, col("rank").cast("int")))
          .otherwise(lit(0.0))).as("__dcg"))
      .join(broadcast(labCounts.withColumnRenamed("__lab", "__qlab")), Seq("__qlab"))
      .withColumn("__nrel", greatest(col("__cnt") - 1, lit(0L))) // exclude the query itself
      .withColumn("__idcg",
        when(col("__nrel") >= 1,
          element_at(cumCol, least(col("__nrel"), lit(k.toLong)).cast("int")))
          .otherwise(lit(0.0)))
      .select(
        col("query_id"),
        coalesce(col("__fr"), lit(0L)).cast("long").as("first_rel_rank"),
        col("n_rel_at_k"),
        round(when(col("__fr").isNotNull, lit(1.0) / col("__fr")).otherwise(lit(0.0)), 6).as("mrr"),
        round(col("__dcg"), 6).as("dcg"),
        round(col("__idcg"), 6).as("idcg"),
        round(when(col("__idcg") > 0, col("__dcg") / col("__idcg")).otherwise(lit(0.0)), 6)
          .as("ndcg"))
  }

  /** Kendall rank agreement between two runs' top-k lists, per query —
    * order preservation, the ANN quality axis recall@k cannot see (an
    * index can fetch the right k items in a scrambled order). Over the
    * items PRESENT IN BOTH lists: τ = (concordant − discordant) /
    * (n(n−1)/2). Ranks are unique within a run, so there are no ties and
    * the counts are exact integers; the only real number is the final
    * ratio. Work is k²-bounded per query (the runs were paid upstream).
    */
  def rankAgreement(runA: DataFrame, runB: DataFrame, k: Int): DataFrame = {
    val a = runA.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("__ra"))
    val b = runB.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("__rb"))
    val shared = a.join(b, Seq("query_id", "neighbor_id"))
    val p1 = shared.select(col("query_id"), col("neighbor_id").as("__i1"),
      col("__ra").as("__a1"), col("__rb").as("__b1"))
    val p2 = shared.select(col("query_id"), col("neighbor_id").as("__i2"),
      col("__ra").as("__a2"), col("__rb").as("__b2"))
    val pairs = p1.join(p2, Seq("query_id")).where(col("__i1") < col("__i2"))
      .withColumn("__conc",
        (((col("__a1") < col("__a2")) && (col("__b1") < col("__b2"))) ||
          ((col("__a1") > col("__a2")) && (col("__b1") > col("__b2")))).cast("long"))
    val counts = shared.groupBy(col("query_id")).agg(count(lit(1)).as("n_shared"))
    pairs.groupBy(col("query_id"))
      .agg(
        sum(col("__conc")).as("concordant"),
        sum(lit(1L) - col("__conc")).as("discordant"))
      .join(counts, Seq("query_id"), "right_outer")
      .select(col("query_id"), col("n_shared"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        coalesce(col("discordant"), lit(0L)).as("discordant"),
        round(
          when(col("n_shared") >= 2,
            (coalesce(col("concordant"), lit(0L)) - coalesce(col("discordant"), lit(0L)))
              .cast("double") / (col("n_shared") * (col("n_shared") - 1) / 2))
            .otherwise(lit(0.0)), 6).as("tau"))
  }

  /** Rocchio-style pseudo-relevance feedback (the α=0, β=1 query-expansion
    * form): run lexical BM25, take the top `feedbackK` hits as
    * pseudo-relevant, average their embeddings into an expanded query
    * vector, and re-rank the WHOLE corpus by cosine to that centroid —
    * "retrieve by keyword, expand by meaning". Finds on-topic documents
    * that share none of the query terms, which is exactly what a
    * keyword-seeded corpus-curation sweep needs.
    *
    * Determinism: the centroid's per-dim means are rounded to 6 places
    * BEFORE the cosine (shuffle-order float noise in the avg dies there —
    * the [[Similarity.labelCentroids]] convention), and the cosine itself
    * is [[Similarity.cosine]]'s index-order fold, bit-identical to the
    * oracle's sequential list fold.
    *
    * Plan shape: the BM25 stage is one combinable stats agg + a broadcast
    * stitch and a TakeOrdered top-`feedbackK`; the feedback join touches
    * `feedbackK` embedding rows; the centroid is a dims-sized aggregate
    * assembled into ONE array row (sort_array of a dims-bounded
    * collect_list — deterministic, control-plane-sized) and broadcast; the
    * final pass is ONE map-only cosine scan + TakeOrdered top-`k`. The
    * corpus is scanned twice (BM25, re-rank) and never shuffled.
    */
  def rocchioExpand(docs: DataFrame, id: String, text: String, terms: Seq[String],
      emb: DataFrame, embId: String, vec: String,
      feedbackK: Int = 10, k: Int = 20): DataFrame = {
    require(feedbackK > 0, s"feedbackK must be positive, got $feedbackK")
    require(k > 0, s"k must be positive, got $k")
    val run = TextAnalysis.bm25(docs, id, text, terms, k = feedbackK)
    val rel = run.select(col(id).as("__rid"))
      .join(emb.select(col(embId).as("__rid"), col(vec).as("__v")), Seq("__rid"))
    val centLong = rel.select(posexplode(col("__v")).as(Seq("dim", "__x")))
      .groupBy(col("dim")).agg(FixedPoint.mean6(col("__x")).as("__c"))
    val centroid = centLong
      .agg(sort_array(collect_list(struct(col("dim"), col("__c")))).as("__s"))
      .select(transform(col("__s"), s => s.getField("__c")).as("__cent"))
    emb.where(col(vec).isNotNull)
      .crossJoin(broadcast(centroid)) // 1-row expanded-query frame
      .select(col(embId),
        round(Similarity.cosine(col(vec), col("__cent")), 6).as("sim"))
      .orderBy(col("sim").desc, col(embId))
      .limit(k)
  }

  /** Exact phrase search over the corpus — the positional-inverted-index
    * merge (Manning/Raghavan/Schütze ch. 2): token `i` of the phrase at
    * document position `p` votes for anchor `p − i`, and an anchor with all
    * `len(phrase)` distinct vote indices is a phrase occurrence. One
    * posexplode + one broadcast join against the (tiny) phrase-term frame +
    * one keyed count — no per-term self-joins, no per-pair position
    * intersection, so cost is proportional to the CORPUS FREQUENCY of the
    * phrase's terms, exactly like a positional index probe. Repeated terms
    * in the phrase are handled by the distinct-vote-index count (each `i`
    * must be matched at its own offset).
    *
    * Output: `(id, n_hits)` for documents containing the phrase at least
    * once, ordered by id.
    */
  def phraseSearch(df: DataFrame, id: String, text: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val spark = df.sparkSession
    val k = phrase.size
    val terms = spark.createDataFrame(
      phrase.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("__i", "__term")
    df.where(col(text).isNotNull)
      .select(col(id), posexplode(TextAnalysis.tokens(col(text)))
        .as(Seq("__p", "__tok")))
      .join(broadcast(terms), col("__tok") === col("__term"))
      .select(col(id), (col("__p") - col("__i")).as("__anchor"), col("__i"))
      .groupBy(col(id), col("__anchor"))
      .agg(count_distinct(col("__i")).as("__nv"))
      .where(col("__nv") === k)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col(id))
  }
}
