package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
  * against a distributed scan of the corpus; per-row arithmetic stays in
  * array lambdas (codegen, no UDF). The scale path is LSH bucketing
  * ([[randomHyperplaneBuckets]]): random-hyperplane signs shrink the
  * candidate set per query so a 100 TB corpus is scanned once, shuffled only
  * by bucket.
  *
  * The executor-side sweeps ([[knnGraph]] and [[knnGraphBlocked]],
  * [[marginMining]], [[knnClassify]], [[cosinePairs]] and
  * [[cosinePairsBlocked]]) score and rank through [[Sweep]], the one
  * definition of the pair score (`round6` cosine, with its threshold quick
  * reject) and of the top-k order (`round6` sim DESC, then id ASC, in
  * Spark's SQL double order) — the order [[bruteForceKnn]]'s window uses.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double in index
    * order (deterministic, engine-reproducible).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine as one JIT-compiled pass. Catalyst's higher-order functions
    * (`aggregate`/`zip_with`) are interpreted per element — on an all-pairs
    * workload that is ~100× slower than this loop. The accumulation order
    * (left-to-right, double) is identical to [[cosine]], so results are
    * bit-for-bit the same.
    */
  private val cosineUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
    if (a == null || b == null) null.asInstanceOf[java.lang.Double] // NULL in, NULL out (like the Column form)
    else {
      val n = math.min(a.length, b.length)
      var sab = 0.0; var saa = 0.0; var sbb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        sab += x * y; saa += x * x; sbb += y * y
        i += 1
      }
      java.lang.Double.valueOf(sab / (math.sqrt(saa) * math.sqrt(sbb)))
    }
  }

  def cosineFast(a: Column, b: Column): Column = cosineUdf(a, b)

  /** Brute-force cosine top-k: for each query vector (small set, broadcast),
    * the `k` nearest corpus vectors. Ties broken by neighbor id; the
    * similarity is rounded before ranking so rankings are reproducible across
    * engines' last-ulp differences.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, id: String, vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosineFast(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("__rn").as("rank"))
  }

  /** Random-hyperplane LSH bucket id: the sign pattern of `planes` fixed
    * pseudo-random hyperplanes (seeded, so buckets are stable). Vectors in
    * the same bucket are likely similar (SimHash for real vectors).
    */
  def randomHyperplaneBuckets(df: DataFrame, id: String, vec: String, planes: Int, dim: Int): DataFrame = {
    val rng = new scala.util.Random(7L)
    val planeCols = (0 until planes).map { p =>
      val plane = Array.fill(dim)(rng.nextGaussian())
      val planeCol = array(plane.map(x => lit(x)): _*)
      when(dot(col(vec), planeCol) >= 0, shiftleft(lit(1), p)).otherwise(lit(0))
    }
    df.select(col(id), col(vec), planeCols.reduce((a, b) => a.bitwiseOR(b)).as("bucket"))
  }

  /** Bucketed approximate KNN: score only (query, corpus) pairs sharing an
    * LSH bucket. Recall < 1 by construction; multiply `planes` down or probe
    * neighboring buckets to trade recall for cost.
    */
  def bucketedKnn(corpus: DataFrame, queries: DataFrame, id: String, vec: String, k: Int, planes: Int, dim: Int): DataFrame = {
    val qb = randomHyperplaneBuckets(queries, id, vec, planes, dim)
      .select(col(id).as("query_id"), col(vec).as("__qv"), col("bucket"))
    val cb = randomHyperplaneBuckets(corpus, id, vec, planes, dim)
      .select(col(id).as("neighbor_id"), col(vec).as("__cv"), col("bucket"))
    val scored = cb
      .join(broadcast(qb), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosineFast(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("__rn").as("rank"))
  }

  /** Multi-probe LSH KNN: [[bucketedKnn]] plus the `planes` single-bit-flip
    * neighbor buckets of each query — the production recall booster (probe
    * the buckets the query ALMOST fell into instead of multiplying hash
    * tables). Candidate cost grows ×(planes+1) while recall approaches
    * exact on near-boundary queries; each (query, corpus) pair can match at
    * most one probe (probe buckets are distinct), so no dedup pass is
    * needed. The probe frame is queries×(planes+1) — still broadcast-sized.
    */
  def multiProbeKnn(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, planes: Int, dim: Int): DataFrame = {
    val qb = randomHyperplaneBuckets(queries, id, vec, planes, dim)
      .select(col(id).as("query_id"), col(vec).as("__qv"), col("bucket"))
    val probeArr = array(
      (col("bucket") +: (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1 << p)))): _*)
    val probes = qb.select(col("query_id"), col("__qv"), explode(probeArr).as("bucket"))
    val cb = randomHyperplaneBuckets(corpus, id, vec, planes, dim)
      .select(col(id).as("neighbor_id"), col(vec).as("__cv"), col("bucket"))
    val scored = cb
      .join(broadcast(probes), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosineFast(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("__rn").as("rank"))
  }

  /** Recall@k of an approximate KNN result against the exact one — the
    * quality gate every ANN deployment runs before trusting its buckets
    * (here: [[bucketedKnn]] / [[ivfKnn]] / [[pqKnn]] vs [[bruteForceKnn]]
    * on a held-out query sample). Both inputs use the *Knn operators'
    * `(query_id, neighbor_id, rank)` contract; recall is
    * `|approx ∩ exact| / |exact|` per query (exact can return fewer than k
    * neighbors on a small corpus, and a missing query scores 0 hits rather
    * than disappearing).
    *
    * Physical shape: one key-partitioned left join plus one partial
    * aggregation over frames already bounded to k rows per query —
    * control-plane-sized next to the scans that produced them.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val e = exact.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val a = approx.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    e.join(a, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
  }

  /** Hard-negative mining for contrastive/retrieval training: for each query
    * vector, the `k` most cosine-similar corpus vectors carrying a DIFFERENT
    * label — the near-misses a ranker must learn to push away (random
    * negatives are trivially far; the informative ones live just across the
    * class boundary). Same physical shape as [[bruteForceKnn]]: the query
    * sample broadcasts, the corpus streams map-side through the scored join,
    * and the per-query rank window sees only that query's candidates. Null
    * vectors and null labels on either side are excluded (they can neither
    * anchor nor serve as a negative, and NULL ordering is engine-dependent).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      label: String, k: Int): DataFrame = {
    val q = queries.where(col(vec).isNotNull && col(label).isNotNull)
      .select(col(id).cast("long").as("query_id"), col(vec).as("__qv"),
        col(label).cast("long").as("query_label"))
    val c = corpus.where(col(vec).isNotNull && col(label).isNotNull)
      .select(col(id).cast("long").as("neighbor_id"), col(vec).as("__cv"),
        col(label).cast("long").as("neighbor_label"))
    val scored = c
      .join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          col("query_label") =!= col("neighbor_label"))
      .withColumn("sim", round(cosineFast(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("sim"), col("__rn").cast("long").as("rank"))
  }

  /** Pairwise cosine similarity between per-group mean embeddings — the
    * semantic twin of [[TextAnalysis.groupVocabCosine]]: where that one
    * compares what sources SAY (token distributions), this compares where
    * they LIVE in embedding space — the domain-shift map that decides
    * whether two crawls can share a sampling budget or need separate
    * mixture weights.
    *
    * Long-format posexplode into one map-side-combinable (group, dim)
    * mean, then a dim-keyed self-join whose work is groups²·dims —
    * group-bounded, never corpus-bounded. Sums of float-derived doubles
    * feed the 6-dp-rounded cosine (ulp noise is 9 orders below the
    * rounding grain).
    */
  def groupCentroidCosine(df: DataFrame, group: String, vec: String): DataFrame = {
    val long = df.where(col(vec).isNotNull)
      .select(col(group).as("__g"), posexplode(col(vec).cast("array<double>")))
      .select(col("__g"), col("pos").as("__i"), col("col").as("__x"))
    val cent = long.groupBy(col("__g"), col("__i")).agg(avg(col("__x")).as("__c"))
    val norms = cent.groupBy(col("__g")).agg(sqrt(sum(col("__c") * col("__c"))).as("__n"))
    val a = cent.select(col("__g").as("g1"), col("__i"), col("__c").as("__c1"))
    val b = cent.select(col("__g").as("g2"), col("__i"), col("__c").as("__c2"))
    a.join(b, Seq("__i"))
      .where(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2"))
      .agg(sum(col("__c1") * col("__c2")).as("__dot"))
      .join(broadcast(norms.select(col("__g").as("g1"), col("__n").as("__n1"))), Seq("g1"))
      .join(broadcast(norms.select(col("__g").as("g2"), col("__n").as("__n2"))), Seq("g2"))
      .select(col("g1"), col("g2"),
        round(col("__dot") / (col("__n1") * col("__n2")), 6).as("cosine"))
  }

  /** Per-dimension covariance/correlation matrix of the embedding corpus —
    * the input to whitening, PCA-style dimensionality decisions, and
    * product-quantizer subspace design (strongly correlated dims in one
    * subspace waste codebook entries). Population moments over all
    * non-null vectors; output one row per unordered dim pair `i ≤ j`
    * (the diagonal carries the variance, corr = 1).
    *
    * Plan shape: each row explodes its own D·(D+1)/2 pair products (one
    * codegen'd `Generate`, no self-join — the id never matters), then ONE
    * map-side-combinable aggregation collapses the corpus to the
    * dims²-bounded moment table; the diagonal joins back broadcast-sized
    * for the correlation normalization. At 100 TB the shuffle carries
    * only per-task partial sums of D·(D+1)/2 groups.
    *
    * Determinism: components are quantized to the `quantum` grid as BIGINTs
    * BEFORE summation, so all three moment sums are exact integers — no
    * float summation-order hazard (a plain `sum(double)` flips 6-dp
    * roundings with partial-agg scheduling; q_embed_cov caught exactly that
    * at a half-ulp boundary — the DTW/lead-lag fixed-point technique).
    * The covariance is then ONE fixed double expression over exact inputs,
    * identical on any engine that mirrors the tree. Overflow bound:
    * `n · (max|x| / quantum)² < 2^63` — ~2.5e7 unit-norm-ish rows at the
    * default 1e-6 grid; coarsen `quantum` for a larger corpus (covariance
    * resolution degrades with the grid, order-independence does not).
    */
  def covarianceMatrix(df: DataFrame, vec: String, quantum: Double = 1e-6): DataFrame = {
    require(quantum > 0, s"quantum must be positive, got $quantum")
    val invQ = 1.0 / quantum
    val pairs = df.where(col(vec).isNotNull)
      .select(expr(
        s"transform(CAST($vec AS ARRAY<DOUBLE>), x -> CAST(round(x * ${invQ}D) AS BIGINT))")
        .as("__q"))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(__q) - 1), i ->
          |  transform(sequence(i, size(__q) - 1), j -> struct(
          |    i AS i, j AS j,
          |    element_at(__q, i + 1) * element_at(__q, j + 1) AS p,
          |    element_at(__q, i + 1) AS xi,
          |    element_at(__q, j + 1) AS xj))))""".stripMargin)).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"),
        col("e.xi").as("xi"), col("e.xj").as("xj"))
    val moments = pairs.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"),
        sum(col("xi")).as("si"), sum(col("xj")).as("sj"),
        max(abs(col("xi").cast("double"))).as("__mxi"),
        max(abs(col("xj").cast("double"))).as("__mxj"))
      // loud overflow guard (no extra pass): the scaladoc bound
      // `n · (max|x|/quantum)² < 2^63` must HOLD, not silently wrap —
      // n·max|xi|·max|xj| dominates |Σp| (and trivially |Σxi|, |Σxj|).
      // Folded INTO the cov expression (a free-standing guard column would
      // be pruned away unreferenced); assert_true returns NULL when the
      // predicate holds, so `when(.. .isNull, ..)` is value-transparent.
      .withColumn("cov", when(
        assert_true(
          col("n").cast("double") * col("__mxi") * col("__mxj") < lit(4.6e18),
          lit("covarianceMatrix overflow: n * (max|x|/quantum)^2 exceeds " +
            "the BIGINT grid - coarsen `quantum` for this corpus")).isNull,
        col("sp").cast("double") / lit(invQ * invQ) / col("n") -
          (col("si").cast("double") / lit(invQ) / col("n")) *
          (col("sj").cast("double") / lit(invQ) / col("n"))))
    val diag = moments.where(col("i") === col("j"))
      .select(col("i").as("__d"), col("cov").as("__var"))
    moments
      .join(broadcast(diag.withColumnRenamed("__d", "i").withColumnRenamed("__var", "__vi")), Seq("i"))
      .join(broadcast(diag.withColumnRenamed("__d", "j").withColumnRenamed("__var", "__vj")), Seq("j"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        // `+ 0.0` canonicalizes a -0.0 produced by rounding a negative
        // covariance up to zero — engines disagree on round()'s sign-of-
        // zero (DuckDB keeps it, Spark drops it); identity for all else
        col("n"), (round(col("cov"), 6) + lit(0.0)).as("cov"),
        (round(col("cov") / sqrt(col("__vi") * col("__vj")), 6) + lit(0.0)).as("corr"))
  }

  /** Full exact kNN graph — EVERY vector as a query, its `k` nearest by
    * cosine, the structure under UMAP/label-propagation/hubness analysis.
    * Same ranking contract as [[bruteForceKnn]] ([[Sweep.TopK]]).
    *
    * Size-gated two-path routing (the [[graft.operators.Dedup.connectedComponents]]
    * pattern): up to `maxBroadcastRows` the corpus is collected and
    * broadcast, and the k-best cut lives INSIDE the scoring loop
    * ([[knnClassify]]'s physical shape — no n²-row window shuffle, the
    * right plan when one executor can hold the matrix). Beyond the gate it
    * routes to [[knnGraphBlocked]], the exact distributed 2-D block sweep —
    * identical output by construction (both paths cut with
    * [[Sweep.TopK]]), so the gate changes the physical plan only, never
    * the result.
    */
  def knnGraph(df: DataFrame, id: String, vec: String, k: Int,
      maxBroadcastRows: Long = 200000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, id)
    val base = df.where(col(vec).isNotNull).select(col(id).cast("long"), col(vec))
    // stats-first gate ([[SizeGates]] convention): a frame that Catalyst
    // statistics already prove too big for the driver routes to the block
    // sweep with NO count job; only candidates for the driver path pay the
    // exact count that admission to driver memory requires
    if (SizeGates.definitelyExceeds(base, maxBroadcastRows)) {
      // the stats route must respect the SAME per-block row bound as the
      // exact-count route below (r13 ADVICE: bytes/64MB alone can choose
      // far fewer blocks for narrow-vector corpora, letting per-block rows
      // exceed maxBroadcastRows): block count = max of the bytes floor and
      // the stats-implied row count over the row bound
      val statsRows = SizeGates.statsRowEstimate(base)
      val rowBlocks = ((statsRows + maxBroadcastRows - 1) / maxBroadcastRows).toInt
      return knnGraphBlocked(df, id, vec, k,
        math.max(2, math.max(autoBlocksSized(base), rowBlocks)))
    }
    val n0 = base.count()
    if (n0 > maxBroadcastRows) {
      val blocks = math.max(2L, (n0 + maxBroadcastRows - 1) / maxBroadcastRows).toInt
      return knnGraphBlocked(df, id, vec, k, blocks)
    }
    val data = base
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val norms = data.map(r => Sweep.norm(r._2))
    Sweep.broadcastRows(spark, data.length, (data, norms)) { case ((d, nrm), i) =>
      val (qid, qv) = d(i)
      val qn = nrm(i)
      val top = new Sweep.TopK(k)
      var j = 0
      while (j < d.length) {
        if (j != i) {
          val (nid, nv) = d(j)
          top.offer(Sweep.cosine(Sweep.dot(qv, nv), qn, nrm(j)), nid)
        }
        j += 1
      }
      (0 until top.size).iterator.map(r => (qid, top.ids(r), top.sims(r), (r + 1).toLong))
    }.toDF("query_id", "neighbor_id", "sim", "rank")
  }

  /** The unbounded-corpus path of [[knnGraph]]: EXACT distributed kNN via a
    * 2-D block sweep. Both sides are hash-split into `blocks` groups; every
    * `(query, corpus)` pair meets in exactly ONE task — the task keyed
    * `(qb(query), cb(corpus))` — so each row is replicated `2·blocks` times
    * (O(n·blocks) communication, the q_jaccard_dist shape), each task holds
    * only `2n/blocks` vectors, and the k-best cut still lives inside the
    * scoring loop (a per-task insertion top-k per query). The global merge
    * then reduces `blocks·k` candidates per query — `n·blocks·k` rows
    * through the final window, never n².
    *
    * Exactness: per-block candidates are cut by the same [[Sweep.TopK]]
    * as the broadcast path, and a query's true top-k within the union of
    * blocks is the top-k of the per-block top-ks — so output is
    * bit-identical to the broadcast sweep (spec-pinned). At 1000 executors: `blocks = ⌈n / maxBroadcastRows⌉`
    * tasks-squared of bounded memory, no driver materialization.
    */
  private[graft] def knnGraphBlocked(df: DataFrame, id: String, vec: String,
      k: Int, blocks: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, id)
    require(blocks >= 1, s"blocks must be >= 1, got $blocks")
    val b = blocks
    // (taskKey, role, id, vec): role 0 = query only, 1 = corpus only,
    // 2 = both (the diagonal task, where the row plays query AND corpus)
    val tagged = df.where(col(vec).isNotNull)
      .select(col(id).cast("long"), col(vec))
      .as[(Long, Array[Float])]
      .flatMap { case (i, v) =>
        val own = java.lang.Long.remainderUnsigned(i * 0x9E3779B97F4A7C15L, b).toInt
        Iterator.range(0, b).map { other =>
          if (other == own) (own * b + own, 2: Byte, i, v)
          else (own * b + other, 0: Byte, i, v) // query row in task (own, other)
        } ++ Iterator.range(0, b).filter(_ != own)
          .map(other => (other * b + own, 1: Byte, i, v)) // corpus row in (other, own)
      }
    tagged.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val queries = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        val corpus = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        it.foreach { case (_, role, i, v) =>
          if (role != 1) queries += ((i, v))
          if (role != 0) corpus += ((i, v))
        }
        val cn = corpus.length
        val cNorm = corpus.iterator.map(r => Sweep.norm(r._2)).toArray
        queries.iterator.flatMap { case (qid, qv) =>
          val qn = Sweep.norm(qv)
          val top = new Sweep.TopK(k)
          var j = 0
          while (j < cn) {
            val (nid, nv) = corpus(j)
            if (nid != qid) top.offer(Sweep.cosine(Sweep.dot(qv, nv), qn, cNorm(j)), nid)
            j += 1
          }
          (0 until top.size).iterator.map(r => (qid, top.ids(r), top.sims(r)))
        }
      }
      .toDF("query_id", "neighbor_id", "sim")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** Margin-scored cross-group pair mining (the bitext-mining scorer of
    * LASER/CCMatrix, re-expressed): for source-group vector `x` and its
    * cross-group candidate `y`,
    * `margin(x,y) = cos(x,y) / ((avgTopK(x→other) + avgTopK(y→other)) / 2)`
    * — the ratio of the pair's cosine to the mean of the two endpoints'
    * top-`k` cross-group neighborhoods. Absolute-cosine thresholds break
    * under hubness; the margin normalizes by local density, which is why
    * production parallel-corpus mining uses it.
    *
    * Engine-exactness: per-endpoint neighborhood sums are INTEGER sums of
    * `round(sim·1e6)` (each addend exactly integral before the cast), so no
    * float accumulation order exists; the margin is one double division of
    * bit-identical quantities, floor-stable under `round(·, 6)`.
    *
    * Output: the best candidate per source vector with `margin >=
    * threshold`: `(src_id, dst_id, cos, margin)`.
    *
    * Plan shape: ONE broadcast top-k sweep (the [[knnGraph]] shape,
    * restricted to cross-group candidates) emits k rows per vector; sums,
    * the margin join, and the per-source argmax window all run over that
    * k·n-sized edge frame, never the corpus. At scale, swap the sweep for
    * the LSH/IVF candidate generators — the margin algebra is unchanged.
    */
  def marginMining(df: DataFrame, id: String, vec: String, group: Column,
      srcGroup: String, k: Int, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, id)
    val data = df.where(col(vec).isNotNull && group.isNotNull)
      .select(col(id).cast("long"), col(vec), group.cast("string"))
      .as[(Long, Array[Float], String)].collect().sortBy(_._1)
    val norms = data.map(r => Sweep.norm(r._2))
    val edges = Sweep.broadcastRows(spark, data.length, (data, norms)) { case ((d, nrm), i) =>
      val (qid, qv, qg) = d(i)
      val qn = nrm(i)
      val top = new Sweep.TopK(k)
      var j = 0
      while (j < d.length) {
        val (nid, nv, ng) = d(j)
        if (ng != qg) top.offer(Sweep.cosine(Sweep.dot(qv, nv), qn, nrm(j)), nid) // cross-group only
        j += 1
      }
      (0 until top.size).iterator.map(r => (qid, top.ids(r), top.sims(r), qg))
    }.toDF("qid", "nid", "sim", "grp")
    // integer neighborhood sums: round(sim·1e6) is exactly integral, the
    // cast is exact, and BIGINT addition has no order to diverge
    val sums = edges.groupBy(col("qid"))
      .agg(sum(round(col("sim") * 1000000.0).cast("long")).as("isum"))
    val denomScale = 2.0 * k * 1000000.0
    val scored = edges.where(col("grp") === srcGroup)
      .join(sums.select(col("qid"), col("isum").as("isuma")), Seq("qid"))
      .join(sums.select(col("qid").as("nid"), col("isum").as("isumb")), Seq("nid"))
      .select(col("qid").as("src_id"), col("nid").as("dst_id"), col("sim"),
        round(col("sim") / ((col("isuma") + col("isumb")).cast("double") / denomScale), 6)
          .as("margin"))
    val w = Window.partitionBy(col("src_id")) // k rows per key
      .orderBy(col("margin").desc, col("dst_id"))
    scored.withColumn("__rb", row_number().over(w))
      .where(col("__rb") === 1 && col("margin") >= threshold)
      .select(col("src_id"), col("dst_id"), col("sim").as("cos"), col("margin"))
  }

  /** Hubness report over the [[knnGraph]]: each vector's in-degree — how
    * many other vectors count it among their `k` nearest. High-dimensional
    * embedding spaces concentrate: a few "hub" points appear in everyone's
    * neighbor lists (skewing retrieval and kNN labels) while anti-hubs are
    * never retrieved at all. Zero-degree vectors are kept via the left
    * join — the unreachable tail matters as much as the hubs.
    */
  def hubness(df: DataFrame, id: String, vec: String, k: Int,
      maxBroadcastRows: Long = 200000L): DataFrame = {
    val degrees = knnGraph(df, id, vec, k, maxBroadcastRows)
      .groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("in_degree"))
    df.where(col(vec).isNotNull)
      .select(col(id).cast("long").as("vec_id"))
      .join(degrees.withColumnRenamed("neighbor_id", "vec_id"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** Mutual-kNN edge list — the symmetric backbone graph under
    * density-based community detection and UMAP: an undirected edge
    * `(d1 < d2)` exists iff each endpoint ranks among the OTHER's `k`
    * nearest ([[knnGraph]] contract). The mutuality filter is what kills
    * hub edges: a hub appears in everyone's list, but it only keeps the
    * neighbors IT also ranks — so communities don't all fuse through one
    * popular point.
    *
    * One kNN sweep + a self-join of the k·n-sized edge list on the
    * reversed key — the join input is the GRAPH (k rows per vector), never
    * the corpus, so the mutual step costs the same at any corpus scale
    * that can build the kNN graph at all. Feed the result to
    * [[Dedup.connectedComponents]] for community labels.
    */
  def mutualKnnEdges(df: DataFrame, id: String, vec: String, k: Int): DataFrame =
    // materialize the k·n-row kNN run ONCE before the self-join: both join
    // branches (forward and reversed) would otherwise re-run the full
    // cosine sweep — the dominant cost — twice. knnGraph is already eager
    // (driver-side collect of the broadcast side), so the checkpoint does
    // not change the construction contract.
    mutualKnnEdgesFromGraph(
      knnGraph(df, id, vec, k).select(col("query_id"), col("neighbor_id"), col("sim"))
        .localCheckpoint())

  /** The mutuality self-join alone, over an already-materialized kNN graph
    * `(query_id, neighbor_id, sim)` — for callers that share ONE graph
    * frame across several analyses (the SparkEntry `_shared_knn_graph`
    * memo: PageRank, label propagation, hubness and the mutual backbone
    * all read the same sweep instead of re-running it). */
  def mutualKnnEdgesFromGraph(g: DataFrame): DataFrame = {
    val rev = g.select(col("neighbor_id").as("query_id"), col("query_id").as("neighbor_id"))
    g.join(rev, Seq("query_id", "neighbor_id"))
      .where(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("d1"), col("neighbor_id").as("d2"), col("sim"))
  }

  /** Per-dimension z-score standardization of the embedding corpus — the
    * whitening-lite preprocessing in front of distance-based ops (kNN,
    * clustering, PQ) when dimensions carry wildly different scales: each
    * coordinate becomes `(x − μ_dim) / σ_dim` (population σ). Output is
    * long format `(vec_id, dim, z)` rounded to 6; constant dimensions
    * (σ = 0) are dropped — they carry no information and would divide by
    * zero (the [[quantizeInt8]] convention).
    *
    * Plan shape: one `posexplode` into ONE map-side-combinable moment
    * aggregation (dims-bounded output), the per-dim stats broadcast back
    * onto the exploded stream — the corpus is never shuffled, matching
    * [[covarianceMatrix]]'s scale contract.
    */
  def standardize(df: DataFrame, id: String, vec: String): DataFrame = {
    requireIntegralId(df, id)
    val base = df.where(col(vec).isNotNull)
      .select(col(id).cast("long").as("vec_id"), posexplode(col(vec)).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("x").cast("double").as("x"))
    val stats = base.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("mean", col("sx") / col("n"))
      .withColumn("var", col("sxx") / col("n") - col("mean") * col("mean"))
      .where(col("var") > 0)
      .select(col("dim"), col("mean"), col("var"))
    base.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        round((col("x") - col("mean")) / sqrt(col("var")), 6).as("z"))
  }

  /** Sample-trained PCA via power iteration with deflation — the top
    * `nComponents` principal axes of the embedding corpus, the projection
    * behind 2-D semantic maps, variance-based dimension budgeting, and
    * whitening. Like [[trainIvfCentroids]], training runs on a bounded
    * id-ordered driver sample (deterministic across runs and cluster
    * layouts; at 100 TB a sample is the standard estimator — the moment
    * matrix is dims², not corpus-sized), and the returned arrays are
    * broadcast into a map-only projection ([[pcaProject]]).
    *
    * Deterministic by construction: centering, the covariance moments, the
    * fixed-iteration power loop and the deflation all run in index order
    * on the driver; the start vector is the constant `1/√d`; each
    * component's sign is normalized so its largest-magnitude coordinate is
    * positive (eigenvectors are sign-ambiguous — without the convention
    * two runs could disagree by a global flip).
    *
    * Returns `(means, components, eigenvalues)` — components are unit
    * vectors, eigenvalues the explained population variance, descending.
    */
  def trainPca(df: DataFrame, id: String, vec: String, nComponents: Int,
      iters: Int = 100, maxSample: Int = 100000): (Array[Double], Array[Array[Double]], Array[Double]) = {
    require(nComponents >= 1, s"nComponents must be >= 1, got $nComponents")
    val sample = df.where(col(vec).isNotNull)
      .orderBy(col(id)).limit(maxSample).select(col(vec))
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sample.nonEmpty, "empty training set")
    val n = sample.length
    val d = sample.head.length
    require(nComponents <= d, s"nComponents $nComponents > dims $d")
    val means = new Array[Double](d)
    sample.foreach { v => var i = 0; while (i < d) { means(i) += v(i); i += 1 } }
    var i = 0; while (i < d) { means(i) /= n; i += 1 }
    // population covariance, index order
    val cov = Array.ofDim[Double](d, d)
    sample.foreach { v =>
      var a = 0
      while (a < d) {
        val xa = v(a) - means(a)
        var b = a
        while (b < d) { cov(a)(b) += xa * (v(b) - means(b)); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < d) {
      var b = a
      while (b < d) { cov(a)(b) /= n; if (b != a) cov(b)(a) = cov(a)(b); b += 1 }
      a += 1
    }
    def matVec(m: Array[Array[Double]], v: Array[Double]): Array[Double] = {
      val out = new Array[Double](d)
      var r = 0
      while (r < d) {
        var s = 0.0; var c = 0
        while (c < d) { s += m(r)(c) * v(c); c += 1 }
        out(r) = s; r += 1
      }
      out
    }
    def norm(v: Array[Double]): Double = math.sqrt(dotIdx(v, v))
    val comps = new Array[Array[Double]](nComponents)
    val eigs = new Array[Double](nComponents)
    var c = 0
    while (c < nComponents) {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      var it = 0
      while (it < iters) {
        val w = matVec(cov, v)
        val nw = norm(w)
        // a zero iterate (rank-deficient tail) keeps the previous direction
        if (nw > 0) v = w.map(_ / nw)
        it += 1
      }
      val lambda = dotIdx(v, matVec(cov, v))
      // sign convention: largest-|coordinate| entry positive
      var mi = 0; var mv = 0.0
      var j = 0
      while (j < d) { if (math.abs(v(j)) > mv) { mv = math.abs(v(j)); mi = j }; j += 1 }
      if (v(mi) < 0) { var t = 0; while (t < d) { v(t) = -v(t); t += 1 } }
      comps(c) = v; eigs(c) = lambda
      // deflate: cov -= lambda v v^T
      var r = 0
      while (r < d) {
        var s = 0
        while (s < d) { cov(r)(s) -= lambda * v(r) * v(s); s += 1 }
        r += 1
      }
      c += 1
    }
    (means, comps, eigs)
  }

  /** Map-only projection onto [[trainPca]] components: `pc_c = v·w_c −
    * means·w_c` (the offset is a driver-side constant, so the row-side work
    * is one index-order dot product per component — the same
    * engine-portable decomposition as the PQ/IVF distance family). Output
    * `(vec_id, pc1..pcN)` rounded to 6; null vectors are dropped. JIT
    * `mapPartitions` over primitive arrays — no boxing, no shuffle, linear
    * in input splits.
    */
  def pcaProject(df: DataFrame, id: String, vec: String,
      means: Array[Double], comps: Array[Array[Double]]): DataFrame = {
    require(comps.nonEmpty, "pcaProject needs at least one component")
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, id)
    val offs = comps.map(w => dotIdx(means, w))
    val bc = spark.sparkContext.broadcast((comps, offs))
    val projected = df.where(col(vec).isNotNull)
      .select(col(id).cast("long"), col(vec))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (ws, os) = bc.value
        it.map { case (vid, v) =>
          val pcs = new Array[Double](ws.length)
          var c = 0
          while (c < ws.length) {
            val w = ws(c)
            var s = 0.0; var i = 0; val len = math.min(v.length, w.length)
            while (i < len) { s += v(i).toDouble * w(i); i += 1 }
            pcs(c) = Sweep.round6(s - os(c))
            c += 1
          }
          (vid, pcs)
        }
      }
    val out = projected.toDF("vec_id", "__pcs")
    comps.indices.foldLeft(out) { (acc, c) =>
      acc.withColumn(s"pc${c + 1}", col("__pcs").getItem(c))
    }.drop("__pcs")
  }

  /** Matryoshka-style truncation audit: recall@k of exact cosine KNN run on
    * only the FIRST `d` dimensions, against KNN on the full vector, for each
    * `d` in `dims` — the measurement that licenses the standard cost lever
    * of searching a truncated prefix (d·n FLOPs instead of D·n, a smaller
    * ANN index, cheaper int8 quantization) and re-ranking survivors at full
    * width. Per-dims output keeps integer hit counts and computes micro
    * recall `sum(hits)/sum(exact)` — integer sums, so the number is exact
    * and engine-reproducible (a mean of per-query ratios would depend on
    * float summation order).
    *
    * Cost shape: ONE broadcast-query sweep for every width at once — the
    * scored cross product materializes a single time (one bounded
    * nested-loop join instead of one per width plus one for the truth),
    * each pair fans out to `dims + 1` width rows map-side (width 0 = the
    * full-vector truth), one window ranks all widths together, and the
    * truth top-k replicates per width into one equi-join. Same
    * `(round6 sim DESC, id ASC)` cut as [[bruteForceKnn]], so results are
    * identical to running the sweeps separately.
    */
  def truncatedRecall(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "truncatedRecall needs at least one truncation width")
    require(dims.forall(_ > 0), s"truncation widths must be positive, got $dims")
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv"))
    val widths = array((0 +: dims.toList).map(lit(_)): _*)
    val ranked = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("__qv"), col("__cv"),
        explode(widths).as("__d"))
      .withColumn("__sim", round(cosineFast(
        when(col("__d") === 0, col("__qv")).otherwise(slice(col("__qv"), lit(1), col("__d"))),
        when(col("__d") === 0, col("__cv")).otherwise(slice(col("__cv"), lit(1), col("__d")))), 6))
      .withColumn("__rn", row_number().over(Window
        .partitionBy(col("__d"), col("query_id"))
        .orderBy(col("__sim").desc, col("neighbor_id"))))
      .where(col("__rn") <= k)
    val truth = ranked.where(col("__d") === 0)
      .select(col("query_id"), col("neighbor_id"),
        explode(array(dims.map(lit(_)): _*)).as("__d"))
    val approx = ranked.where(col("__d") =!= 0)
      .select(col("__d"), col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    truth.join(approx, Seq("__d", "query_id", "neighbor_id"), "left_outer")
      .groupBy(col("__d"))
      .agg(
        count_distinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("__d").cast("long").as("dims"), col("n_queries"), col("n_exact"),
        col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
  }

  /** Auto block count for the block-partitioned pair sweeps: b(b+1)/2
    * tasks sized to give the scheduler ~16 tasks per core — the triangle's
    * diagonal blocks carry half an off-diagonal block's work, so a coarse
    * grid stalls on stragglers (measured 5.4 s → 4.5 s at sf0.1 going
    * 16 → 32 blocks on 32 cores). Grows as √parallelism: a 1000-executor
    * cluster gets proportionally bigger blocks, not quadratically more
    * tasks. Communication is O(n·blocks), so the √ growth also keeps the
    * shuffle volume sublinear in cluster size.
    */
  private[operators] def autoBlocks(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(8, math.round(math.sqrt(32.0 * spark.sparkContext.defaultParallelism)).toInt)

  /** [[autoBlocks]] with a CORPUS-SIZE floor: each block materializes as
    * ONE `collect_list` row that a single task must hold, so the block
    * count must also grow with the corpus or a big one OOMs the block
    * build regardless of cluster size (the parallelism-only sizing was a
    * real 100×-scale hole: 32 blocks over 10⁹ embeddings is ~30 GB a
    * block). Sized from CATALYST STATISTICS (file-size-backed for scans,
    * propagated through projections) so constructing the plan launches NO
    * driver job — the PlanAuditSpec lazy-construction contract. Targets
    * ~64 MB of input per block, capped at 4096 blocks (8.4M pair tasks —
    * past that, pass `blocks` explicitly or pre-bucket with LSH); when
    * statistics are absent Spark substitutes defaultSizeInBytes ≈ 2⁶³,
    * which would nonsense-size the grid, so implausible (≥ 2⁵³) or
    * non-positive estimates fall back to the parallelism sizing.
    */
  private[operators] def autoBlocksSized(df: DataFrame): Int = {
    val par = autoBlocks(df.sparkSession)
    val stats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val floor =
      if (stats <= 0 || stats >= BigInt(1L << 53)) 1
      else (((stats - 1) / (64L << 20)).toInt + 1).min(4096)
    math.max(par, floor)
  }

  /** Embedding-cosine near-duplicate pairs: all (i < j) pairs with cosine
    * similarity at or above `threshold`.
    *
    * Physical strategy: broadcast the (id, vector, norm) matrix and sweep
    * the upper triangle in `mapPartitions` — an all-pairs workload is pure
    * FLOPs, and a tight JIT loop over primitive arrays beats a 2M-row
    * nested-loop join with per-row array conversion by ~30×. The broadcast
    * side must fit in executor memory; for corpora beyond that, bucket with
    * [[randomHyperplaneBuckets]] and run this within buckets (the 100 TB
    * path), or fall back to [[cosinePairsJoin]].
    */
  def cosinePairs(df: DataFrame, id: String, vec: String, threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, id)
    val data = df.select(col(id).cast("long"), col(vec))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val norms = data.map(r => Sweep.norm(r._2))
    Sweep.broadcastRows(spark, data.length, (data, norms)) { case ((d, nrm), i) =>
      val (id1, vi) = d(i)
      val ni = nrm(i)
      (i + 1 until d.length).iterator.flatMap { j =>
        val (id2, vj) = d(j)
        val sim = Sweep.cos6(Sweep.dot(vi, vj), ni, nrm(j), threshold)
        if (sim.isNaN) Iterator.empty else Iterator.single((id1, id2, sim))
      }
    }.toDF("d1", "d2", "sim")
  }

  /** Block-partitioned exact all-pairs form of [[cosinePairs]] — identical
    * output, NO driver collect and NO full broadcast: vectors are hashed
    * into `blocks` groups, each group travels once per partner block (a
    * shuffle of ~corpus×blocks bytes), and every unordered block pair is
    * one task running a primitive-array dot-product sweep (norms computed
    * once per block side). The 100 TB exact path when the matrix exceeds
    * executor memory: compute is the unavoidable O(n²/2) scoring,
    * communication O(n·blocks), parallelism blocks·(blocks+1)/2 tasks.
    */
  def cosinePairsBlocked(
      df: DataFrame,
      id: String,
      vec: String,
      threshold: Double,
      blocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, id)
    // corpus-size floor: a block is one collect_list row in one task —
    // ~64 MB of input a block (statistics-sized, no job at construction)
    val nb = if (blocks > 0) blocks else autoBlocksSized(df)
    val sets = df.select(
      pmod(col(id), lit(nb)).cast("int").as("b"),
      struct(col(id).cast("long").as("_1"), col(vec).as("_2")).as("dv"))
    val grouped = sets.groupBy(col("b")).agg(collect_list(col("dv")).as("vs"))
    val lhs = grouped.select(col("b").as("b1"), col("vs").as("v1s"))
    val rhs = grouped.select(col("b").as("b2"), col("vs").as("v2s"))
    lhs.join(rhs, col("b1") <= col("b2"))
      .select(col("b1"), col("b2"), col("v1s"), col("v2s"))
      // spread the block-pair rows across the cluster BEFORE the sweep: the
      // broadcast join emits nb(nb+1)/2 fat rows through the streamed
      // side's partitioning, and AQE coalesces that tiny-ROW-COUNT stage to
      // ~1 partition — serializing the whole O(n²) sweep on one core (r12
      // probe: 1.48 s in ONE task at sf0.1). Hashing the pair key restores
      // parallelism at one extra pass over the block payloads (~nb× corpus
      // bytes), which the quadratic sweep dwarfs at any scale where it
      // matters. The count is PINNED (REPARTITION_BY_NUM): a bare
      // repartition(cols) is REPARTITION_BY_COL, which AQE's
      // CoalesceShufflePartitions may re-collapse on a byte-small payload —
      // silently reintroducing the single-core sweep this exchange fixes.
      .repartition(lhs.sparkSession.sessionState.conf.numShufflePartitions,
        col("b1"), col("b2"))
      .as[(Int, Int, Array[(Long, Array[Float])], Array[(Long, Array[Float])])]
      .mapPartitions { it =>
        it.flatMap { case (bi, bj, as, bs) =>
          // same-block halving is by ID, not index: collect_list order is
          // not deterministic across the two join sides even for b1 == b2
          val same = bi == bj
          val nb = bs.map(r => Sweep.norm(r._2))
          as.iterator.flatMap { case (id1, vi) =>
            val ni = Sweep.norm(vi)
            bs.indices.iterator.flatMap { j =>
              val (id2, vj) = bs(j)
              val sim =
                if (same && id2 <= id1) Double.NaN
                else Sweep.cos6(Sweep.dot(vi, vj), ni, nb(j), threshold)
              if (sim.isNaN) Iterator.empty
              else Iterator.single((math.min(id1, id2), math.max(id1, id2), sim))
            }
          }
        }
      }
      .toDF("d1", "d2", "sim")
  }

  /** Declarative join form of [[cosinePairs]] — no broadcast-size bound,
    * one nested-loop join; the scale fallback when the matrix cannot be
    * broadcast and bucketing is not acceptable.
    */
  def cosinePairsJoin(df: DataFrame, id: String, vec: String, threshold: Double): DataFrame = {
    val a = df.select(col(id).as("d1"), col(vec).as("__v1"))
    val b = df.select(col(id).as("d2"), col(vec).as("__v2"))
    a.join(b, col("d1") < col("d2"))
      .withColumn("sim", round(cosineFast(col("__v1"), col("__v2")), 6))
      .where(col("sim") >= threshold)
      .select(col("d1"), col("d2"), col("sim"))
  }

  /** IVF (inverted-file) coarse quantizer in the IVFADC lineage (Jégou,
    * Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011 — coarse quantizer only, no PQ residual codes): seeded
    * k-means over a driver-side sample (at 100 TB: a bounded random
    * sample), centroids broadcast. Fully deterministic — seeded init, fixed
    * iteration count, index-order arithmetic.
    */
  def trainIvfCentroids(
      df: DataFrame,
      id: String,
      vec: String,
      k: Int,
      iters: Int = 10,
      seed: Long = 42L,
      maxSample: Int = 100000): Array[Array[Double]] = {
    import org.apache.spark.sql.functions.col
    // ordered before limit: a bare limit() takes whichever partitions
    // answer first, which would make the centroids (and every ivfKnn
    // result) run-dependent; null vectors are excluded
    val sample = df.where(col(vec).isNotNull)
      .orderBy(col(id)).limit(maxSample).select(col(vec))
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
    kmeansFit(sample, k, iters, seed)
  }

  /** Seeded Lloyd's k-means over a driver-side sample — shared by the IVF
    * coarse quantizer and the PQ sub-quantizers. Fully deterministic:
    * seeded init, fixed iteration count, index-order arithmetic.
    */
  private def kmeansFit(sample: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training set")
    val rng = new scala.util.Random(seed)
    var centroids = rng.shuffle(sample.indices.toVector).take(k).map(sample).toArray
    (0 until iters).foreach { _ =>
      val sums = Array.fill(centroids.length)(new Array[Double](sample.head.length))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0; while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** IVF approximate KNN: corpus rows assigned to their nearest centroid
    * cell (one mapPartitions pass, centroids broadcast); each query scans
    * only its `nprobe` nearest cells. The standard ANN scale path when the
    * corpus exceeds broadcast size but the centroid table does not.
    *
    * Assign and probe are tight JIT loops over primitive arrays in
    * `mapPartitions` (ids cast to long, like every distributed sweep here) —
    * the UDF form paid boxed `Seq[Float]` conversion per corpus row, the
    * dominant per-row cost of the whole index build. Null vectors are
    * skipped (the quantizer never sees them either).
    */
  def ivfKnn(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      k: Int,
      nCells: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // both sides, BEFORE the training collect — failing inside assignCells
    // would waste the k-means pass
    requireIntegralId(corpus, id)
    requireIntegralId(queries, id)
    val centroids = trainIvfCentroids(corpus, id, vec, nCells, seed = seed)
    val bc = spark.sparkContext.broadcast(centroids)
    val cb = assignCells(corpus, id, vec, centroids)
      .select(col(id).as("neighbor_id"), col(vec).as("__cv"), col("cell"))
    val qb = queries.select(col(id).cast("long"), col(vec))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (i, v) =>
          if (v == null) Iterator.empty
          else {
            val vd = toDouble(v)
            cs.indices
              .map(c => (dist2(vd, cs(c)), c))
              .sortBy(identity).take(nprobe).iterator
              .map { case (_, c) => (i, v, c) }
          }
        }
      }
      .toDF("query_id", "__qv", "cell")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    cb.join(broadcast(qb), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosineFast(col("__qv"), col("__cv")), 6))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("__rn").as("rank"))
  }

  /** Map-only nearest-centroid cell assignment — the IVF index build, and
    * on its own the semantic-clustering primitive (diversity sampling,
    * per-topic stats). Centroids broadcast; one tight primitive-array loop
    * per row; null vectors skipped. Output: (`id` as long, `vec`, cell).
    */
  def assignCells(df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, id)
    val bc = spark.sparkContext.broadcast(centroids)
    df.select(col(id).cast("long"), col(vec))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.collect { case (i, v) if v != null =>
          (i, v, nearestCentroid(toDouble(v), cs))
        }
      }
      .toDF(id, vec, "cell")
  }

  /** Semantic outlier detection: the `topN` vectors farthest from their
    * nearest IVF centroid — embeddings no trained cell explains well.
    * In a curation pipeline this is the "weird tail" report: OCR garbage,
    * wrong-modality rows, adversarial spam that survived text filters.
    *
    * Scale shape: centroids broadcast, ONE map-only pass (tight
    * primitive-array loop, no boxing), then a global TakeOrdered of
    * `topN` rows — no shuffle of the corpus, no window. At 100 TB this
    * is a scan + a k-sized heap per partition.
    *
    * Cross-engine determinism: squared distances use the PQ family's
    * portable `v·v − 2 v·c + c·c` form with index-order dots
    * ([[dotIdx]]), cell is first-minimum, and the reported distance is
    * `round(sqrt(max(d², 0)), 6)` — the ordering key both engines sort
    * by (ties broken on id).
    */
  def semanticOutliers(df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]], topN: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, id)
    val bc = spark.sparkContext.broadcast(centroids)
    df.select(col(id).cast("long"), col(vec))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        val ccs = cs.map(c => dotIdx(c, c))
        it.collect { case (i, v) if v != null =>
          val dv = toDouble(v)
          val vv = dotIdx(dv, dv)
          var best = 0; var bd = Double.MaxValue
          var j = 0
          while (j < cs.length) {
            val d = pqSqDist(vv, dotIdx(dv, cs(j)), ccs(j))
            if (d < bd) { bd = d; best = j } // first-minimum tie rule
            j += 1
          }
          (i, best.toLong, Sweep.round6(math.sqrt(math.max(bd, 0.0))))
        }
      }
      .toDF(id, "cell", "dist")
      .orderBy(col("dist").desc, col(id))
      .limit(topN)
  }

  /** Int8 scalar quantization of an embedding column — the standard 4×
    * shrink before ANN serving: per-DIMENSION min/max over the corpus give
    * an affine grid (`scale = range/255`), each component maps to a code in
    * `[-128, 127]`, and the per-vector reconstruction MSE reports the
    * quality loss. Constant dimensions (max == min) carry no information
    * and are dropped from codes and error alike.
    *
    * Returns one row per vector: integer code stats (exact, engine-portable)
    * plus the 6-dp MSE. Plan shape: long-format `posexplode` into a
    * dimension-keyed stats agg (dims-sized, broadcast back), then ONE
    * map-side-combinable per-vector agg — a row's exploded components stay
    * adjacent in its partition, so even the floating MSE accumulates in
    * dimension order on both engines. No driver collect, no window.
    */
  def quantizeInt8(df: DataFrame, id: String, vec: String): DataFrame = {
    val x = df.where(col(vec).isNotNull)
      .select(col(id), posexplode(col(vec)))
      .select(col(id), col("pos"), col("col").cast("double").as("v"))
    val st = x.groupBy(col("pos")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val scale = (col("mx") - col("mn")) / 255.0
    val code = least(greatest(round((col("v") - col("mn")) / scale, 0), lit(0.0)),
      lit(255.0)).cast("long") - 128
    x.join(broadcast(st), "pos")
      .where(col("mx") > col("mn"))
      .withColumn("code", code)
      .withColumn("recon", col("mn") + (col("code") + 128) * scale)
      .groupBy(col(id))
      .agg(
        sum(col("code")).as("code_sum"),
        min(col("code")).as("code_min"),
        max(col("code")).as("code_max"),
        count(lit(1)).as("n_dims"),
        // 1e-12-grid fixed-point mean: squared errors are ≤ grid-step²
        // sized, so the fine quantum keeps 6-dp fidelity while the sum
        // stays exact (≤ ~2.7e11 per term · dims)
        FixedPoint.mean(pow(col("v") - col("recon"), 2), 1e12, 6).as("mse"))
  }

  private def toDouble(v: Array[Float]): Array[Double] = {
    val d = new Array[Double](v.length)
    var i = 0; while (i < v.length) { d(i) = v(i).toDouble; i += 1 }
    d
  }

  /** The typed mapPartitions paths cast ids to long (like every distributed
    * sweep in the repo) — fail fast on non-numeric ids instead of letting
    * the cast null them out and the non-nullable encoder throw mid-job.
    * Shared by every operator that takes the `.cast("long")` shortcut.
    */
  private[operators] def requireIntegralId(df: DataFrame, id: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(id).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"column '$id' must be an integral type (cast to long internally); got $dt")
  }

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Per-label mean embedding (class centroids), in long format: one row
    * per (label, dim) with the rounded mean coordinate. The semantic
    * companion of [[normStats]] — class centroids are the seed of
    * label-conditioned diversity sampling, drift monitoring (compare
    * per-label centroids across snapshots), and nearest-class-mean
    * classification.
    *
    * Scale shape: posexplode multiplies the corpus by `dim` but feeds ONE
    * map-side-combinable aggregation on (label, dim) — the classic
    * long-format vector mean, shuffling only (label, dim, partial sums),
    * never the vectors. Null vectors drop out.
    */
  def labelCentroids(df: DataFrame, label: String, vec: String): DataFrame =
    df.filter(col(vec).isNotNull)
      .select(col(label), posexplode(col(vec)).as(Seq("dim", "__x")))
      .groupBy(col(label), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), FixedPoint.mean6(col("__x")).as("mean"))

  /** Per-label embedding stats (count + mean L2 norm) — a cheap corpus
    * health check used by the oracle suite.
    */
  def normStats(df: DataFrame, label: String, vec: String): DataFrame =
    df.select(col(label), norm(col(vec)).as("__n"))
      .groupBy(col(label))
      .agg(count(lit(1)).as("n"), FixedPoint.mean6(col("__n")).as("avg_norm"))

  // ------------------------------------------------------------------ PQ --

  /** Product-quantization codebooks (Jégou, Douze, Schmid, TPAMI 2011):
    * split the vector into `m` subspaces and k-means each over a driver
    * sample (seed varies per subspace). Shape: m × k × (dim/m). With m=4,
    * k=16 a 64-dim float vector compresses 64× to 4 byte-sized codes —
    * the way a 100 TB embedding corpus fits in cluster memory for ANN.
    */
  def trainPqCodebooks(df: DataFrame, id: String, vec: String, m: Int,
      k: Int = 16, iters: Int = 10, seed: Long = 42L,
      maxSample: Int = 100000): Array[Array[Array[Double]]] = {
    val sample = df.where(col(vec).isNotNull)
      .orderBy(col(id)).limit(maxSample).select(col(vec))
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sample.nonEmpty, "empty training set")
    val dim = sample.head.length
    require(sample.forall(_.length == dim),
      s"PQ needs uniform dimensionality; training sample mixes lengths")
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    Array.tabulate(m) { s =>
      val subSample = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      kmeansFit(subSample, k, iters, seed + s)
    }
  }

  /** Index-order dot product — the ONE summation both the PQ encoder and
    * its SQL oracle (`list_dot_product`) must share bit-for-bit.
    */
  private[graft] def dotIdx(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Squared distance in the engine-portable form `v·v − 2 v·c + c·c` —
    * NOT Σ(v−c)²: both engines then evaluate the identical float
    * expression (dot products in index order, literal c·c), so code
    * assignments and ADC scores agree to the last ulp.
    */
  private def pqSqDist(vv: Double, vc: Double, cc: Double): Double =
    vv - 2.0 * vc + cc

  /** Map-only PQ encoding: (id as long, codes array — one sub-quantizer
    * cell index per subspace, first-minimum tie rule).
    */
  def pqEncode(df: DataFrame, id: String, vec: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, id)
    val ccn = codebooks.map(_.map(c => dotIdx(c, c)))
    val bc = spark.sparkContext.broadcast((codebooks, ccn))
    df.select(col(id).cast("long"), col(vec))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (books, cc) = bc.value
        val m = books.length
        val sub = books(0)(0).length
        // null or shorter-than-trained-dim vectors are skipped, like the
        // trainer's isNotNull filter — reading past the array would fail
        // the whole job for one malformed row
        it.collect { case (i, v) if v != null && v.length >= m * sub =>
          val codes = new Array[Int](m)
          var s = 0
          while (s < m) {
            val off = s * sub
            var vv = 0.0
            var t = 0
            while (t < sub) { val x = v(off + t).toDouble; vv += x * x; t += 1 }
            var best = 0; var bestD = Double.MaxValue
            var j = 0
            while (j < books(s).length) {
              val c = books(s)(j)
              var vc = 0.0; var u = 0
              while (u < sub) { vc += v(off + u).toDouble * c(u); u += 1 }
              val d = pqSqDist(vv, vc, cc(s)(j))
              if (d < bestD) { bestD = d; best = j }
              j += 1
            }
            codes(s) = best
            s += 1
          }
          (i, codes)
        }
      }
      .toDF(id, "codes")
  }

  /** PQ approximate KNN by asymmetric distance computation (ADC): the
    * corpus is scanned once over its byte codes; each query carries an
    * m×k lookup table of subspace distances, so scoring a neighbor is `m`
    * array reads instead of a `dim`-length loop. Distances (not
    * similarities): smaller adc ranks first. The query set is collected
    * driver-side (bounded, like every broadcast-query KNN here).
    */
  def pqKnn(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      topK: Int, m: Int = 4, kCodes: Int = 16, seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    requireIntegralId(corpus, id)
    requireIntegralId(queries, id)
    val books = trainPqCodebooks(corpus, id, vec, m, kCodes, seed = seed)
    val ccn = books.map(_.map(c => dotIdx(c, c)))
    val sub = books(0)(0).length
    val qs = queries.select(col(id).cast("long"), col(vec))
      .as[(Long, Array[Float])].collect()
      .filter(q => q._2 != null && q._2.length >= m * sub).sortBy(_._1)
    val luts = qs.map { case (qid, qv) =>
      val lut = Array.tabulate(m) { s =>
        val off = s * sub
        val qd = qv.slice(off, off + sub).map(_.toDouble)
        val vv = dotIdx(qd, qd)
        Array.tabulate(books(s).length)(j =>
          pqSqDist(vv, dotIdx(qd, books(s)(j)), ccn(s)(j)))
      }
      (qid, lut)
    }
    val bc = spark.sparkContext.broadcast(luts)
    val scored = pqEncode(corpus, id, vec, books)
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        val qluts = bc.value
        it.flatMap { case (nid, codes) =>
          qluts.iterator.collect { case (qid, lut) if qid != nid =>
            var adc = 0.0
            var s = 0
            while (s < codes.length) { adc += lut(s)(codes(s)); s += 1 }
            (qid, nid, Sweep.round6(adc))
          }
        }
      }
      .toDF("query_id", "neighbor_id", "adc")
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("neighbor_id"))
    scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("__rn").as("rank"))
  }

  /** Active-learning uncertainty sampling: rank the labeled corpus by
    * leave-one-out kNN vote margin — `n_top − n_second` over each vector's
    * `k` nearest OTHER vectors — and surface the `topN` most contested
    * points, the ones whose labels are cheapest to audit and most likely
    * wrong ([[knnClassify]] tells you HOW MUCH label noise; this tells you
    * WHERE to spend annotation budget). Votes are integer counts; label
    * order is `(count DESC, best rank ASC, label ASC)` — fully
    * deterministic, no quantization anywhere.
    *
    * Plan shape: one [[knnGraph]] sweep, a keyed join to the label column,
    * one `(vector, label)` count, one per-vector window over ≤ k label
    * rows, and a TakeOrdered cut — past the sweep, every frame is
    * k·n-bounded.
    *
    * Output: `(vec_id, pred_label, n_top, n_second, margin)`, most
    * uncertain first (`margin ASC, vec_id`).
    */
  def uncertaintySampling(df: DataFrame, id: String, vec: String, label: String,
      k: Int, topN: Int): DataFrame = {
    val labeled = df.where(col(label).isNotNull)
    val edges = knnGraph(labeled, id, vec, k)
    val labels = labeled.select(col(id).cast("long").as("neighbor_id"),
      col(label).cast("long").as("__lab"))
    val votes = edges.join(labels, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__lab"))
      .agg(count(lit(1)).as("__c"), min(col("rank")).as("__br"))
    val w = Window.partitionBy(col("query_id")) // <= k label rows per key
      .orderBy(col("__c").desc, col("__br"), col("__lab"))
    votes.withColumn("__lr", row_number().over(w))
      .groupBy(col("query_id"))
      .agg(
        max(when(col("__lr") === 1, col("__lab"))).as("pred_label"),
        max(when(col("__lr") === 1, col("__c"))).as("n_top"),
        coalesce(max(when(col("__lr") === 2, col("__c"))), lit(0L)).as("n_second"))
      .select(col("query_id").as("vec_id"), col("pred_label"), col("n_top"),
        col("n_second"), (col("n_top") - col("n_second")).as("margin"))
      .orderBy(col("margin"), col("vec_id"))
      .limit(topN)
  }

  /** Two-stage ANN: PQ/ADC shortlist then EXACT cosine re-rank — the
    * standard production retrieval architecture. The compressed first pass
    * ([[pqKnn]]'s broadcast lookup-table scan) touches the WHOLE corpus at
    * 64× compression and emits `shortlist` candidates per query; exact
    * arithmetic then runs over candidates only (`shortlist · queries` rows,
    * never the corpus). Recall comes from the shortlist depth, final
    * ordering from the exact math — the PQ approximation can reorder the
    * shortlist interior but not past its boundary.
    *
    * Output: `(query_id, neighbor_id, sim, rank)` — exact round-6 cosine,
    * rank by `(sim DESC, neighbor_id)`.
    */
  def pqRerankKnn(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      topK: Int, shortlist: Int, m: Int = 4, kCodes: Int = 16, seed: Long = 42L): DataFrame = {
    require(shortlist >= topK, s"shortlist ($shortlist) must cover topK ($topK)")
    val short = pqKnn(corpus, queries, id, vec, shortlist, m, kCodes, seed)
      .select(col("query_id"), col("neighbor_id"))
    val vecs = corpus.where(col(vec).isNotNull)
      .select(col(id).cast("long").as("__vid"), col(vec).as("__v"))
    val qv = queries.where(col(vec).isNotNull)
      .select(col(id).cast("long").as("__qid"), col(vec).as("__qv"))
    val scored = short
      .join(broadcast(qv), col("query_id") === col("__qid"))
      .join(vecs, col("neighbor_id") === col("__vid"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineFast(col("__qv"), col("__v")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id")) // shortlist rows per key
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("__rn").cast("long").as("rank"))
  }

  /** Leave-one-out k-NN majority-vote classification over a labeled
    * embedding corpus — the label-consistency audit behind mislabeled-sample
    * detection and nearest-neighbor quality classifiers: predict each
    * vector's label from its `k` nearest OTHER vectors and report the
    * confusion matrix `(label, pred, n)`. A clean corpus concentrates on the
    * diagonal; off-diagonal mass pinpoints label noise or entangled classes.
    *
    * Vote rule (fully deterministic, integer-only): most neighbor votes,
    * ties broken by the best (smallest) neighbor rank carrying that label,
    * then by the smaller label. Neighbors rank in [[bruteForceKnn]]'s
    * order ([[Sweep.TopK]]).
    *
    * This brute exact form scores all n² pairs via a broadcast matrix +
    * bounded per-query top-k sweep in `mapPartitions` — the right tool up
    * to ~10⁵ vectors per label audit (an earlier draft shipped every scored
    * pair, both float arrays attached, through a `row_number` window
    * shuffle; at 6 400 vectors that is 40M wide rows of sort input and it
    * measured 37 s where this form measures well under a second — the
    * top-k cut belongs inside the scoring loop, not after a shuffle).
    * Beyond broadcast scale, swap the pair generator for
    * [[randomHyperplaneBuckets]] (probe the query's bucket) or [[ivfKnn]]'s
    * cells and rank/vote with windows over the (query, neighbor, rank)
    * rows: the vote rule below is unchanged, only the candidate set shrinks.
    */
  def knnClassify(df: DataFrame, id: String, vec: String, label: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, id)
    // null vectors can't vote or be classified; null labels can't vote —
    // drop both up front (mirrors the oracle's explicit guards; leaving
    // them in would also make the sim ordering engine-dependent, engines
    // disagree on NULLS FIRST/LAST under DESC)
    val data = df.where(col(vec).isNotNull && col(label).isNotNull)
      .select(col(id).cast("long"), col(label).cast("long"), col(vec))
      .as[(Long, Long, Array[Float])].collect().sortBy(_._1)
    val norms = data.map(r => Sweep.norm(r._3))
    Sweep.broadcastRows(spark, data.length, (data, norms)) { case ((d, nrm), i) =>
      val (_, qlab, qv) = d(i)
      val qn = nrm(i)
      val top = new Sweep.TopK(k, labels = true)
      var j = 0
      while (j < d.length) {
        if (j != i) {
          val (nid, nlab, nv) = d(j)
          top.offer(Sweep.cosine(Sweep.dot(qv, nv), qn, nrm(j)), nid, nlab)
        }
        j += 1
      }
      if (top.size == 0) Iterator.empty // nothing to vote (n == 1 corpus)
      else {
        // vote: most neighbor votes, ties by best (smallest) rank
        // carrying that label, then by smaller label — the buffer is
        // rank-ordered so a label's first index IS its best rank
        val labArr = top.payload
        var bestLab = -1L; var bestCnt = -1L; var bestMr = Int.MaxValue
        var a = 0
        while (a < top.size) {
          val labA = labArr(a)
          var seen = false; var b = 0
          while (b < a) { if (labArr(b) == labA) seen = true; b += 1 }
          if (!seen) {
            var cnt = 0L; var c = a
            while (c < top.size) { if (labArr(c) == labA) cnt += 1; c += 1 }
            val mr = a + 1
            if (cnt > bestCnt || (cnt == bestCnt && (mr < bestMr ||
                (mr == bestMr && labA < bestLab)))) {
              bestLab = labA; bestCnt = cnt; bestMr = mr
            }
          }
          a += 1
        }
        Iterator.single((qlab, bestLab))
      }
    }.toDF("label", "pred")
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** The seeded Achlioptas sparse projection matrix (2003): entries are
    * `+1 / −1 / 0` with probability `1/6, 1/6, 2/3`, flattened row-major
    * `[j·inDim + i]` — shared with the oracle mirror so both engines embed
    * the identical literal. */
  private[graft] def jlMatrix(inDim: Int, outDim: Int, seed: Long): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(inDim * outDim) {
      val u = rnd.nextInt(6)
      if (u == 0) 1 else if (u == 1) -1 else 0
    }
  }

  /** Johnson–Lindenstrauss distortion audit for sparse random projection
    * (Achlioptas 2003, database-friendly form): project the embeddings to
    * `outDim` dimensions with a seeded `{+1,−1,0}` matrix and report, for
    * the deterministic consecutive-id pair sample, the original vs
    * projected Euclidean distance and their ratio — the "how small can we
    * make the vectors before ANN quality dies" tuning table next to
    * [[pqKnn]]'s code-book compression.
    *
    * Plan shape: the matrix is CONTROL PLANE (seeded, data-independent,
    * `inDim·outDim` ints as a plan literal); projection and distances are
    * engine-native `transform`/`aggregate` folds in fixed index order —
    * map-only, no UDF, no shuffle beyond the pair join, and the integer
    * matrix keeps every product exact so both engines walk identical IEEE
    * sums. `±1` entries scale by `√(3/outDim)` once per distance, not per
    * component.
    *
    * Output: `(id_a, id_b, d_orig, d_proj, ratio)` per pair, 6-dp.
    */
  def jlDistortionAudit(df: DataFrame, id: String, vec: String, inDim: Int,
      outDim: Int, seed: Long = 42L): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"bad dims: $inDim -> $outDim")
    val rl = lit(jlMatrix(inDim, outDim, seed))
    val scale = math.sqrt(3.0 / outDim)
    def proj(v: Column): Column =
      transform(sequence(lit(0), lit(outDim - 1)), j =>
        aggregate(sequence(lit(0), lit(inDim - 1)), lit(0.0),
          (acc, i) =>
            acc + element_at(v, i + 1).cast("double") *
              element_at(rl, j * inDim + i + 1)))
    def sumsq(x: Column, y: Column, n: Int): Column =
      aggregate(sequence(lit(0), lit(n - 1)), lit(0.0), (acc, i) => {
        val d = element_at(x, i + 1).cast("double") -
          element_at(y, i + 1).cast("double")
        acc + d * d
      })
    val base = df.where(col(id).isNotNull && col(vec).isNotNull &&
      size(col(vec)) === inDim)
    val a = base.select(col(id).cast("long").as("id_a"), col(vec).as("__va"))
    val b = base.select(col(id).cast("long").as("id_b"), col(vec).as("__vb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .where(col("id_a") % 2 === 0)
      .select(col("id_a"), col("id_b"),
        sqrt(sumsq(col("__va"), col("__vb"), inDim)).as("__do"),
        (lit(scale) * sqrt(sumsq(proj(col("__va")), proj(col("__vb")), outDim)))
          .as("__dp"))
      .select(col("id_a"), col("id_b"),
        round(col("__do"), 6).as("d_orig"),
        round(col("__dp"), 6).as("d_proj"),
        when(col("__do") > 0.0, round(col("__dp") / col("__do"), 6)).as("ratio"))
      .orderBy(col("id_a"))
  }

  /** Ridge "linear probe" over the embedding corpus, MLlib-free: the
    * normal-equation sufficient statistics `XᵀX` / `Xᵀy` accumulate in ONE
    * fused per-partition pass (a primitive long array per task, one emitted
    * row per partition — no per-term row materialization) in FIXED-POINT
    * (every product quantized to 1e-12 units and summed as BIGINT —
    * shuffle/partitioning-independent, so two runs of the same data produce
    * bit-identical moments at any parallelism), the `(dim+1)²` solve is
    * driver control plane (Gaussian
    * elimination with partial pivoting, deterministic), and scoring is a
    * codegen'd fold with the coefficients as plan literals — the
    * train-tiny/apply-everywhere shape shared with
    * [[trainIvfCentroids]]/[[AnomalyForest]]. The BIGINT accumulators bound
    * the corpus at ~1e6 rows per aggregation task chain before overflow at
    * this quantum; shard-and-average (moments are mergeable) past that.
    *
    * Returns `[b0, b1..b_dim]` (intercept first; the intercept is not
    * penalized).
    */
  def trainRidge(df: DataFrame, vec: String, label: String, dim: Int,
      lambda: Double): Array[Double] = {
    require(dim >= 1 && lambda >= 0.0, s"bad probe params dim=$dim lambda=$lambda")
    val Q = 1e12
    val d1 = dim + 1
    // materialize the intercept-augmented double vector ONCE per row: each
    // of the (dim+1)(dim+2)/2 + dim+1 terms then reads two plain
    // element_at's instead of re-evaluating a branch + float cast
    val base = df.where(col(vec).isNotNull && col(label).isNotNull &&
      size(col(vec)) === dim)
      .select(
        concat(array(lit(1.0)),
          transform(col(vec), e => e.cast("double"))).as("__x"),
        col(label).cast("double").as("__y"))
    // fused per-partition accumulation: each task keeps ONE primitive long
    // array of the (d1)(d1+2) quantized sums and emits it once — no
    // per-term row materialization (an exploded groupBy(idx) form measured
    // 4.3 s at sf0.1 where this runs in well under a second). Integer sums
    // stay shuffle-order-independent; the half-away-from-zero quantizer is
    // fixed per value, so any partitioning yields identical moments.
    val spark = df.sparkSession
    import spark.implicits._
    def quant(v: Double): Long =
      (if (v >= 0) math.floor(v * Q + 0.5) else math.ceil(v * Q - 0.5)).toLong
    val nCells = d1 * d1 + d1
    val partSums = base.as[(Seq[Double], Double)].mapPartitions { it =>
      val acc = new Array[Long](nCells)
      it.foreach { case (xsSeq, y) =>
        val xs = xsSeq.toArray
        var i = 0
        while (i <= dim) {
          val xi = xs(i)
          var j = i
          while (j <= dim) { acc(i * d1 + j) += quant(xi * xs(j)); j += 1 }
          acc(d1 * d1 + i) += quant(xi * y)
          i += 1
        }
      }
      Iterator.single(acc)
    }.collect()
    val momentsArr = new Array[Long](nCells)
    partSums.foreach { p =>
      var i = 0; while (i < nCells) { momentsArr(i) += p(i); i += 1 }
    }
    val moments = momentsArr.zipWithIndex.map { case (v, i) => i -> v }.toMap
    // assemble the symmetric normal matrix + rhs from the quantized sums
    val a = Array.ofDim[Double](d1, d1 + 1)
    for (i <- 0 to dim; j <- i to dim) {
      val v = moments.getOrElse(i * d1 + j, 0L) / Q
      a(i)(j) = v; a(j)(i) = v
    }
    for (i <- 1 to dim) a(i)(i) += lambda // no penalty on the intercept
    for (i <- 0 to dim) a(i)(d1) = moments.getOrElse(d1 * d1 + i, 0L) / Q
    // Gaussian elimination, partial pivoting — deterministic index order
    for (c <- 0 until d1) {
      var p = c
      for (r <- c + 1 until d1) if (math.abs(a(r)(c)) > math.abs(a(p)(c))) p = r
      val tmp = a(c); a(c) = a(p); a(p) = tmp
      require(math.abs(a(c)(c)) > 1e-12, s"singular normal matrix at $c")
      for (r <- 0 until d1) if (r != c) {
        val f = a(r)(c) / a(c)(c)
        for (k <- c until d1 + 1) a(r)(k) -= f * a(c)(k)
      }
    }
    Array.tabulate(d1)(i => a(i)(d1) / a(i)(i))
  }

  /** The probe's prediction as one engine-native fold (coefficients are
    * plan literals; fixed index order — any engine reproduces it
    * bit-for-bit). */
  def ridgePredict(vec: Column, coeffs: Array[Double]): Column =
    aggregate(sequence(lit(1), lit(coeffs.length - 1)), lit(coeffs(0)),
      (acc, i) => acc + element_at(lit(coeffs.drop(1)), i) *
        element_at(vec, i).cast("double"))

  /** Mislabel screen: rank the corpus by |label − probe prediction| — rows
    * a LINEAR model can't explain are label-noise candidates, the cheap
    * first pass before [[knnClassify]]'s neighborhood vote. Scoring is
    * map-only; the global cut is a TakeOrdered.
    *
    * Output: `(id, label, pred, residual)`, top `topN` by
    * `(|residual| DESC, id)`.
    */
  def linearProbeResiduals(df: DataFrame, id: String, vec: String,
      label: String, dim: Int, lambda: Double, topN: Int): DataFrame = {
    val coeffs = trainRidge(df, vec, label, dim, lambda)
    df.where(col(vec).isNotNull && col(label).isNotNull &&
      size(col(vec)) === dim)
      .select(col(id), col(label).cast("long").as("label"),
        ridgePredict(col(vec), coeffs).as("__p"))
      .select(col(id), col("label"), round(col("__p"), 6).as("pred"),
        round(col("label") - col("__p"), 6).as("residual"))
      .orderBy(abs(col("residual")).desc, col(id))
      .limit(topN)
  }

  /** Simplified (centroid-based) silhouette score per cluster — the
    * clustering-quality audit for the IVF/semantic-cluster pack: per point,
    * `a` = distance to its own (nearest) centroid, `b` = distance to the
    * runner-up, `s = (b − a) / max(a, b)` ∈ [0, 1); cluster rows near 0
    * mean the cell boundary cuts through a real group (re-train with a
    * different k), rows near 1 mean tight well-separated cells. The
    * classic silhouette needs all pairwise distances (O(n²)); the
    * centroid form is the production-scale stand-in and is fully
    * engine-portable: centroids ride as plan literals and every distance
    * is a fixed-order fold, so the oracle replays it bit-for-bit. Per-row
    * `s` is 1e-6-quantized before the per-cluster mean (the
    * [[graft.operators.TimeSeries]] fixed-point-mean lesson: averages of
    * engine-identical doubles must not depend on summation order).
    *
    * Output: `(cell, n, mean_s)` ordered by cell.
    */
  def silhouetteByCentroid(df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(centroids.length >= 2, "silhouette needs >= 2 clusters")
    val k = centroids.length
    val dim = centroids.head.length
    val cf = lit(centroids.flatten)
    val v = col(vec)
    val dists = transform(sequence(lit(0), lit(k - 1)), j =>
      sqrt(aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (acc, i) => {
        val d = element_at(v, i + 1).cast("double") -
          element_at(cf, j * dim + i + 1)
        acc + d * d
      })))
    df.where(col(id).isNotNull && col(vec).isNotNull && size(col(vec)) === dim)
      .select(col(id), dists.as("__d"))
      .select(col(id), col("__d"),
        element_at(array_sort(col("__d")), 1).as("__a"),
        element_at(array_sort(col("__d")), 2).as("__b"))
      .select(
        (array_position(col("__d"), col("__a")) - 1).cast("long").as("cell"),
        when(greatest(col("__a"), col("__b")) > 0.0,
          (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(lit(0.0)).as("__s"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("__s") * 1000000.0).cast("long")) /
          (count(lit(1)) * 1000000.0), 6).as("mean_s"))
      .orderBy(col("cell"))
  }

  /** Medoid-style exemplar per IVF cell: the vector CLOSEST to each
    * centroid — the "show me a representative member" companion to
    * [[silhouetteByCentroid]] (quality) and [[semanticOutliers]] (tail).
    * One map-only distance projection (centroids as plan literals, fixed-
    * order folds) + one `min_by`-shaped struct-min aggregation — no window,
    * no shuffle beyond the k-row rollup; ties break to the smaller id via
    * the struct ordering.
    *
    * Output: `(cell, id, dist)` per non-empty cell, ordered by cell.
    */
  def clusterMedoids(df: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val k = centroids.length
    val dim = centroids.head.length
    val cf = lit(centroids.flatten)
    val v = col(vec)
    val dists = transform(sequence(lit(0), lit(k - 1)), j =>
      sqrt(aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (acc, i) => {
        val d = element_at(v, i + 1).cast("double") -
          element_at(cf, j * dim + i + 1)
        acc + d * d
      })))
    df.where(col(id).isNotNull && col(vec).isNotNull && size(col(vec)) === dim)
      .select(col(id).cast("long").as("__id"), dists.as("__d"))
      .select(col("__id"), col("__d"),
        element_at(array_sort(col("__d")), 1).as("__a"))
      .withColumn("cell",
        (array_position(col("__d"), col("__a")) - 1).cast("long"))
      .groupBy(col("cell"))
      .agg(min(struct(round(col("__a"), 6).as("d"), col("__id").as("i"))).as("__m"))
      .select(col("cell"), col("__m.i").as(id),
        col("__m.d").as("dist"))
      .orderBy(col("cell"))
  }

  /** Int8-reconstructed embedding frame — the application half of
    * [[quantizeInt8]]'s audit: per-dimension affine codes decoded back to
    * (float-cast) vectors, so retrieval quality under 4× compression can be
    * measured directly (see the int8 recall gate next to the PQ and
    * matryoshka ones). Same per-dim grid, same clamped half-up codes;
    * constant dimensions reconstruct to their constant. Long-format
    * explode + dims-sized broadcast stats + one per-vector reassembly agg.
    *
    * Output: `(id, recon)` with `recon` a float array in dimension order.
    */
  def int8Reconstruct(df: DataFrame, id: String, vec: String): DataFrame = {
    val x = df.where(col(vec).isNotNull)
      .select(col(id), posexplode(col(vec)))
      .select(col(id), col("pos"), col("col").cast("double").as("v"))
    val st = x.groupBy(col("pos")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val scale = (col("mx") - col("mn")) / 255.0
    val clamp = least(greatest(round((col("v") - col("mn")) / scale, 0), lit(0.0)),
      lit(255.0))
    val recon = when(col("mx") > col("mn"), col("mn") + clamp * scale)
      .otherwise(col("mn"))
    x.join(broadcast(st), "pos")
      .withColumn("__r", recon.cast("float"))
      .groupBy(col(id))
      .agg(array_sort(collect_list(struct(col("pos"), col("__r")))).as("__sv"))
      .select(col(id), expr("transform(__sv, s -> s.__r)").as("recon"))
  }

  /** Integer-exact Lloyd k-means over the embedding corpus — the
    * clustering primitive behind IVF index training, diversity sampling
    * and topic bucketing, surfaced as a first-class operator with a FIXED
    * iteration count so two engines can replay it bit-for-bit.
    *
    * Everything is integers: coordinates quantize to the `quantum` grid as
    * BIGINTs once up front, an assignment distance is the exact integer
    * sum of squared coordinate deltas (assert-guarded non-negative — a
    * wrapped overflow flips the sign and THROWS rather than mis-clusters;
    * bound `dims · (max|x|/quantum)² < 2^63`), ties break to the SMALLER
    * centroid id, and a new centroid coordinate is the TRUNCATING integer
    * mean `Σq / n` (toward zero — what DuckDB's `//` and Spark's `DIV`
    * both do on integers; a floor-division mirror is off by one on every
    * negative inexact mean), so every centroid stays on the integer grid.
    * Init is the `k` smallest-id vectors — a modulus-free deterministic
    * seed, no RNG to mirror. An emptied cluster keeps
    * its previous centroid.
    *
    * Plan shape per iteration: the k×d centroid table is a LITERAL in the
    * assignment expression (pure map-side codegen over the persisted
    * quantized corpus — no join, no shuffle), and the update is ONE
    * map-side-combinable (cid, dim)-keyed sum whose k·d result rows come
    * back to the driver (control-plane sized, the [[graft.operators.Graph]]
    * loop convention). Total: `iters` corpus passes, one shuffle each.
    *
    * Size-gated two-path routing (the [[graft.operators.Graph.pageRank]]
    * convention): under `maxDriverRows` the centroid EVOLUTION runs as the
    * classic in-memory Lloyd loop over the collected quantized vectors —
    * same integer distances, same smallest-cid ties, same truncating
    * means, bit-identical by construction (spec-pinned) — because `iters`
    * sequential Spark jobs over a fits-one-task corpus are pure job-floor
    * overhead (r8 bench: 6 rounds = 2.1 s at sf0.1 for 2k vectors). The
    * FINAL assignment is distributed on both paths (the output is
    * corpus-sized); the distributed loop remains the unbounded-corpus
    * path.
    *
    * Output: `(vec_id, cluster, dist2)` — final assignment and its exact
    * squared distance on the quantum grid.
    */
  def kmeans(df: DataFrame, id: String, vec: String, k: Int = 8,
      iters: Int = 5, quantum: Double = 1e-6,
      maxDriverRows: Long = 200000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(quantum > 0, s"quantum must be positive, got $quantum")
    val invQ = 1.0 / quantum
    val q = df.where(col(vec).isNotNull)
      .select(col(id).cast("long").as("vid"), expr(
        s"transform(CAST($vec AS ARRAY<DOUBLE>), x -> CAST(round(x * ${invQ}D) AS BIGINT))")
        .as("qv"))
      .persist()
    try {
      val init = q.orderBy(col("vid")).limit(k)
        .select(col("qv")).collect().map(_.getSeq[Long](0).toArray)
      require(init.nonEmpty, "kmeans needs at least one vector")
      var cents: Array[Array[Long]] = init
      // rows-derived width for every per-iteration read of the cached
      // quantized frame (SizeGates.loopPartitions + coalesce view, r14 —
      // the Graph.pageRank note); the count is the driver gate's, hoisted
      val nRows = q.count()
      val qL = q.coalesce(SizeGates.loopPartitions(nRows))
      def assigned(c: Array[Array[Long]]): DataFrame = {
        val centsLit = typedlit(c.map(_.toSeq).toSeq)
        val best = array_min(transform(
          sequence(lit(0), lit(c.length - 1)),
          ci => struct(
            aggregate(
              zip_with(col("qv"), element_at(centsLit, ci + lit(1)),
                (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, x) => acc + x).as("d"),
            ci.cast("long").as("cid"))))
        qL.select(col("vid"), col("qv"),
          when(assert_true(best.getField("d") >= 0,
            lit("kmeans overflow: dims * (max|x|/quantum)^2 exceeds BIGINT " +
              "- coarsen `quantum`")).isNull, best.getField("cid")).as("cid"),
          best.getField("d").as("dist2"))
      }
      if (nRows <= maxDriverRows) {
        // driver Lloyd loop: ONE bounded collect of the quantized vectors
        // (coalesce(1) reads the cache in a single job — toLocalIterator
        // over 32 cached partitions costs a scheduler round-trip each),
        // then pure integer arithmetic. Identical to the distributed
        // recurrence: exact integer distances, smallest-cid ties (strict <
        // keeps the earliest), truncating `/` means, emptied cluster keeps
        // its centroid, wrapped overflow flips the sign and throws.
        val vecs = q.select(col("qv")).coalesce(1).collect()
          .map(_.getSeq[Long](0).toArray)
        val d = cents(0).length
        for (_ <- 1 to iters) {
          val sums = Array.fill(cents.length)(new Array[Long](d))
          val ns = new Array[Long](cents.length)
          vecs.foreach { v =>
            var best = 0; var bd = Long.MaxValue; var ci = 0
            while (ci < cents.length) {
              val c = cents(ci); var dist = 0L; var j = 0
              while (j < d) { val t = v(j) - c(j); dist += t * t; j += 1 }
              if (dist < bd) { bd = dist; best = ci }
              ci += 1
            }
            require(bd >= 0, "kmeans overflow: dims * (max|x|/quantum)^2 " +
              "exceeds BIGINT - coarsen `quantum`")
            ns(best) += 1
            var j = 0; while (j < d) { sums(best)(j) += v(j); j += 1 }
          }
          cents = cents.zipWithIndex.map { case (c, ci) =>
            if (ns(ci) == 0L) c
            // plain long division truncates toward zero — DuckDB's `//`
            // semantics on integers (floorDiv would drift one low on
            // negative inexact means; caught by the r8 oracle bisect)
            else Array.tabulate(d)(j => sums(ci)(j) / ns(ci))
          }
        }
      } else for (_ <- 1 to iters) {
        val stats = assigned(cents)
          .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "v")))
          .groupBy(col("cid"), col("dim"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone())
        stats.groupBy(_.getLong(0)).foreach { case (cid, rows) =>
          rows.foreach { r =>
            // truncating division (see the driver path note above)
            next(cid.toInt)(r.getInt(1)) = r.getLong(2) / r.getLong(3)
          }
        }
        cents = next
      }
      assigned(cents)
        .select(col("vid").as("vec_id"), col("cid").as("cluster"),
          col("dist2"))
        .localCheckpoint()
    } finally q.unpersist(blocking = false)
  }

  /** Deterministic DBSCAN over cosine similarity — the DENSITY clustering
    * family ([[kmeans]] is the centroid family): a vector is CORE when at
    * least `minPts` vectors (itself included) sit at `round6` cosine ≥
    * `simEps`; clusters are the connected components of the core-core
    * eps-graph; a non-core vector with a core neighbor is a BORDER point
    * of that cluster; everything else is NOISE. Classic DBSCAN leaves a
    * border point's cluster scan-order-dependent — here it joins the
    * MINIMUM-labeled core neighbor, and a cluster's label is the minimum
    * core id it contains (the [[graft.operators.Dedup.connectedComponents]]
    * contract), so the result is a pure function of the data.
    *
    * Scale shape: the eps-pair list comes from [[cosinePairs]] under
    * `maxBroadcastRows` and the block-partitioned [[cosinePairsBlocked]]
    * sweep beyond it (identical output, spec-pinned); degrees and the
    * border attachment are one keyed agg + one keyed join over the
    * thresholded pair list — which density clustering keeps SPARSE by
    * construction; components run through the size-gated union-find.
    *
    * Output: `(vec_id, role, cluster)` — role in {core, border, noise},
    * cluster = -1 for noise.
    */
  def dbscan(df: DataFrame, id: String, vec: String, simEps: Double,
      minPts: Int, maxBroadcastRows: Long = 200000L): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val pts = df.where(col(vec).isNotNull)
      .select(col(id).cast("long").as("vid"))
    // stats-first gate ([[SizeGates]] convention): only frames statistics
    // cannot already prove too big for the broadcast path pay the exact
    // count (the gate is a pure physical-plan choice — both pair paths are
    // spec-pinned identical — but the broadcast path's internal collect
    // needs the exact confirmation); stats are read off the (id, vec)
    // frame the broadcast path would actually collect, not the thin id
    // projection, so the bytes estimate reflects the real driver load
    val vecFrame = df.where(col(vec).isNotNull)
      .select(col(id).cast("long"), col(vec))
    val pairs = (if (!SizeGates.definitelyExceeds(vecFrame, maxBroadcastRows) &&
          pts.count() <= maxBroadcastRows)
        cosinePairs(df, id, vec, simEps)
      else cosinePairsBlocked(df, id, vec, simEps))
      .select(col("d1"), col("d2"))
      .persist()
    try {
      val deg = pairs.select(col("d1").as("vid"))
        .unionByName(pairs.select(col("d2").as("vid")))
        .groupBy(col("vid")).agg(count(lit(1)).as("__deg"))
      // core status tests EVERY point (left join, degree 0 when absent from
      // the pair list): with minPts = 1 the documented "itself included"
      // rule makes a zero-neighbor vector a core singleton, not noise — the
      // deg frame alone can't see it (r8 ADVICE)
      val core = pts.join(deg, Seq("vid"), "left_outer")
        .where(coalesce(col("__deg"), lit(0L)) + 1 >= minPts).select(col("vid"))
        .persist()
      val coreEdges = pairs
        .join(core.select(col("vid").as("d1")), Seq("d1"), "left_semi")
        .join(core.select(col("vid").as("d2")), Seq("d2"), "left_semi")
      // component label = min reachable core id; an edgeless core point is
      // its own singleton cluster
      val comp = Dedup.connectedComponents(coreEdges.select(col("d1"), col("d2")), "d1", "d2")
        .select(col("doc").as("vid"), col("component"))
      val coreLabeled = core.join(comp, Seq("vid"), "left_outer")
        .select(col("vid"), coalesce(col("component"), col("vid")).as("cluster"))
        .persist()
      // border: non-core touching a core neighbor -> that neighbor's
      // minimum cluster label
      val adj = pairs.select(col("d1").as("vid"), col("d2").as("nb"))
        .unionByName(pairs.select(col("d2").as("vid"), col("d1").as("nb")))
      val border = adj
        .join(coreLabeled.select(col("vid")), Seq("vid"), "left_anti")
        .join(coreLabeled.select(col("vid").as("nb"), col("cluster")), Seq("nb"))
        .groupBy(col("vid")).agg(min(col("cluster")).as("cluster"))
      val out = pts
        .join(coreLabeled.withColumnRenamed("cluster", "__cc"), Seq("vid"), "left_outer")
        .join(border.withColumnRenamed("cluster", "__bc"), Seq("vid"), "left_outer")
        .select(col("vid").as("vec_id"),
          when(col("__cc").isNotNull, lit("core"))
            .when(col("__bc").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("__cc"), col("__bc"), lit(-1L)).as("cluster"))
        .localCheckpoint()
      coreLabeled.unpersist(blocking = false)
      core.unpersist(blocking = false)
      out
    } finally pairs.unpersist(blocking = false)
  }
}
