package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private def vecs = {
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)), // close to 1
      (3L, Array(0.0f, 1.0f, 0.0f)), // orthogonal to 1
      (4L, Array(-1.0f, 0.0f, 0.0f))) // opposite of 1
      .toDF("vec_id", "embedding")
  }

  test("cosine column formula and fast kernel agree bit-for-bit") {
    val both = vecs.as("a").crossJoin(vecs.as("b"))
      .select(
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("slow"),
        Similarity.cosineFast(col("a.embedding"), col("b.embedding")).as("fast"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("bruteForceKnn ranks by similarity with id tie-break") {
    val got = Similarity.bruteForceKnn(vecs, vecs.where(col("vec_id") === 1), "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    assert(got.toSeq.sortBy(_._2).map(_._1) == Seq(2L, 3L, 4L))
  }

  test("cosinePairs broadcast sweep matches the join form") {
    val a = Similarity.cosinePairs(vecs, "vec_id", "embedding", threshold = -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    val b = Similarity.cosinePairsJoin(vecs, "vec_id", "embedding", threshold = -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(a.toSeq == b.toSeq)
    assert(a.length == 6) // all (i<j) pairs of 4 vectors
    // block-partitioned sweep (the no-broadcast scale path) agrees too
    Seq(2, 3, 9).foreach { blocks =>
      val c = Similarity.cosinePairsBlocked(vecs, "vec_id", "embedding", threshold = -1.0, blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
      assert(c.toSeq == a.toSeq, s"blocks=$blocks")
    }
  }

  test("property: blocked and broadcast cosine pairs agree on random matrices") {
    val sp = spark
    import sp.implicits._
    (1 to 4).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val mat = (0L until 30L).map(id => (id, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
      val t = rnd.nextDouble() * 0.4
      val a = Similarity.cosinePairs(mat, "vec_id", "embedding", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
      val b = Similarity.cosinePairsBlocked(mat, "vec_id", "embedding", t, blocks = 1 + rnd.nextInt(5))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
      assert(a.toSeq == b.toSeq, s"seed=$seed t=$t")
    }
  }

  test("bucketedKnn: same-bucket neighbors only, deterministic buckets") {
    val got = Similarity.bucketedKnn(vecs, vecs.where(col("vec_id") === 1), "vec_id", "embedding",
      k = 3, planes = 2, dim = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    val again = Similarity.bucketedKnn(vecs, vecs.where(col("vec_id") === 1), "vec_id", "embedding",
      k = 3, planes = 2, dim = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(got == again)
    assert(got.subsetOf(Set(2L, 3L, 4L)))
  }

  test("ivfKnn: deterministic, and recall@5 vs brute force is high on real embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.ivfKnn(emb, queries, "vec_id", "embedding", k = 5,
      nCells = 8, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val again = Similarity.ivfKnn(emb, queries, "vec_id", "embedding", k = 5,
      nCells = 8, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(approx == again) // seeded -> reproducible
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("recallAtK: per-query hit ratio, missing queries score zero, extras ignored") {
    val sp = spark
    import sp.implicits._
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2)).toDF("query_id", "neighbor_id", "rank")
    val approx = Seq(
      (1L, 10L, 1), (1L, 12L, 2), (1L, 99L, 3), // 2 of 3 hit, one stranger
      (3L, 30L, 1)                              // stray query: not in exact -> dropped
    ).toDF("query_id", "neighbor_id", "rank")
    val got = Similarity.recallAtK(exact, approx, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 3L, 2L, 0.666667), (2L, 2L, 0L, 0.0)))
    // sanity on real vectors: the bucketed plan against brute force agrees
    // with the set arithmetic the operator is supposed to encode
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 5)
    val ex = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", k = 5)
    val ap = Similarity.bucketedKnn(emb, queries, "vec_id", "embedding", k = 5,
      planes = 4, dim = 64)
    val rec = Similarity.recallAtK(ex, ap, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Double]("recall"))).toMap
    val exSet = ex.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    val apSet = ap.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    exSet.groupBy(_._1).foreach { case (q, nbrs) =>
      val hand = nbrs.count(apSet.contains).toDouble / nbrs.length
      assert(math.abs(rec(q) - hand) < 1e-6, s"query $q: ${rec(q)} vs $hand")
    }
  }

  test("pqKnn: codes reconstruct per-subspace argmin; ADC search is deterministic with nonzero recall") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 10)
    // encoding: every code must be a valid cell index, stable across runs
    val books = Similarity.trainPqCodebooks(emb, "vec_id", "embedding", m = 4, k = 16)
    assert(books.length == 4 && books.forall(_.length == 16) && books.forall(_.forall(_.length == 16)))
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getSeq[Int](r.fieldIndex("codes"))))
    assert(codes.forall { case (_, cs) => cs.length == 4 && cs.forall(c => c >= 0 && c < 16) })
    // independent argmin recomputation: each code must be the subspace's
    // nearest centroid by plain squared distance
    val vecsById = emb.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding")).toArray)
      .toMap
    codes.take(25).foreach { case (id, cs) =>
      val v = vecsById(id)
      (0 until 4).foreach { s =>
        val dists = books(s).map { c =>
          var d = 0.0; var i = 0
          while (i < 16) { val t = v(s * 16 + i).toDouble - c(i); d += t * t; i += 1 }
          d
        }
        assert(dists(cs(s)) == dists.min,
          s"vec $id subspace $s: code ${cs(s)} is not the argmin")
      }
    }
    // ADC search: deterministic, k rows per query, distances ascending
    val got = Similarity.pqKnn(emb, queries, "vec_id", "embedding", topK = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc"), r.getAs[Int]("rank")))
    val again = Similarity.pqKnn(emb, queries, "vec_id", "embedding", topK = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc"), r.getAs[Int]("rank")))
    assert(got.toSeq.sorted == again.toSeq.sorted)
    got.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.length == 5)
      assert(byRank.map(_._3).toSeq == byRank.map(_._3).sorted.toSeq) // adc ascending
    }
    // coarse 4x16 quantization still overlaps the exact neighbors
    val exact = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = got.map(r => (r._1, r._2)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.0, s"recall@5 = $recall")
  }

  test("normStats: per-label count and average norm") {
    val sp = spark
    import sp.implicits._
    val df = Seq((0, Array(3.0f, 4.0f)), (0, Array(6.0f, 8.0f)), (1, Array(1.0f, 0.0f)))
      .toDF("label", "embedding")
    val got = Similarity.normStats(df, "label", "embedding").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == Seq((0, 2L, 7.5), (1, 1L, 1.0)))
  }

  test("labelCentroids: per-(label, dim) means, null vectors dropped") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (0, Array(1.0f, 3.0f)),
      (0, Array(3.0f, 5.0f)),
      (1, Array(2.0f, 2.0f)),
      (1, null.asInstanceOf[Array[Float]]))
      .toDF("label", "embedding")
    val got = Similarity.labelCentroids(df, "label", "embedding")
      .collect()
      .map(r => ((r.getAs[Int]("label"), r.getAs[Long]("dim")),
        (r.getAs[Long]("n"), r.getAs[Double]("mean")))).toMap
    assert(got((0, 0L)) == ((2L, 2.0)) && got((0, 1L)) == ((2L, 4.0)))
    assert(got((1, 0L)) == ((1L, 2.0)) && got((1, 1L)) == ((1L, 2.0)))
    assert(got.size == 4)
  }

  test("semanticOutliers: farthest-from-centroid ranking, null vectors skipped") {
    val sp = spark
    import sp.implicits._
    val cents = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val df = Seq(
      (1L, Array(0.1f, 0.0f)), // near centroid 0, dist 0.1
      (2L, Array(10.0f, 3.0f)), // cell 1, dist 3
      (3L, Array(5.0f, 0.0f)), // equidistant: first-minimum -> cell 0, dist 5
      (4L, Array(0.0f, 4.0f)), // cell 0, dist 4
      (5L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticOutliers(df, "vec_id", "embedding", cents, topN = 3)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Double]("dist")))
    assert(got.toSeq == Seq((3L, 0L, 5.0), (4L, 0L, 4.0), (2L, 1L, 3.0)))
  }

  test("quantizeInt8: affine codes span [-128, 127], constant dims dropped, exact on grid points") {
    val sp = spark
    import sp.implicits._
    // dim 0 spans [0, 255] (scale exactly 1: code = v - 128, zero error);
    // dim 1 is constant (dropped); dim 2 spans [0, 510] (scale 2)
    val df = Seq(
      (1L, Array(0.0f, 7.0f, 0.0f)),
      (2L, Array(255.0f, 7.0f, 510.0f)),
      (3L, Array(128.0f, 7.0f, 255.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => (r.getAs[Long]("vec_id"),
        (r.getAs[Long]("code_sum"), r.getAs[Long]("code_min"), r.getAs[Long]("code_max"),
          r.getAs[Long]("n_dims"), r.getAs[Double]("mse")))).toMap
    assert(got(1L) == ((-256L, -128L, -128L, 2L, 0.0))) // both mins -> code -128
    assert(got(2L) == ((254L, 127L, 127L, 2L, 0.0))) // both maxes -> code 127
    // 128 -> code 0; 255/2 = 127.5 rounds HALF_UP to 128 -> code 0, recon 256, err (255-256)^2/2
    assert(got(3L) == ((0L, 0L, 0L, 2L, 0.5)))
    assert(got.size == 3)
  }

  test("semanticOutliers cells agree with assignCells on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", k = 8, seed = 42L)
    val out = Similarity.semanticOutliers(emb, "vec_id", "embedding", cents, topN = 10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).toMap
    val cells = Similarity.assignCells(emb, "vec_id", "embedding", cents)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell").toLong)).toMap
    out.foreach { case (id, cell) => assert(cells(id) == cell, s"vec $id") }
    assert(out.size == 10)
  }

  test("knnClassify: clean clusters vote their own label; a planted mislabel shows off-diagonal") {
    val sp = spark
    import sp.implicits._
    // two tight clusters in 4-d; vec 20 sits in cluster B but carries label 0
    val a = (0L until 6L).map(i => (i, Array(1.0f, 0.0f, 0.01f * i, 0.0f), 0))
    val b = (10L until 16L).map(i => (i, Array(0.0f, 1.0f, 0.0f, 0.01f * i), 1))
    val planted = Seq((20L, Array(0.0f, 1.0f, 0.0f, 0.2f), 0))
    val df = (a ++ b ++ planted).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(df, "vec_id", "embedding", "label", k = 3)
      .collect()
      .map(r => ((r.getAs[Long]("label"), r.getAs[Long]("pred")), r.getAs[Long]("n")))
      .toMap
    assert(got((0L, 0L)) == 6L) // cluster A all self-consistent
    assert(got((1L, 1L)) == 6L) // cluster B: the planted 0 can't outvote k=3 true B's
    assert(got((0L, 1L)) == 1L) // the mislabel is flagged off-diagonal
    assert(got.values.sum == 13L)
  }

  test("knnClassify: null vectors and null labels neither vote nor get classified") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0.0f), java.lang.Integer.valueOf(0)),
      (1L, Array(1.0f, 0.1f), java.lang.Integer.valueOf(0)),
      (2L, Array(0.9f, 0.0f), java.lang.Integer.valueOf(0)),
      (3L, null.asInstanceOf[Array[Float]], java.lang.Integer.valueOf(1)),
      (4L, Array(1.0f, 0.05f), null.asInstanceOf[java.lang.Integer]))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(df, "vec_id", "embedding", "label", k = 2)
      .collect().map(r => ((r.getAs[Long]("label"), r.getAs[Long]("pred")), r.getAs[Long]("n"))).toMap
    assert(got == Map((0L, 0L) -> 3L)) // only the three labeled+embedded rows
  }

  test("hardNegatives: only different-label neighbors rank; nulls excluded") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0.0f), java.lang.Integer.valueOf(0)),
      (1L, Array(0.99f, 0.1f), java.lang.Integer.valueOf(0)),   // same label: never a negative for 0
      (2L, Array(0.95f, 0.2f), java.lang.Integer.valueOf(1)),   // the hard negative
      (3L, Array(0.0f, 1.0f), java.lang.Integer.valueOf(1)),    // easy negative
      (4L, Array(1.0f, 0.01f), null.asInstanceOf[java.lang.Integer])) // null label: out
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(df, df.where(col("vec_id") === 0),
      "vec_id", "embedding", "label", k = 2)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("neighbor_label"), r.getAs[Long]("rank")))
    assert(got.toSeq == Seq((2L, 1L, 1L), (3L, 1L, 2L))) // 1 and 4 excluded; 2 is hardest
  }

  test("groupCentroidCosine: aligned groups cosine 1, orthogonal groups cosine 0") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      ("A", Array(1.0f, 0.0f)), ("A", Array(3.0f, 0.0f)),   // centroid (2, 0)
      ("B", Array(0.0f, 2.0f)), ("B", Array(0.0f, 4.0f)),   // centroid (0, 3)
      ("C", Array(5.0f, 0.0f)),                             // centroid (5, 0) ∥ A
      ("D", null.asInstanceOf[Array[Float]]))               // null-only group vanishes
      .toDF("source", "embedding")
    val got = Similarity.groupCentroidCosine(df, "source", "embedding")
      .collect().map(r => ((r.getAs[String]("g1"), r.getAs[String]("g2")), r.getAs[Double]("cosine")))
      .toMap
    assert(got(("A", "C")) == 1.0)
    assert(got(("A", "B")) == 0.0)
    assert(got(("B", "C")) == 0.0)
    assert(got.size == 3) // D contributed nothing
  }

  test("covarianceMatrix: hand moments — perfect correlation, anti-correlation, diagonal = 1") {
    val sp = spark
    import sp.implicits._
    // dim1 = 2*dim0 (corr +1), dim2 = -dim0 (corr -1)
    val df = Seq(
      (1L, Array(1.0f, 2.0f, -1.0f)),
      (2L, Array(2.0f, 4.0f, -2.0f)),
      (3L, Array(3.0f, 6.0f, -3.0f)),
      (4L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val got = Similarity.covarianceMatrix(df, "embedding")
      .collect().map(r => ((r.getAs[Long]("i"), r.getAs[Long]("j")),
        (r.getAs[Long]("n"), r.getAs[Double]("cov"), r.getAs[Double]("corr")))).toMap
    assert(got.size == 6) // 3 dims -> 6 unordered pairs, null vector dropped
    // var(dim0) = E[x^2]-E[x]^2 = (14/3) - 4 = 2/3
    assert(got((0L, 0L))._1 == 3L)
    assert(math.abs(got((0L, 0L))._2 - 2.0 / 3.0) < 1e-6)
    assert(got((0L, 0L))._3 == 1.0)     // diagonal corr
    assert(got((0L, 1L))._3 == 1.0)     // dim1 = 2*dim0
    assert(got((0L, 2L))._3 == -1.0)    // dim2 = -dim0
    assert(math.abs(got((0L, 1L))._2 - 4.0 / 3.0) < 1e-6) // cov(x, 2x) = 2 var
  }

  test("knnGraph matches bruteForceKnn with every vector as query; hubness degrees reconcile") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val graph = Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"), r.getAs[Long]("rank"))).toSet
    val brute = Similarity.bruteForceKnn(emb, emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"), r.getAs[Int]("rank").toLong)).toSet
    assert(graph == brute)
    val hub = Similarity.hubness(emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("in_degree")))
    assert(hub.length == emb.count()) // zero-degree vectors kept
    assert(hub.map(_._2).sum == graph.size) // every edge lands on exactly one in-degree
  }

  test("knnGraph size gate: the blocked distributed sweep is bit-identical to broadcast") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"), r.getAs[Long]("rank"))).toSet
    val broadcast = rows(Similarity.knnGraph(emb, "vec_id", "embedding", k = 4))
    // direct call at several block counts, including one that doesn't divide n
    Seq(2, 7).foreach { b =>
      val blocked = rows(Similarity.knnGraphBlocked(emb, "vec_id", "embedding", 4, b))
      assert(blocked == broadcast, s"blocked(b=$b) diverged from broadcast")
    }
    // and through the gate itself: a tiny maxBroadcastRows must route blocked
    val gated = rows(Similarity.knnGraph(emb, "vec_id", "embedding", 4,
      maxBroadcastRows = 100L))
    assert(gated == broadcast)
  }

  private def knnRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("sim").toString, r.getAs[Number]("rank").longValue)).toSet

  test("a zero vector scores NaN and ranks first on every knnGraph path, as in Spark's window") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.8f, 0.6f)), (3L, Array(0.0f, 0.0f)),
      (4L, Array(0.96f, 0.28f)), (5L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val brute = knnRows(Similarity.bruteForceKnn(df, df, "vec_id", "embedding", k = 2))
    // Spark sorts NaN above every number: 0/0 against the zero vector wins
    assert(brute.filter(_._1 == 1L) == Set((1L, 3L, "NaN", 1L), (1L, 4L, "0.96", 2L)))
    assert(knnRows(Similarity.knnGraph(df, "vec_id", "embedding", k = 2)) == brute)
    Seq(1, 2, 3).foreach { b =>
      assert(knnRows(Similarity.knnGraphBlocked(df, "vec_id", "embedding", 2, b)) == brute, s"blocks=$b")
    }
  }

  test("exact ties at the k-th slot go to the smaller id on every top-k sweep; labels travel along") {
    val sp = spark
    import sp.implicits._
    // 3 and 5 are the same vector, so every query scores them equal
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 10L), (2L, Array(1.0f, 0.05f), 20L), (3L, Array(0.6f, 0.8f), 30L),
      (4L, Array(0.0f, 1.0f), 40L), (5L, Array(0.6f, 0.8f), 50L))
      .toDF("vec_id", "embedding", "label")
    val graph = knnRows(Similarity.knnGraph(df, "vec_id", "embedding", k = 2))
    val lists = graph.groupBy(_._1).map { case (q, rs) => q -> rs.toSeq.sortBy(_._4).map(_._2) }
    assert(lists == Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L), 3L -> Seq(5L, 4L),
      4L -> Seq(3L, 5L), 5L -> Seq(3L, 4L)))
    assert(knnRows(Similarity.bruteForceKnn(df, df, "vec_id", "embedding", k = 2)) == graph)
    Seq(2, 3).foreach { b =>
      assert(knnRows(Similarity.knnGraphBlocked(df, "vec_id", "embedding", 2, b)) == graph, s"blocks=$b")
    }
    // k = 1: query 4 ties 3 and 5, keeps 3, and votes 3's label
    val votes = Similarity.knnClassify(df, "vec_id", "embedding", "label", k = 1)
      .collect().map(r => (r.getAs[Long]("label"), r.getAs[Long]("pred"), r.getAs[Long]("n"))).toSet
    assert(votes == Set((10L, 20L, 1L), (20L, 10L, 1L), (30L, 50L, 1L), (40L, 30L, 1L), (50L, 30L, 1L)))
    // source 1's one cross-group neighbour is the smaller of the tied pair
    val margin = Similarity.marginMining(df.where(col("vec_id") =!= 2L), "vec_id", "embedding",
      when(col("vec_id") === 1L, "a").otherwise("b"), srcGroup = "a", k = 1, threshold = 0.0)
      .collect().map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("dst_id")).toMap
    assert(margin == Map(1L -> 3L))
  }

  test("truncatedRecall: full-width truncation is perfect recall; tiny prefixes degrade") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.truncatedRecall(emb, emb.where(col("vec_id") < 5),
      "vec_id", "embedding", k = 5, dims = Seq(2, 64))
      .collect().map(r => (r.getAs[Long]("dims"),
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"), r.getAs[Double]("recall")))).toMap
    val (nExact64, nHit64, rec64) = got(64L)
    assert(nExact64 == nHit64 && rec64 == 1.0) // d=64 IS the full vector
    val (nExact2, nHit2, rec2) = got(2L)
    assert(nExact2 == nExact64)
    assert(rec2 < 1.0 && nHit2 < nExact2) // 2 dims of 64 cannot preserve the top-5
  }

  test("trainPca recovers a planted principal axis; projection centers and orders variance") {
    val sp = spark
    import sp.implicits._
    // points on the line y = 2x (plus a small orthogonal wiggle): the first
    // component must align with (1,2)/sqrt(5), the second with (-2,1)/sqrt(5)
    // up to the positive-max-coordinate sign convention
    val pts = (0 until 40).map { i =>
      val t = (i - 20).toDouble
      val w = if (i % 2 == 0) 0.1 else -0.1 // orthogonal wiggle
      (i.toLong, Array((t + (-2) * w).toFloat, (2 * t + w).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val (means, comps, eigs) = Similarity.trainPca(df, "vec_id", "embedding", nComponents = 2)
    assert(eigs(0) > eigs(1) && eigs(1) > 0) // variance order
    val e1 = comps(0)
    assert(math.abs(math.abs(e1(0) / e1(1)) - 0.5) < 1e-3) // direction (1,2)
    assert(e1(1) > 0) // sign convention: largest coordinate positive
    // unit norm, mutual orthogonality
    assert(math.abs(Similarity.dotIdx(e1, e1) - 1.0) < 1e-9)
    assert(math.abs(Similarity.dotIdx(e1, comps(1))) < 1e-6)
    val proj = Similarity.pcaProject(df, "vec_id", "embedding", means, comps)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        (r.getAs[Double]("pc1"), r.getAs[Double]("pc2")))).toMap
    assert(proj.size == 40)
    // projections are mean-centered: each pc sums to ~0
    assert(math.abs(proj.values.map(_._1).sum) < 1e-3)
    assert(math.abs(proj.values.map(_._2).sum) < 1e-3)
    // pc1 spans the line's extent (~±45), pc2 only the wiggle (~±0.1·sqrt5)
    assert(proj.values.map(_._1).max > 20.0)
    assert(proj.values.map(_._2).map(math.abs).max < 1.0)
  }

  test("standardize: per-dim z-scores center and scale; constant dims drop") {
    val sp = spark
    import sp.implicits._
    // dim0: 1,3 -> mean 2, sigma 1; dim1 constant -> dropped
    val df = Seq((1L, Array(1f, 7f)), (2L, Array(3f, 7f))).toDF("vec_id", "embedding")
    val got = Similarity.standardize(df, "vec_id", "embedding").collect()
      .map(r => ((r.getAs[Long]("vec_id"), r.getAs[Long]("dim")), r.getAs[Double]("z")))
      .toMap
    assert(got == Map((1L, 0L) -> -1.0, (2L, 0L) -> 1.0)) // dim1 absent
  }

  test("mutualKnnEdges keeps only reciprocal pairs; a far-away hub magnet drops out") {
    val sp = spark
    import sp.implicits._
    // two tight 3-cliques on orthogonal axes and one diagonal point: with
    // k=2 each clique member ranks its 2 clique-mates first, so edges form
    // within cliques only; the diagonal point ranks clique members, but no
    // clique member ranks it back -> it keeps no edge
    def v(x: Double, y: Double, z: Double) = Array(x.toFloat, y.toFloat, z.toFloat)
    val rows = Seq(
      (0L, v(1, 0.00, 0)), (1L, v(1, 0.01, 0)), (2L, v(1, -0.01, 0)),
      (3L, v(0, 1, 0.00)), (4L, v(0, 1, 0.01)), (5L, v(0, 1, -0.01)),
      (6L, v(1, 1, 1))).toDF("vec_id", "embedding")
    val edges = Similarity.mutualKnnEdges(rows, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(edges == Set((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L)))
    val comps = graft.operators.Dedup.connectedComponents(
      Similarity.mutualKnnEdges(rows, "vec_id", "embedding", k = 2), "d1", "d2")
      .collect().map(r => (r.getAs[Long]("doc"), r.getAs[Long]("component"))).toMap
    assert(comps == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("multiProbeKnn: recall dominates single-probe and never passes exact") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(3)
    val rows = (0 until 80).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = rows.where(col("vec_id") < 8)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = hits(Similarity.bruteForceKnn(rows, queries, "vec_id", "embedding", k = 5)
      .selectExpr("query_id", "neighbor_id"))
    val single = hits(Similarity.bucketedKnn(rows, queries, "vec_id", "embedding",
      k = 5, planes = 4, dim = 16).selectExpr("query_id", "neighbor_id"))
    val multi = hits(Similarity.multiProbeKnn(rows, queries, "vec_id", "embedding",
      k = 5, planes = 4, dim = 16).selectExpr("query_id", "neighbor_id"))
    assert((multi intersect exact).size >= (single intersect exact).size)
    // multi-probe candidates strictly include the single-probe bucket
    assert((single intersect exact).subsetOf(multi union single))
    assert(multi.nonEmpty)
  }

  test("uncertaintySampling: boundary points rank most uncertain; cluster cores are confident") {
    val sp = spark
    import sp.implicits._
    // two tight clusters around x-axis (label 0) and y-axis (label 1), and
    // one point on the diagonal with mixed neighbors
    val rows = (
      (0 until 4).map(i => (i.toLong, Array(1.0f, 0.01f * i), 0)) ++
      (0 until 4).map(i => (10L + i, Array(0.01f * i, 1.0f), 1)) :+
      ((99L, Array(0.75f, 0.75f), 0)))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.uncertaintySampling(rows, "vec_id", "embedding", "label",
      k = 4, topN = 9).collect()
    // the diagonal point is the single most uncertain vector
    assert(got(0).getAs[Long]("vec_id") == 99L)
    assert(got(0).getAs[Long]("margin") < got.last.getAs[Long]("margin"))
    // cluster cores: all k neighbors share the label -> margin == k
    val core = got.find(_.getAs[Long]("vec_id") == 1L).get
    assert(core.getAs[Long]("n_top") == 4L && core.getAs[Long]("margin") == 4L)
    assert(core.getAs[Long]("pred_label") == 0L)
  }

  test("pqRerankKnn: exact re-rank of a covering shortlist equals brute-force top-k") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0 until 40)
      .map(i => (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = rows.where(col("vec_id") < 3)
    // shortlist = whole corpus -> stage 2 sees everything: result MUST equal
    // the exact brute-force ranking (and prove the exact math, not ADC,
    // orders the final list)
    val got = Similarity.pqRerankKnn(rows, queries, "vec_id", "embedding",
      topK = 5, shortlist = 40, m = 4, kCodes = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim")))).toMap
    val brute = Similarity.bruteForceKnn(rows, queries, "vec_id", "embedding", k = 5)
      .selectExpr("query_id", "CAST(rank AS BIGINT) AS rank", "neighbor_id", "sim")
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim")))).toMap
    assert(got == brute)
  }

  test("pqRerankKnn: rank never exceeds topK and sims are exact round6 cosines") {
    val sp = spark
    import sp.implicits._
    val rows = (0 until 30)
      .map(i => (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqRerankKnn(rows, rows.where(col("vec_id") === 0), "vec_id",
      "embedding", topK = 3, shortlist = 10, m = 4, kCodes = 8)
      .collect()
    assert(got.length == 3)
    assert(got.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L))
    // descending exact similarity
    val sims = got.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("sim"))
    assert(sims.sorted(Ordering[Double].reverse).toSeq == sims.toSeq)
  }

  test("marginMining: one best cross-group pair per source, margin normalizes by neighborhood") {
    val sp = spark
    import sp.implicits._
    // group 0: vectors 1, 2; group 1: vectors 11, 12, 13.
    // vector 1 is nearly parallel to 11 and far from the rest — high margin;
    // vector 2 is equally mediocre to everything — margin ~1, filtered.
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.5f, 0.5f, 0.7f), 0),
      (11L, Array(0.99f, 0.1f, 0.0f), 1),
      (12L, Array(0.0f, 1.0f, 0.0f), 1),
      (13L, Array(0.0f, 0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.marginMining(rows, "vec_id", "embedding",
      col("label") % 2, srcGroup = "0", k = 2, threshold = 0.0)
      .collect().map(r => r.getAs[Long]("src_id") ->
        ((r.getAs[Long]("dst_id"), r.getAs[Double]("cos"), r.getAs[Double]("margin"))))
      .toMap
    assert(got.keySet == Set(1L, 2L)) // one best pair per source vector
    assert(got(1L)._1 == 11L)
    // the sharp pair outranks the mediocre source's best pair
    assert(got(1L)._3 > got(2L)._3)
    // cos of (1, 11) is the exact round6 cosine
    val expCos = Sweep.round6(0.99 / math.sqrt(0.99 * 0.99 + 0.1 * 0.1))
    assert(got(1L)._2 == expCos)
    // margin replays exactly: integer neighborhood sums over round6 sims
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      Sweep.round6(dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)))
    }
    val v = Map(
      1L -> Array(1.0, 0.0, 0.0), 2L -> Array(0.5, 0.5, 0.7),
      11L -> Array(0.99f.toDouble, 0.1f.toDouble, 0.0), 12L -> Array(0.0, 1.0, 0.0),
      13L -> Array(0.0, 0.0, 1.0))
    val grp = Map(1L -> 0, 2L -> 0, 11L -> 1, 12L -> 1, 13L -> 1)
    def isum(q: Long): Long = v.keys.filter(o => grp(o) != grp(q)).toSeq
      .map(o => cos6(v(q), v(o))).sorted(Ordering[Double].reverse).take(2)
      .map(s => math.round(s * 1000000.0)).sum
    val expMargin = BigDecimal(cos6(v(1L), v(11L)) / ((isum(1L) + isum(11L)).toDouble / 4000000.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._3 == expMargin)
  }

  test("marginMining: null vectors and null groups are excluded; ties break on smaller dst") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      (1L, Array(1.0f, 0.0f), Some(0)),
      (21L, Array(1.0f, 0.0f), Some(1)), // identical to 22 — tie
      (22L, Array(1.0f, 0.0f), Some(1)),
      (30L, null.asInstanceOf[Array[Float]], Some(1)),
      (31L, Array(0.0f, 1.0f), None))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.marginMining(rows, "vec_id", "embedding",
      col("label") % 2, srcGroup = "0", k = 2, threshold = 0.0)
      .collect().map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("dst_id")).toMap
    assert(got == Map(1L -> 21L)) // equal margins -> smaller dst id wins
  }

  test("jlDistortionAudit: exact zero for identical pair, plausible ratios else") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val v0 = vec()
    // pair (0,1): identical vectors; pairs (2,3)...(8,9): random
    val rows = Seq(0L -> v0, 1L -> v0) ++ (2L to 9L).map(i => i -> vec())
    val got = Similarity.jlDistortionAudit(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", inDim = 64, outDim = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    assert(got.length == 5) // even ids 0,2,4,6,8
    val first = got.find(_._1 == 0L).get
    assert(first._2 == 0.0 && first._3 == 0.0 && first._4.isNaN) // ratio null
    got.filter(_._1 != 0L).foreach { case (_, dor, dpr, ratio) =>
      assert(dor > 0.0 && dpr > 0.0)
      // JL with k=16: loose 3-sigma-ish band, just a sanity envelope
      assert(ratio > 0.3 && ratio < 2.5, s"implausible distortion $ratio")
    }
  }

  test("trainRidge recovers a planted linear relationship; residual screen finds the flip") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    // y = 2 + 3*x1 - x2 exactly; one planted label flip at id 99
    val rows = (0 until 200).map { i =>
      val v = Array.fill(4)(rnd.nextFloat())
      val y = 2.0 + 3.0 * v(0) - v(1)
      (i.toLong, v, if (i == 99) y + 10.0 else y)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val cf = Similarity.trainRidge(df, "embedding", "label", dim = 4, lambda = 0.0)
    assert(math.abs(cf(0) - 2.0) < 0.3, cf.toList.toString)  // intercept
    assert(math.abs(cf(1) - 3.0) < 0.3, cf.toList.toString)
    assert(math.abs(cf(2) - -1.0) < 0.3, cf.toList.toString)
    // training twice yields bit-identical coefficients (fixed-point moments)
    val cf2 = Similarity.trainRidge(df, "embedding", "label", dim = 4, lambda = 0.0)
    assert(cf.toList == cf2.toList)
    val top = Similarity.linearProbeResiduals(df, "vec_id", "embedding", "label",
      dim = 4, lambda = 0.0, topN = 1).collect()
    assert(top.head.getLong(0) == 99L, top.toList.toString)
  }

  test("silhouetteByCentroid: on-centroid s=1, boundary midpoint s=0") {
    val sp = spark
    import sp.implicits._
    val cents = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val rows = Seq(
      (1L, Array(0f, 0f)),    // exactly on c0: a=0, b=10 -> s=1
      (2L, Array(5f, 0f)),    // midpoint: a=b=5 -> s=0 (ties pick cell 0)
      (3L, Array(9f, 0f)))    // near c1: a=1, b=9 -> s=8/9
    val got = Similarity.silhouetteByCentroid(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val s89 = BigDecimal((9.0 - 1.0) / 9.0 * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6
    assert(got == List((0L, 2L, 0.5), (1L, 1L, s89)), got.toString)
  }

  test("clusterMedoids: nearest member per cell, ties to the smaller id") {
    val sp = spark
    import sp.implicits._
    val cents = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val rows = Seq(
      (5L, Array(1f, 0f)), (3L, Array(-1f, 0f)), // both dist 1 from c0 -> id 3
      (7L, Array(9f, 0f)), (8L, Array(12f, 0f))) // c1: 7 at dist 1 beats 8 at 2
    val got = Similarity.clusterMedoids(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(got == List((0L, 3L, 1.0), (1L, 7L, 1.0)), got.toString)
  }

  test("int8Reconstruct: codes decode within one grid step; recall high on real data") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("vec_id", "embedding")
    val recon = Similarity.int8Reconstruct(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // every reconstructed component within one quantization step of the
    // original (per-dim range / 255)
    val orig = rows.toMap
    val dims = 8
    val mins = (0 until dims).map(d => rows.map(_._2(d)).min)
    val maxs = (0 until dims).map(d => rows.map(_._2(d)).max)
    rows.foreach { case (id, v) =>
      val r = recon(id)
      (0 until dims).foreach { d =>
        val step = (maxs(d) - mins(d)) / 255.0
        assert(math.abs(r(d) - v(d)) <= step + 1e-6,
          s"id $id dim $d: ${r(d)} vs ${v(d)} step $step")
      }
    }
  }

  test("kmeans: 1-D two-cluster fixture converges to the hand-computed split") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (0L, Seq(0.0f)), (1L, Seq(0.001f)), (2L, Seq(1.0f)), (3L, Seq(1.001f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeans(df, "vec_id", "embedding", k = 2, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // stable split {0,1} vs {2,3}; final centroids 500 / 1000500 on the
    // 1e-6 grid -> every point sits 500 quanta (250000 squared) away
    assert(got == Set(
      (0L, 0L, 250000L), (1L, 0L, 250000L),
      (2L, 1L, 250000L), (3L, 1L, 250000L)))
  }

  test("kmeans: equidistant point breaks ties to the smaller centroid id") {
    val sp = spark
    import sp.implicits._
    val df = Seq((0L, Seq(0.0f)), (1L, Seq(2.0f)), (2L, Seq(1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeans(df, "vec_id", "embedding", k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // init c0=[0], c1=[2e6]; the tie at [1e6] goes to cid 0, so the one
    // update moves c0 to floor((0 + 1e6)/2) = 500000
    assert(got == Set(
      (0L, 0L, 250000000000L), (1L, 1L, 0L), (2L, 0L, 250000000000L)))
  }

  test("kmeans: negative coordinate means stay exact on the grid") {
    val sp = spark
    import sp.implicits._
    val df = Seq((0L, Seq(-1.0f)), (1L, Seq(-1.001f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeans(df, "vec_id", "embedding", k = 1, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // mean of (-1000000, -1001000) divides exactly to -1000500
    assert(got == Set((0L, 0L, 250000L), (1L, 0L, 250000L)))
  }

  test("dbscan: core/border/noise on an angular fixture; min-label determinism") {
    val sp = spark
    import sp.implicits._
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // simEps 0.9 ~= 25.8 degrees. 0/10/20 deg: mutually dense -> all core
    // (cluster = min id 0). 40 deg: only neighbor is 20 deg -> border of
    // cluster 0. 90/100 deg: a lone pair (2 < minPts) with no core
    // neighbor -> noise. 180 deg: isolated noise.
    val df = Seq(
      (0L, at(0)), (1L, at(10)), (2L, at(20)), (5L, at(40)),
      (3L, at(90)), (4L, at(100)), (6L, at(180)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dbscan(df, "vec_id", "embedding",
        simEps = 0.9, minPts = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      (0L, "core", 0L), (1L, "core", 0L), (2L, "core", 0L),
      (5L, "border", 0L),
      (3L, "noise", -1L), (4L, "noise", -1L), (6L, "noise", -1L)))
  }

  test("kmeans: driver-loop and distributed Lloyd paths are bit-identical") {
    val sp = spark
    import sp.implicits._
    // 3-D mixed-sign fixture with inexact means, ties and an emptied-
    // cluster candidate — everything the integer recurrence must replay
    val df = (0L until 40L).map { i =>
      (i, Seq((math.sin(i * 0.7) * 3).toFloat, (i % 5).toFloat - 2f,
        (math.cos(i * 0.3) * -2).toFloat))
    }.toDF("vec_id", "embedding")
    def rows(gate: Long) =
      Similarity.kmeans(df, "vec_id", "embedding", k = 4, iters = 4,
          maxDriverRows = gate)
        .orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(rows(200000L) == rows(0L))
  }

  test("dbscan: minPts=1 makes a zero-neighbor vector a core singleton") {
    val sp = spark
    import sp.implicits._
    // vec 5 is orthogonal to the dense pair 0/1 — no eps-neighbor at all.
    // With minPts=1 the 'itself included' rule makes it a CORE singleton
    // cluster (its own id), never noise (r8 ADVICE boundary).
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.999f, 0.01f)), (5L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dbscan(df, "vec_id", "embedding",
        simEps = 0.9, minPts = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      (0L, "core", 0L), (1L, "core", 0L), (5L, "core", 5L)))
  }

  test("dbscan: broadcast and blocked pair paths agree") {
    val sp = spark
    import sp.implicits._
    val df = (0L until 60L).map { i =>
      (i, Seq(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat,
        (i % 7).toFloat / 7f))
    }.toDF("vec_id", "embedding")
    def rows(maxRows: Long) =
      Similarity.dbscan(df, "vec_id", "embedding", simEps = 0.95,
          minPts = 4, maxBroadcastRows = maxRows)
        .orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList
    assert(rows(200000L) == rows(0L))
  }
}
