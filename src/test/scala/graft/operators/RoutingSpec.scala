package graft.operators

import graft.{SparkSpec, Telemetry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-shape routing gates (r13 verdict asks #1 and #4): the density
  * gate in [[TextAnalysis.tfidfSimilar]] and the df-histogram gate in
  * [[Dedup.ngramJaccardAuto]] must (a) flip at the documented corpus
  * shape, and (b) change the PHYSICAL plan only — forced routes produce
  * identical rows on both corpus shapes.
  */
class RoutingSpec extends SparkSpec {
  import spark.implicits._

  // DENSE corpus: tiny shared vocabulary, every term/shingle frequent but
  // UNDER the 78% df cap (df = n/2 each, so nothing is pruned away) — the
  // regime where an inverted index / prefix filter degenerates to
  // all-pairs and the brute sweep is the right plan: Σ C(df,2) =
  // 10 · C(30,2) = 4350 > C(60,2) = 1770
  private def denseDocs = (0L until 60L).map { i =>
    val terms = (0 until 10).filter(k => (i + k) % 2 == 0).map(k => s"h$k")
    (i, terms.mkString(" "))
  }.toDF("doc_id", "text")

  // ZIPFIAN corpus: each doc carries rare terms of its own (a long tail),
  // so posting lists are short and prefixes prune — the index/PPJoin
  // regime. Pairs 2k/2k+1 share their rare terms so true matches exist.
  private def zipfDocs = (0L until 60L).map { i =>
    val p = i / 2
    (i, s"rare${p}a rare${p}b rare${p}c rare${p}d rare${p}e rare${p}f rare${p}g rare${p}h")
  }.toDF("doc_id", "text")

  /** The routes `key` noted while `df` was built and counted. */
  private def routes(key: String)(df: => DataFrame): Seq[String] =
    Telemetry.scoped(spark)(df.count())._2.noted[String](key)

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("d1").cast("long"), col("d2").cast("long"),
      col(df.columns.last).cast("double"))
      .as[(Long, Long, Double)].collect().toSet

  test("tfidfSimilar auto routes dense corpora to the dense sweep") {
    assert(routes(TextAnalysis.TfidfRoute)(
      TextAnalysis.tfidfSimilar(denseDocs, "doc_id", "text", threshold = 0.5)) == Seq("dense"),
      "dense small-vocab corpus: Σ C(df,2) > C(n,2) must flip to the dense sweep")
  }

  test("tfidfSimilar auto keeps Zipfian corpora on the inverted index") {
    assert(routes(TextAnalysis.TfidfRoute)(
      TextAnalysis.tfidfSimilar(zipfDocs, "doc_id", "text", threshold = 0.5)) == Seq("index"),
      "Zipfian corpus: short posting lists must stay on the salted index")
  }

  test("tfidfSimilar auto stays on the index when dense admission fails") {
    // density says dense, but the driver-admission bound (docs cap) fails →
    // the gate must fall back to the only fully-distributed plan
    assert(routes(TextAnalysis.TfidfRoute)(TextAnalysis.tfidfSimilar(denseDocs, "doc_id", "text",
      threshold = 0.5, maxBroadcastDocs = 10L)) == Seq("index"))
  }

  test("tfidf routes are hash-equal on both corpus shapes") {
    for (docs <- Seq(denseDocs, zipfDocs)) {
      val idx = rows(TextAnalysis.tfidfSimilar(docs, "doc_id", "text",
        threshold = 0.5, route = "index"))
      val dense = rows(TextAnalysis.tfidfSimilar(docs, "doc_id", "text",
        threshold = 0.5, route = "dense"))
      assert(idx == dense, "routing must be a physical choice only")
      assert(idx.nonEmpty, "fixture must exercise real pairs")
    }
  }

  test("ngramJaccardAuto routes the dense corpus to the block sweep") {
    assert(routes(Dedup.JaccardRoute)(
      Dedup.ngramJaccardAuto(denseDocs, "doc_id", "text", n = 2, threshold = 0.5)) == Seq("blocked"),
      "dense corpus: prefixes prune nothing — the O(n²/b) sweep must win")
  }

  test("ngramJaccardAuto routes the Zipfian corpus to PPJoin") {
    assert(routes(Dedup.JaccardRoute)(
      Dedup.ngramJaccardAuto(zipfDocs, "doc_id", "text", n = 2, threshold = 0.5)) == Seq("ppjoin"),
      "Zipfian corpus: rare-shingle prefixes prune — PPJoin must win")
  }

  test("concurrent ngramJaccardAuto calls each see their own route") {
    // both threads route at once; each scope holds only its own thread's route
    val start = new java.util.concurrent.CyclicBarrier(2)
    def route(docs: DataFrame) = new java.util.concurrent.FutureTask(() => {
      start.await()
      routes(Dedup.JaccardRoute)(Dedup.ngramJaccardAuto(docs, "doc_id", "text", n = 2, threshold = 0.5))
    })
    val tasks = Seq(route(denseDocs), route(zipfDocs))
    tasks.foreach(new Thread(_).start())
    assert(tasks.map(_.get(2, java.util.concurrent.TimeUnit.MINUTES)) == Seq(Seq("blocked"), Seq("ppjoin")))
  }

  test("jaccard routed output equals both pinned variants on both shapes") {
    for (docs <- Seq(denseDocs, zipfDocs)) {
      val auto = rows(Dedup.ngramJaccardAuto(docs, "doc_id", "text",
        n = 2, threshold = 0.5))
      val pp = rows(Dedup.ngramJaccard(docs, "doc_id", "text", n = 2, threshold = 0.5)
        .select(col("d1").cast("long").as("d1"), col("d2").cast("long").as("d2"),
          col("jaccard")))
      val blocked = rows(Dedup.ngramJaccardBlocked(docs, "doc_id", "text",
        n = 2, threshold = 0.5))
      assert(auto == pp && auto == blocked,
        "the routed entry and both pinned plans must agree exactly")
      assert(auto.nonEmpty, "fixture must exercise real pairs")
    }
  }
}
