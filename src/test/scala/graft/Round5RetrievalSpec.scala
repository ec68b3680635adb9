package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Similarity, TextAnalysis}

/** Round-5 retrieval/dedup additions: BM25, reciprocal-rank fusion,
  * SemDeDup-style embedding dedup, sorted-neighborhood blocking.
  */
class Round5RetrievalSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "cat cat cat dog"),
    (2L, "cat dog dog dog"),
    (3L, "fish fish fish fish"),
    (4L, "bird")).toDF("doc_id", "text")

  test("bm25TopK ranks the rare-term doc first and counts hits per doc") {
    val r = TextAnalysis.bm25TopK(corpus, "doc_id", "text",
      Seq("cat", "fish"), 10).collect().sortBy(_.getAs[Int]("rank"))
    // fish: df=1 -> idf 4e6; cat: df=2 -> idf 2e6; doc3 has tf=4 of the
    // rarer term and must outrank every cat doc
    assert(r.head.getAs[Long]("doc_id") == 3L)
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L, 1L, 2L))
    assert(r.forall(_.getAs[Long]("n_hits") == 1L))
    // doc1 (tf=3) must outscore doc2 (tf=1) on the same term and length
    val byId = r.map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("score_q")).toMap
    assert(byId(1L) > byId(2L))
  }

  test("bm25TopK caps at k and assigns dense 1..k ranks") {
    val r = TextAnalysis.bm25TopK(corpus, "doc_id", "text",
      Seq("cat", "fish"), 2).collect()
    assert(r.length == 2)
    assert(r.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2))
  }

  test("bm25TopKPerQuery scores queries independently and plans a WindowGroupLimit") {
    val qt = Seq((1L, "cat"), (2L, "fish"), (2L, "dog")).toDF("query_id", "term")
    val r = TextAnalysis.bm25TopKPerQuery(corpus, "doc_id", "text", qt, 10)
    val rows = r.collect()
    val q1 = rows.filter(_.getAs[Long]("query_id") == 1L)
    // query 1 = single-term bm25: same doc ranking as the literal-set form
    assert(q1.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("doc_id")).toSeq
      == Seq(1L, 2L), "tf ordering within the cat query")
    val q2 = rows.filter(_.getAs[Long]("query_id") == 2L)
    assert(q2.head.getAs[Long]("doc_id") == 3L ||
      q2.sortBy(_.getAs[Int]("rank")).head.getAs[Long]("doc_id") == 3L,
      "rare fish term dominates query 2")
    assert(rows.forall(_.getAs[Int]("rank") <= 10))
    assert(r.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "per-query top-k must plan as WindowGroupLimit")
  }

  test("bm25TopK equals bm25TopKPerQuery on a one-query table") {
    val docs = corpus.union(Seq((5L, "cat fish dog bird cat"), (6L, "dog"),
      (7L, "fish cat")).toDF("doc_id", "text"))
    val terms = Seq("cat", "fish", "dog")
    val single = TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, 20)
      .select("doc_id", "n_hits", "score_q", "rank")
    val perQuery = TextAnalysis.bm25TopKPerQuery(docs, "doc_id", "text",
        terms.map(t => (1L, t)).toDF("query_id", "term"), 20)
      .select("doc_id", "n_hits", "score_q", "rank")
    val want = single.collect().map(_.toString).sorted.toSeq
    assert(want.size == 6)
    assert(perQuery.collect().map(_.toString).sorted.toSeq == want)
  }

  test("rrfFuse is integral, handles one-sided items, and orders by fused score") {
    val a = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    val b = Seq((2L, 1), (3L, 2)).toDF("id", "rank")
    val r = TextAnalysis.rrfFuse(a, b, "id").collect()
      .map(x => x.getAs[Long]("id") ->
        (Option(x.get(x.fieldIndex("rank_a"))), x.getAs[Long]("rrf_q"))).toMap
    // 1e6 div 61 = 16393, 1e6 div 62 = 16129 — exact integral contributions
    assert(r(1L)._2 == 16393L)
    assert(r(3L)._2 == 16129L)
    assert(r(2L)._2 == 16129L + 16393L)
    assert(r(3L)._1.isEmpty, "id 3 is absent from list a -> null rank_a")
  }

  test("semanticDedup clusters same-direction vectors and keeps the largest-norm copy") {
    val vecs = Seq(
      (1L, Array(1f, 1f, 1f, 1f)),
      (2L, Array(2f, 2f, 2f, 2f)),
      (3L, Array(-1f, -1f, 1f, -1f))).toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(vecs, "vec_id", "embedding", 0.9, 2, 2)
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("cluster_rep"), x.getAs[Boolean]("keep"))).toMap
    assert(r(1L)._1 == 1L && r(2L)._1 == 1L, "cosine-1 pair share the min-id cluster")
    assert(!r(1L)._2 && r(2L)._2, "only the larger-norm member is kept")
    assert(r(3L)._1 == 3L && r(3L)._2, "dissimilar vector is its own kept cluster")
  }

  test("sortedNeighborhoodPairs compares only rank-adjacent docs within the window") {
    val docs = Seq(
      (1L, "aaa bbb ccc ddd"),
      (2L, "aaa bbb ccc dde"),
      (3L, "aab xxx yyy zzz")).toDF("doc_id", "text")
    val r = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text", 1, 3, 0.3)
    // shingle sets {aaa bbb ccc, bbb ccc ddd} vs {aaa bbb ccc, bbb ccc dde}:
    // i=1, union=3 -> jaccard 1/3 >= 0.3; (2,3) adjacent but dissimilar;
    // (1,3) outside the window=1 neighborhood - never compared
    val rows = r.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("id_a") == 1L && rows.head.getAs[Long]("id_b") == 2L)
    assert(math.abs(rows.head.getAs[Double]("jaccard") - 1.0 / 3) < 1e-12)
    // rank assignment is sortBy+zipWithIndex: no Window operator anywhere
    assert(!r.queryExecution.executedPlan.toString.contains("Window"),
      "SNM must not plan a single-partition global window")
  }

  test("contrastiveTriples draws deterministic negatives distinct from both anchors") {
    val docs = Seq(
      (1L, "aaa bbb ccc ddd eee fff"),
      (2L, "aaa bbb ccc ddd eee fff"), // exact dup of 1 -> certain LSH positive
      (3L, "zzz yyy xxx www vvv uuu"),
      (4L, "mmm nnn ooo ppp qqq rrr")).toDF("doc_id", "text")
    val r1 = Dedup.contrastiveTriples(docs, "doc_id", "text", 0.5, 3).collect()
    val r2 = Dedup.contrastiveTriples(docs, "doc_id", "text", 0.5, 3).collect()
    assert(r1.nonEmpty, "the exact-dup pair must be a positive")
    assert(r1.map(_.toSeq).toSet == r2.map(_.toSeq).toSet, "draws are deterministic")
    r1.foreach { r =>
      val (a, b, n) = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(n != a && n != b, "negatives never equal an anchor")
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 3)
    }
    assert(r1.length <= 3, "at most negPerPair rows per positive pair")
  }

  test("vertexCover2Approx covers every edge") {
    val cover = GraphAlgorithms.vertexCover2Approx(twoCompNf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val edges = twoCompNf.edges.select("source", "target").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (u, v) =>
      assert(cover(u) || cover(v), s"edge ($u,$v) must have a covered endpoint")
    }
    // isolated node 5 is never in the cover
    assert(!cover(5L))
  }

  test("mmrSelect skips the near-duplicate of the first pick in favor of a diverse item") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),       // query
      (1L, Array(0.9f, 0.1f, 0f, 0f)),   // most relevant
      (2L, Array(0.9f, 0.11f, 0f, 0f)),  // near-dup of 1, second-most relevant
      (3L, Array(0.5f, 0f, 0.8f, 0f)))   // diverse, lower relevance
      .toDF("vec_id", "embedding")
    val r = Similarity.mmrSelect(vecs, "vec_id", "embedding", 0L, 3, 2)
      .collect().sortBy(_.getAs[Int]("pick"))
    assert(r(0).getAs[Long]("id") == 1L, "pick 1 is pure relevance")
    assert(r(1).getAs[Long]("id") == 3L,
      "pick 2 must be the diverse item, not the near-duplicate of pick 1")
  }

  test("intervalJoinLeftOuter keeps unmatched left rows with a null right side") {
    import graft.streaming.EventStream
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, t(600), 1L, "click", 0.0, "{}"),   // matched by view 2
      (2L, t(300), 1L, "view", 0.0, "{}"),
      (3L, t(900), 2L, "click", 0.0, "{}"),   // user 2 has no view: null match
      (4L, t(1200), 3L, "view", 0.0, "{}"))   // view with no click: never emitted
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventStream.intervalJoinLeftOuter(ev, "click", "view", "10 minutes")
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(out == Set((1L, Some(2L)), (3L, None)))
  }

  test("sortedNeighborhoodPairs finds identical texts regardless of id gap (sort ties adjacent)") {
    val docs = Seq(
      (10L, "mmm nnn ooo ppp"),
      (99L, "aaa bbb ccc ddd"),
      (5L, "aaa bbb ccc ddd")).toDF("doc_id", "text")
    val rows = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text", 1, 3, 0.99)
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("id_a") == 5L && rows.head.getAs[Long]("id_b") == 99L)
    assert(rows.head.getAs[Double]("jaccard") == 1.0)
  }
}
