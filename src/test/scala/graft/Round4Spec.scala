package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 fixes: sub-millisecond running-total ordering, SCC fast paths,
  * decimal-exact strengths, de-skewed walk index, empty-graph guards.
  */
class Round4Spec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("runningTotals orders same-millisecond events by microsecond ts") {
    import graft.streaming.EventStream
    import java.sql.Timestamp
    // two events of one user inside ONE millisecond, 500 µs apart, with
    // event ids in the OPPOSITE order of time: a millisecond-only sort key
    // would fold id 4 first and corrupt the intermediate totals
    val early = new Timestamp(10000L); early.setNanos(0)
    val late = new Timestamp(10000L); late.setNanos(500000) // +500 µs
    val ev = Seq(
      (5L, early, 7L, "click", 2.0, "{}"), // first in time, larger id
      (4L, late, 7L, "view", 1.0, "{}"))   // 500 µs later, smaller id
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventStream.runningTotals(ev)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // oracle ORDER BY ts, event_id: id 5 folds first (200), then id 4 (300)
    assert(out == Map(5L -> 200L, 4L -> 300L))
  }

  test("strengths quantizes DECIMAL weights exactly (no double drift)") {
    val nodes = Seq("A", "B").toDF("id")
    val edges = Seq(("A", "B", "0.29"), ("A", "B", "0.01"))
      .toDF("source", "target", "w")
      .withColumn("weight", col("w").cast("decimal(18,2)")).drop("w")
    val out = NetworkFrame(nodes, edges).strengths("weight")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // decimal-exact: 0.29 -> 29 cents (the double path floors
    // 28.999999999999996 to 28), plus 0.01 -> 1
    assert(out("A") == 30L)
    assert(out("B") == 0L)
  }

  test("estimateDiameter rejects an empty graph instead of NPEing") {
    val nf = NetworkFrame(
      Seq.empty[(String, String)].toDF("id", "color"),
      Seq.empty[(String, String)].toDF("source", "target"))
    intercept[IllegalArgumentException] {
      GraphAlgorithms.estimateDiameter(nf, 5)
    }
  }

  test("adjacencyIndex matches row_number semantics without a Window sort") {
    // 50k-degree hub: the windowed formulation funnels the whole adjacency
    // through one task's sort; the range-partitioned index must not plan a
    // Window at all
    val hub = (1L to 50000L).map(i => (0L, i)).toDF("source", "target")
      .union(Seq((1L, 7L), (1L, 3L), (1L, 5L)).toDF("source", "target"))
    val idx = GraphAlgorithms.adjacencyIndex(hub)
    assert(!idx.queryExecution.executedPlan.toString.contains("Window"),
      "adjacency index must not be built with a window sort")
    val got = idx.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // hub neighbors 1..50000 rank densely in target order
    assert(got((0L, 1L)) == 0 && got((0L, 25000L)) == 24999 &&
      got((0L, 50000L)) == 49999)
    // second source ranks independently of the hub's positions
    assert(got((1L, 3L)) == 0 && got((1L, 5L)) == 1 && got((1L, 7L)) == 2)
    assert(got.size == 50003)
  }

  test("decodePixels really decodes a PNG (exact channel means)") {
    import graft.multimodal.Multimodal
    import java.awt.image.BufferedImage
    // 2x1 RGB PNG: pixel (255,0,0) and (0,0,255) -> means (0.5, 0, 0.5)
    val im = new BufferedImage(2, 1, BufferedImage.TYPE_3BYTE_BGR)
    im.setRGB(0, 0, 0xff0000)
    im.setRGB(1, 0, 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    val ds = Seq(
      Multimodal.MediaRecord(1L, bos.toByteArray, "image/png"),
      Multimodal.MediaRecord(2L, "not an image".getBytes("UTF-8"), "text/plain"))
      .toDS()
    val out = Multimodal.decodePixels(ds).collect().map(p => p.id -> p).toMap
    val png = out(1L)
    assert((png.width, png.height, png.channels, png.decoded) == ((2, 1, 3, true)))
    assert(png.channel_mean.toSeq == Seq(0.5f, 0.0f, 0.5f))
    // non-image payload falls back to the stub path, flagged undecoded
    assert(!out(2L).decoded && out(2L).channel_mean.isEmpty)
    // the same payloads through the other two decoders: real pixels for
    // the PNG, the undecodable fallback for the text
    val feats = Multimodal.decodeImages(ds).collect().map(f => f.id -> f).toMap
    assert((feats(1L).width, feats(1L).height, feats(1L).channels) == ((2, 1, 3)))
    assert(feats(1L).features.toSeq == Seq(0.5f, 0f, 0.5f, 0f, 0.5f, 0f, 0.5f, 0f))
    assert(feats(2L).features.length == Multimodal.featureDim)
    val hashes = Multimodal.perceptualHash(ds).collect().map(h => h.id -> h).toMap
    assert(hashes(1L).decoded)
    assert(!hashes(2L).decoded && hashes(2L).phash == -1L)
  }

  test("SCC coloring doubling path closes a long scrambled cycle correctly") {
    // a directed 12-cycle with ids scrambled by a coprime stride: plain
    // max-color propagation needs ~11 rounds, so with doublingAfter=4 the
    // forward coloring crosses the threshold and exercises the doubling
    // branch (scrambled ids make color(v) point away from v, so the hop
    // genuinely compresses); the backward search (depth 11) stays under
    // sccFrontierCap. The whole cycle is ONE SCC labeled by its min id
    val n = 12
    val ids = (0 until n).map(i => ((i * 7) % n).toLong)
    val nodes = ids.toDF("id")
    val edges = (0 until n).map(i => (ids(i), ids((i + 1) % n)))
      .toDF("source", "target")
    // the distributed entry: the public call finishes a graph this small
    // on the driver
    val out = GraphAlgorithms.sccFixpoint(NetworkFrame(nodes, edges),
        doublingAfter = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == n && out.values.forall(_ == 0L))
  }

  test("redactPatterns financial preset scrubs IBANs and card numbers") {
    import graft.functions.TextAnalysis
    val docs = Seq(
      (1L, "wire to DE44500105175407324931 by friday"),
      (2L, "card 4111 1111-1111 1111 on file"),
      (3L, "order 1234 of 5678 units")) // short digit runs: untouched
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPatterns(docs, "text",
        TextAnalysis.financialPatterns)
      .select("doc_id", "n_iban", "n_card", "redacted")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // n_card = 1 here: counts are taken on the ORIGINAL text (the contract,
    // matching the oracle), and the IBAN's 20-digit tail contains a
    // 16-digit run; the redaction itself is sequential, so the rendered
    // text still shows one clean <IBAN>
    assert(out(1L) == ((1L, 1L, "wire to <IBAN> by friday")))
    assert(out(2L) == ((0L, 1L, "card <CARD> on file")))
    assert(out(3L) == ((0L, 0L, "order 1234 of 5678 units")))
  }

  test("saltedJoin shuffles on (key, salt) with AQE disabled") {
    import graft.operators.SkewJoin
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    val bcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = (1L to 1000L).map(i => (i % 3, i)).toDF("id", "payload")
      val build = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("id", "tag")
      val plan = SkewJoin.saltedJoin(probe, build, Seq("id"), 8, Seq("payload"))
        .queryExecution.executedPlan.toString
      // the physical shuffle key must be the (id, __salt) composite — that
      // is the whole point: a hot id spreads across 8 reducers
      assert("hashpartitioning\\(id#\\d+L?, __salt".r.findFirstIn(plan).isDefined,
        s"expected an Exchange hash-partitioned on (id, __salt):\n$plan")
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("bigramLm scores docs by average corpus bigram frequency") {
    import graft.functions.TextAnalysis
    // corpus bigrams: "a b" appears 3x (docs 1, 2, 3), "b c" 2x (1, 2),
    // "c a" 1x (2); doc 4 has a single token -> dropped
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c a"), (3L, "a b"), (4L, "x"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLm(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((2L, 5L, 2500000L)))  // (3 + 2) * 1e6 / 2
    assert(out(2L) == ((3L, 6L, 2000000L)))  // (3 + 2 + 1) * 1e6 / 3
    assert(out(3L) == ((1L, 3L, 3000000L)))  // 3 * 1e6 / 1
    assert(!out.contains(4L))
  }

  test("reciprocity counts mutual directed pairs exactly") {
    // edges: 1->2, 2->1 (mutual), 1->3 (one-way), 3->3 (self: dropped),
    // plus a duplicate 1->2 (deduped)
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 3L), (1L, 2L))
      .toDF("source", "target")
    val r = GraphAlgorithms.reciprocity(NetworkFrame(nodes, edges)).collect()(0)
    assert(r.getLong(0) == 3L)       // 1->2, 2->1, 1->3
    assert(r.getLong(1) == 2L)       // the mutual pair, both directions
    assert(r.getLong(2) == 666666L)  // 2e6 / 3 floored
  }

  test("maximalIndependentSet is independent and maximal") {
    // path 1-2-3-4-5 plus isolated 9: the result must be a valid MIS —
    // no two 'in' nodes adjacent, every 'out' node has an 'in' neighbor,
    // the isolated node is always in, nothing left undecided
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val edgePairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = edgePairs.toDF("source", "target")
    val out = GraphAlgorithms.maximalIndependentSet(
        NetworkFrame(nodes, edges), rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val in = out.filter(_._2 == "in").keySet
    val nbrs = edgePairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(out.values.forall(_ != "undecided"))
    assert(in.contains(9L))
    assert(in.forall(v => nbrs.getOrElse(v, Set.empty).intersect(in).isEmpty))
    assert(out.filter(_._2 == "out").keySet
      .forall(v => nbrs(v).intersect(in).nonEmpty))
  }

  test("kTruss keeps the 4-clique and peels the pendant triangle tail") {
    // K4 on {1,2,3,4} (every edge in 2 triangles) plus triangle {4,5,6}
    // hanging off node 4 and a pendant edge 6-7: at k=4 (support >= 2)
    // round 1 peels the pendant edge and the {4,5,6} triangle edges
    // (support 1), leaving exactly the 6 K4 edges with support 2
    val nodes = (1L to 7L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("source", "target")
    val out = GraphAlgorithms.kTruss(NetworkFrame(nodes, edges), k = 4, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(out.values.forall(_ == 2L))
  }

  test("kmeansAssign broadcasts the centroid table, never shuffles vectors to it") {
    import graft.functions.Similarity
    val emb = (1L to 50L).map(i =>
        (i, i % 4, Array.tabulate(8)(d => ((i + d) % 7).toFloat / 7f)))
      .toDF("vec_id", "label", "embedding")
    val plan = Similarity.kmeansAssign(emb, "vec_id", "embedding", "label")
      .queryExecution.executedPlan.toString
    // the scale claim: the tiny (cells x dims) centroid side broadcasts;
    // vectors are scanned in place — red if Spark plans a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast centroid side:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"vectors must not sort-merge:\n$plan")
  }

  test("bigramLm plans exactly its two aggregation shuffles plus the scoring join") {
    import graft.functions.TextAnalysis
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val plan = TextAnalysis.bigramLm(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // partial+final pairs for the bigram count and the per-doc rollup —
    // the map-side combine is the 100 TB property
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"expected map-side partial aggregation:\n$plan")
  }

  test("betweennessSampled credits the middle of a path, hand-computed") {
    // path 1 - 2 - 3, seeds {1, 2}: from seed 1, delta(2) = Q (it carries
    // the one path to 3); from seed 2 every non-seed is a leaf. So
    // btw_q = (0, Q, 0).
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("source", "target")
    val out = GraphAlgorithms.betweennessSampled(
        NetworkFrame(nodes, edges), k = 2, maxDepth = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1000000L, 3L -> 0L))
  }

  test("conserving PageRank keeps dangling mass the plain variant drops") {
    // node 3 is dangling (no out-edges): the conserving variant
    // redistributes its damped mass, so total mass stays near S while the
    // plain variant bleeds toward the teleport floor
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("source", "target")
    val nf = NetworkFrame(nodes, edges)
    val plain = GraphAlgorithms.pageRank(nf, iterations = 8)
      .agg(sum("qs")).first().getLong(0)
    val cons = GraphAlgorithms.pageRankConserving(nf, iterations = 8)
      .agg(sum("qs")).first().getLong(0)
    val S = 1000000000000L
    assert(cons > plain)
    // conservation up to integral-division remainders (< 1 unit per node
    // per division, a few dozen total) vs S
    assert(S - cons < 1000L, s"expected near-total mass, got $cons")
  }

  test("multi-seed PPR with a single seed equals single-seed PPR") {
    val nodes = (0L to 5L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("source", "target")
    val nf = NetworkFrame(nodes, edges)
    // row for row, in output order; 9 is not a node
    Seq(0L, 3L, 9L).foreach { s =>
      assert(GraphAlgorithms.personalizedPageRank(nf, s, iterations = 5).collect().toSeq ==
        GraphAlgorithms.personalizedPageRankMulti(nf, Seq(s), iterations = 5).collect().toSeq)
    }
  }

  test("round-4 graph ops behave on empty and edgeless graphs") {
    val empty = NetworkFrame(
      Seq.empty[Long].toDF("id"), Seq.empty[(Long, Long)].toDF("source", "target"))
    val lone = NetworkFrame(
      Seq(7L).toDF("id"), Seq.empty[(Long, Long)].toDF("source", "target"))
    assert(GraphAlgorithms.hits(empty).collect().isEmpty)
    assert(GraphAlgorithms.kTruss(empty, 3).collect().isEmpty)
    assert(GraphAlgorithms.maximalIndependentSet(empty).collect().isEmpty)
    assert(GraphAlgorithms.condensationGraph(lone).collect().isEmpty)
    // a single isolated node: zero scores, in the MIS, harmonic 0
    val h = GraphAlgorithms.hits(lone).collect()(0)
    assert(h.getLong(1) == 0L && h.getLong(2) == 0L)
    val m = GraphAlgorithms.maximalIndependentSet(lone).collect()(0)
    assert(m.getString(1) == "in")
    val hc = GraphAlgorithms.harmonicCentrality(lone, k = 2).collect()(0)
    assert(hc.getLong(1) == 0L)
  }

  test("reciprocity of an edgeless graph is NULL, not a division error") {
    val nodes = Seq(1L, 2L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("source", "target")
    val r = GraphAlgorithms.reciprocity(NetworkFrame(nodes, edges)).collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.isNullAt(2))
  }

  test("harmonicCentrality sums inverse BFS distances from the seed set") {
    // path 1 - 2 - 3 - 4 (undirected via symmetrization), node 9 isolated;
    // seeds = 2 smallest ids = {1, 2}
    val nodes = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("source", "target")
    val out = GraphAlgorithms.harmonicCentrality(NetworkFrame(nodes, edges),
        k = 2, maxDepth = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1000000L)            // d(2,1)=1
    assert(out(2L) == 1000000L)            // d(1,2)=1
    assert(out(3L) == 500000L + 1000000L)  // d(1,3)=2, d(2,3)=1
    assert(out(4L) == 333333L + 500000L)   // d(1,4)=3, d(2,4)=2
    assert(out(9L) == 0L)                  // unreached
  }

  test("perceptual hash pairs visually near-duplicate PNGs only") {
    import graft.multimodal.Multimodal
    import java.awt.image.BufferedImage
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val im = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) im.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val grad = png((x, y) => (x * 8 << 16) | (y * 8 << 8) | 128)
    // same gradient with one slightly brightened pixel: visually identical
    val near = png((x, y) =>
      if (x == 5 && y == 5) (48 << 16) | (48 << 8) | 128
      else (x * 8 << 16) | (y * 8 << 8) | 128)
    // inverted gradient: visually different
    val far = png((x, y) => ((255 - x * 8) << 16) | ((255 - y * 8) << 8) | 128)
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRecord(1L, grad, "image/png"),
      Multimodal.MediaRecord(2L, near, "image/png"),
      Multimodal.MediaRecord(3L, far, "image/png"),
      Multimodal.MediaRecord(4L, "not an image".getBytes, "text/plain")))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRecord])
    val pairs = Multimodal.imageNearDupPairs(ds, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) <= 2)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    // determinism: same bytes, same hash, twice
    val h1 = Multimodal.perceptualHash(ds).collect().map(p => p.id -> p.phash).toMap
    val h2 = Multimodal.perceptualHash(ds).collect().map(p => p.id -> p.phash).toMap
    assert(h1 == h2 && h1(4L) == -1L)
  }

  test("weightedRandomWalks lands hops in the cumulative-weight range") {
    // node 1 has neighbors 2 (1 cent) and 3 (99 cents); the first hop of
    // walk 1 must match the md5 draw replayed here against cums [1, 100]
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L, 0.01), (1L, 3L, 0.99))
      .toDF("source", "target", "weight")
    val out = GraphAlgorithms.weightedRandomWalks(
        NetworkFrame(nodes, edges), "weight", steps = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("1:1".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val r = java.lang.Long.parseLong(hex, 16) % 100L
    assert(out((1L, 1)) == (if (r < 1) 2L else 3L))
    // nodes 2 and 3 have exactly one (symmetrized) neighbor: node 1
    assert(out((2L, 1)) == 1L && out((3L, 1)) == 1L)
    assert(out((1L, 0)) == 1L) // step 0 is the start node
  }

  test("hits separates pure hubs from the pure authority") {
    // 1 -> 3 and 2 -> 3: nodes 1 and 2 are equal pure hubs, 3 the only
    // authority; one iteration reaches the fixpoint (hand-computed:
    // a(3) = 2e6 -> renorm 1e6; h(1) = h(2) = 1e6, h(3) = 0)
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("source", "target")
    val out = GraphAlgorithms.hits(NetworkFrame(nodes, edges), iterations = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((1000000L, 0L)))
    assert(out(2L) == ((1000000L, 0L)))
    assert(out(3L) == ((0L, 1000000L)))
  }

  test("neighborhoodJaccard computes exact capped-set Jaccard per pair") {
    // triangle 1-2-3 plus pendant 3-4: N(1)={2,3} N(2)={1,3} N(3)={1,2,4}
    // N(4)={3}; e.g. J(1,4) = |{3}| / |{2,3} u {3}| = 1/2
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("source", "target")
    val out = GraphAlgorithms.neighborhoodJaccard(NetworkFrame(nodes, edges))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out((1L, 2L)) == ((1L, 333333L)))  // {3} / {1,2,3}
    assert(out((1L, 3L)) == ((1L, 250000L)))  // {2} / {1,2,3,4}... sets of size 2,3
    assert(out((2L, 3L)) == ((1L, 250000L)))
    assert(out((1L, 4L)) == ((1L, 500000L)))
    assert(out((2L, 4L)) == ((1L, 500000L)))
    assert(out.size == 5)
  }

  test("condensationGraph contracts SCCs into an acyclic multiplicity DAG") {
    // two 2-cycles {1,2} and {3,4} bridged by 2->3 and 1->4: one DAG edge
    // (1 -> 3) with multiplicity 2; reps are min member ids
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (2L, 3L), (1L, 4L))
      .toDF("source", "target")
    val out = GraphAlgorithms.condensationGraph(NetworkFrame(nodes, edges))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 3L) -> 2L))
  }

  test("funnelCounts requires stages in strict temporal order per user") {
    import graft.streaming.EventStream
    import java.sql.Timestamp
    // user 7 completes view -> click -> purchase in order; user 8 clicks
    // BEFORE their first view, so their click never counts
    val ev = Seq(
      (1L, new Timestamp(1000L), 7L, "view", 1.0, "{}"),
      (2L, new Timestamp(2000L), 7L, "click", 1.0, "{}"),
      (3L, new Timestamp(3000L), 7L, "purchase", 1.0, "{}"),
      (4L, new Timestamp(1000L), 8L, "click", 1.0, "{}"),
      (5L, new Timestamp(2000L), 8L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = EventStream.funnelCounts(ev, Seq("view", "click", "purchase")).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L && r.getLong(2) == 1L)
  }

  test("stream-static enrichment matches the equivalent batch join") {
    import graft.streaming.EventStream
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("graft_enrich_").toString
    val ev = Seq(
      (1L, new Timestamp(1000L), 10L, "click", 1.23, "{}"),
      (2L, new Timestamp(2000L), 10L, "click", 2.00, "{}"),
      (3L, new Timestamp(3000L), 11L, "view", 0.50, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val dim = Seq((10L, "AUTO"), (11L, "STEEL")).toDF("k", "seg")
    val out = EventStream.runEnrichedStream(spark, s"$dir/events.parquet",
        dim, "k", "seg", "enrich_spec")
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(("AUTO", "click")) == ((2L, 323L)))  // 123 + 200 cents
    assert(out(("STEEL", "view")) == ((1L, 50L)))
  }
}
