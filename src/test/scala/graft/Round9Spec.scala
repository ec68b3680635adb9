package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 work: query-bank duplicate-name guard (round 8 shipped two dead
  * Map-key-shadowed definitions), fixed-size KMV sampling for the
  * self-similarity snapshot.
  */
class Round9Spec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("query bank has no duplicate names; all four rollup/cube variants are live") {
    // queries itself requires distinctness — calling it IS the guard; assert
    // the previously-shadowed definitions are now executable entries.
    val qs = SparkEntry.queries
    for (n <- Seq("q_rollup", "q_rollup_nodes", "q_cube", "q_cube_events"))
      assert(qs.contains(n), s"$n must be a live query")
    // every oracle key must point at a live query
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
  }

  test("syntheticPng is a real compressed PNG ImageIO decodes to the payload cycle") {
    import graft.multimodal.Multimodal
    val payload = Array[Byte](10, 20, 30)
    val png = Multimodal.syntheticPng(payload)
    // genuinely compressed: a zlib IDAT, not a stored BMP-style raster
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P')
    val im = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(im != null, "JDK must decode the synthetic PNG")
    assert(im.getWidth == 8 && im.getHeight == 8 && im.getRaster.getNumBands == 3)
    // sample j = payload(j % 3): R=10, G=20, B=30 everywhere
    val px = new Array[Int](3)
    im.getRaster.getPixel(3, 5, px)
    assert(px.toSeq == Seq(10, 20, 30))
    val stats = Multimodal.decodePixels(
      Seq(Multimodal.MediaRecord(1L, png, "image/png")).toDS()).collect().head
    assert(stats.decoded && stats.channels == 3)
    assert(stats.channel_mean.toSeq == Seq(
      (10.0 / 255).toFloat, (20.0 / 255).toFloat, (30.0 / 255).toFloat))
  }

  test("q_pipeline_e2e is a single pass over documents (scan fusion pinned)") {
    val df = SparkEntry.queries("q_pipeline_e2e")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    val census = ExplainDump.scanCensus(plan)
    assert(census.getOrElse("documents.parquet", 0) == 1,
      s"pipeline must scan documents exactly once, census: $census\n$plan")
    // the quality gate must be fused against the scan: a Filter node whose
    // condition carries the gate threshold sits BELOW every shuffle (plan
    // toString prints top-down, so deeper nodes have LARGER offsets)
    val gateIdx = plan.indexOf("200000")
    val lastExchangeIdx = plan.lastIndexOf("Exchange")
    assert(gateIdx >= 0, "gate threshold must appear in the plan")
    assert(lastExchangeIdx < 0 || gateIdx > lastExchangeIdx,
      s"quality gate must filter below every shuffle\n$plan")
  }

  test("MultilayerNetworkFrame: single-layer view, flatten, and layered effective edges agree") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq(
      (1L, 2L, "a", 10L), (1L, 2L, "a", 5L), (1L, 2L, "b", 7L),
      (2L, 3L, "b", 2L), (3L, 1L, "a", 1L)
    ).toDF("source", "target", "layer", "w")
    val ml = MultilayerNetworkFrame(NetworkFrame(nodes, edges))
    // single-layer view is a pure edge filter
    assert(ml.layer("a").edges.count() == 3)
    // layered effective edges: (a,1,2)=15, (b,1,2)=7, (b,2,3)=2, (a,3,1)=1
    val eff = ml.effectiveEdgesByLayer(Some("w")).collect()
      .map(r => ((r.getString(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    assert(eff == Map(("a", 1L, 2L) -> 15L, ("b", 1L, 2L) -> 7L,
      ("b", 2L, 3L) -> 2L, ("a", 3L, 1L) -> 1L))
    // flatten ignores layers: (1,2)=22
    val flat = ml.aggregateLayers(Some("w")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(flat((1L, 2L)) == 22L)
    // activity: node 1 active in both layers, node 3 in... a only? 3 is in
    // (2,3,b) as target and (3,1,a) as source -> both layers
    val act = ml.nodeActivity().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(act(1L) == 2L && act(2L) == 2L && act(3L) == 2L)
    // overlap: key (1,2) present in a and b -> one shared edge
    val ov = ml.layerOverlap().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(ov == Map(("a", "b") -> 1L))
  }

  test("self-similarity sample is fixed-size (k smallest md5(doc_id)), not a fraction") {
    // 400 docs; the snapshot must consider at most 128 of them regardless of
    // corpus size, picked by the md5 order (deterministic across runs).
    val docs = (0L until 400L).map(i => (i, s"w$i x$i y$i")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_selfsim").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q_self_similarity")(spark, dir).collect().head
    val nPairs = r.getAs[Long]("n_pairs")
    assert(nPairs == 128L * 127 / 2,
      s"pair space must be k*(k-1)/2 for k=128, got $nPairs")
  }

  test("paretoSkyline2D matches the brute-force dominance definition") {
    // deterministic pseudo-random points, with planted duplicates and ties
    val pts = (0 until 500).map { i =>
      (i.toLong, (i * 37 % 211).toDouble, i * 53 % 97)
    } ++ Seq((900L, 0.0, 96), (901L, 0.0, 96)) // duplicate frontier points
    val df = pts.toDF("id", "cost", "gain")
    val got = graft.functions.Analytics.paretoSkyline2D(df, "cost", "gain")
      .select("id").collect().map(_.getLong(0)).toSet
    val want = pts.filter { case (_, c, g) =>
      !pts.exists { case (_, c2, g2) =>
        c2 <= c && g2 >= g && (c2 < c || g2 > g)
      }
    }.map(_._1).toSet
    assert(got == want)
    assert(got.contains(900L) && got.contains(901L),
      "exact duplicates are mutually non-dominating and must both survive")
    // bins=1 disables pruning but must not change the result
    val got1 = graft.functions.Analytics.paretoSkyline2D(df, "cost", "gain", bins = 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got1 == want)
  }

  test("densestSubgraphTrace peels pendants before the planted clique") {
    // a 6-clique (density 2.5) with a 20-node pendant path hanging off it
    val clique = for (a <- 0L until 6L; b <- 0L until 6L if a < b) yield (a, b)
    val path = (5L until 25L).map(i => (i, i + 1))
    val edges = (clique ++ path).toDF("source", "target")
    val nodes = (0L until 26L).map(Tuple1(_)).toDF("id")
    val tr = GraphAlgorithms.densestSubgraphTrace(
        NetworkFrame(nodes, edges, directed = false), rounds = 5)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(tr.head == ((0L, 26L, 35L, 35L * 1000000 / 26)),
      s"round 0 must report the full graph, got ${tr.head}")
    // node counts never increase, and some round isolates a subgraph at
    // least as dense as the clique (the 2(1+eps) guarantee is much weaker,
    // but greedy peel finds the planted clique exactly here)
    assert(tr.map(_._2).sliding(2).forall(w => w(1) <= w(0)))
    assert(tr.exists(t => t._4 == 2500000L && t._2 == 6L),
      s"peel must isolate the 6-clique (density 2.5), got ${tr.toSeq}")
  }

  test("hammingNearDupPairs finds exactly the brute-force close pairs") {
    // hashes planted at controlled distances, including the sign bit
    val base = 0x0123456789abcdefL
    val hs = Seq(
      0L -> base, 1L -> base, // dist 0
      2L -> (base ^ 0x7L), // dist 3 from base
      3L -> (base ^ (1L << 63) ^ (1L << 31) ^ 1L), // dist 3, sign bit flipped
      4L -> (base ^ 0x00ff00ff00ff00ffL), // far away
      5L -> ~base) // dist 64
    val df = hs.map { case (i, h) => (i, true, h) }.toDF("id", "decoded", "phash")
    val got = graft.multimodal.Multimodal.hammingNearDupPairs(df, maxDist = 6, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d)).toSet
    assert(got == want)
    assert(want.contains((0L, 3L, 3)), "sign-bit flips must still pair")
    // undecoded rows never pair
    val df2 = df.union(Seq((6L, false, base)).toDF("id", "decoded", "phash"))
    val got2 = graft.multimodal.Multimodal.hammingNearDupPairs(df2, 6, 8)
      .filter(col("id_b") === 6L).count()
    assert(got2 == 0L)
  }

  test("chiSquaredAssociation: zero under independence, Cramer's V = 1 when determined") {
    // product distribution: perfectly independent -> every O == E -> chi2 0
    val ind = for (x <- 1 to 4; y <- 1 to 3; _ <- 1 to 5) yield (s"x$x", s"y$y")
    val r1 = graft.functions.DataProfile
      .chiSquaredAssociation(ind.toDF("a", "b"), "a", "b").collect().head
    // sum(O^2*n/(cx*cy)) is exact under independence (O*n = cx*cy), so
    // chi2_q is exactly 0, no floor slack
    assert(r1.getAs[Long]("chi2_q") == 0L && r1.getAs[Long]("cramers_v_ppm") == 0L)
    // y fully determined by x -> V = 1 (chi2 = n * (min(r,c) - 1)); the
    // diagonal terms are exact (O = cx = cy), so the ppm V is exactly 1e6
    val det = for (x <- 1 to 3; _ <- 1 to 7) yield (s"x$x", s"y$x")
    val r2 = graft.functions.DataProfile
      .chiSquaredAssociation(det.toDF("a", "b"), "a", "b").collect().head
    assert(r2.getAs[Long]("cramers_v_ppm") == 1000000L,
      s"determined column must give V_ppm=1e6, got ${r2.getAs[Long]("cramers_v_ppm")}")
    assert(r2.getAs[Long]("dof") == 4L)
    // degenerate single-category input: dof 0, V defined as 0 (not NaN) —
    // the guard the oracle SQL mirrors with its own CASE WHEN vden = 0
    val one = Seq(("x", "p"), ("x", "q"), ("x", "q")).toDF("a", "b")
    val r3 = graft.functions.DataProfile
      .chiSquaredAssociation(one, "a", "b").collect().head
    assert(r3.getAs[Long]("dof") == 0L && r3.getAs[Long]("cramers_v_ppm") == 0L)
  }

  test("kAnonymityAudit counts risk groups, rows, and low-diversity groups") {
    val rows = Seq(
      ("a", 1, 10.0), ("a", 1, 11.0), ("a", 1, 10.0), // group size 3, ldiv 2
      ("b", 1, 20.0), ("b", 1, 20.0),                 // size 2, ldiv 1
      ("c", 2, 30.0))                                 // size 1, ldiv 1
      .toDF("q1", "q2", "s")
    val r = graft.functions.DataProfile
      .kAnonymityAudit(rows, Seq("q1", "q2"), "s", k = 3, l = 2)
      .collect().head
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Long]("risk_groups") == 2L) // sizes 2 and 1 are < 3
    assert(r.getAs[Long]("risk_rows") == 3L)
    assert(r.getAs[Long]("min_group") == 1L)
    assert(r.getAs[Long]("low_diversity_groups") == 2L) // ldiv 1 groups
  }

  test("coarsenByMatching contracts matched pairs and merges parallel edges") {
    // path 1-2-3-4: greedy min-target matching pairs (1,2) and (3,4);
    // edge 2-3 becomes the single inter-super edge (1,3) with its weight
    val nodes = (1L to 4L).map(Tuple1(_)).toDF("id")
    val edges = Seq((1L, 2L, 10.0), (2L, 3L, 20.0), (3L, 4L, 30.0))
      .toDF("source", "target", "weight")
    val got = GraphAlgorithms.coarsenByMatching(
        NetworkFrame(nodes, edges, directed = false), rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 3L, 1L, 20.0)),
      s"expected one contracted edge (1,3,1,20.0), got ${got.toSeq}")
    // a triangle with a parallel edge: (1,2) matched -> both 1-3 and 2-3
    // collapse onto super pair (1,3) with counts and weights merged
    val n2 = (1L to 3L).map(Tuple1(_)).toDF("id")
    val e2 = Seq((1L, 2L, 1.0), (1L, 3L, 2.0), (2L, 3L, 4.0))
      .toDF("source", "target", "weight")
    val got2 = GraphAlgorithms.coarsenByMatching(
        NetworkFrame(n2, e2, directed = false), rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got2.toSeq == Seq((1L, 3L, 2L, 6.0)))
  }

  test("node2vecTransitions: exact alphas and floored-ppm normalization") {
    // triangle 1-2-3 plus pendant 4 on node 3
    val nodes = (1L to 4L).map(Tuple1(_)).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("source", "target")
    val t = GraphAlgorithms.node2vecTransitions(
        NetworkFrame(nodes, edges, directed = false), hubCap = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    // state (1 -> 2): neighbors of 2 are {1, 3}; back to 1 = return (1),
    // 3 is adjacent to 1 = common (4); sum 5
    assert(t((1L, 2L, 1L)) == ((1L, 200000L)))
    assert(t((1L, 2L, 3L)) == ((4L, 800000L)))
    // state (2 -> 3): neighbors of 3 = {1, 2, 4}; 2 return (1), 1 common
    // (4), 4 far (2); sum 7 — floored ppm
    assert(t((2L, 3L, 2L)) == ((1L, 1000000L / 7)))
    assert(t((2L, 3L, 1L)) == ((4L, 4000000L / 7)))
    assert(t((2L, 3L, 4L)) == ((2L, 2000000L / 7)))
    // pendant state (4 -> 3, next=4) is pure return among {1,2,4}
    assert(t((4L, 3L, 4L)) == ((1L, 200000L)))
  }

  test("maxCoverageSelect follows the greedy trajectory and stops when covered") {
    val docs = Seq((1L, "a b c d"), (2L, "c d e"), (3L, "e f"), (4L, "a b"))
      .toDF("doc_id", "text")
    val got = graft.functions.Curation.maxCoverageSelect(docs, "doc_id", "text", k = 5)
      .orderBy("pick").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // pick 1: doc 1 covers {a,b,c,d} (gain 4); pick 2: doc 3 adds {e,f}
    // (gain 2, beats doc 2's {e}); then every token is covered -> stop
    assert(got.toSeq == Seq((1, 1L, 4L, 4L), (2, 3L, 2L, 6L)))
    // argmax ties break to the smaller id; duplicate-token docs gain once
    val tie = Seq((7L, "x y"), (5L, "y x x")).toDF("doc_id", "text")
    val got2 = graft.functions.Curation.maxCoverageSelect(tie, "doc_id", "text", k = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got2.toSeq == Seq((1, 5L, 2L, 2L)))
  }

  test("round-9 pair operators never plan a Cartesian product") {
    val vecs = (1L to 30L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5).toFloat / 5f))
    }.toDF("vec_id", "embedding")
    val cellPlan = graft.functions.Similarity
      .cellScopedNearDupPairs(vecs, "vec_id", "embedding", 0.3)
      .queryExecution.executedPlan.toString
    assert(!cellPlan.contains("CartesianProduct"),
      "cell-scoped pair join must be an equi-join on the cell key")
    val hs = (1L to 20L).map(i => (i, true, i * 0x9e3779b97f4a7c15L))
    val phPlan = graft.multimodal.Multimodal
      .hammingNearDupPairs(hs.toDF("id", "decoded", "phash"))
      .queryExecution.executedPlan.toString
    assert(!phPlan.contains("CartesianProduct"),
      "pHash candidates must come from band-bucket equi-joins + rank windows")
    val pts = (0L until 40L).map(i => (i, (i * 37 % 41).toDouble, (i * 53 % 29).toInt))
      .toDF("id", "cost", "gain")
    val skyPlan = graft.functions.Analytics
      .paretoSkyline2D(pts, "cost", "gain")
      .queryExecution.executedPlan.toString
    assert(!skyPlan.contains("CartesianProduct"),
      "skyline must stay an order statistic, not a dominance pair join")
  }

  test("cellScopedNearDupPairs: subset of exact pairs, finds co-cell near-dups") {
    // 60 vectors in 3 well-separated directions with small deterministic
    // jitter: in-direction cosines ~1, cross-direction ~0
    val vecs = (0 until 60).map { i =>
      val g = i % 3
      val base = Array.fill(8)(0.0f)
      base(g * 2) = 1.0f
      base(g * 2 + 1) = 0.1f + (i % 7) * 0.02f // jitter within the group
      (i.toLong, base.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = graft.functions.Similarity
      .cellScopedNearDupPairs(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.functions.Similarity
      .cosineNearDupPairsExact(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), "cell-scoped must never invent pairs")
    assert(got.nonEmpty, "tight co-directional vectors must pair")
    // every found pair is within one group (cross-group cosine ~0)
    assert(got.forall { case (a, b) => a % 3 == b % 3 })
    // determinism: same input -> same pairs (seed choice is md5-ordered)
    val again = graft.functions.Similarity
      .cellScopedNearDupPairs(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == got)
  }
}
