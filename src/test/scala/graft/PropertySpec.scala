package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator property tests over random small graphs (SURVEY §5.3).
  * Deterministic seeds (no scalatestplus bridge on the classpath): each
  * property is checked against `n` generated graphs.
  */
class PropertySpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def forAll(n: Int)(body: ((Seq[(Long, Long)], Seq[(Long, Long)])) => Unit): Unit =
    (1 to n).foreach { i =>
      body(genGraph(Gen.Parameters.default, Seed(i.toLong)).get)
    }

  private val genGraph: Gen[(Seq[(Long, Long)], Seq[(Long, Long)])] = for {
    n <- Gen.choose(2, 12)
    nEdges <- Gen.choose(0, 20)
    edges <- Gen.listOfN(nEdges, for {
      s <- Gen.choose(0L, n - 1L); t <- Gen.choose(0L, n - 1L)
    } yield (s, t))
  } yield ((0L until n.toLong).map(i => (i, i % 3)), edges)

  private def mk(g: (Seq[(Long, Long)], Seq[(Long, Long)])): NetworkFrame =
    NetworkFrame(g._1.toDF("id", "grp"), g._2.toDF("source", "target"))

  /** Node count and edges over ids 0..n+1: ids n and n+1 are dangling
    * endpoints; random pairs give isolated nodes and multi-edges, and a
    * self-loop and a repeated edge are always added.
    */
  private val genComponentGraph: Gen[(Int, Seq[(Int, Int)])] = for {
    n <- Gen.choose(1, 10)
    m <- Gen.choose(0, 16)
    edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n + 1), Gen.choose(0, n + 1)))
  } yield (n, edges ++ edges.take(1) :+ ((0, 0)))

  /** Int ids (kind 0), Long ids (kind 1), or Long ids just below
    * Long.MaxValue (kind 2).
    */
  private def idFrame(kind: Int, n: Int, edges: Seq[(Int, Int)]): NetworkFrame =
    if (kind == 0) NetworkFrame((0 until n).toDF("id"), edges.toDF("source", "target"))
    else {
      val base = if (kind == 1) 0L else Long.MaxValue - 20L
      NetworkFrame((0 until n).map(base + _).toDF("id"),
        edges.map { case (s, t) => (base + s, base + t) }.toDF("source", "target"))
    }

  private def assertSameFrame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    assert(got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq)
  }

  test("driver component finish equals the distributed weak and strong fixpoints") {
    (1 to 6).foreach { i =>
      val (n, edges) = genComponentGraph(Gen.Parameters.default, Seed(i.toLong)).get
      val nf = idFrame(i % 3, n, edges)
      assertSameFrame(GraphAlgorithms.componentLabels(nf, "weak"), GraphAlgorithms.weakFixpoint(nf))
      assertSameFrame(GraphAlgorithms.strongComponentLabels(nf), GraphAlgorithms.sccFixpoint(nf))
      // pointer doubling from the second cycle: the shared fixpoint's
      // doubling step runs for both max colorings here and min labels above
      assertSameFrame(GraphAlgorithms.strongComponentLabels(nf),
        GraphAlgorithms.sccFixpoint(nf, doublingAfter = 1))
    }
  }

  test("sccFixpoint's capped backward search equals the driver Tarjan on a 41-cycle") {
    // ids scrambled by a coprime stride; the cycle's root (its max id, 40)
    // reaches its farthest member in 40 backward hops, past
    // sccFrontierCap, so the frontier search caps and the backward
    // coloring finishes it.
    // A 2-cycle hangs off the cycle, a tail leads in, and a tail leads out
    // of the 2-cycle: the trim peels both tails.
    val n = 41
    val ids = (0 until n).map(i => (i * 7 % n).toLong)
    val edges = (0 until n).map(i => (ids(i), ids((i + 1) % n))) ++
      Seq((40L, 100L), (100L, 101L), (101L, 100L), (101L, 102L), (102L, 103L), (200L, 0L))
    val nf = NetworkFrame((ids ++ Seq(100L, 101L, 102L, 103L, 200L)).toDF("id"),
      edges.toDF("source", "target"))
    val want = GraphAlgorithms.strongComponentLabels(nf)
    assertSameFrame(GraphAlgorithms.sccFixpoint(nf), want)
    assertSameFrame(GraphAlgorithms.sccFixpoint(nf, doublingAfter = 1), want)
  }

  /** `genComponentGraph` edges with a weight in {0, 0.25, 0.5, 0.75}
    * (exact in binary, so the cent quantization is exact; many ties) and a
    * timestamp in 0..3 (many equal times), both derived from the endpoints
    * and the edge position.
    */
  private def weightedTimed(i: Int): (Int, Seq[(Int, Int, Long, Long)]) = {
    val (n, edges) = genComponentGraph(Gen.Parameters.default, Seed(i.toLong)).get
    (n, edges.zipWithIndex.map { case ((s, t), j) =>
      (s, t, (s + 2 * t + j) % 4 * 25L, (3 * s + t + j) % 4L) })
  }

  /** Zero-padded string ids: string order equals numeric order. */
  private def pad(c: String) = lpad(col(c).cast("string"), 2, "0").as(c)

  /** Plain-Scala Kruskal: the minimum spanning forest under the total
    * order (wq, u, v), over edges with both endpoints among ids 0..n-1.
    */
  private def kruskal(n: Int, edges: Seq[(Int, Int, Long)]): Seq[(Long, Long, Long)] = {
    val lightest = edges.collect { case (s, t, w) if s != t && s < n && t < n =>
        (math.min(s, t), math.max(s, t)) -> w }
      .groupMapReduce(_._1)(_._2)(math.min)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else find(parent(x))
    lightest.toSeq.map { case ((u, v), w) => (w, u, v) }.sorted.flatMap { case (w, u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru == rv) None else { parent(ru) = rv; Some((u.toLong, v.toLong, w)) }
    }.sorted
  }

  test("minimumSpanningForest equals a plain-Scala Kruskal with integral and string ids") {
    (1 to 6).foreach { i =>
      val (n, edges) = weightedTimed(i)
      val want = kruskal(n, edges.map(e => (e._1, e._2, e._3)))
      val nodes = (0L until n.toLong).toDF("id")
      val weighted = edges.map { case (s, t, w, _) => (s.toLong, t.toLong, w / 100.0) }
        .toDF("source", "target", "weight")
      // integral ids contract on the driver, string ids through weakFixpoint
      Seq(NetworkFrame(nodes, weighted),
          NetworkFrame(nodes.select(pad("id")),
            weighted.select(pad("source"), pad("target"), col("weight"))))
        .foreach { nf =>
          val got = GraphAlgorithms.minimumSpanningForest(nf)
            .select(col("u").cast("long"), col("v").cast("long"), col("wq"))
            .as[(Long, Long, Long)].collect().sorted.toSeq
          assert(got == want, s"seed $i")
        }
    }
  }

  /** Earliest arrival by repeated scans over every edge until nothing
    * changes: a node is reached over an edge departing no earlier than the
    * arrival at its source; seeds arrive at -1.
    */
  private def earliestArrival(seed: Long, edges: Seq[(Long, Long, Long)]): Map[Long, Long] = {
    var arr = Map(seed -> -1L)
    var changed = true
    while (changed) {
      val next = edges.foldLeft(arr) { case (a, (s, t, time)) =>
        if (a.get(s).exists(_ <= time) && a.get(t).forall(_ > time)) a.updated(t, time) else a
      }
      changed = next != arr
      arr = next
    }
    arr
  }

  test("temporalReachability equals a plain-Scala earliest-arrival scan") {
    (1 to 6).foreach { i =>
      val (n, edges) = weightedTimed(i)
      // self-loops, equal times and edges back in time all occur
      val timed = edges.map { case (s, t, _, time) => (s.toLong, t.toLong, time) }
      val seeds = Seq(0L, n / 2L, n + 1L).distinct
      val want = seeds.flatMap(sd => earliestArrival(sd, timed).map { case (id, a) => (sd, id, a) })
      val got = GraphAlgorithms.temporalReachability(timed.toDF("source", "target", "t"),
          seeds.toDF("id"))
        .as[(Long, Long, Long)].collect().toSeq
      assert(got.sorted == want.sorted, s"seed $i")
    }
  }

  // ---------------- the iteration families vs plain-Scala references -----

  private val S = BigInt(1000000000000L)

  /** Plain-Scala quantized PageRank over nodes 0..n-1 with damping 85:
    * `w` maps each edge (dangling endpoints included) to its weight, `p`
    * gives each node's restart mass. Every round a node ships
    * (qs * w) DIV (its summed out-weight) along each edge, and with
    * `conserve` the nodes without out-edges also spread their mass as
    * dang DIV n.
    */
  private def powerIteration(n: Int, w: Map[(Int, Int), Long], p: Int => BigInt,
      conserve: Boolean, iterations: Int): Seq[BigInt] = {
    val wt = w.groupMapReduce(_._1._1)(_._2)(_ + _)
    (1 to iterations).foldLeft((0 until n).map(p)) { (qs, _) =>
      val m = w.toSeq.collect { case ((s, t), x) if s < n && t < n => t -> qs(s) * x / wt(s) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      val dang = if (conserve) (0 until n).filterNot(wt.contains).map(qs).sum / n else BigInt(0)
      (0 until n).map(v => (p(v) * 15 + (m.getOrElse(v, BigInt(0)) + dang) * 85) / 100)
    }
  }

  /** Edge (source, target) -> summed cent weight over the given edge list. */
  private def centSums(edges: Seq[(Int, Int, Long)]): Map[(Int, Int), Long] =
    edges.groupMapReduce(e => (e._1, e._2))(_._3)(_ + _)

  private def weightedFrame(n: Int, edges: Seq[(Int, Int, Long, Long)]): NetworkFrame =
    NetworkFrame((0L until n.toLong).toDF("id"),
      edges.map { case (s, t, w, _) => (s.toLong, t.toLong, w / 100.0) }
        .toDF("source", "target", "weight"))

  test("the PageRank family equals a plain-Scala BigInt power iteration") {
    (1 to 5).foreach { i =>
      val (n, edges) = weightedTimed(i)
      val nf = weightedFrame(n, edges)
      val unit = edges.map(e => (e._1, e._2) -> 1L).toMap
      def want(w: Map[(Int, Int), Long], p: Int => BigInt, conserve: Boolean = false) =
        powerIteration(n, w, p, conserve, 5).zipWithIndex
          .map { case (q, v) => (v.toLong, q.toLong) }.toDF("id", "qs")
      val uniform = (_: Int) => S / n
      assertSameFrame(GraphAlgorithms.pageRank(nf, 5), want(unit, uniform))
      assertSameFrame(GraphAlgorithms.pageRankConserving(nf, 5), want(unit, uniform, conserve = true))
      assertSameFrame(GraphAlgorithms.pageRankWeighted(nf, "weight", 5),
        want(centSums(edges.map(e => (e._1, e._2, e._3))).filter(_._2 > 0), uniform))
      // 1 to 3 seeds; n + 1 is a dangling endpoint, not a node
      val seeds = Seq(0, n + 1, n / 2).take(1 + i % 3).distinct
      assertSameFrame(GraphAlgorithms.personalizedPageRankMulti(nf, seeds.map(_.toLong), 5),
        want(unit, v => if (seeds.contains(v)) S / seeds.size else BigInt(0)))
      assertSameFrame(GraphAlgorithms.personalizedPageRank(nf, seeds.last.toLong, 5),
        want(unit, v => if (v == seeds.last) S else BigInt(0)))
    }
    // string ids: the seed is compared as a string
    val (n, edges) = weightedTimed(6)
    val nf = NetworkFrame((0 until n).toDF("id").select(pad("id")),
      edges.map(e => (e._1, e._2)).toDF("source", "target").select(pad("source"), pad("target")))
    val want = powerIteration(n, edges.map(e => (e._1, e._2) -> 1L).toMap,
        v => if (v == 1) S else BigInt(0), conserve = false, 5).zipWithIndex
      .map { case (q, v) => (f"$v%02d", q.toLong) }.toDF("id", "qs")
    assertSameFrame(GraphAlgorithms.personalizedPageRank(nf, "01", 5), want)
  }

  /** Hop distances from `seed` by a FIFO-queue BFS over `adj`, to `maxDepth`. */
  private def queueBfs(adj: Map[Int, Seq[Int]], seed: Int, maxDepth: Int): Map[Int, Long] = {
    val dist = collection.mutable.Map(seed -> 0L)
    val queue = collection.mutable.Queue(seed)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      if (dist(u) < maxDepth) adj.getOrElse(u, Nil).foreach { v =>
        if (!dist.contains(v)) { dist(v) = dist(u) + 1; queue.enqueue(v) }
      }
    }
    dist.toMap
  }

  test("the BFS family equals a plain-Scala queue BFS") {
    (1 to 4).foreach { i =>
      val (n, edges) = genComponentGraph(Gen.Parameters.default, Seed(i.toLong)).get
      val nf = idFrame(1, n, edges)
      val out = edges.groupMap(_._1)(_._2)
      val both = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
      // BFS starts only from a seed in the node table, then walks every edge
      def bfs(adj: Map[Int, Seq[Int]], seed: Int, depth: Int) =
        if (seed < n) queueBfs(adj, seed, depth) else Map.empty[Int, Long]
      def induced(got: NetworkFrame, reached: Set[Int]): Unit = {
        assertSameFrame(got.nodes, reached.filter(_ < n).toSeq.map(_.toLong).toDF("id"))
        // the two semi-joins of the induction lead with the join key
        assertSameFrame(got.edges, edges.filter(e => reached(e._1) && reached(e._2))
          .map(e => (e._2.toLong, e._1.toLong)).toDF("target", "source"))
      }
      // seed n is an edge endpoint absent from the node table
      Seq(0, n).foreach { seed =>
        for ((directed, adj) <- Seq(true -> out, false -> both); depth <- Seq(0, 3))
          assertSameFrame(GraphAlgorithms.bfsDistances(nf, seed.toLong, depth, directed),
            bfs(adj, seed, depth).toSeq.map(r => (r._1.toLong, r._2)).toDF("id", "dist"))
        induced(GraphAlgorithms.kHopNeighborhood(nf, seed.toLong, 2),
          bfs(both, seed, 2).keySet)
        induced(GraphAlgorithms.selectComponentFromNode(nf, seed.toLong),
          bfs(out, seed, Int.MaxValue).keySet)
      }
      val multi = (0 until math.min(2, n)).flatMap(s =>
        queueBfs(both, s, 3).map { case (v, d) => (s.toLong, v.toLong, d) })
      assertSameFrame(GraphAlgorithms.multiSourceBfsDistances(nf, k = 2, maxDepth = 3),
        multi.toDF("seed", "id", "d"))
    }
  }

  /** Both directions of every edge with its cent weight, self-loops dropped. */
  private def symmetric(edges: Seq[(Int, Int, Long)]): Seq[(Int, Int, Long)] =
    (edges ++ edges.map(e => (e._2, e._1, e._3))).filter(e => e._1 != e._2)

  /** Synchronous label propagation over nodes 0..n-1: each round every node
    * takes the label with the largest summed weight `w` among its in-table
    * neighbours (ties to the smallest label) or keeps its own.
    */
  private def labelRounds(n: Int, w: Map[(Int, Int), Long], rounds: Int): Seq[(Long, Long)] =
    (1 to rounds).foldLeft((0 until n).map(_.toLong)) { (lab, _) =>
      (0 until n).map { v =>
        val byLabel = w.toSeq.collect { case ((s, t), x) if t == v && s < n => lab(s) -> x }
          .groupMapReduce(_._1)(_._2)(_ + _)
        if (byLabel.isEmpty) lab(v) else byLabel.minBy { case (l, x) => (-x, l) }._1
      }
    }.zipWithIndex.map { case (l, v) => (v.toLong, l) }

  /** Summed weight `w` from each node of `alive` to the others in `alive`;
    * nodes without such an edge are absent.
    */
  private def strength(alive: Set[Int], w: Map[(Int, Int), Long]): Map[Int, Long] =
    w.toSeq.collect { case ((s, t), x) if alive(s) && alive(t) => s -> x }
      .groupMapReduce(_._1)(_._2)(_ + _)

  private def peelRounds(alive: Set[Int], w: Map[(Int, Int), Long], threshold: Long,
      rounds: Int): Set[Int] =
    (1 to rounds).foldLeft(alive)((a, _) => strength(a, w).filter(_._2 >= threshold).keySet)

  test("label propagation and peeling equal plain-Scala synchronous references") {
    (1 to 4).foreach { i =>
      val (n, edges) = weightedTimed(i)
      val nf = weightedFrame(n, edges)
      val unit = symmetric(edges.map(e => (e._1, e._2, 1L))).map(e => (e._1, e._2) -> 1L).toMap
      val cents = centSums(symmetric(edges.map(e => (e._1, e._2, e._3))))
      assertSameFrame(GraphAlgorithms.labelPropagation(nf, 3),
        labelRounds(n, unit, 3).toDF("id", "label"))
      assertSameFrame(GraphAlgorithms.labelPropagationWeighted(nf, "weight", 3),
        labelRounds(n, cents.filter(_._2 > 0), 3).toDF("id", "label"))
      val nodes = (0 until n).toSet
      def rows(m: Map[Int, Long]) = m.toSeq.map(r => (r._1.toLong, r._2))
      val k = 1 + i % 2
      assertSameFrame(GraphAlgorithms.kCore(nf, k, 2),
        rows(strength(peelRounds(nodes, unit, k, 2), unit)).toDF("id", "core_deg"))
      // zero-weight pairs stay in the weighted core's edge set
      val threshold = 25L * (i % 3)
      assertSameFrame(GraphAlgorithms.weightedKCore(nf, "weight", threshold, 2),
        rows(strength(peelRounds(nodes, cents, threshold, 2), cents)).toDF("id", "strength_q"))
      val levels = (1 to 3).scanLeft(nodes)((a, k) => peelRounds(a, unit, k, 2)).tail
      assertSameFrame(GraphAlgorithms.coreNumbers(nf, maxK = 3, rounds = 2),
        rows(nodes.map(v => v -> (levels.lastIndexWhere(_(v)) + 1).toLong).toMap)
          .toDF("id", "core_number"))
    }
  }

  // ---------------- the relaxation and power families vs plain Scala ------

  /** `rounds` synchronous Bellman-Ford hops from `seed` (only if it is a
    * node, id < n): every reached endpoint, dangling ones too, extends its
    * value along each of its (source, target, w) edges and a receiver keeps
    * `pick` of its own value and every offer.
    */
  private def bellmanFord(n: Int, edges: Seq[(Int, Int, Long)], seed: Int, start: Long,
      rounds: Int, extend: (Long, Long) => Long, pick: (Long, Long) => Long): Map[Int, Long] =
    (1 to rounds).foldLeft(if (seed < n) Map(seed -> start) else Map.empty[Int, Long]) { (d, _) =>
      edges.foldLeft(d) { case (acc, (s, t, w)) =>
        d.get(s).fold(acc)(ds => acc.updated(t, acc.get(t).fold(extend(ds, w))(pick(_, extend(ds, w)))))
      }
    }

  test("shortestPaths and widestPaths equal a plain-Scala hop-bounded Bellman-Ford") {
    (1 to 5).foreach { i =>
      // zero weights, self-loops, multi-edges, dangling endpoints and
      // nodes no seed reaches all occur
      val (n, edges) = weightedTimed(i)
      val nf = weightedFrame(n, edges)
      val strNf = NetworkFrame(nf.nodes.select(pad("id")),
        nf.edges.select(pad("source"), pad("target"), col("weight")))
      val directedW = edges.map(e => (e._1, e._2, e._3))
      val undirectedW = directedW ++ directedW.map(e => (e._2, e._1, e._3))
      for (seed <- Seq(0, n / 2, n + 1).distinct; directed <- Seq(true, false)) {
        val w = if (directed) directedW else undirectedW
        val rounds = 1 + (i + seed) % 4
        val sp = bellmanFord(n, w, seed, 0L, rounds, _ + _, math.min)
        val wp = bellmanFord(n, w, seed, Long.MaxValue, rounds, math.min, math.max)
        def rows(m: Map[Int, Long]) = m.toSeq.map(r => (r._1.toLong, r._2))
        assertSameFrame(GraphAlgorithms.shortestPaths(nf, seed.toLong, "weight", rounds, directed),
          rows(sp).toDF("id", "dq"))
        assertSameFrame(GraphAlgorithms.widestPaths(nf, seed.toLong, "weight", rounds, directed),
          rows(wp).toDF("id", "cq"))
        def strRows(m: Map[Int, Long]) = m.toSeq.map(r => (f"${r._1}%02d", r._2))
        assertSameFrame(GraphAlgorithms.shortestPaths(strNf, f"$seed%02d", "weight", rounds, directed),
          strRows(sp).toDF("id", "dq"))
        assertSameFrame(GraphAlgorithms.widestPaths(strNf, f"$seed%02d", "weight", rounds, directed),
          strRows(wp).toDF("id", "cq"))
      }
    }
  }

  /** The first 8 hex digits of md5("id:t"), read as a long. */
  private def md5Hash(id: String, t: Int): Long =
    java.security.MessageDigest.getInstance("MD5").digest(s"$id:$t".getBytes("UTF-8"))
      .take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))

  test("neighborhoodFunction equals a plain-Scala ball sketch") {
    (1 to 5).foreach { i =>
      val (n, edges) = genComponentGraph(Gen.Parameters.default, Seed(i.toLong)).get
      val both = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
      val (rounds, trials) = (1 + i % 3, 1 + i % 4)
      // every endpoint, dangling ones too, relays the sketch; a row exists
      // once its ball holds a node, and sums each trial's least node hash
      def want(name: Int => String) = (0 to n + 1).flatMap { v =>
        val dist = queueBfs(both, v, rounds)
        (1 to rounds).flatMap { k =>
          val ball = dist.collect { case (u, d) if d <= k && u < n => name(u) }
          if (ball.isEmpty) None
          else Some((name(v), k.toLong, (0 until trials).map(t => ball.map(md5Hash(_, t)).min).sum))
        }
      }
      assertSameFrame(GraphAlgorithms.neighborhoodFunction(idFrame(1, n, edges), rounds, trials),
        want(_.toString).map(r => (r._1.toLong, r._2, r._3)).toDF("id", "k", "kmv_sum"))
      val strNf = NetworkFrame((0 until n).toDF("id").select(pad("id")),
        edges.toDF("source", "target").select(pad("source"), pad("target")))
      assertSameFrame(GraphAlgorithms.neighborhoodFunction(strNf, rounds, trials),
        want(v => f"$v%02d").toDF("id", "k", "kmv_sum"))
    }
  }

  private val Q = BigInt(1000000)

  /** Sum over `edges` (from, to) of `term(edge, state(from))` per `to`,
    * for every `from` that holds a state.
    */
  private def push(edges: Seq[(Int, Int)], state: Map[Int, BigInt],
      term: ((Int, Int), BigInt) => BigInt): Map[Int, BigInt] =
    edges.collect { case e if state.contains(e._1) => e._2 -> term(e, state(e._1)) }
      .groupMapReduce(_._1)(_._2)(_ + _)

  /** Each node's raw score * 1e6 DIV the largest score in `maxOver`, or 0
    * when that max is absent or 0.
    */
  private def maxRenorm(n: Int, raw: Map[Int, BigInt], maxOver: Iterable[BigInt]): Map[Int, BigInt] = {
    val mx = maxOver.maxOption.getOrElse(BigInt(0))
    (0 until n).map(v => v -> (if (mx == 0) BigInt(0) else raw.getOrElse(v, BigInt(0)) * Q / mx)).toMap
  }

  /** HITS over nodes 0..n-1: each pass is max-renormalized over every
    * receiver, dangling endpoints included, and kept on the nodes.
    * Returns (id, hub_q, auth_q).
    */
  private def hitsReference(n: Int, edges: Seq[(Int, Int)], iters: Int): Seq[(Long, Long, Long)] = {
    val ones = (0 until n).map(_ -> Q).toMap
    val (hub, auth) = (1 to iters).foldLeft((ones, ones)) { case ((h, _), _) =>
      val ra = push(edges, h, (_, q) => q)
      val a = maxRenorm(n, ra, ra.values)
      val rh = push(edges.map(_.swap), a, (_, q) => q)
      (maxRenorm(n, rh, rh.values), a)
    }
    (0 until n).map(v => (v.toLong, hub(v).toLong, auth(v).toLong))
  }

  test("hits, katzCentrality, sortSpectral and boundedHitting equal BigInt iterations") {
    (1 to 5).foreach { i =>
      val (n, edges) = weightedTimed(i)
      val nf = weightedFrame(n, edges)
      val distinct = edges.map(e => (e._1, e._2)).distinct
      val iters = 1 + i % 4
      val ones = (0 until n).map(_ -> Q).toMap
      def rows(m: Map[Int, BigInt]) = m.toSeq.map(r => (r._1.toLong, r._2.toLong))
      assertSameFrame(GraphAlgorithms.hits(nf, iters),
        hitsReference(n, distinct, iters).toDF("id", "hub_q", "auth_q"))
      // Katz, alpha = 5/100, over the distinct directed edges
      val katz = (1 to iters).foldLeft(ones) { (x, _) =>
        val m = push(distinct, x, (_, q) => q)
        (0 until n).map(v => v -> (Q + 5 * m.getOrElse(v, BigInt(0)) / 100)).toMap
      }
      assertSameFrame(GraphAlgorithms.katzCentrality(nf, iters), rows(katz).toDF("id", "qs"))
      // spectral: both directions, cents summed per pair (a self-loop
      // counts twice), max-renormalized over the nodes only
      val wq = centSums(edges.flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3))))
      val spectral = (1 to iters).foldLeft(ones) { (x, _) =>
        // wq is symmetric, so pushing along (source, target) sums the same terms
        val ms = push(wq.keys.toSeq, x, (e, q) => q * wq(e))
        val onNodes = (0 until n).map(v => ms.getOrElse(v, BigInt(0)))
        maxRenorm(n, ms, onNodes)
      }
      assertSameFrame(GraphAlgorithms.sortSpectral(nf, "weight", iters), rows(spectral).toDF("id", "qs"))
      // hitting: targets include a dangling endpoint; self-loops dropped
      val targets = Set(0, n / 2, n + 1)
      val out = distinct.filter(e => e._1 != e._2)
      val deg = out.groupMapReduce(_._1)(_ => BigInt(1))(_ + _)
      val hit = (1 to iters).foldLeft((0 until n).map(v => v -> (if (targets(v)) Q else BigInt(0))).toMap) {
        (p, _) =>
          val sp = push(out.map(_.swap), p, (_, q) => q)
          (0 until n).map(v => v -> (if (targets(v)) Q else sp.get(v).fold(BigInt(0))(_ / deg(v)))).toMap
      }
      assertSameFrame(GraphAlgorithms.boundedHitting(nf, targets.toSeq.map(_.toLong).toDF("id"), iters),
        rows(hit).toDF("id", "hit_ppm"))
    }
    // the dangling endpoint 9 holds the largest authority sum and sets the scale
    val star = Seq((0, 9), (1, 9), (2, 9), (1, 2), (2, 1))
    assertSameFrame(GraphAlgorithms.hits(NetworkFrame((0L until 3L).toDF("id"),
        star.map(e => (e._1.toLong, e._2.toLong)).toDF("source", "target")), 2),
      hitsReference(3, star, 2).toDF("id", "hub_q", "auth_q"))
  }

  /** An IVF-PQ corpus: (id, vector, cell) rows plus (m, dims, k, nprobe).
    * Vectors are 1-4 positions longer than `dims`; components come from a
    * five-value set with negatives, so codebook distances tie, and some
    * vectors are zero, so their probe cosine ties on every cell; cell ids
    * are sparse and partly negative; ids descend as rows go on, so id
    * order is not row order. One cell, `nprobe` >= #cells and
    * k > #candidates all occur among the first seeds.
    */
  private val genPqCorpus: Gen[(Seq[(Long, Array[Float], Int)], Int, Int, Int, Int)] = for {
    m <- Gen.oneOf(1, 2, 4)
    sub <- Gen.choose(1, 3)
    extra <- Gen.choose(1, 4)
    nCells <- Gen.frequency(1 -> Gen.const(1), 3 -> Gen.choose(2, 5))
    n <- Gen.choose(2, 24)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, nCells - 1), Gen.frequency(
      5 -> Gen.listOfN(m * sub + extra, Gen.oneOf(-1.0f, -0.5f, 0.0f, 0.5f, 1.0f)),
      1 -> Gen.const(List.fill(m * sub + extra)(0.0f)))))
    k <- Gen.choose(1, n + 1)
    nprobe <- Gen.choose(1, nCells + 1)
  } yield (rows.zipWithIndex.map { case ((c, v), i) => (1000L - 3L * i, v.toArray, 7 * c - 10) },
    m, m * sub, k, nprobe)

  /** Plain-Scala IVF-PQ: truncating integer-mean codebook per cell,
    * per-subspace exact squared-L2 argmin (ties to the smallest cell),
    * probe by exact quantized cosine (ties to the smallest cell), ADC sums
    * over candidates in probed cells, top k by (ad2, neighbor id).
    * Returns the search rows (query_id, neighbor_id, rank, ad2), the code
    * rows (vec_id, subspace, code), and whether any argmin was a tie.
    */
  private def ivfPqReference(rows: Seq[(Long, Array[Float], Int)], m: Int, dims: Int, k: Int,
      nprobe: Int): (Seq[(Long, Long, Int, Long)], Seq[(Long, Long, Int)], Boolean) = {
    val qv = rows.map { case (id, v, _) => id -> v.map(x => math.floor(x.toDouble * 1e7).toLong) }.toMap
    val cells = rows.map(_._3).distinct.sorted
    val cent = cells.map { c =>
      val vs = rows.filter(_._3 == c).map(r => qv(r._1))
      c -> vs.head.indices.map(p => (vs.map(v => BigInt(v(p))).sum / vs.size).toLong).toArray
    }.toMap
    val d = dims / m
    def lut(id: Long): Seq[Seq[BigInt]] = (0 until m).map(s => cells.map(c =>
      (s * d until (s + 1) * d).map(p => BigInt(qv(id)(p) - cent(c)(p)).pow(2)).sum))
    val luts = qv.keys.map(id => id -> lut(id)).toMap
    val codes = luts.map { case (id, t) => id -> t.map(row => row.indexOf(row.min)) }
    def dot(a: Array[Long], b: Array[Long]) = a.indices.map(i => a(i) * b(i)).sum
    def cos(a: Array[Long], b: Array[Long]) = {
      val (n2a, n2b) = (dot(a, a), dot(b, b))
      if (n2a == 0 || n2b == 0) 0.0
      else dot(a, b).toDouble / (math.sqrt(n2a.toDouble) * math.sqrt(n2b.toDouble))
    }
    val codeTie = luts.values.exists(_.exists(row => row.count(_ == row.min) > 1))
    val ranked = rows.flatMap { case (q, _, _) =>
      val cs = cells.map(c => c -> cos(qv(q), cent(c))).toMap
      val probed = cells.sortWith((x, y) => cs(x) > cs(y) || (cs(x) == cs(y) && x < y))
        .take(nprobe).toSet
      rows.collect { case (nb, _, c) if probed(c) && nb != q =>
          (nb, (0 until m).map(s => luts(q)(s)(codes(nb)(s))).sum.toLong) }
        .sortBy { case (nb, ad2) => (ad2, nb) }.take(k).zipWithIndex
        .map { case ((nb, ad2), r) => (q, nb, r + 1, ad2) }
    }
    val codeRows = codes.toSeq.flatMap { case (id, cs) =>
      cs.zipWithIndex.map { case (j, s) => (id, s.toLong, cells(j)) } }
    (ranked, codeRows, codeTie)
  }

  test("ivfPqSearch and pqCodes equal a plain-Scala IVF-PQ reference on random corpora") {
    val seen = collection.mutable.Set.empty[String]
    (1 to 10).foreach { i =>
      val (rows, m, dims, k, nprobe) = genPqCorpus(Gen.Parameters.default, Seed(i.toLong)).get
      val (want, wantCodes, codeTie) = ivfPqReference(rows, m, dims, k, nprobe)
      val df = rows.toDF("vec_id", "embedding", "label")
      val got = graft.functions.Similarity.ivfPqSearch(df, "vec_id", "embedding", "label",
        m, dims, k, nprobe)
      assert(got.schema.map(f => f.name -> f.dataType.simpleString) ==
        Seq("query_id" -> "bigint", "neighbor_id" -> "bigint", "rank" -> "int", "ad2" -> "bigint"))
      val gotRows = got.as[(Long, Long, Int, Long)].collect().toSeq
      assert(gotRows.sorted == want.sorted, s"corpus $i: m=$m dims=$dims k=$k nprobe=$nprobe")
      // a tie between codes with equal centroids leaves every ADC sum
      // unchanged; the codes themselves show how it was broken
      val gotCodes = graft.functions.Similarity.pqCodes(df, "vec_id", "embedding", "label", m, dims)
        .as[(Long, Long, Int)].collect().toSeq
      assert(gotCodes.sorted == wantCodes.sorted, s"corpus $i codes")
      val nCells = rows.map(_._3).distinct.size
      if (nCells == 1) seen += "one cell"
      if (codeTie && nCells > 1) seen += "code tie"
      if (nprobe >= nCells && nCells > 1) seen += "nprobe >= cells"
      if (nprobe < nCells && rows.exists(_._2.forall(_ == 0.0f))) seen += "probe tie"
      if (want.groupBy(_._1).size < rows.size || want.groupBy(_._1).values.exists(_.size < k))
        seen += "k > candidates"
    }
    assert(seen == Set("one cell", "code tie", "nprobe >= cells", "probe tie", "k > candidates"), seen)
  }

  test("queryNodes induction invariant: edge endpoints are surviving nodes") {
    forAll(8) { g =>
      val sub = mk(g).queryNodes("grp <> 1")
      val ids = sub.nodes.select("id").as[Long].collect().toSet
      val ok = sub.edges.select("source", "target").as[(Long, Long)].collect()
        .forall { case (s, t) => ids(s) && ids(t) }
      assert(ok)
    }
  }

  test("components partition the node set and are edge-consistent") {
    forAll(8) { g =>
      val nf = mk(g)
      val labels = GraphAlgorithms.componentLabels(nf, "weak").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.keySet == g._1.map(_._1).toSet) // every node labeled once
      // every edge joins nodes of the same component
      assert(g._2.forall { case (s, t) => labels(s) == labels(t) })
      // each component label is its own min member
      labels.groupBy(_._2).foreach { case (lbl, members) =>
        assert(members.keys.min == lbl)
      }
    }
  }

  test("condense('size') preserves total edge count") {
    forAll(8) { g =>
      val nf = mk(g)
      val total = nf.condense("grp", "size").edges.agg(sum("weight")).first()
      if (g._2.nonEmpty) assert(total.getLong(0) == g._2.size.toLong)
    }
  }

  test("k-hop neighborhoods are monotone in k") {
    forAll(5) { g =>
      val nf = mk(g)
      val sizes = (0 to 2).map(k =>
        GraphAlgorithms.kHopNeighborhood(nf, 0L, k, directed = false).numNodes)
      assert(sizes == sizes.sorted)
    }
  }

  test("bfsDistances agrees with kHopNeighborhood shells") {
    forAll(5) { g =>
      val nf = mk(g)
      val dist = GraphAlgorithms.bfsDistances(nf, 0L, 3, directed = false)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the <= k ball from the distance table equals the k-hop neighborhood
      (0 to 2).foreach { k =>
        val ball = dist.filter(_._2 <= k).keySet
        val hood = GraphAlgorithms.kHopNeighborhood(nf, 0L, k, directed = false)
          .nodes.select("id").as[Long].collect().toSet
        assert(ball == hood, s"k=$k ball=$ball hood=$hood")
      }
    }
  }

  test("shortestPaths: seed at 0, every distance witnessed by an edge relaxation") {
    forAll(5) { g =>
      val nf = mk(g).copy(edges =
        g._2.map { case (s, t) => (s, t, ((s * 7 + t * 3) % 10 + 1).toDouble) }
          .toDF("source", "target", "weight"))
      val d = GraphAlgorithms.shortestPaths(nf, 0L, "weight", rounds = 4,
          directed = false)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (d.contains(0L)) assert(d(0L) == 0L)
      // every non-seed distance is some predecessor's distance + edge weight
      val wq = g._2.flatMap { case (s, t) =>
        val w = ((s * 7 + t * 3) % 10 + 1) * 100
        Seq((s, t, w), (t, s, w))
      }.groupBy(e => (e._1, e._2)).map { case (k, es) => k -> es.map(_._3).min }
      d.filter(kv => kv._1 != 0L || kv._2 != 0L).foreach { case (v, dv) =>
        assert(wq.exists { case ((s, t), w) => t == v && d.get(s).exists(_ + w == dv) },
          s"unwitnessed distance $v -> $dv")
      }
    }
  }

  test("cardinalitySketch buckets only grow as rows are added") {
    (1 to 4).foreach { i =>
      import graft.functions.TextAnalysis
      val base = (1L to (i * 50L)).toDF("k")
      val more = (1L to (i * 50L + 77L)).toDF("k")
      def sk(df: org.apache.spark.sql.DataFrame) =
        TextAnalysis.cardinalitySketch(df, "k", 8)
          .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val (a, b) = (sk(base), sk(more))
      assert(a.forall { case (bucket, rho) => b.getOrElse(bucket, 0) >= rho })
    }
  }

  test("MIS on random graphs is always independent and maximal") {
    forAll(6) { g =>
      val nf = mk(g)
      val out = GraphAlgorithms.maximalIndependentSet(nf, rounds = 8)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val in = out.filter(_._2 == "in").keySet
      val adj = g._2.filter { case (s, t) => s != t }
        .flatMap { case (s, t) => Seq(s -> t, t -> s) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // independence: no two 'in' nodes adjacent
      assert(in.forall(v => adj.getOrElse(v, Set.empty).intersect(in).isEmpty))
      // maximality: every decided-'out' node has an 'in' neighbor
      assert(out.filter(_._2 == "out").keySet
        .forall(v => adj.getOrElse(v, Set.empty).intersect(in).nonEmpty))
    }
  }

  test("dyad census identities hold on random graphs") {
    forAll(6) { g =>
      val nf = mk(g)
      val r = GraphAlgorithms.dyadCensus(nf).collect()(0)
      val n = r.getLong(0); val m = r.getLong(1); val a = r.getLong(2)
      val nulls = r.getLong(3)
      assert(m >= 0 && a >= 0 && nulls >= 0)
      assert(m + a + nulls == n * (n - 1) / 2)
      // mutual pairs counted independently from the raw edge list
      val e = g._2.filter { case (s, t) => s != t }.toSet
      val mm = e.count { case (s, t) => s < t && e.contains((t, s)) }
      assert(m == mm)
    }
  }

  test("kTruss supports equal common-neighbor counts within the output") {
    forAll(5) { g =>
      val out = GraphAlgorithms.kTruss(mk(g), k = 3, rounds = 3)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      val kept = out.map(_._1).toSet
      val adj = kept.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      out.foreach { case ((s, t), sup) =>
        val cn = adj.getOrElse(s, Set.empty)
          .intersect(adj.getOrElse(t, Set.empty)).size
        // reported support is the triangle count in the final subgraph,
        // and a surviving 3-truss edge must close at least one
        assert(sup == cn.toLong && sup >= 1L)
      }
    }
  }

  test("transitivity stays within [0, 1e6] and agrees with the definition") {
    forAll(6) { g =>
      val r = GraphAlgorithms.transitivity(mk(g)).collect().head
      val (tri, wedges) = (r.getLong(0), r.getLong(1))
      if (wedges == 0) assert(r.isNullAt(2))
      else {
        val q = r.getLong(2)
        assert(q >= 0L && q <= 1000000L)
        assert(q == 3 * tri * 1000000L / wedges)
      }
    }
  }

  test("bipartiteProject equals the brute-force pair count when uncapped") {
    forAll(6) { g =>
      // membership = (grp-attr, node-id): nodes sharing a grp value pair up
      val memb = g._1.map(_.swap).toDF("grp", "item")
      val got = GraphAlgorithms.bipartiteProject(memb, "grp", "item",
          maxPerGroup = 100, minCount = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val byGrp = g._1.groupBy(_._2).view.mapValues(_.map(_._1).distinct.sorted)
      val want = byGrp.values.flatMap { items =>
        for (a <- items; b <- items if a < b) yield (a, b)
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == want, s"got $got want $want")
    }
  }

  test("modularity of the all-in-one partition is m/m - 1 = depends only on degrees") {
    forAll(6) { g =>
      val nf = mk(g)
      val one = nf.nodes.select(col("id"), lit(0L).as("community"))
      val r = GraphAlgorithms.modularity(nf, one).collect().head
      if (r.getLong(0) > 0) {
        // single community: e_within = m and sum_deg_sq = (2m)^2, so
        // Q = 1 - 1 = 0 exactly
        assert(r.getLong(1) == r.getLong(0))
        assert(r.getLong(3) == 0L, s"single-community Q must be 0: $r")
      }
    }
  }

  test("wlRefinement refines monotonically: label classes never merge") {
    forAll(5) { g =>
      val nf = mk(g)
      val l1 = GraphAlgorithms.wlRefinement(nf, 1).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val l2 = GraphAlgorithms.wlRefinement(nf, 2).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // 1-WL refinement: same round-2 label => same round-1 label
      l2.keys.foreach { a =>
        l2.keys.foreach { b =>
          if (l2(a) == l2(b)) assert(l1(a) == l1(b),
            s"nodes $a,$b merged between rounds")
        }
      }
    }
  }

  test("negativeSamples never emits an existing edge or a self pair") {
    forAll(5) { g =>
      val nf = mk(g)
      if (g._2.nonEmpty) {
        val edges = g._2.toSet
        val neg = GraphAlgorithms.negativeSamples(nf, 6, 2)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(neg.forall { case (s, t) => !edges.contains((s, t)) && s != t })
      }
    }
  }

  test("saltedJoin equals the plain join on random graphs") {
    forAll(5) { g =>
      import graft.operators.SkewJoin
      val probe = g._2.zipWithIndex.map { case ((s, t), i) => (s, t, i.toLong) }
        .toDF("id", "other", "row")
      val build = g._1.toDF("id", "grp")
      if (g._2.nonEmpty) {
        val salted = SkewJoin.saltedJoin(probe, build, Seq("id"), 4, Seq("row"))
          .select("id", "other", "row", "grp")
          .collect().map(_.toSeq).toSet
        val plain = probe.join(build, Seq("id"))
          .select("id", "other", "row", "grp")
          .collect().map(_.toSeq).toSet
        assert(salted == plain)
      }
    }
  }

  /** A corpus of (id, source, text) rows over a five-word vocabulary, so
    * shingles collide often, plus the operator knobs. Most documents after
    * the first are planted near-duplicates of an earlier one: one token
    * replaced, one token dropped, or an exact copy. Some documents are
    * shorter than a shingle. Ids descend as rows go on, so id order is not
    * row order.
    */
  private val genShingleCorpus = for {
    n <- Gen.choose(4, 12)
    fresh <- Gen.listOfN(n, Gen.choose(1, 12).flatMap(Gen.listOfN(_, Gen.oneOf("a", "b", "c", "d", "e"))))
    plants <- Gen.listOfN(n, Gen.zip(Gen.frequency(2 -> Gen.const(0), 1 -> Gen.const(1),
      1 -> Gen.const(2), 1 -> Gen.const(3)), Gen.choose(0, 99), Gen.choose(0, 99), Gen.oneOf("a", "f")))
    shingleLen <- Gen.oneOf(2, 3)
    maxDf <- Gen.choose(2, 4)
    tau <- Gen.oneOf(0.4, 0.5, 0.8, 1.0)
    minJ <- Gen.oneOf(0.0, 0.4)
    thresholdQ <- Gen.oneOf(0L, 500000L, 1000000L)
    window <- Gen.choose(1, 3)
    keyLen <- Gen.choose(1, 6)
    segLen <- Gen.choose(1, 3)
    minDocs <- Gen.choose(2, 3)
  } yield {
    val texts = fresh.indices.foldLeft(Vector.empty[List[String]]) { (acc, i) =>
      val (kind, from, pos, w) = plants(i)
      val base = if (i == 0) Nil else acc(from % i)
      acc :+ (kind match {
        case 1 if i > 0 => base.updated(pos % base.size, w)
        case 2 if i > 0 && base.size > 1 => base.patch(pos % base.size, Nil, 1)
        case 3 if i > 0 => base
        case _ => fresh(i)
      })
    }
    val docs = texts.zipWithIndex.map { case (ws, i) => (1000L - 3L * i, s"s${i % 2}", ws.mkString(" ")) }
    (docs, (shingleLen, maxDf, tau, minJ, thresholdQ), (window, keyLen, segLen, minDocs))
  }

  private def words(text: String): Seq[String] = text.split(" ", -1).toSeq

  /** Distinct `len`-word shingle set per id, empty below `len` words. */
  private def shingleSets(docs: Seq[(Long, String, String)], len: Int): Map[Long, Set[String]] =
    docs.map { case (id, _, t) =>
      id -> words(t).sliding(len).filter(_.size == len).map(_.mkString(" ")).toSet
    }.toMap

  /** The sets with every shingle held by more than `maxDf` ids removed. */
  private def dfCapped(sets: Map[Long, Set[String]], maxDf: Int): Map[Long, Set[String]] = {
    val df = sets.values.toSeq.flatten.groupBy(identity).map { case (s, v) => s -> v.size }
    sets.map { case (id, s) => id -> s.filter(df(_) <= maxDf) }
  }

  /** (id_a < id_b, inter, sza, szb) for every pair of ids in `pairs`. */
  private def overlaps(sets: Map[Long, Set[String]], pairs: Seq[(Long, Long)]) =
    pairs.map { case (a, b) => (a, b, (sets(a) & sets(b)).size.toLong, sets(a).size, sets(b).size) }

  private def allPairs(ids: Iterable[Long]): Seq[(Long, Long)] =
    for (a <- ids.toSeq; b <- ids.toSeq if a < b) yield (a, b)

  private def jaccard(inter: Long, sza: Int, szb: Int): Double =
    inter.toDouble / (sza + szb - inter).toDouble

  /** Per id: (source, segment count, kept segments in order) of the
    * `segLen`-token segments, keeping those for which `keep(id, source,
    * start, segment)` holds.
    */
  private def segmentRef(docs: Seq[(Long, String, String)], segLen: Int)(
      keep: (Long, String, Int, String) => Boolean): Seq[(Long, String, Long, Long, Option[String])] =
    docs.map { case (id, src, t) =>
      val segs = words(t).grouped(segLen).map(_.mkString(" ")).zipWithIndex.toSeq
      val kept = segs.filter { case (s, j) => keep(id, src, j * segLen, s) }.map(_._1)
      (id, src, segs.size.toLong, kept.size.toLong, if (kept.isEmpty) None else Some(kept.mkString(" ")))
    }

  test("the shingle-pair and segment operators equal plain-Scala set references") {
    import graft.functions.Dedup
    val seen = collection.mutable.Set.empty[String]
    (1 to 8).foreach { i =>
      val (docs, (len, maxDf, tau, minJ, thresholdQ), (window, keyLen, segLen, minDocs)) =
        genShingleCorpus(Gen.Parameters.default, Seed(i.toLong)).get
      val df = docs.toDF("id", "source", "text")
      val ctx = s"corpus $i: len=$len maxDf=$maxDf tau=$tau minJ=$minJ q=$thresholdQ " +
        s"window=$window keyLen=$keyLen segLen=$segLen minDocs=$minDocs"
      val sets = shingleSets(docs, len)
      def sharing(s: Map[Long, Set[String]]) =
        overlaps(s, allPairs(s.keys)).filter(_._3 > 0)

      Seq(0, maxDf).foreach { cap =>
        val capped = if (cap <= 0) sets else dfCapped(sets, cap)
        val want = sharing(capped).map { case (a, b, in, sa, sb) => (a, b, jaccard(in, sa, sb)) }
          .filter(_._3 >= minJ)
        val got = Dedup.ngramJaccardPairs(df, "id", "text", len, minJ, cap)
          .as[(Long, Long, Double)].collect().toSeq
        assert(got.sorted == want.sorted, s"$ctx ngramJaccardPairs maxDf=$cap")
      }
      val wantContain = sharing(dfCapped(sets, maxDf)).map { case (a, b, in, sa, sb) =>
        (a, b, in, in * 1000000L / math.min(sa, sb)) }.filter(_._4 >= thresholdQ)
      val gotContain = Dedup.ngramContainmentPairs(df, "id", "text", len, thresholdQ, maxDf)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(gotContain.sorted == wantContain.sorted, s"$ctx ngramContainmentPairs")

      val wantPrefix = sharing(sets).map { case (a, b, in, sa, sb) => (a, b, jaccard(in, sa, sb)) }
        .filter(_._3 >= tau)
      val gotPrefix = Dedup.jaccardPrefixPairs(df, "id", "text", len, tau)
        .as[(Long, Long, Double)].collect().toSeq
      assert(gotPrefix.sorted == wantPrefix.sorted, s"$ctx jaccardPrefixPairs")

      val ranked = docs.sortBy { case (id, _, t) => (t.take(keyLen), id) }.map(_._1)
      val neighbors = for (x <- ranked.indices; off <- 1 to window if x + off < ranked.size)
        yield (math.min(ranked(x), ranked(x + off)), math.max(ranked(x), ranked(x + off)))
      val wantSnm = overlaps(sets, neighbors).filter { case (_, _, _, sa, sb) => sa > 0 && sb > 0 }
        .map { case (a, b, in, sa, sb) => (a, b, jaccard(in, sa, sb)) }.filter(_._3 >= minJ)
      val gotSnm = Dedup.sortedNeighborhoodPairs(df, "id", "text", window, len, minJ, keyLen)
        .as[(Long, Long, Double)].collect().toSeq
      assert(gotSnm.sorted == wantSnm.sorted, s"$ctx sortedNeighborhoodPairs")

      val firstAt = docs.flatMap { case (id, _, t) =>
        words(t).grouped(segLen).zipWithIndex.map { case (s, j) => s.mkString(" ") -> (id, j * segLen) }
      }.groupBy(_._1).map { case (s, occ) => s -> occ.map(_._2).min }
      val wantSeg = segmentRef(docs, segLen)((id, _, start, s) => firstAt(s) == (id, start))
        .map { case (id, _, n, k, clean) => (id, n, k, clean) }
      val gotSeg = Dedup.segmentDedup(df, "id", "text", segLen).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), Option(r.getString(3))))
      assert(gotSeg.sorted == wantSeg.sorted, s"$ctx segmentDedup")

      val docsWith = docs.flatMap { case (id, src, t) =>
        words(t).grouped(segLen).map(s => (src, s.mkString(" ")) -> id)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.size }
      val wantBoiler = segmentRef(docs, segLen)((_, src, _, s) => docsWith((src, s)) < minDocs)
        .map { case (id, src, n, k, clean) => (id, src, n, n - k, clean) }
      val gotBoiler = Dedup.boilerplateSegments(df, "id", "source", "text", segLen, minDocs)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), Option(r.getString(4))))
      assert(gotBoiler.sorted == wantBoiler.sorted, s"$ctx boilerplateSegments")

      if (sets.values.exists(_.isEmpty)) seen += "short doc"
      if (dfCapped(sets, maxDf) != sets) seen += "df cap drops a shingle"
      if (wantPrefix.exists(_._3 == 1.0)) seen += "identical sets"
      if (sharing(sets).exists { case (_, _, in, sa, sb) => jaccard(in, sa, sb) < tau })
        seen += "overlap below tau"
      if (wantSeg.exists(_._4.isEmpty)) seen += "nothing kept"
      if (wantBoiler.exists(_._4 > 0)) seen += "boilerplate"
    }
    assert(seen == Set("short doc", "df cap drops a shingle", "identical sets", "overlap below tau",
      "nothing kept", "boilerplate"), seen)
  }

  // ---------------- native text kernels and the LSH driver finish --------

  /** The Column formulations `allShingles`, `shingles`, `minhashArray`,
    * `minhashSignatures` and `rollingFingerprint` had before the native
    * kernels: the references the kernels must equal value for value.
    */
  private object ColumnForms {
    def allShingles(text: Column, n: Int): Column = {
      val toks = split(text, " ")
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - lit(n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    }
    def shingles(text: Column, n: Int): Column = array_distinct(allShingles(text, n))
    private def halves(m: Column): Seq[Column] = Seq("x" -> 1, "y" -> 17).map { case (c, i) =>
      (conv(substring(m, i, 15), 16, 10).cast("long") % graft.functions.Dedup.HashModulus).as(c) }
    def minhashArray(text: Column, numHashes: Int, n: Int): Column = {
      val sh = shingles(text, n)
      val xy = transform(transform(sh, md5(_)), m => struct(halves(m): _*))
      val sig = aggregate(xy, array(Seq.fill(numHashes)(lit(Long.MaxValue)): _*),
        (acc, p) => array((0 until numHashes).map(h => least(acc.getItem(h),
          (p.getField("x") + lit(h.toLong) * p.getField("y")) % graft.functions.Dedup.HashModulus)): _*))
      when(size(sh) > 0, sig)
    }
    def minhashSignatures(df: DataFrame, numHashes: Int, n: Int): DataFrame =
      df.select(col("id"), explode(shingles(col("text"), n)).as("shingle"))
        .select(col("id") +: halves(md5(col("shingle"))): _*)
        .select(col("id"), col("x"), col("y"), explode(sequence(lit(0), lit(numHashes - 1))).as("h"))
        .select(col("id"), col("h"), ((col("x") + col("h") * col("y")) %
          graft.functions.Dedup.HashModulus).as("v"))
        .groupBy("id", "h").agg(min("v").as("minhash"))
    def rollingFingerprint(text: Column, w: Int): Column = {
      val toks = split(text, " ")
      array_min(when(size(toks) >= w,
        transform(sequence(lit(1), size(toks) - lit(w - 1)),
          i => md5(array_join(slice(toks, i, lit(w)), " "))))
        .otherwise(array().cast("array<string>")))
    }
  }

  /** (id, text) rows: empty tokens (runs of spaces, leading and trailing
    * spaces), accented and CJK words, repeated windows, a NULL text and an
    * empty text; lengths from 0 to 14 tokens, so n often exceeds the
    * token count.
    */
  private val genTexts: Gen[Seq[(Long, String)]] = for {
    k <- Gen.choose(4, 10)
    texts <- Gen.listOfN(k, Gen.choose(0, 14).flatMap(Gen.listOfN(_,
      Gen.oneOf("", "a", "b", "a", "café", "日本語", "ß", "x1"))))
  } yield (texts.map(_.mkString(" ")) ++ Seq("", null)).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("the native shingle and MinHash kernels equal their Column formulations") {
    import graft.functions.{Dedup, TextAnalysis}
    (1 to 6).foreach { i =>
      val df = genTexts(Gen.Parameters.default, Seed(i.toLong)).get.toDF("id", "text")
      Seq(1, 2, 3, 5).foreach { n =>
        val t = col("text")
        val pairs = Seq(
          "allShingles" -> (TextAnalysis.allShingles(t, n), ColumnForms.allShingles(t, n)),
          "shingles" -> (TextAnalysis.shingles(t, n), ColumnForms.shingles(t, n)),
          "minhashArray" -> (Dedup.minhashArray(t, 16, n), ColumnForms.minhashArray(t, 16, n)),
          "minhashArray(5)" -> (Dedup.minhashArray(t, 5, n), ColumnForms.minhashArray(t, 5, n)),
          "rollingFingerprint" -> (TextAnalysis.rollingFingerprint(t, n),
            ColumnForms.rollingFingerprint(t, n)))
        pairs.foreach { case (name, (lib, ref)) =>
          val rows = df.select(col("id"), col("text"), lib.as("lib"), ref.as("ref")).collect()
          rows.foreach(r => assert(r.get(2) == r.get(3), s"seed $i n=$n $name on '${r.get(1)}'"))
        }
        // a duplicate id merges by element-wise minimum
        val dup = df.union(df.limit(3).select(col("id"), upper(col("text"))))
        assertSameFrame(Dedup.minhashSignatures(dup, "id", "text", 16, n),
          ColumnForms.minhashSignatures(dup, 16, n))
      }
    }
  }

  /** A shingle corpus of (doc_id, text) with unique ids, INT ids on odd
    * seeds, and its min Jaccard. */
  private def lshCorpus(i: Int): (DataFrame, Double) = {
    val (docs, (_, _, tau, _, _), _) = genShingleCorpus(Gen.Parameters.default, Seed(i.toLong)).get
    val df = docs.map { case (id, _, t) => (id, t) }.toDF("doc_id", "text")
    (if (i % 2 == 1) df.select(col("doc_id").cast("int"), col("text")) else df, tau)
  }

  /** Whether `df` reads a checkpoint: the distributed component fixpoint
    * returns one, the driver finish only joins driver-side labels onto the
    * (here local) ids.
    */
  private def readsCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r }.isDefined

  test("nearDupClusters' driver finish equals the distributed LSH clustering") {
    import graft.functions.Dedup
    val seen = collection.mutable.Set.empty[String]
    (1 to 8).foreach { i =>
      val (df, tau) = lshCorpus(i)
      Seq((16, 4, 2), (8, 8, 3)).foreach { case (h, b, len) =>
        val ctx = s"corpus $i tau=$tau numHashes=$h bands=$b len=$len"
        def distributed(out: => DataFrame) = GraphAlgorithms.withDriverCap(0L)(out)
        val local = Dedup.nearDupClusters(df, "doc_id", "text", tau, h, b, len)
        assert(!readsCheckpoint(local), ctx)
        assertSameFrame(local, distributed(Dedup.nearDupClusters(df, "doc_id", "text", tau, h, b, len)))
        val reps = local.collect().map(_.get(1))
        if (reps.distinct.length < reps.length - 1) seen += "a cluster"
        if (df.select("text").collect().exists(_.getString(0).split(" ", -1).length < len))
          seen += "short doc"
        // a repeated id (the first id, with the last text) merges its
        // signatures by element-wise minimum and keeps both rows
        val dup = df.union(df.orderBy(col("doc_id").desc).limit(1)
          .select(lit(df.head.get(0)).cast(df.schema("doc_id").dataType), col("text")))
        val sig = Dedup.minhashSignatures(dup, "doc_id", "text", h, len).localCheckpoint()
        assertSameFrame(Dedup.nearDupClusters(dup, "doc_id", "text", tau, h, b, len),
          dup.select("doc_id").join(distributed(
            Dedup.nearDupClustersFromSignatures(df, "doc_id", sig, tau, h, b)), "doc_id"))
        // signatures of ids outside `ids` join no cluster; ids without
        // signatures label themselves
        val ids = df.filter(col("doc_id") % 3 =!= 0)
          .union(df.limit(1).select(lit(7).cast(df.schema("doc_id").dataType), col("text")))
        val fromSig = Dedup.nearDupClustersFromSignatures(ids, "doc_id", sig, tau, h, b)
        assert(!readsCheckpoint(fromSig), ctx)
        assertSameFrame(fromSig,
          distributed(Dedup.nearDupClustersFromSignatures(ids, "doc_id", sig, tau, h, b)))
        // a table that is not one row per (id, h) takes the distributed path
        val ragged = sig.union(sig.filter(col("h") === 0).withColumn("minhash", col("minhash") + 1))
        assertSameFrame(Dedup.nearDupClustersFromSignatures(ids, "doc_id", ragged, tau, h, b),
          distributed(Dedup.nearDupClustersFromSignatures(ids, "doc_id", ragged, tau, h, b)))
      }
      // string ids run the distributed path
      val byName = df.select(col("doc_id").cast("string").as("doc_id"), col("text"))
      val strOut = Dedup.nearDupClusters(byName, "doc_id", "text", tau)
      assert(readsCheckpoint(strOut), s"corpus $i string ids")
      assert(strOut.count() == df.count())
    }
    assert(seen == Set("a cluster", "short doc"), seen)
  }
}
