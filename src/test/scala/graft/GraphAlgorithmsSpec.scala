package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphAlgorithmsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("componentLabels: weak components = min id per component") {
    val labels = GraphAlgorithms.componentLabels(twoCompNf, "weak").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }

  test("nComponents / isFullyConnected") {
    assert(GraphAlgorithms.nComponents(twoCompNf) == 3L)
    assert(!GraphAlgorithms.isFullyConnected(twoCompNf))
    assert(GraphAlgorithms.isFullyConnected(simpleNf, "weak"))
  }

  test("largestConnectedComponent keeps the argmax component with induced edges") {
    val lcc = GraphAlgorithms.largestConnectedComponent(twoCompNf)
    assert(lcc.nodes.select("id").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    assert(lcc.numEdges == 3L)
  }

  test("labelNodesByComponent appends the label column") {
    val n = GraphAlgorithms.labelNodesByComponent(twoCompNf, "comp").nodes
    assert(n.columns.contains("comp"))
    assert(n.filter(col("id") === 4L).first().getAs[Long]("comp") == 3L)
  }

  test("strongComponentLabels: cycles form SCCs, chain nodes are singletons") {
    // 0->1->2->0 cycle; 3->4 chain; 5 isolated: SCCs {0,1,2},{3},{4},{5}
    val labels = GraphAlgorithms.componentLabels(twoCompNf, "strong").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("strongComponentLabels: two cycles joined by a one-way bridge stay separate") {
    val nodes = (0L to 5L).map(i => (i, i)).toDF("id", "x")
    // cycle A: 0->1->0; bridge 1->2; cycle B: 2->3->4->2; 5 self-loop
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L), (5L, 5L))
      .toDF("source", "target")
    val labels = GraphAlgorithms.strongComponentLabels(NetworkFrame(nodes, edges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 5L))
  }

  test("component labels of a frame with no nodes are empty on both paths") {
    val nf = NetworkFrame(Seq.empty[Long].toDF("id"),
      Seq.empty[(Long, Long)].toDF("source", "target"))
    Seq(GraphAlgorithms.componentLabels(nf, "weak"), GraphAlgorithms.weakFixpoint(nf),
        GraphAlgorithms.strongComponentLabels(nf), GraphAlgorithms.sccFixpoint(nf))
      .foreach { out =>
        assert(out.columns.toSeq == Seq("id", "component"))
        assert(out.isEmpty)
      }
  }

  test("distributed component fixpoints fail loudly at their round caps") {
    // two-cycles chained 5<->4 -> 3<->2 -> 1<->0: with descending ids the
    // SCC peel removes one cycle per round, so two rounds leave two nodes
    val nodes = (0L to 5L).toDF("id")
    val edges = Seq((5L, 4L), (4L, 5L), (4L, 3L), (3L, 2L), (2L, 3L), (2L, 1L),
        (1L, 0L), (0L, 1L)).toDF("source", "target")
    val nf = NetworkFrame(nodes, edges)
    val scc = intercept[IllegalStateException](GraphAlgorithms.sccFixpoint(nf, maxRounds = 2))
    assert(scc.getMessage == "strongComponentLabels left 2 nodes unpeeled after 2 rounds")
    val weak = intercept[IllegalStateException](GraphAlgorithms.weakFixpoint(nf, maxRounds = 1))
    assert(weak.getMessage == "componentLabels did not converge within 1 rounds")
    val labels = GraphAlgorithms.strongComponentLabels(nf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 4L))
  }

  test("temporalReachability fails loudly at its cycle cap") {
    // 0 -t=0-> 1 -t=1-> ... -t=6-> 7: one cycle relaxes three edges, so a
    // single cycle cannot reach the end of the chain
    val edges = (0L until 7L).map(i => (i, i + 1, i)).toDF("source", "target", "t")
    val seeds = Seq(0L).toDF("id")
    val capped = intercept[IllegalStateException](
      GraphAlgorithms.temporalReachability(edges, seeds, maxRounds = 1))
    assert(capped.getMessage == "temporalReachability did not converge within 1 cycles")
    val got = GraphAlgorithms.temporalReachability(edges, seeds).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == (0L to 7L).map(i => i -> (i - 1)).toMap)
  }

  test("minimumSpanningForest fails loudly when Borůvka needs more than maxRounds") {
    // path 0-1-2-3 weighted 1, 2, 1: the first round contracts {0, 1} and
    // {2, 3}, and the 1-2 edge still crosses them; the second round ends it
    val nodes = (0L to 3L).toDF("id")
    val edges = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 1.0)).toDF("source", "target", "weight")
    val nf = NetworkFrame(nodes, edges)
    val capped = intercept[IllegalStateException](
      GraphAlgorithms.minimumSpanningForest(nf, maxRounds = 1))
    assert(capped.getMessage == "minimumSpanningForest did not converge within 1 rounds")
    val want = Seq((0L, 1L, 100L), (1L, 2L, 200L), (2L, 3L, 100L))
    Seq(GraphAlgorithms.minimumSpanningForest(nf, maxRounds = 2),
        GraphAlgorithms.minimumSpanningForest(nf)).foreach { forest =>
      assert(forest.as[(Long, Long, Long)].collect().sorted.toSeq == want)
    }
  }

  test("monotoneSum on a DECIMAL(38,0) overflow: None without ANSI, a loud error with it") {
    val df = spark.range(2).selectExpr("CAST('6e37' AS DECIMAL(38,0)) AS x")
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(GraphAlgorithms.monotoneSum(df, "x") == ((2L, None)))
      spark.conf.set(key, "true")
      val e = intercept[ArithmeticException](GraphAlgorithms.monotoneSum(df, "x"))
      assert(e.getClass.getSimpleName == "SparkArithmeticException")
      assert(e.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE"))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("the convergence probe takes the join on an overflowed sum and finds every change") {
    // the overflow frame above as a fixpoint state: with ANSI off both
    // sums are None, so each verdict comes from the changed-row join
    val state = spark.range(2).selectExpr("id", "CAST('6e37' AS DECIMAL(38,0)) AS v")
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      def probe(next: DataFrame) = GraphAlgorithms.probe(state, next, sums = true)
      val sameRows = spark.range(2).selectExpr("id", "CAST('6e37' AS DECIMAL(38,0)) AS v")
      val oneChanged = state.withColumn("v", when(col("id") === 1L, col("v") - 1).otherwise(col("v")))
      val oneAdded = state.union(state.filter(col("id") === 0L).withColumn("id", lit(2L)))
      assert(probe(sameRows) == ((true, true, Some((2L, None)))))
      assert(probe(oneChanged) == ((false, true, Some((2L, None)))))
      assert(probe(oneAdded) == ((false, true, Some((3L, None)))))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("selectComponentFromNode: directed reachability") {
    // directed: from 3 only 3->4 reachable
    val sub = GraphAlgorithms.selectComponentFromNode(twoCompNf, 3L, directed = true)
    assert(sub.nodes.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    // from 4, nothing outgoing: just itself
    val solo = GraphAlgorithms.selectComponentFromNode(twoCompNf, 4L, directed = true)
    assert(solo.numNodes == 1L)
  }

  test("kHopNeighborhood sizes match the reference golden test") {
    // test_networkframe.py:69-72 - sizes 1/3/4 for k=0/1/2 from A (undirected)
    assert(GraphAlgorithms.kHopNeighborhood(simpleNf, "A", 0).numNodes == 1L)
    assert(GraphAlgorithms.kHopNeighborhood(simpleNf, "A", 1).numNodes == 3L)
    assert(GraphAlgorithms.kHopNeighborhood(simpleNf, "A", 2).numNodes == 4L)
    intercept[IllegalArgumentException](GraphAlgorithms.kHopNeighborhood(simpleNf, "A", -1))
  }

  test("kHopPairs: undirected 1-hop pairs are the symmetrized edge set") {
    val p = GraphAlgorithms.kHopPairs(simpleNf, 1, directed = false).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(p == Set("A" -> "B", "B" -> "A", "A" -> "C", "C" -> "A",
      "B" -> "C", "C" -> "B", "C" -> "D", "D" -> "C"))
  }

  test("kHopAggregation: mean/sum over 1-hop neighborhoods (nulls ignored)") {
    val out = GraphAlgorithms.kHopAggregation(twoCompNf, 1, Seq("mean", "sum"))
      .collect().map(r => r.getLong(0) -> (r.getAs[Double]("feat_neighbor_mean"),
        r.getAs[Double]("feat_neighbor_sum"))).toMap
    assert(out(0L) == ((15.0, 30.0))) // neighbors 1,2 -> feats 10,20
    assert(out(3L) == ((40.0, 40.0))) // neighbor 4
    // isolated node 5: no pairs -> null aggregates (left join)
    val row5 = GraphAlgorithms.kHopAggregation(twoCompNf, 1, Seq("sum"))
      .filter(col("id") === 5L).first()
    assert(row5.isNullAt(1))
  }

  test("kHopAggregation: std works standalone (reference bug not replicated)") {
    // networkframe.py:1483 raises NameError for std-only; we compute stddev_samp
    val out = GraphAlgorithms.kHopAggregation(twoCompNf, 1, Seq("std"))
      .filter(col("id") === 0L).first()
    // neighbors of 0: 1,2 -> feats 10,20 -> stddev_samp = sqrt(50)
    assert(math.abs(out.getAs[Double]("feat_neighbor_std") - math.sqrt(50.0)) < 1e-12)
  }

  test("aggregateOverGraph over a caller-supplied pair table") {
    val pairs = Seq((0L, 3L), (0L, 4L)).toDF("id", "neighbor")
    val out = GraphAlgorithms.aggregateOverGraph(pairs, twoCompNf.nodes, Seq("sum"))
      .filter(col("id") === 0L).first()
    assert(out.getAs[Double]("feat_neighbor_sum") == 70.0)
  }

  test("sortSpectral orders by leading eigenvector score") {
    val out = GraphAlgorithms.sortSpectral(twoCompNf, "weight", iterations = 15)
    assert(out.count() == 6L)
    // isolated node has score 0; quantized max-normalized scores peak at 1e6
    val scores = out.collect().map(r => r.getLong(0) -> r.getAs[Long]("qs")).toMap
    assert(scores(5L) == 0L)
    assert(Seq(0L, 1L, 2L, 3L, 4L).exists(i => scores(i) == 1000000L))
  }

  test("sortSpectral is deterministic across repartitionings") {
    val nf = twoCompNf
    val a = GraphAlgorithms.sortSpectral(nf, "weight", iterations = 10)
      .select("id", "qs").collect().toSeq
    val shuffled = nf.copy(nodes = nf.nodes.repartition(7), edges = nf.edges.repartition(5))
    val b = GraphAlgorithms.sortSpectral(shuffled, "weight", iterations = 10)
      .select("id", "qs").collect().toSeq
    assert(a.sortBy(_.getLong(0)) == b.sortBy(_.getLong(0)))
  }

  test("pageRank conserves cycle mass and ranks receivers over sources") {
    // triangle 0->1->2->0 keeps full mass (qs stays at base); 4 receives
    // from 3; 3 and 5 receive nothing (floor at (100-d)% of base)
    val pr = GraphAlgorithms.pageRank(twoCompNf, iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("qs")).toMap
    val base = 1000000000000L / 6
    assert(pr(0L) == base && pr(1L) == base && pr(2L) == base)
    assert(pr(4L) > pr(3L) && pr(3L) == pr(5L))
    assert(pr(3L) < base / 5) // ~0.15 * base
  }

  test("PageRank of a frame with no nodes is empty, not a division by zero") {
    val nf = NetworkFrame(Seq.empty[Long].toDF("id"),
      Seq.empty[(Long, Long, Double)].toDF("source", "target", "weight"))
    Seq(GraphAlgorithms.pageRank(nf), GraphAlgorithms.pageRankConserving(nf),
        GraphAlgorithms.pageRankWeighted(nf, "weight"))
      .foreach { out =>
        assert(out.columns.toSeq == Seq("id", "qs"))
        assert(out.isEmpty)
      }
  }

  test("personalized PageRank gives a repeated seed its share once") {
    def ppr(seeds: Long*) =
      GraphAlgorithms.personalizedPageRankMulti(twoCompNf, seeds, iterations = 5).collect().toSeq
    assert(ppr(0L, 0L, 1L) == ppr(0L, 1L))
    // the two seeds split the full restart mass: 15% of S/2 each at least
    val qs = ppr(0L, 1L).map(r => r.getLong(0) -> r.getAs[Long]("qs")).toMap
    assert(qs(0L) >= 75000000000L && qs(1L) >= 75000000000L)
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0L)
  }
}
