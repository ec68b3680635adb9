package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.CappedCheckpoint._

/** Iterative graph algorithms over a NetworkFrame — the ops that delegate to
  * scipy.csgraph in the reference (networkframe.py:721-1330, :1540-1549) and
  * genuinely need distributed re-implementation. Catalyst has no recursion,
  * so fixpoints run as driver-controlled loops over DataFrames with
  * `localCheckpoint()` per round to cut lineage (standard Spark graph
  * practice); per-round cost is one join shuffle + one aggregation shuffle.
  */
object GraphAlgorithms {

  /** Minimum-label connected components.
    * Returns (id, component) where component = min node id in the component
    * (deterministic, unlike scipy's arbitrary int labels — semantics
    * equivalent up to relabeling; networkframe.py:721-730).
    *
    * connection="weak" (or undirected frames) ignores edge direction;
    * connection="strong" on a directed frame is [[strongComponentLabels]].
    * Integral-id graphs whose induced distinct edge relation has at most
    * [[DriverContractionCap]] rows finish on the driver: one collect and a
    * union-find, the scipy shape (see [[driverComponents]]). Larger graphs
    * and string/fractional ids run the distributed [[weakFixpoint]].
    */
  def componentLabels(nf: NetworkFrame, connection: String = "weak"): DataFrame =
    if (connection == "strong" && nf.directed) strongComponentLabels(nf)
    else driverComponents(nf, unionFindMinLabels).getOrElse(weakFixpoint(nf))

  /** Strongly connected components, labeled by the min member id of each
    * SCC (deterministic; scipy's int labels are arbitrary,
    * networkframe.py:722). Integral-id graphs with at most
    * [[DriverContractionCap]] induced distinct edges finish on the driver
    * with an iterative Tarjan (see [[driverComponents]]); larger graphs and
    * string/fractional ids run the distributed [[sccFixpoint]].
    */
  def strongComponentLabels(nf: NetworkFrame): DataFrame =
    driverComponents(nf, tarjanMinLabels).getOrElse(sccFixpoint(nf))

  /** Edge relations at or below this row count are labeled on the driver
    * instead of by a distributed fixpoint — one collect job (~16 MB of long
    * pairs at the cap, the size class AQE broadcasts) replaces the
    * fixpoint's jobs. Used by the component finishes above, by the
    * Borůvka contraction in [[minimumSpanningForest]] and by the LSH
    * clustering finish of `Dedup.nearDupClusters*`, always through
    * [[driverCap]].
    */
  private val DriverContractionCap = 1L << 20
  private val driverCapScope = new scala.util.DynamicVariable[Long](DriverContractionCap)

  /** The driver-finish cap in force on this thread: [[DriverContractionCap]]
    * unless a [[withDriverCap]] scope overrides it. */
  private[graft] def driverCap: Long = driverCapScope.value

  /** Runs `body` with the driver-finish cap set to `cap` on this thread (and
    * threads it starts), restoring the previous cap after. `withDriverCap(0L)`
    * sends every gated finish to its distributed path, so tests can compare
    * the two on the same input.
    */
  private[graft] def withDriverCap[T](cap: Long)(body: => T): T =
    driverCapScope.withValue(cap)(body)

  /** The driver finish shared by [[componentLabels]] and
    * [[strongComponentLabels]]. Applies when the node ids and edge
    * endpoints are integral ([[numericCol]]) and the distinct
    * (source, target) pairs with BOTH endpoints in the node table — the
    * edges the fixpoints can see; dangling edges drop exactly as they do
    * there — number at most [[driverCap]]: the pairs are collected
    * ([[collectWithinCap]]), `label` maps every endpoint id to its
    * component's min member id, and [[labelIds]] joins that onto the node
    * table. None when the gate fails.
    */
  private def driverComponents(nf: NetworkFrame,
      label: Array[(Long, Long)] => Seq[(Long, Long)]): Option[DataFrame] = {
    if (!(numericCol(nf.nodes, "id") && numericCol(nf.edges, "source") &&
          numericCol(nf.edges, "target"))) return None
    val ids = nf.nodes.select("id")
    val pairs = nf.edges.select(col("source"), col("target")).distinct()
      .join(ids.withColumnRenamed("id", "source"), Seq("source"), "left_semi")
      .join(ids.withColumnRenamed("id", "target"), Seq("target"), "left_semi")
      .select(col("source").cast("long"), col("target").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    collectWithinCap(pairs).map(p => labelIds(ids, label(p)))
  }

  /** `rows` on the driver when there are at most [[driverCap]] of them, else
    * None. Persisted, not localCheckpointed: the count that materializes
    * the cache is the cap check itself, one job fewer than a checkpoint +
    * count, and the collect reads the cache.
    */
  private[graft] def collectWithinCap[T](rows: org.apache.spark.rdd.RDD[T]): Option[Array[T]] = {
    rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try if (rows.count() > driverCap) None else Some(rows.collect())
    finally rows.unpersist(blocking = false)
  }

  /** The driver finishes' last step: the integral `id` column of `ids` with
    * each id's `component` from the small driver-side `labels`, and ids
    * that `labels` omits labelling themselves. One left join onto `ids`, so
    * the ids are never collected and keep their type, duplicates and NULLs.
    * Output (id, component) matches the distributed fixpoints' rows, names
    * and types.
    */
  private[graft] def labelIds(ids: DataFrame, labels: Seq[(Long, Long)]): DataFrame = {
    val idType = ids.schema("id").dataType
    val lab = ids.sparkSession.createDataFrame(labels).toDF("id", "component")
      .select(col("id").cast(idType), col("component").cast(idType))
    ids.join(lab, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Driver-side union-find over integral id pairs: every id in `pairs`
    * with the min member id of its connected component. A union hangs the
    * larger root under the smaller, so every root is its set's minimum and
    * `find` returns the min-member label directly.
    */
  private[graft] def unionFindMinLabels(pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.iterator.flatMap(p => Iterator(p._1, p._2)).distinct.map(c => c -> find(c)).toSeq
  }

  /** Driver-side Tarjan SCC over directed integral id pairs: every id in
    * `pairs` with the min member id of its strong component. Iterative
    * (an explicit DFS stack of (node, out-neighbors not yet tried)
    * frames), so a long chain cannot overflow the JVM stack.
    */
  private def tarjanMinLabels(pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val ids = pairs.flatMap(p => Array(p._1, p._2)).distinct
    val at = scala.collection.mutable.LongMap.empty[Int]
    ids.indices.foreach(i => at(ids(i)) = i)
    val adj = Array.fill(ids.length)(List.empty[Int])
    pairs.foreach { case (s, t) => adj(at(s)) ::= at(t) }
    val index = Array.fill(ids.length)(-1)
    val low = new Array[Int](ids.length)
    val onStack = new Array[Boolean](ids.length)
    val label = new Array[Long](ids.length)
    var stack = List.empty[Int]
    var counter = 0
    def visit(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack ::= v; onStack(v) = true
    }
    for (root <- ids.indices if index(root) < 0) {
      visit(root)
      var dfs = List(root -> adj(root))
      while (dfs.nonEmpty) {
        val (v, out) = dfs.head
        out match {
          case w :: rest =>
            dfs = (v -> rest) :: dfs.tail
            if (index(w) < 0) { visit(w); dfs ::= (w -> adj(w)) }
            else if (onStack(w)) low(v) = math.min(low(v), index(w))
          case Nil =>
            dfs = dfs.tail
            dfs.headOption.foreach { case (u, _) => low(u) = math.min(low(u), low(v)) }
            if (low(v) == index(v)) {
              // v roots an SCC: it and everything above it on the stack
              val (above, rest) = stack.span(_ != v)
              val members = v :: above
              val m = members.map(ids(_)).min
              members.foreach { u => onStack(u) = false; label(u) = m }
              stack = rest.tail
            }
        }
      }
    }
    ids.indices.map(i => ids(i) -> label(i))
  }

  /** Distributed weak components: minimum-label propagation over the
    * symmetrized edges, the [[componentLabels]] path for graphs above
    * [[DriverContractionCap]] and for non-integral ids. One [[labelFixpoint]]
    * run: a single hop in the first cycle and two per cycle after it,
    * pointer doubling every cycle, so it converges in ~O(log diameter)
    * cycles. At 100 TB scale: edges pre-partitioned by source reuse the
    * same partitioning across rounds; AQE handles hub-node skew in the
    * join. Throws IllegalStateException if `maxRounds` cycles do not
    * converge.
    */
  private[graft] def weakFixpoint(nf: NetworkFrame, maxRounds: Int = 200): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    val e = nf.symmetrizedEdges.distinct().localCheckpointCapped()
    labelFixpoint(e, nf.nodes.select("id"), useMax = false, hops = 2, doublingFrom = 0,
        maxRounds, "componentLabels")
      .withColumnRenamed("v", "component")
  }

  /** The one monotone label-propagation fixpoint behind [[weakFixpoint]],
    * the SCC colorings in [[sccFixpoint]] and (through
    * [[componentLabels]]) the Borůvka contraction. Every id in `ids` starts
    * labeled by itself; a hop gives each node the min (or, with `useMax`,
    * the max) of its own label and the labels of its `source` neighbors
    * along `edges`. Returns (id, v): v is the least (greatest) id that
    * reaches each node. Labels only move one way, so the fixpoint is
    * unique and every schedule below computes the same output.
    *
    * Schedule. A cycle chains `hops` hops and materializes once; the FIRST
    * cycle is always a single hop, so tiny fixpoints that converge at once
    * (incremental quotients, cc-stream micro-batches) never pay a wasted
    * shuffle. The plan is LINEAR in the state, so chained hops extend one
    * plan instead of needing their own checkpoint (round 16: two hops per
    * cycle for weak components; for the SCC colorings a second hop saved
    * one cycle and cost q_strong_components 12.6 -> 16.9 s, so they stay
    * at one). A cycle without doubling hops by [[relaxHop]], one shuffle
    * into the aggregate (it would also label edge targets outside `ids`,
    * so such runs take edges induced on `ids`, as the SCC colorings do);
    * a doubling cycle hops by a left-outer join of the [[relaxMessages]]
    * (min/max per id) onto the labels, because the
    * doubling self-join of a union plan trips Catalyst's Union constraint
    * rewrite (the join hop costs the SCC colorings two more AQE stage jobs
    * per plain cycle, 347 -> 363 jobs on the sf0.1 sparse graph at
    * local[4], so the union hop stays where it can). From cycle
    * `doublingFrom` on a pointer-doubling step follows the label chain
    * once more, label(v) <- label(label(v)): labels are node ids that only
    * move one way, so this is monotone-safe and cuts O(diameter) cycles
    * to ~O(log diameter). Weak components double from the first cycle; the
    * SCC colorings start at [[sccDoublingAfter]], because small cyclic
    * cores converge before the extra self-join and checkpoint pay off
    * (round 4: doubling from round 1 regressed 18.4 s -> ~50 s at sf0.1).
    *
    * The loop, its probe, cap and log are [[monotoneFixpoint]]'s: the
    * unit is rounds, so the cap throws "<name> did not converge within <n>
    * rounds".
    */
  private def labelFixpoint(edges: DataFrame, ids: DataFrame, useMax: Boolean, hops: Int,
      doublingFrom: Int, maxRounds: Int, name: String): DataFrame = {
    def pick(a: Column, b: Column): Column = if (useMax) greatest(a, b) else least(a, b)
    def unionHop(lab: DataFrame): DataFrame = relaxHop(edges, lab, Nil, col("v"), useMax)
    def joinHop(lab: DataFrame): DataFrame =
      lab.join(relaxMessages(edges, lab, Nil, col("v")).groupBy("id").agg(best(useMax, "v").as("m")),
          Seq("id"), "left_outer")
        .select(col("id"), pick(col("v"), coalesce(col("m"), col("v"))).as("v"))
    monotoneFixpoint(ids.select(col("id"), col("id").as("v")), maxRounds, name, "rounds") {
      (labels, round) =>
        val doubling = round >= doublingFrom
        val prop = Iterator.iterate(labels)(if (doubling) joinHop else unionHop)
          .drop(if (round == 0) 1 else hops).next().localCheckpointCapped()
        // the doubling joins a checkpointed `prop`: reusing its exchange
        // instead measured flat on q_percolation and ~8% worse on
        // q_components at sf0.1
        if (!doubling) prop else prop.as("a")
          .join(prop.select(col("id").as("lid"), col("v").as("l2")),
            col("a.v") === col("lid"), "left_outer")
          .select(col("a.id").as("id"), pick(col("a.v"), coalesce(col("l2"), col("a.v"))).as("v"))
          .localCheckpointCapped()
    }
  }

  /** The one convergence loop, behind [[labelFixpoint]] and
    * [[temporalReachability]]. It checkpoints `init` (keys…, id, v) and
    * runs `cycle(state, round)`, which returns the next checkpointed
    * state, until [[probe]] finds that a cycle changed nothing. Callers
    * guarantee that every row's v only moves one way and rows are only
    * added, so the fixpoint is unique and the probe exact. Throws
    * IllegalStateException("<name> did not converge within <n> <unit>")
    * if `maxRounds` cycles do not converge; otherwise logs one `[graft]`
    * line with the cycles run and the probe path (join when any cycle
    * took it).
    */
  private def monotoneFixpoint(init: DataFrame, maxRounds: Int, name: String, unit: String)(
      cycle: (DataFrame, Int) => DataFrame): DataFrame = {
    val sums = numericCol(init, "v")
    var state = init.localCheckpointCapped()
    var stateSum: Option[(Long, Option[java.math.BigDecimal])] = None
    var joined = false
    var settled = false
    var rounds = 0
    while (!settled && rounds < maxRounds) {
      val next = cycle(state, rounds)
      val (s, j, nextSum) = probe(state, next, sums, stateSum)
      settled = s
      joined ||= j
      stateSum = nextSum
      state = next
      rounds += 1
    }
    if (!settled) throw new IllegalStateException(
      s"$name did not converge within $rounds $unit")
    System.err.println(s"[graft] $name converged in $rounds $unit" +
      (if (joined) " (join probe)" else " (sum probe)"))
    state
  }

  /** The one convergence probe: whether the monotone state `next` equals
    * `prev` row for row. With `sums` ([[monotoneFixpoint]] passes
    * [[numericCol]] of v) it takes each side's [[monotoneSum]] of v —
    * `prevSum` is the one the previous call returned for `prev` — and,
    * when both sums are defined, compares the (row count, sum) pairs:
    * while the state moves one way, each pair is strictly monotone until
    * the fixpoint, so pair equality is pointwise equality in one
    * aggregate job. Otherwise — string or fractional v, or an overflowed
    * (None) sum — it runs the exact changed-row probe: an anti-join of
    * `next` against `prev` on every column, null-safe, that looks for one
    * row that is new or changed. Returns (settled, whether the join ran,
    * `next`'s sum for the following call).
    */
  private[graft] def probe(prev: DataFrame, next: DataFrame, sums: Boolean,
      prevSum: Option[(Long, Option[java.math.BigDecimal])] = None):
      (Boolean, Boolean, Option[(Long, Option[java.math.BigDecimal])]) = {
    val before = if (sums) prevSum.orElse(Some(monotoneSum(prev, "v"))) else None
    val after = if (sums) Some(monotoneSum(next, "v")) else None
    (before, after) match {
      case (Some((n0, Some(s0))), Some((n1, Some(s1)))) =>
        (n0 == n1 && s0.compareTo(s1) == 0, false, after)
      case _ =>
        val old = prev.toDF(prev.columns.map("p_" + _): _*)
        val changed = next.join(old, next.columns.map(c => col(c) <=> col("p_" + c)).reduce(_ && _),
            "left_anti").limit(1).count() > 0
        (!changed, true, after)
    }
  }

  /** The messages of one relaxation hop. `state` is (keys…, id, v); each
    * row sends `extend` (a column over its v and the edge's columns) along
    * every edge of `edges` (source, target, …) that leaves its id and passes
    * `admit`. Returns (keys…, id, v) with id the edge's target. `edges` must
    * not reuse a state column name other than its join key.
    */
  private def relaxMessages(edges: DataFrame, state: DataFrame, keys: Seq[String],
      extend: Column, admit: Column = lit(true)): DataFrame =
    edges.join(state.withColumnRenamed("id", "source"), Seq("source")).filter(admit)
      .select(keys.map(col) :+ col("target").as("id") :+ extend.as("v"): _*)

  /** One relaxation hop: `state` (keys…, id, v), in that column order,
    * unioned with its [[relaxMessages]] and grouped by (keys…, id), keeping
    * the min v (the max with `useMax`). Returns the same columns; ids that
    * only receive messages join the state. Union-then-min/max is exact
    * because the pick is idempotent (a duplicate offer changes nothing) and
    * monotone (a row's own value competes with every offer, so no value
    * ever gets worse): one aggregate over state and messages equals any
    * pairwise merge of them, which is why it can replace a join of the
    * per-id best message back onto the state. One shuffle into the
    * aggregate, with map-side partial mins/maxes.
    */
  private def relaxHop(edges: DataFrame, state: DataFrame, keys: Seq[String], extend: Column,
      useMax: Boolean = false, admit: Column = lit(true)): DataFrame =
    state.union(relaxMessages(edges, state, keys, extend, admit))
      .groupBy((keys :+ "id").map(col): _*).agg(best(useMax, "v").as("v"))

  private def best(useMax: Boolean, c: String): Column = if (useMax) max(c) else min(c)

  /** `rounds` [[relaxHop]]s from `init`, each checkpointed, for the
    * fixed-round callers. `edges` and `init` are checkpointed first, in
    * that order. Returns the state after every hop, first to last.
    */
  private def relaxRounds(edges: DataFrame, init: DataFrame, keys: Seq[String], extend: Column,
      useMax: Boolean, rounds: Int): Seq[DataFrame] =
      withoutConstraintPropagation(edges) {
    val e = edges.localCheckpointCapped()
    (1 to rounds).scanLeft(init.localCheckpointCapped())(
      (s, _) => relaxHop(e, s, keys, extend, useMax).localCheckpointCapped()).tail
  }

  /** One push step of the quantized power family: every `state` row
    * (id, …) sends `term` (a column over its own and the edge's columns)
    * along each edge of `edges` whose `from` column is its id, and each
    * `to` end sums what it receives. Returns (id, s) for the ids that
    * receive anything; callers coalesce the rest. The sum is
    * DECIMAL(38,0), exact and order-independent, so hub sums cannot
    * overflow and any engine replays it bit for bit. One join and one
    * aggregation shuffle.
    */
  private def pushSum(edges: DataFrame, state: DataFrame, from: String, to: String,
      term: Column): DataFrame =
    edges.join(state.withColumnRenamed("id", from), Seq(from))
      .groupBy(col(to).as("id")).agg(sum(term.cast("decimal(38,0)")).as("s"))

  /** The power family's max-renormalization to the 1e6 scale: (id, q) for
    * every row of `scores` (id, s), q = (s * 1e6) DIV mx with mx the
    * largest s in `maxOf`, or 0 when mx is null or 0; a null s counts as 0.
    * Integral division of non-negatives truncates like floor in every
    * engine. The max rides as a broadcast one-row aggregate, not a
    * driver-read scalar, so a renorm costs no extra job.
    */
  private def renorm(scores: DataFrame, maxOf: DataFrame): DataFrame =
    scores.crossJoin(broadcast(maxOf.agg(max(col("s")).as("mx"))))
      .selectExpr("id",
        """CAST(CASE WHEN mx IS NULL OR mx = 0 THEN 0
           ELSE (COALESCE(s, 0) * 1000000) DIV mx END AS BIGINT) AS q""")

  /** The distinct, self-loop-free (source, target) pairs of the symmetrized
    * edges: the simple undirected graph, each edge in both directions.
    * `kTruss` alone strips self-loops itself (its scaladoc says why).
    */
  private def simpleEdges(nf: NetworkFrame): DataFrame =
    nf.symmetrizedEdges.filter(col("source") =!= col("target")).distinct()

  /** Plain one-shuffle propagation rounds before the SCC coloring fixpoint
    * engages pointer doubling — small cyclic cores converge well before
    * this and never pay the doubling join; a genuinely long chain (the
    * 100 TB worry) provably has eccentricity > this bound by the time it
    * engages, and then closes in O(log L) further rounds. Was 24 through
    * round 15, which the sparse-graph SCC never reached (fwd/bwd both
    * converged plainly in 19 rounds); a round-16 A/B at sf0.1 measured
    * doublingAfter 4/6/8 all cutting rounds to 9-11 and wall time roughly
    * in half, with 8 kept as the setting safely above the small-cycle
    * regime that made round-4's doubling-from-round-1 variant regress.
    * The result is the same SCC fixpoint at any setting.
    */
  private[graft] val sccDoublingAfter = 8

  /** Hop cap for [[sccFixpoint]]'s backward [[frontierBfs]], decoupled
    * from [[sccDoublingAfter]] in round 16: frontier hops cost work
    * proportional to the NEWLY reached set (cheap), while hitting the cap
    * discards the partial sweep and pays a full all-nodes backward
    * coloring — so the cap should only trip on graphs whose backward
    * depth is genuinely pathological, not merely deeper than the point
    * where the coloring loops engage doubling (the sparse-graph SCC has
    * backward depth 19: with a shared 8-round cap it wasted 8 frontier
    * rounds and then recolored everything).
    */
  private[graft] val sccFrontierCap = 24

  /** Scope a body with Catalyst constraint propagation disabled, restoring
    * the previous setting after. `localCheckpoint` preserves the origin
    * plan's constraint set inside the resulting LogicalRDD, so a
    * driver-side fixpoint that rebuilds joins over its own checkpointed
    * output compounds constraint sets round-over-round and optimizer time
    * grows geometrically (measured in round 4: 5 s -> 101 s of driver gap
    * per round within seven rounds of an anti-join frontier loop).
    * Constraints buy nothing inside these loops — every input is already a
    * checkpointed LogicalRDD with no scan left to push filters into — so
    * they are switched off for the loop's duration.
    *
    * Scoped per-THREAD, not per-session: the override lives in a cloned
    * `SQLConf` installed via `SQLConf.withExistingConf`, which Catalyst's
    * `SQLConf.get` consults ahead of the session conf. Queries planned
    * concurrently on other threads of the same session (streaming
    * microbatches, parallel library callers) keep constraint propagation,
    * and nested/overlapping scopes restore cleanly — the session-global
    * set/restore this replaces could leave the flag off for everyone.
    */
  private[graft] def withoutConstraintPropagation[T](df: DataFrame)(body: => T): T = {
    df.sparkSession.withActive {
      val cloned = org.apache.spark.sql.internal.SQLConf.get.clone()
      cloned.setConfString("spark.sql.constraintPropagation.enabled", "false")
      org.apache.spark.sql.internal.SQLConf.withExistingConf(cloned)(body)
    }
  }

  /** Row count and exact DECIMAL(38,0) sum of `c`, in one aggregate job —
    * the sum half of [[probe]], for fixpoints whose per-row state moves
    * MONOTONICALLY (component labels only decrease, SCC colors only
    * increase, temporal arrivals only decrease while rows are only added):
    * the pair changes iff any row changed, so comparing successive results
    * detects the fixpoint without a join against the previous round
    * (guide §2.4 — remove shuffles outright). Empty frames sum as 0.
    *
    * Overflow is never a forged convergence. Under the default ANSI session
    * a sum past DECIMAL(38,0) throws `SparkArithmeticException`
    * (NUMERIC_VALUE_OUT_OF_RANGE) and the run fails loudly. With
    * `spark.sql.ansi.enabled=false` it is a NULL sum over a NON-empty frame,
    * returned as None, so the probe never compares ZERO == ZERO: it takes
    * the exact join probe that cycle, in every fixpoint. Unreachable
    * below ~1e19 row-weighted ids either way.
    */
  private[graft] def monotoneSum(df: DataFrame, c: String):
      (Long, Option[java.math.BigDecimal]) = {
    val r = df.agg(count(lit(1)).as("n"), sum(col(c).cast("decimal(38,0)")).as("s")).head
    val (n, v) = (r.getLong(0), r.getDecimal(1))
    (n, if (v == null && n > 0L) None else Some(if (v == null) java.math.BigDecimal.ZERO else v))
  }

  /** The sum probe only applies to INTEGRAL label types — string-id graphs
    * keep the join-the-previous-round changed-row probe, and so do
    * fractional-numeric ids (Double/Float/scaled Decimal): the probe casts
    * to decimal(38,0), which ROUNDS, so a pointwise decrease smaller than
    * the rounding granularity (2.4 -> 2.0, both cast to 2) would leave the
    * sum stationary and forge convergence mid-fixpoint. Integral values
    * cast exactly, so a sum past DECIMAL(38,0) can only be an overflow
    * ([[monotoneSum]]: loud under ANSI, None without it). Same gate as the
    * driver component finish (truncate-and-collide hazard).
    */
  private[graft] def numericCol(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Distributed strongly connected components via forward-max coloring
    * (Orzan-style FW-BW coloring, the standard distributed SCC algorithm),
    * the [[strongComponentLabels]] path for graphs above
    * [[DriverContractionCap]] and for non-integral ids: repeat
    * { propagate max id forward to fixpoint -> color classes; roots are
    * nodes whose color is their own id; the SCC of root r is the backward
    * reachable set of r inside color class r; peel those off } until no
    * nodes remain. Labels are the min member id of each SCC.
    *
    * Peeling rounds are O(#SCC levels) on adversarial chains but O(log n)
    * expected on random id assignment. The backward search is one
    * [[frontierBfs]] from every root at once, capped at
    * [[sccFrontierCap]] hops. The forward coloring, and the backward one
    * when that search hits its cap, are uncapped max-[[labelFixpoint]]
    * runs: one hop per cycle, pointer doubling from cycle `doublingAfter`
    * on; monotone over a finite id set, so they always terminate. Throws
    * IllegalStateException if nodes remain after `maxRounds` peel rounds,
    * and logs one `[graft]` line per call with the peel rounds and the
    * number of them whose frontier search capped.
    */
  private[graft] def sccFixpoint(nf: NetworkFrame, doublingAfter: Int = sccDoublingAfter,
                                 maxRounds: Int = 200): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    val e = nf.edges.select(col("source"), col("target")).distinct().localCheckpointCapped()
    var remaining = nf.nodes.select(col("id")).localCheckpointCapped()
    var result: DataFrame = null
    var guard = 0
    // the remaining-node count is threaded through the loop instead of
    // re-derived: every branch below already has to count its output once,
    // so no isEmpty/count action is ever issued twice for the same frame
    // (driver-action latency, not data volume, dominates the peel rounds)
    var remainingCount = remaining.count()
    var cappedRounds = 0
    while (remainingCount > 0 && guard < maxRounds) {
      guard += 1
      var eR = e
        .join(remaining.withColumnRenamed("id", "source"), Seq("source"), "left_semi")
        .join(remaining.withColumnRenamed("id", "target"), Seq("target"), "left_semi")
        .localCheckpointCapped()
      // 0. TRIM (the classic FW-BW accelerator): a node with no in-edge or
      // no out-edge (self-loops aside) cannot be on a cycle — it is its own
      // SCC. Peel those to fixpoint first; on mostly-acyclic graphs this
      // removes nearly everything and the expensive coloring only ever sees
      // small cyclic cores. Two Spark jobs per trim round (checkpoint +
      // count); trimmed nodes are assigned in ONE batch after the fixpoint.
      val trimStart = remaining
      val preTrimCount = remainingCount
      var before = remainingCount
      var trimming = before > 0
      while (trimming) {
        val ePure = eR.filter(col("source") =!= col("target"))
          .join(remaining.withColumnRenamed("id", "source"), Seq("source"), "left_semi")
          .join(remaining.withColumnRenamed("id", "target"), Seq("target"), "left_semi")
        val deg = ePure.select(col("target").as("id"), lit(1).as("hin"), lit(0).as("hout"))
          .union(ePure.select(col("source").as("id"), lit(0).as("hin"), lit(1).as("hout")))
          .groupBy("id").agg(max("hin").as("hin"), max("hout").as("hout"))
        val keep = remaining.join(
            deg.filter(col("hin") === 1 && col("hout") === 1).select("id"),
            Seq("id"), "left_semi")
          .localCheckpointCapped()
        val after = keep.count()
        remaining = keep
        trimming = after < before && after > 0
        before = after
      }
      // `before` now holds the post-trim remaining count — no recount needed
      remainingCount = before
      // the trimmed set may be empty; unioning it unconditionally costs less
      // than the isEmpty action it would take to find out
      val trimmedSingles = trimStart.join(remaining, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("root"))
      result = if (result == null) trimmedSingles.localCheckpointCapped()
               else result.union(trimmedSingles).localCheckpointCapped()
      // eR was induced on the pre-trim node set at the top of the loop;
      // re-induce only when the trim fixpoint actually removed nodes
      if (remainingCount != preTrimCount && remainingCount > 0) {
        eR = eR
          .join(remaining.withColumnRenamed("id", "source"), Seq("source"), "left_semi")
          .join(remaining.withColumnRenamed("id", "target"), Seq("target"), "left_semi")
          .localCheckpointCapped()
      }
      if (remainingCount > 0) {
        // 1. forward max-color propagation to fixpoint: color(v) = max id
        // that reaches v. Roots are nodes with color == own id, and every
        // member of color class c has id <= c (color >= own id always), so
        // the root is the max id of its class.
        val colors = labelFixpoint(eR, remaining, useMax = true, hops = 1, doublingAfter,
          Int.MaxValue, "scc fwd coloring").withColumnRenamed("v", "color")
        // 2. the class's own edges, reversed: any v->root path of an SCC
        // member stays inside the class, so SCC(root) is root's backward
        // reach along them. Every edge joins two nodes of one class, so a
        // search from all roots at once reaches each node from its own
        // root alone.
        val ec = eR
          .join(colors.select(col("id").as("source"), col("color").as("cs")), Seq("source"))
          .join(colors.select(col("id").as("target"), col("color").as("ct")), Seq("target"))
          .filter(col("cs") === col("ct"))
          .select(col("target").as("source"), col("source").as("target"))
          .localCheckpointCapped()
        // 2a. cheap path first: a frontier BFS from the roots, whose
        // per-round work is proportional to the NEWLY reached frontier, not
        // the whole node set (a round-4 A/B at sf0.1 measured 21.9 s vs
        // 23-24 s for an all-nodes flag-propagation round). It takes
        // O(max SCC backward depth) hops with no doubling possible, so it
        // is capped; a graph that hits the cap discards the partial sweep
        // and falls back to 2b.
        val (reach, capped) = frontierBfs(ec,
          colors.filter(col("color") === col("id")).select(col("id").as("seed"), col("id")),
          math.max(doublingAfter, sccFrontierCap))
        val scc = if (!capped) reach.select(col("id"), col("seed").as("root")) else {
          // 2b. backward max coloring over the same edges: revColor(v) ==
          // color(v) iff the class root reaches v backward, i.e. v -> root
          // forward; with color(v) = root (root -> v), v is in SCC(root)
          cappedRounds += 1
          val rev = labelFixpoint(ec, remaining, useMax = true, hops = 1, doublingAfter,
            Int.MaxValue, "scc bwd coloring")
          colors.join(rev.withColumnRenamed("v", "rc"), Seq("id"))
            .filter(col("color") === col("rc"))
            .select(col("id"), col("color").as("root"))
            .localCheckpointCapped()
        }
        result = result.union(scc).localCheckpointCapped()
        remaining = remaining.join(scc.select("id"), Seq("id"), "left_anti").localCheckpointCapped()
        remainingCount = remaining.count()
      }
    }
    System.err.println(s"[graft] sccFixpoint peeled in $guard rounds" +
      s" (backward frontier capped in $cappedRounds)")
    if (remainingCount > 0) throw new IllegalStateException(
      s"strongComponentLabels left $remainingCount nodes unpeeled after $guard rounds")
    // a frame with no nodes never enters the peel loop
    if (result == null) return nf.nodes.select(col("id"), col("id").as("component"))
    // relabel each SCC by its min member id
    result.join(result.groupBy("root").agg(min(col("id")).as("component")), Seq("root"))
      .select(col("id"), col("component"))
  }

  /** Number of connected components (networkframe.py:821-850). */
  def nComponents(nf: NetworkFrame, connection: String = "weak"): Long =
    componentLabels(nf, connection).select("component").distinct().count()

  def isFullyConnected(nf: NetworkFrame, connection: String = "weak"): Boolean =
    nComponents(nf, connection) == 1

  /** Append a component label column to the node table
    * (networkframe.py:881-929).
    */
  def labelNodesByComponent(nf: NetworkFrame, name: String = "component",
                            connection: String = "weak"): NetworkFrame =
    labelNodesWithLabels(nf, componentLabels(nf, connection), name)

  /** As `labelNodesByComponent`, but reusing a precomputed (id, component)
    * label frame — the fixpoint is the expensive part, so callers running
    * several component queries should derive labels once and fan out.
    */
  def labelNodesWithLabels(nf: NetworkFrame, labels: DataFrame,
                           name: String = "component"): NetworkFrame = {
    val l = labels.select(col("id"), col("component").as(name))
    nf.copy(nodes = nf.nodes.join(l, Seq("id"), "left_outer"))
  }

  /** Restrict to the largest component — group-count + top-1, then the usual
    * two-semi-join induction (networkframe.py:732-783). Ties broken by
    * smallest component label for determinism.
    */
  def largestConnectedComponent(nf: NetworkFrame, connection: String = "weak",
                                verbose: Boolean = false): NetworkFrame =
    largestComponentFromLabels(nf, componentLabels(nf, connection), verbose)

  /** As `largestConnectedComponent`, but reusing a precomputed label frame. */
  def largestComponentFromLabels(nf: NetworkFrame, labels: DataFrame,
                                 verbose: Boolean = false): NetworkFrame = {
    val top = labels.groupBy("component").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("component")).limit(1)
    val keep = labels.join(broadcast(top.select("component")), Seq("component"), "left_semi")
      .select("id")
    val n = nf.nodes.join(keep, Seq("id"), "left_semi")
    if (verbose) {
      // reference's removed-count print (networkframe.py:776-778); one extra
      // pair of count jobs, so opt-in only
      val removed = nf.numNodes - n.count()
      println(s"Nodes removed when taking largest connected component: $removed")
    }
    nf.copy(nodes = n, edges = induce(nf.edges, keep))
  }

  /** Induced subgraph on the nodes reachable from `nodeId` (seed included),
    * the distributed analogue of `select_component_from_node`'s
    * single-source shortest-path shortcut (networkframe.py:962-998):
    * [[frontierBfs]] with no hop limit.
    */
  def selectComponentFromNode(nf: NetworkFrame, nodeId: Any,
                              directed: Boolean = true): NetworkFrame = {
    val reached = bfsFrom(nf, nodeId, directed, maxDepth = Int.MaxValue).select("id")
    val n = nf.nodes.join(reached, Seq("id"), "left_semi")
    nf.copy(nodes = n, edges = induce(nf.edges, reached))
  }

  /** Induced subgraph of nodes within <= k unweighted hops of `nodeId`
    * (self included at k=0; networkframe.py:1241-1277), by [[frontierBfs]].
    */
  def kHopNeighborhood(nf: NetworkFrame, nodeId: Any, k: Int,
                       directed: Boolean = false): NetworkFrame = {
    require(k >= 0, "k must be non-negative")
    val reached = bfsFrom(nf, nodeId, directed, maxDepth = k).select("id")
    val n = nf.nodes.join(reached, Seq("id"), "left_semi")
    nf.copy(nodes = n, edges = induce(nf.edges, reached))
  }

  /** [[frontierBfs]] from `nodeId`, if it is a node, over directed or symmetrized edges. */
  private def bfsFrom(nf: NetworkFrame, nodeId: Any, directed: Boolean,
                      maxDepth: Int): DataFrame =
    frontierBfs(
      if (directed) nf.edges.select(col("source"), col("target")) else nf.symmetrizedEdges,
      nf.nodes.select(col("id")).filter(col("id") === lit(nodeId))
        .select(col("id").as("seed"), col("id")),
      maxDepth)._1

  /** The one frontier BFS, from many seeds at once. `edges` is
    * (source, target), deduplicated here; `seeds` is (seed, id), a BFS key
    * and its start node. Returns (seed, id, d) for every id within
    * `maxDepth` hops of its seed (d = 0 at the seed) — a node's first
    * discovery round is its distance, so the state is the visited set —
    * and whether the frontier was still live after `maxDepth` hops, which
    * is [[sccFixpoint]]'s cap test. Per round one frontier join, one
    * distinct and one anti-join against the visited set (checkpointed),
    * then one `isEmpty` job. The visited set is a checkpointed base plus
    * at most three buffered frontiers (each already checkpointed for the
    * round that found it), folded into the base every fourth round:
    * re-checkpointing the whole set every round rewrote every reached row
    * each time, O(rounds²) data movement.
    */
  private def frontierBfs(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int): (DataFrame, Boolean) =
      withoutConstraintPropagation(edges) {
    val e = edges.distinct().localCheckpointCapped()
    var base = seeds.select(col("seed"), col("id"), lit(0L).as("d")).localCheckpointCapped()
    var buffered = List.empty[DataFrame]
    def visited = (base :: buffered).reduce(_ union _)
    var frontier = base
    var live = !frontier.isEmpty
    var hops = 0
    while (live && hops < maxDepth) {
      frontier = e.join(frontier.withColumnRenamed("id", "source"), Seq("source"))
        .select(col("seed"), col("target").as("id"), (col("d") + 1).as("d"))
        .distinct()
        .join(visited.select("seed", "id"), Seq("seed", "id"), "left_anti")
        .localCheckpointCapped()
      live = !frontier.isEmpty
      if (live) buffered ::= frontier
      if (buffered.size == 4) {
        base = visited.localCheckpointCapped()
        buffered = Nil
      }
      hops += 1
    }
    (visited, live)
  }

  /** Single-source hop distances: (id, dist) for every node within
    * <= maxDepth unweighted hops of `nodeId` (seed at 0) — the distance
    * table `select_component_from_node` computes and then discards
    * (networkframe.py:990-996, scipy shortest_path), by [[frontierBfs]].
    */
  def bfsDistances(nf: NetworkFrame, nodeId: Any, maxDepth: Int,
                   directed: Boolean = false): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be non-negative")
    bfsFrom(nf, nodeId, directed, maxDepth).select(col("id"), col("d").as("dist"))
  }

  /** Community detection by synchronous label propagation, made
    * deterministic: each round every node adopts the most frequent label
    * among its neighbors (ties to the SMALLEST label — the tie-break async
    * LPA leaves to chance); isolated nodes keep theirs. Fixed `rounds`, so
    * an unrolled oracle replays it. [[synchronousLabelPropagation]] with
    * weight 1 on the distinct, self-loop-free symmetrized edges.
    */
  def labelPropagation(nf: NetworkFrame, rounds: Int): DataFrame =
    synchronousLabelPropagation(
      unitWeights(simpleEdges(nf)), nf.nodes, rounds)

  /** Weighted synchronous label propagation: each node adopts the label
    * with the largest summed cent-quantized edge weight among its
    * neighbors (ties to the SMALLEST label). [[synchronousLabelPropagation]]
    * over [[centWeights]], zero-weight pairs dropped.
    */
  def labelPropagationWeighted(nf: NetworkFrame, weightCol: String,
                               rounds: Int): DataFrame =
    synchronousLabelPropagation(centWeights(nf, weightCol, symmetric = true)
      .filter(col("w") > 0).withColumn("w", col("w").cast("decimal(38,0)")), nf.nodes, rounds)

  /** The one synchronous label-propagation loop. `sym` is
    * (source, target, w) in both directions; the per-label sums take w's
    * type (long for unit weights, DECIMAL(38,0) for cent weights, so hub
    * sums cannot overflow). Every node starts with its id as label and
    * each round adopts the label of largest summed w among its neighbors
    * (ties to the smallest label), or keeps its own; a fixed round count
    * keeps LPA's two-cycles deterministic. Per round one message join, one
    * (id, label) sum, one per-node argmax window and one label update, all
    * keyed on node id. Needs at least one round; returns (id, label).
    */
  private def synchronousLabelPropagation(sym: DataFrame, nodes: DataFrame,
                                          rounds: Int): DataFrame =
      withoutConstraintPropagation(sym) {
    require(rounds >= 1, "at least one round")
    val e = sym.localCheckpointCapped()
    var labels = nodes.select(col("id"), col("id").as("label")).localCheckpointCapped()
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(desc("ws"), asc("label"))
    for (_ <- 1 to rounds) {
      val picked = e.join(labels.select(col("id").as("source"), col("label")), Seq("source"))
        .groupBy(col("target").as("id"), col("label"))
        .agg(sum(col("w")).as("ws"))
        .withColumn("rn", row_number().over(best))
        .filter(col("rn") === 1).select(col("id"), col("label").as("next"))
      labels = labels.join(picked, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("next"), col("label")).as("label"))
        .localCheckpointCapped()
    }
    labels
  }

  /** (source, target, w = 1) over the distinct pairs of `edges`. */
  private def unitWeights(edges: DataFrame): DataFrame =
    edges.select(col("source"), col("target")).distinct().withColumn("w", lit(1L))

  /** (source, target, w): cent weights floor(weight * 100) summed per
    * pair; `symmetric` adds each edge reversed and drops self-loops.
    */
  private def centWeights(nf: NetworkFrame, weightCol: String, symmetric: Boolean): DataFrame = {
    val e = nf.edges.select(col("source"), col("target"),
      floor(col(weightCol).cast("double") * 100).cast("long").as("w"))
    val both = if (!symmetric) e
      else e.union(e.select(col("target").as("source"), col("source").as("target"), col("w")))
        .filter(col("source") =!= col("target"))
    both.groupBy("source", "target").agg(sum("w").as("w"))
  }

  /** Weighted single-source shortest paths: `rounds` synchronous
    * Bellman-Ford relaxations over integer-quantized weights
    * (floor(w*100) — cent precision, exact in any engine). Distances are
    * correct for every node whose shortest path has <= `rounds` hops, so
    * pick rounds >= the weighted-path hop diameter of interest. Fixed round
    * count, min-aggregation only — deterministic at any parallelism and
    * replayable as an unrolled oracle CTE chain (the q_spectral/q_pagerank
    * discipline). One join + one min-agg shuffle per round; parallel edges
    * collapse to their min weight up front. Weights are assumed
    * non-negative (no negative-cycle detection — a negative cycle would
    * keep relaxing monotonically for all `rounds`). [[pathRelaxation]]
    * with extend = v + wq.
    */
  def shortestPaths(nf: NetworkFrame, sourceId: Any, weightCol: String,
                    rounds: Int, directed: Boolean = true): DataFrame =
    pathRelaxation(nf, sourceId, weightCol, rounds, directed, useMax = false, start = 0L,
      col("v") + col("wq")).withColumnRenamed("v", "dq")

  /** The fixed-round Bellman-Ford shared by [[shortestPaths]] and
    * [[widestPaths]]: cent-quantized weights wq = floor(w * 100), both
    * directions unless `directed`, parallel edges collapsed to their best
    * (min, or max with `useMax`) weight; then `rounds` [[relaxRounds]] hops
    * from `sourceId` at `start`, if it is a node. Returns (id, v).
    */
  private def pathRelaxation(nf: NetworkFrame, sourceId: Any, weightCol: String, rounds: Int,
      directed: Boolean, useMax: Boolean, start: Long, extend: Column): DataFrame = {
    require(rounds >= 1, "at least one relaxation round")
    val wq = floor(col(weightCol).cast("double") * 100).cast("long")
    val base = nf.edges.select(col("source"), col("target"), wq.as("wq"))
    val dirEdges = if (directed) base
      else base.union(base.select(col("target").as("source"),
        col("source").as("target"), col("wq")))
    val init = nf.nodes.select(col("id")).filter(col("id") === lit(sourceId))
      .withColumn("v", lit(start))
    relaxRounds(dirEdges.groupBy("source", "target").agg(best(useMax, "wq").as("wq")), init,
      Nil, extend, useMax, rounds).last
  }

  /** Double-sweep diameter lower bound: BFS from the smallest node id,
    * hop to the farthest node found (ties: min id), BFS again — the second
    * sweep's eccentricity is the classic 2-BFS diameter estimate (exact on
    * trees, a tight lower bound in practice). Two `bfsDistances` fixpoints
    * plus two single-row driver reads; output is one row
    * (seed, far_id, diameter_lb). `maxDepth` caps both sweeps, so a
    * 100 TB graph costs 2*maxDepth rounds regardless of size.
    */
  def estimateDiameter(nf: NetworkFrame, maxDepth: Int,
                       directed: Boolean = false): DataFrame = {
    val seed = nf.nodes.agg(min(col("id"))).first().get(0)
    require(seed != null, "estimateDiameter: graph has no nodes")
    val d1 = bfsDistances(nf, seed, maxDepth, directed)
    val far = d1.orderBy(desc("dist"), asc("id")).limit(1).first().get(0)
    val dia = bfsDistances(nf, far, maxDepth, directed)
      .agg(max(col("dist"))).first().getLong(0)
    nf.nodes.sparkSession.range(1).select(
      lit(seed).as("seed"), lit(far).as("far_id"),
      lit(dia).as("diameter_lb"))
  }

  /** All-pairs <= k-hop reachability as a (id, neighbor) PAIR TABLE — the
    * scalable representation of the reference's dense N x N `k_hop_mask`
    * (networkframe.py:1279-1307; representation diverges, results match).
    * Self-pairs excluded when dropSelf (the mask's zeroed diagonal,
    * networkframe.py:1434-1435). Per-level distinct caps the blowup.
    *
    * `degreeCap` is the power-law escape hatch for 100 TB graphs
    * (SURVEY §7.4): when set, every node's expansion adjacency keeps only
    * its `cap` smallest-id out-neighbors (deterministic, per-source
    * WindowGroupLimit — a keyed top-k, never a global sort), so a
    * celebrity hub contributes O(cap^k) pairs instead of O(deg^k).
    * DOCUMENTED DIVERGENCE when capped: the result is a deterministic
    * SUBSET of the exact <= k-hop reachability (paths routed only through
    * kept adjacency); with the cap at or above the max degree it is
    * exactly the uncapped output.
    */
  def kHopPairs(nf: NetworkFrame, k: Int, directed: Boolean = false,
                dropSelf: Boolean = true,
                degreeCap: Option[Int] = None): DataFrame = withoutConstraintPropagation(nf.edges) {
    require(k >= 1, "k must be >= 1")
    require(degreeCap.forall(_ >= 1), "degreeCap must be >= 1 when set")
    val e0 = if (directed) nf.edges.select(col("source"), col("target"))
             else nf.symmetrizedEdges
    val eDedup = e0.distinct()
    val one = degreeCap.fold(eDedup) { cap =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("target")
      eDedup.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= cap).drop("rn")
    }.localCheckpointCapped()
    var pairs = one.select(col("source").as("id"), col("target").as("neighbor"))
    var level = one
    for (_ <- 2 to k) {
      level = level.join(
          one.select(col("source").as("target"), col("target").as("next")),
          Seq("target"))
        .select(col("source"), col("next").as("target")).distinct()
        .localCheckpointCapped()
      pairs = pairs.union(level.select(col("source").as("id"), col("target").as("neighbor")))
        .distinct().localCheckpointCapped()
    }
    if (dropSelf) pairs.filter(col("id") =!= col("neighbor")) else pairs
  }

  /** Aggregate node features over each node's <= k-hop neighborhood
    * (networkframe.py:1332-1511): output columns `{col}_neighbor_{agg}`.
    * Pair table join + one hash aggregation replaces the reference's dense
    * mask matmul; `stddev_samp` replaces its hand-rolled shifted variance
    * (networkframe.py:1466-1498). Spark aggs ignore nulls natively, matching
    * the reference's fillna(0)+notna-divisor emulation (:1440-1447).
    * NOTE: std works standalone here — the reference's std-only NameError
    * (networkframe.py:1483) is an acknowledged bug we do not replicate.
    */
  def kHopAggregation(nf: NetworkFrame, k: Int,
                      aggregations: Seq[String] = Seq("mean"),
                      directed: Boolean = false,
                      dropSelf: Boolean = true,
                      columns: Option[Seq[String]] = None): DataFrame = {
    val pairs = kHopPairs(nf, k, directed, dropSelf)
    aggregateOverGraph(pairs, nf.nodes, aggregations, columns)
  }

  /** Free-function form over a caller-supplied (id, neighbor) pair table —
    * the exported `aggregate_over_graph` (algorithms.py:9-139). Non-numeric
    * columns are dropped, mirroring select_dtypes (networkframe.py:1394-1396).
    * Nodes with an empty neighborhood keep null aggregates.
    */
  def aggregateOverGraph(pairs: DataFrame, nodes: DataFrame,
                         aggregations: Seq[String] = Seq("mean"),
                         columns: Option[Seq[String]] = None): DataFrame = {
    val numericCols = columns.getOrElse(
      nodes.schema.fields.collect {
        case f if f.name != "id" && f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
          f.name
      }.toSeq)
    val feats = nodes.select((col("id").as("neighbor") +: numericCols.map(col)): _*)
    val joined = pairs.join(feats, Seq("neighbor"))
    val aggs = for { c <- numericCols; a <- aggregations }
      yield NetworkFrame.namedAgg(a, col(c)).as(s"${c}_neighbor_$a")
    val out = joined.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    // left join back so nodes with no neighbors appear with nulls
    nodes.select(col("id")).join(out, Seq("id"), "left_outer")
  }

  /** Spectral node ordering (networkframe.py:1540-1549): order nodes by the
    * leading eigenvector of the symmetrized weighted adjacency, computed by
    * distributed power iteration — v <- (A + A^T) v, renormalized — instead
    * of driver-resident eigsh. Each iteration: one join + one aggregation.
    *
    * Fully deterministic (partitioning- and engine-independent): weights are
    * quantized to long cents, scores to longs at scale 1e6, the matvec
    * accumulates in DECIMAL(38,0) (exact, order-independent), and each round
    * renormalizes by the MAX score (exact integer max + integral division) —
    * power iteration is scale-invariant, so max-normalization converges to
    * the same ordering as L2 while avoiding any floating-point accumulation.
    * The start vector is all-ones and A is non-negative, so scores stay
    * non-negative (Perron) — no eigenvector sign ambiguity. Each round is a
    * [[pushSum]] and a [[renorm]] whose max runs over the nodes alone.
    */
  def sortSpectral(nf: NetworkFrame, weightCol: String = "weight",
                   iterations: Int = 30): DataFrame = withoutConstraintPropagation(nf.edges) {
    val sym = nf.edges.select(col("source"), col("target"),
        col(weightCol).cast("decimal(18,2)").as("w"))
      .union(nf.edges.select(col("target").as("source"), col("source").as("target"),
        col(weightCol).cast("decimal(18,2)").as("w")))
      .groupBy("source", "target")
      .agg((sum("w") * 100).cast("long").as("wq"))
      .localCheckpointCapped()
    var v = nf.nodes.select(col("id"), lit(1000000L).as("q")).localCheckpointCapped()
    for (_ <- 1 to iterations) {
      // wq <= ~1e8 cents, q <= 1e6 -> per-term product fits long
      val full = nf.nodes.select(col("id"))
        .join(pushSum(sym, v, "target", "source", col("wq") * col("q")), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("s"), lit(0).cast("decimal(38,0)")).as("s"))
        .localCheckpointCapped()
      v = renorm(full, full)
    }
    nf.nodes.join(v.withColumnRenamed("q", "qs"), Seq("id"), "left_outer")
      .orderBy(col("qs"), col("id"))
  }

  /** Deterministic quantized PageRank — not in the reference (which stops at
    * connectivity), but the canonical importance score for graph-shaped
    * training data. [[personalizedPowerIteration]] from S DIV n on every
    * node over the distinct edges; dangling mass is dropped, and a frame
    * without nodes gives an empty result. Replayed by the q_pagerank oracle.
    */
  def pageRank(nf: NetworkFrame, iterations: Int = 10, damping: Int = 85): DataFrame =
    personalizedPowerIteration(nf.nodes, unitWeights(nf.edges), uniformRestart(nf),
      conserveDangling = false, iterations, damping)

  /** Mass-conserving PageRank: like `pageRank`, but dangling nodes' damped
    * mass spreads uniformly instead of being dropped — the textbook
    * stochastic-matrix variant (`pageRank` matches the reference's
    * mass-dropping behavior). Replayed by the q_pagerank_cons oracle.
    */
  def pageRankConserving(nf: NetworkFrame, iterations: Int = 10,
                         damping: Int = 85): DataFrame =
    personalizedPowerIteration(nf.nodes, unitWeights(nf.edges), uniformRestart(nf),
      conserveDangling = true, iterations, damping)

  /** Weighted PageRank: mass ships in proportion to cent-quantized edge
    * weight ([[centWeights]], zero-weight pairs dropped); sources with no
    * positive weight ship nothing, as in `pageRank`. Replayed by the
    * q_pagerank_weighted oracle.
    */
  def pageRankWeighted(nf: NetworkFrame, weightCol: String,
                       iterations: Int = 10, damping: Int = 85): DataFrame =
    personalizedPowerIteration(nf.nodes,
      centWeights(nf, weightCol, symmetric = false).filter(col("w") > 0),
      uniformRestart(nf), conserveDangling = false, iterations, damping)

  /** Personalized PageRank: ALL teleport mass returns to the seed node —
    * the proximity score behind node recommendation. A seed set of one;
    * nodes unreachable from the seed score exactly 0, so the output is
    * effectively sparse. Replayed by the q_ppr oracle.
    */
  def personalizedPageRank(nf: NetworkFrame, seedId: Any,
                           iterations: Int = 10, damping: Int = 85): DataFrame =
    personalizedPageRankMulti(nf, Seq(seedId), iterations, damping)

  /** Total quantized PageRank mass S: every score is an integer share of it. */
  private val PageRankMass = 1000000000000L

  /** S DIV n on every node (one count job); 0 on a frame without nodes. */
  private def uniformRestart(nf: NetworkFrame): Column = {
    val n = nf.nodes.count()
    lit(if (n == 0) 0L else PageRankMass / n)
  }

  /** The one quantized power iteration behind every PageRank variant,
    * integral so a DuckDB oracle replays it bit for bit. `edges` is
    * (source, target, w > 0); `restart` gives each node's teleport mass
    * p(v) from `id`, and qs starts at p(v). Each round a node ships
    * (qs * w) DIV wt along each out-edge (wt: its summed out-weight; the
    * remainder stays behind), in long arithmetic when w = 1 and in
    * DECIMAL(38,0), which holds qs * w, otherwise — so unit weights skip
    * per-edge BigDecimal work. Received mass m sums in DECIMAL(38,0), and
    * qs' = ((100 - d) * p(v) + d * m) DIV 100. `conserveDangling` adds the
    * dangling nodes' mass DIV n to every m, from a broadcast one-row
    * aggregate (no driver action). Per round one join + one aggregation
    * shuffle, checkpointed. Returns the node columns plus qs, by
    * (qs desc, id).
    */
  private def personalizedPowerIteration(nodes: DataFrame, edges: DataFrame, restart: Column,
                                         conserveDangling: Boolean, iterations: Int,
                                         damping: Int): DataFrame =
      withoutConstraintPropagation(edges) {
    val e = edges.localCheckpointCapped()
    val wt = e.groupBy("source").agg(sum("w").as("wt")).localCheckpointCapped()
    val p = nodes.select(col("id"), restart.as("p"))
    var v = p.select(col("id"), col("p").as("qs")).localCheckpointCapped()
    for (_ <- 1 to iterations) {
      val m = e.join(v.withColumnRenamed("id", "source"), Seq("source"))
        .join(wt, Seq("source"))
        .select(col("target").as("id"),
          expr("CAST(IF(w = 1, qs DIV wt, (CAST(qs AS DECIMAL(38,0)) * w) DIV wt) " +
            "AS DECIMAL(38,0))").as("c"))
        .groupBy("id").agg(sum("c").as("m"))
      val received = p.join(m, Seq("id"), "left_outer")
      val (in, spread) = if (!conserveDangling) (received, "") else {
        val dangling = v.join(wt.withColumnRenamed("source", "id"), Seq("id"), "left_outer")
          .agg(coalesce(sum(when(col("wt").isNull, col("qs").cast("decimal(38,0)"))),
            lit(0).cast("decimal(38,0)")).as("dang"), count(lit(1)).as("n"))
        (received.crossJoin(broadcast(dangling)), " + dang DIV n")
      }
      v = in.selectExpr("id", s"CAST(((100 - $damping) * p + $damping * " +
          s"(coalesce(m, CAST(0 AS DECIMAL(38,0)))$spread)) DIV 100 AS BIGINT) AS qs")
        .localCheckpointCapped()
    }
    nodes.join(v, Seq("id"), "left_outer").orderBy(desc("qs"), asc("id"))
  }

  /** Sampled Brandes betweenness, integer-quantized: from the k smallest
    * node ids, run one simultaneous multi-source BFS that also counts
    * shortest paths (sigma, exact decimal), then accumulate dependencies
    * level by level backward with the quantized rule
    * delta(v) = sum over shortest-path successors w of
    * (sigma_v * (Q + delta_w)) DIV sigma_w, Q = 1e6 — integral division
    * per term makes the accumulation deterministic in any engine (a
    * faithful quantization of Brandes' delta = sigma_v/sigma_w *
    * (1 + delta_w)). Output btw_q(v) = the summed dependency of v over the
    * sampled sources, scaled by Q; exact betweenness needs all-sources —
    * sampling is the standard estimator and the only shape at 100 TB.
    * Forward: one frontier join + one (seed, node) sigma aggregation per
    * level. Backward: one successor join per level. Rounds = 2 x BFS
    * depth, node-sized state throughout.
    */
  def betweennessSampled(nf: NetworkFrame, k: Int = 8,
                         maxDepth: Int = 8): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    require(k >= 1 && maxDepth >= 1, "need at least one seed and one hop")
    val Q = 1000000L
    val D38 = "decimal(38,0)"
    val e = nf.symmetrizedEdges.distinct().localCheckpointCapped()
    val seeds = nf.nodes.select(col("id")).orderBy("id").limit(k)
      .select(col("id").as("seed"), col("id"), lit(1).cast(D38).as("sigma"))
      .localCheckpointCapped()
    var levels = List(seeds) // deepest level first once built
    var visited = seeds.select("seed", "id").localCheckpointCapped()
    var d = 0
    var done = false
    while (d < maxDepth && !done) {
      val nxt = e.join(levels.head.withColumnRenamed("id", "source"), Seq("source"))
        .select(col("seed"), col("target").as("id"), col("sigma"))
        .join(visited, Seq("seed", "id"), "left_anti")
        .groupBy("seed", "id").agg(sum("sigma").cast(D38).as("sigma"))
        .localCheckpointCapped()
      if (nxt.isEmpty) done = true
      else {
        levels = nxt :: levels
        // free the superseded visited set once the union has materialized:
        // peak forward-pass storage stays O(levels + one visited), not
        // O(levels + depth visited chains)
        val nv = visited.union(nxt.select("seed", "id")).localCheckpointCapped()
        unpersistCheckpoint(visited)
        visited = nv
        d += 1
      }
    }
    // the backward pass never reads the visited set
    unpersistCheckpoint(visited)
    var above: DataFrame = null // (seed, id, sigma, delta) one level deeper
    var acc: DataFrame = null
    for (lvl <- levels) { // deepest -> level 0
      val withDelta =
        if (above == null)
          lvl.select(col("seed"), col("id"), col("sigma"),
            lit(0).cast(D38).as("delta"))
        else {
          val contrib = e
            .join(above.select(col("seed"), col("id").as("target"),
              col("sigma").as("sw"), col("delta").as("dw")), Seq("target"))
            .select(col("seed"), col("source").as("id"), col("sw"), col("dw"))
          val sums = lvl.join(contrib, Seq("seed", "id"))
            .select(col("seed"), col("id"),
              expr(s"CAST((sigma * ($Q + dw)) DIV sw AS $D38)").as("t"))
            .groupBy("seed", "id").agg(sum("t").cast(D38).as("delta"))
          lvl.join(sums, Seq("seed", "id"), "left_outer")
            .select(col("seed"), col("id"), col("sigma"),
              coalesce(col("delta"), lit(0).cast(D38)).as("delta"))
        }
      val wd = withDelta.localCheckpointCapped()
      val newAcc =
        if (acc == null) wd.select("seed", "id", "delta")
        else acc.union(wd.select("seed", "id", "delta")).localCheckpointCapped()
      // wd and newAcc have materialized: the deeper level (`above`), this
      // frontier (`lvl`), and the superseded accumulator are all fully
      // consumed — free them so only O(1) level frames stay alive instead
      // of the whole forward history (unpersistCheckpoint no-ops on the
      // first lazy-view accumulator)
      if (above != null) unpersistCheckpoint(above)
      unpersistCheckpoint(lvl)
      if (acc != null) unpersistCheckpoint(acc)
      acc = newAcc
      above = wd
    }
    nf.nodes.select(col("id"))
      .join(acc.filter(col("id") =!= col("seed"))
          .groupBy("id").agg(sum("delta").cast(D38).as("b")),
        Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("b"), lit(0).cast(D38)).cast("long").as("btw_q"))
  }

  /** Sampled closeness centrality: for each node, the number of sampled
    * seeds that reach it and their total hop distance, with the classic
    * closeness estimate quantized as n_reached * 1e6 DIV dist_sum (0 when
    * nothing reaches it). Shares the one simultaneous multi-source BFS of
    * `harmonicCentrality` — the sum-of-distances aggregate instead of the
    * sum-of-inverses.
    */
  def closenessCentrality(nf: NetworkFrame, k: Int = 8,
                          maxDepth: Int = 12): DataFrame =
    closenessFromDistances(nf.nodes, multiSourceBfsDistances(nf, k, maxDepth))

  /** The k-seed simultaneous multi-source BFS distance table
    * (seed, id, d): seeds are the k smallest node ids, distances are hop
    * counts on the symmetrized edges, bounded by `maxDepth`. THE shared
    * input of `closenessCentrality`, `harmonicCentrality`, `graphVoronoi`
    * and `eccentricities`: derive it once, persist it, and fan the four
    * `*FromDistances` aggregates out from it. One [[frontierBfs]] keyed on
    * (seed, node), so k seeds cost one loop.
    */
  def multiSourceBfsDistances(nf: NetworkFrame, k: Int = 8,
                              maxDepth: Int = 12): DataFrame = {
    require(k >= 1 && maxDepth >= 1, "need at least one seed and one hop")
    frontierBfs(nf.symmetrizedEdges,
      nf.nodes.select(col("id")).orderBy("id").limit(k).select(col("id").as("seed"), col("id")),
      maxDepth)._1
  }

  /** Closeness aggregate over a precomputed `multiSourceBfsDistances`
    * frame — one groupBy + one left join, no BFS.
    */
  def closenessFromDistances(nodes: DataFrame, dist: DataFrame): DataFrame = {
    nodes.select(col("id"))
      .join(dist.filter(col("d") > 0)
          .groupBy("id").agg(count(lit(1)).as("n_reached"),
            sum("d").cast("decimal(38,0)").cast("long").as("dist_sum")),
        Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("dist_sum"), lit(0L)).as("dist_sum"),
        expr("if(coalesce(dist_sum, 0) = 0, CAST(0 AS BIGINT), coalesce(n_reached, 0) * 1000000 div dist_sum)")
          .as("closeness_q"))
  }

  /** Graph Voronoi partition: assign every node to its nearest seed by
    * unweighted hop distance (ties to the smaller seed id), seeds = the k
    * smallest node ids — BFS-based graph partitioning, the layout primitive
    * for locality-aware sharding of a 100 TB edge table. One simultaneous
    * multi-source BFS keyed on (seed, node) (the `harmonicCentrality`
    * loop) followed by a per-node argmin; unreached nodes keep a NULL seed.
    */
  def graphVoronoi(nf: NetworkFrame, k: Int = 8, maxDepth: Int = 12): DataFrame =
    voronoiFromDistances(nf.nodes, multiSourceBfsDistances(nf, k, maxDepth))

  /** Voronoi aggregate over a precomputed `multiSourceBfsDistances` frame. */
  def voronoiFromDistances(nodes: DataFrame, dist: DataFrame): DataFrame = {
    val best = dist.groupBy("id")
      .agg(min(struct(col("d"), col("seed"))).as("b"))
      .select(col("id"), col("b.seed").as("seed"), col("b.d").as("dist"))
    nodes.select(col("id")).join(best, Seq("id"), "left_outer")
  }

  /** Multi-seed personalized PageRank: teleport mass splits evenly across
    * the seed SET (S DIV k per distinct seed; a repeated seed counts once)
    * — the shape GNN mini-batch sampling and seed-set expansion use.
    * Replayed by the q_ppr_multi oracle.
    */
  def personalizedPageRankMulti(nf: NetworkFrame, seeds: Seq[Any],
                                iterations: Int = 10,
                                damping: Int = 85): DataFrame = {
    require(seeds.nonEmpty, "at least one seed")
    val distinct = seeds.distinct
    val restart = when(col("id").isin(distinct: _*), lit(PageRankMass / distinct.length))
      .otherwise(lit(0L))
    personalizedPowerIteration(nf.nodes, unitWeights(nf.edges), restart,
      conserveDangling = false, iterations, damping)
  }

  /** Local clustering coefficient: per node, the fraction of its neighbor
    * pairs that are themselves connected — 2*tri(v) / (deg(v)*(deg(v)-1)),
    * emitted as the millionths-quantized `lcc_q` (integral division, exact
    * in any engine) alongside the raw degree and triangle counts. Triangle
    * discovery reuses the canonical-edge three-way join of `triangleCount`
    * (each triangle credited to all three corners); degree is the
    * undirected simple-graph neighbor count. Two join shuffles + two aggs —
    * the same scale shape as the global count.
    */
  def clusteringCoefficient(nf: NetworkFrame): DataFrame = {
    val ce = nf.edges.select(
        least(col("source"), col("target")).as("s"),
        greatest(col("source"), col("target")).as("t"))
      .filter(col("s") =!= col("t")).distinct().localCheckpointCapped()
    val tris = ce.as("ab")
      .join(ce.as("bc"), col("ab.t") === col("bc.s"))
      .join(ce.as("ac"),
        col("ac.s") === col("ab.s") && col("ac.t") === col("bc.t"))
      .select(col("ab.s").as("a"), col("ab.t").as("b"), col("bc.t").as("c"))
    val triPerNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    val deg = ce.select(col("s").as("id")).union(ce.select(col("t").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    nf.nodes.select(col("id"))
      .join(deg, Seq("id"), "left_outer")
      .join(triPerNode, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc_q", when(col("deg") >= 2,
        expr("(2 * tri * 1000000) div (deg * (deg - 1))")).otherwise(lit(0L)))
  }

  /** Deterministic "random" walks for embedding-corpus generation
    * (DeepWalk/node2vec-style input): one walk per node, `steps` hops over
    * the symmetrized simple graph, where step i of walk w moves to neighbor
    * index md5(w ":" i) mod deg(cur) in the target-sorted adjacency —
    * a hash replaces the RNG, so the corpus is a pure function of the graph
    * (reproducible across engines, reruns, and partitionings; the DuckDB
    * oracle replays it). Nodes with no neighbors stay put. Per step: one
    * join against the ordered adjacency — O(steps) rounds, walk-count-sized
    * state, no adjacency materialization on the driver.
    */
  def randomWalks(nf: NetworkFrame, steps: Int): DataFrame = withoutConstraintPropagation(nf.edges) {
    require(steps >= 1, "at least one step")
    val sym = simpleEdges(nf)
    val adj = adjacencyIndex(sym).localCheckpointCapped()
    val deg = sym.groupBy("source").agg(count(lit(1)).as("deg")).localCheckpointCapped()
    var cur = nf.nodes.select(col("id").as("walk_id"), col("id").as("cur"))
      .localCheckpointCapped()
    var out = cur.withColumn("step", lit(0))
    for (i <- 1 to steps) {
      val pick = conv(substring(md5(concat(col("walk_id").cast("string"),
          lit(":"), lit(i.toString))), 1, 8), 16, 10).cast("long")
      val stepped = cur
        .join(deg.withColumnRenamed("source", "cur"), Seq("cur"), "left_outer")
        .withColumn("nidx", (pick % col("deg")).cast("int"))
        .join(adj.select(col("source").as("cur"), col("nidx"), col("target")),
          Seq("cur", "nidx"), "left_outer")
        .select(col("walk_id"), coalesce(col("target"), col("cur")).as("cur"))
        .localCheckpointCapped()
      cur = stepped
      out = out.union(cur.withColumn("step", lit(i)))
    }
    out.select(col("walk_id"), col("step"), col("cur").as("node"))
  }

  /** Weight-proportional deterministic random walks: at step i the walk at
    * node v draws r = md5(walk_id ":" i) mod total_weight(v) and moves to
    * the neighbor whose cent-quantized cumulative weight range contains r —
    * integer-exact importance sampling, reproducible at any parallelism
    * and replayable hop-for-hop by the oracle. The adjacency is one array
    * row per source (targets sorted, prefix-summed weights, both built by
    * codegen'd higher-order functions), so each step is ONE equi-join on
    * the current node plus a row-local range scan — no per-step shuffle
    * amplification through hub degrees. For mega-hubs whose neighbor array
    * exceeds a row budget, pre-cap degree upstream (the `linkPrediction`
    * hub-cap argument); isolated / zero-weight nodes self-loop.
    */
  def weightedRandomWalks(nf: NetworkFrame, weightCol: String,
                          steps: Int): DataFrame = withoutConstraintPropagation(nf.edges) {
    require(steps >= 1, "at least one step")
    val wq0 = floor(col(weightCol).cast("double") * 100).cast("long")
    val sym = nf.edges.select(col("source"), col("target"), wq0.as("wq"))
      .union(nf.edges.select(col("target").as("source"),
        col("source").as("target"), wq0.as("wq")))
      .filter(col("source") =!= col("target"))
      .groupBy("source", "target").agg(sum("wq").as("wq"))
      .filter(col("wq") > 0)
    val adj = sym.groupBy("source")
      .agg(array_sort(collect_list(struct(col("target"), col("wq")))).as("nbrs"))
      .select(col("source"),
        expr("transform(nbrs, n -> n.target)").as("tgts"),
        expr("""aggregate(transform(nbrs, n -> n.wq),
                 cast(array() as array<bigint>),
                 (acc, x) -> array_append(acc,
                   x + if(size(acc) = 0, cast(0 as bigint),
                          element_at(acc, size(acc)))))""").as("cums"))
      .withColumn("tot", element_at(col("cums"), size(col("cums"))))
      .localCheckpointCapped()
    var cur = nf.nodes.select(col("id").as("walk_id"), col("id").as("cur"))
      .localCheckpointCapped()
    var out = cur.withColumn("step", lit(0))
    for (i <- 1 to steps) {
      val pick = conv(substring(md5(concat(col("walk_id").cast("string"),
          lit(":"), lit(i.toString))), 1, 8), 16, 10).cast("long")
      val stepped = cur
        .join(adj.withColumnRenamed("source", "cur"), Seq("cur"), "left_outer")
        .withColumn("r", pick % col("tot"))
        // the chosen neighbor is the first whose cumulative weight exceeds
        // r: count the prefix sums <= r (row-local codegen'd scan)
        .withColumn("nxt",
          expr("element_at(tgts, cast(size(filter(cums, c -> c <= r)) + 1 as int))"))
        .select(col("walk_id"), coalesce(col("nxt"), col("cur")).as("cur"))
        .localCheckpointCapped()
      cur = stepped
      out = out.union(cur.withColumn("step", lit(i)))
    }
    out.select(col("walk_id"), col("step"), col("cur").as("node"))
  }

  /** Target-sorted adjacency with a dense 0-based per-source neighbor index
    * `nidx` — semantically `row_number() OVER (PARTITION BY source ORDER BY
    * target) - 1`, but hub-proof: a range-repartitioned global sort +
    * `zipWithIndex` assigns a global position (no single task ever sorts a
    * mega-hub's whole adjacency; each range partition holds a slice), then
    * one map-side-combinable min-aggregate per source turns global position
    * into the per-source rank. Output is a pure function of the edge set,
    * independent of partitioning. Input must be distinct (source, target).
    */
  def adjacencyIndex(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = edges.sparkSession
    val sorted = edges.select(col("source"), col("target"))
      .repartitionByRange(col("source"), col("target"))
      .sortWithinPartitions(col("source"), col("target"))
    val schema = StructType(sorted.schema.fields :+
      StructField("gpos", LongType, false))
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    val g = spark.createDataFrame(rdd, schema)
    val base = g.groupBy("source").agg(min("gpos").as("base"))
    g.join(base, Seq("source"))
      .select(col("source"), col("target"),
        (col("gpos") - col("base")).cast("int").as("nidx"))
  }

  /** Degree assortativity (Pearson correlation of endpoint degrees over the
    * symmetrized simple graph's directed edge list — Newman's r). Every
    * accumulation is an exact integer (decimal sums of degree products);
    * doubles appear only in the final correlation expression over identical
    * operands, so the scalar is engine-exact. Two aggregations + one
    * enrichment join — one number from any graph size.
    */
  def degreeAssortativity(nf: NetworkFrame): DataFrame = {
    val sym = simpleEdges(nf)
    val deg = sym.groupBy(col("source").as("id")).agg(count(lit(1)).as("d"))
    val pairs = sym
      .join(deg.select(col("id").as("source"), col("d").as("x")), Seq("source"))
      .join(deg.select(col("id").as("target"), col("d").as("y")), Seq("target"))
    pairs.agg(
        count(lit(1)).as("m"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sx2"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("sy2"))
      .selectExpr("m",
        """CAST((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(m AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(m AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS DOUBLE) AS assortativity""")
  }

  /** Exact global triangle count over the undirected simple graph: edges
    * canonicalized to (min, max) endpoints, then the standard three-way
    * equi-join counts each triangle exactly once (a<b<c ordering falls out
    * of the canonical form). Two shuffle joins on node ids — the relational
    * node-iterator; at extreme skew, pre-order endpoints by degree so hub
    * nodes close fewer wedges (documented, not needed at current SFs).
    */
  def triangleCount(nf: NetworkFrame): DataFrame = {
    val ce = nf.edges.select(
        least(col("source"), col("target")).as("s"),
        greatest(col("source"), col("target")).as("t"))
      .filter(col("s") =!= col("t")).distinct().localCheckpointCapped()
    ce.as("ab")
      .join(ce.as("bc"), col("ab.t") === col("bc.s"))
      .join(ce.as("ac"),
        col("ac.s") === col("ab.s") && col("ac.t") === col("bc.t"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Common-neighbor link prediction over the undirected simple graph:
    * for every node pair (a < b) sharing at least one neighbor, the
    * common-neighbor count and the resource-allocation index of Zhou et al.
    * (sum over common neighbors z of 1/deg(z)), quantized to an exact long
    * (1e12 DIV deg — integer math so the score is partitioning-independent
    * and oracle-matchable; ln-based Adamic-Adar would differ in final ulps
    * across engines, and the RA ranking is the same monotone family).
    *
    * Plan shape: adjacency self-join keyed on the shared neighbor z — the
    * inverted-index pattern, never the O(n^2) pair space. `hubCap` drops
    * wedges through neighbors with degree > cap: a hub of degree d emits
    * d^2/2 pairs while contributing at most 1e12/d to each score, so the
    * cap bounds the blowup at 100 TB exactly like the shingle
    * document-frequency cap in [[graft.functions.Dedup.ngramJaccardPairs]].
    */
  def linkPrediction(nf: NetworkFrame, hubCap: Int = 1000): DataFrame = {
    val adj = simpleEdges(nf).select(col("source").as("z"), col("target").as("n"))
    val kept = adj
      .withColumn("d", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("z")))
      .filter(col("d") <= hubCap)
      .localCheckpointCapped()
    kept.as("a")
      .join(kept.as("b"), col("a.z") === col("b.z") && col("a.n") < col("b.n"))
      .groupBy(col("a.n").as("id_a"), col("b.n").as("id_b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000000000 DIV a.d")).cast("long").as("ra_q"))
  }

  /** SCC condensation DAG — the classic consumer of strong-component
    * labels: contract every SCC to its (min-id) representative and emit the
    * distinct inter-component edges with multiplicity. The result is
    * acyclic by construction. One labels fixpoint + two label joins on the
    * edge table + one aggregation; reuse a precomputed labels frame via the
    * second overload when several condensation consumers run.
    */
  def condensationGraph(nf: NetworkFrame): DataFrame =
    condensationFromLabels(nf, strongComponentLabels(nf))

  def condensationFromLabels(nf: NetworkFrame, labels: DataFrame): DataFrame =
    nf.edges.select(col("source"), col("target")).distinct()
      .join(labels.select(col("id").as("source"), col("component").as("cs")), Seq("source"))
      .join(labels.select(col("id").as("target"), col("component").as("ct")), Seq("target"))
      .filter(col("cs") =!= col("ct"))
      .groupBy(col("cs").as("source"), col("ct").as("target"))
      .agg(count(lit(1)).as("n_edges"))

  /** Deterministic Luby maximal independent set: each round every
    * undecided node draws the key md5(id ":" round) suffixed with its
    * zero-padded id (so keys are unique and totally ordered), joins the
    * MIS iff its key is strictly smaller than every undecided neighbor's,
    * and MIS members' neighbors drop out. Fixed `rounds` keeps the result
    * a pure function of the graph, replayable by an unrolled oracle; Luby
    * decides every node in O(log n) rounds w.h.p., and any leftovers
    * surface as status = 'undecided' instead of an unbounded loop. Per
    * round: one key join + one min-aggregate + semi/anti joins — node-sized
    * state, the componentLabels cost envelope.
    */
  def maximalIndependentSet(nf: NetworkFrame, rounds: Int = 6): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    require(rounds >= 1, "at least one round")
    val sym = simpleEdges(nf).localCheckpointCapped()
    var undecided = nf.nodes.select(col("id")).localCheckpointCapped()
    // round-16 job-count trims (output-identical): the keyed projection is
    // a narrow md5 map over the checkpointed `undecided` — recomputing it
    // in its two consumers is cheaper than a materialization job per
    // round; and the decided rows are consumed NOWHERE inside the loop,
    // so they accumulate in a buffer and union+checkpoint once at the end
    // instead of rewriting the whole result frame every round (the
    // inMis/outNbrs checkpoints they reference stay alive until then).
    val decidedParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to rounds) {
      val key = concat(md5(concat(col("id").cast("string"), lit(s":$i"))),
        lit("-"), lpad(col("id").cast("string"), 20, "0"))
      val keyed = undecided.select(col("id"), key.as("k"))
      val nbrMin = sym
        .join(keyed.select(col("id").as("source"), col("k").as("nk")), Seq("source"))
        .join(undecided.withColumnRenamed("id", "target"), Seq("target"), "left_semi")
        .groupBy(col("target").as("id")).agg(min("nk").as("mnk"))
      val inMis = keyed.join(nbrMin, Seq("id"), "left_outer")
        .filter(col("mnk").isNull || col("k") < col("mnk"))
        .select("id").localCheckpointCapped()
      val outNbrs = sym
        .join(inMis.withColumnRenamed("id", "source"), Seq("source"), "left_semi")
        .select(col("target").as("id")).distinct()
        .join(inMis, Seq("id"), "left_anti")
        .join(undecided, Seq("id"), "left_semi")
        .localCheckpointCapped()
      decidedParts += inMis
        .select(col("id"), lit("in").as("status"), lit(i).as("decided_round"))
        .union(outNbrs
          .select(col("id"), lit("out").as("status"), lit(i).as("decided_round")))
      undecided = undecided.join(inMis, Seq("id"), "left_anti")
        .join(outNbrs, Seq("id"), "left_anti").localCheckpointCapped()
    }
    val result = decidedParts.reduce(_ union _).localCheckpointCapped()
    val leftover = undecided.select(col("id"),
      lit("undecided").as("status"), lit(null).cast("int").as("decided_round"))
    result.union(leftover)
  }

  /** k-truss via fixed-round edge peeling — the edge-level counterpart of
    * `kCore`: repeatedly drop every canonical undirected edge supported by
    * fewer than k-2 triangles in the surviving subgraph. `rounds` is fixed
    * (not run-to-convergence) so the result is a pure function of the input
    * and an unrolled-CTE oracle can replay it; real graphs converge in a
    * handful of rounds (each round strictly shrinks the edge set). Per
    * round: one wedge join + one canonical-pair count shuffle — the
    * `triangleCount` plan run under peeling. Returns surviving (s, t,
    * support) with the support measured in the final subgraph. Strips
    * self-loops itself rather than through [[simpleEdges]]: it
    * canonicalizes to (least, greatest) before its one distinct, and the
    * helper's distinct would add a second.
    */
  def kTruss(nf: NetworkFrame, k: Int, rounds: Int = 4): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    require(k >= 2, "k must be >= 2")
    require(rounds >= 1, "at least one peel round")
    def support(ce: DataFrame): DataFrame = {
      val tri = ce.as("ab").join(ce.as("bc"), col("ab.t") === col("bc.s"))
        .join(ce.as("ac"),
          col("ac.s") === col("ab.s") && col("ac.t") === col("bc.t"))
        .select(col("ab.s").as("a"), col("ab.t").as("b"), col("bc.t").as("c"))
      tri.select(col("a").as("s"), col("b").as("t"))
        .union(tri.select(col("b").as("s"), col("c").as("t")))
        .union(tri.select(col("a").as("s"), col("c").as("t")))
        .groupBy("s", "t").agg(count(lit(1)).as("sup"))
    }
    var ce = nf.symmetrizedEdges.filter(col("source") =!= col("target"))
      .select(least(col("source"), col("target")).as("s"),
        greatest(col("source"), col("target")).as("t"))
      .distinct().localCheckpointCapped()
    for (_ <- 1 to rounds) {
      ce = ce.join(support(ce), Seq("s", "t"), "left_outer")
        .filter(coalesce(col("sup"), lit(0L)) >= k - 2)
        .select("s", "t").localCheckpointCapped()
    }
    ce.join(support(ce), Seq("s", "t"), "left_outer")
      .select(col("s"), col("t"), coalesce(col("sup"), lit(0L)).as("support"))
  }

  /** Neighborhood Jaccard similarity for candidate node pairs — the graph
    * analogue of document n-gram Jaccard: J(a,b) = |N(a) n N(b)| /
    * |N(a) u N(b)| over undirected neighbor sets, quantized at 1e6,
    * emitted only for pairs sharing at least one neighbor. Candidate
    * generation is the same hub-capped wedge join as `linkPrediction` (a
    * degree-d hub closes d^2/2 wedges while carrying almost no similarity
    * signal — the Zipf-head bound again), and degrees are taken over the
    * same capped adjacency, so the output is a true Jaccard of the
    * capped neighbor sets (mirroring `ngramJaccardPairs`' df-cap
    * semantics).
    */
  def neighborhoodJaccard(nf: NetworkFrame, hubCap: Int = 1000): DataFrame = {
    val adj = simpleEdges(nf).select(col("source").as("z"), col("target").as("n"))
    val kept = adj
      .withColumn("d", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("z")))
      .filter(col("d") <= hubCap)
      .select("z", "n")
      .localCheckpointCapped()
    val deg = kept.groupBy(col("n").as("id")).agg(count(lit(1)).as("dg"))
    kept.as("a")
      .join(kept.as("b"), col("a.z") === col("b.z") && col("a.n") < col("b.n"))
      .groupBy(col("a.n").as("id_a"), col("b.n").as("id_b"))
      .agg(count(lit(1)).as("cn"))
      .join(deg.select(col("id").as("id_a"), col("dg").as("da")), Seq("id_a"))
      .join(deg.select(col("id").as("id_b"), col("dg").as("db")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("cn"),
        expr("cn * 1000000 div (da + db - cn)").as("jaccard_q"))
  }

  /** k-core membership: [[peel]] at threshold k over the distinct,
    * self-loop-free symmetrized edges with weight 1. Fixed `rounds` keep
    * the result a pure function of the input that an unrolled-CTE oracle
    * replays; real graphs converge far sooner. Returns (id, core_deg) for
    * the survivors, degrees re-derived inside the final core.
    */
  def kCore(nf: NetworkFrame, k: Int, rounds: Int = 8): DataFrame = {
    val sym = unitWeights(simpleEdges(nf)).localCheckpointCapped()
    val core = peel(sym, nf.nodes.select("id").localCheckpointCapped(), k, rounds)
    inducedStrength(sym, core).withColumnRenamed("s", "core_deg")
  }

  /** The one threshold-peeling loop: `rounds` times, keep the nodes of
    * `alive` whose [[inducedStrength]] is at least `threshold`. `sym` is
    * (source, target, w) in both directions, checkpointed by the caller so
    * `coreNumbers` shares it across levels. Per round two semi-joins and
    * one sum, checkpointed. Returns the surviving ids: the exact core at
    * convergence, else a superset.
    */
  private def peel(sym: DataFrame, alive: DataFrame, threshold: Long,
                   rounds: Int): DataFrame = withoutConstraintPropagation(sym) {
    var surviving = alive
    for (_ <- 1 to rounds) {
      surviving = inducedStrength(sym, surviving).filter(col("s") >= threshold)
        .select("id").localCheckpointCapped()
    }
    surviving
  }

  /** (id, s): each node's w summed over its `sym` edges inside `alive`, in
    * w's type and returned as a long; nodes without such edges are absent.
    */
  private def inducedStrength(sym: DataFrame, alive: DataFrame): DataFrame =
    induce(sym, alive).groupBy(col("source").as("id"))
      .agg(sum(col("w")).cast("long").as("s"))

  /** Densest-subgraph greedy peeling trace, the 2(1+eps)-approximation of
    * Bahmani/Kumar/Vazirani ("Densest Subgraph in Streaming and MapReduce",
    * PVLDB 5(5), 2012): each round removes every node whose induced degree
    * is at most (1+eps) times the surviving average degree. With eps = 1/2
    * the peel test `d <= 3m/n` becomes `2*d*n <= 3*sum_d` (sum_d = 2m) —
    * pure integer arithmetic, so an unrolled-CTE oracle replays it bit for
    * bit. Each round removes >= 1/3 of surviving nodes, so O(log n) rounds
    * empty any graph; the fixed `rounds` keeps the output a pure function
    * of the input. Returns one row per round with the PRE-peel subgraph
    * stats (round, n_nodes, n_edges, density_ppm = 1e6 * m/n floored); the
    * densest approximate prefix is the max-density row. Per round: one
    * degree aggregation + two semi-joins + a 1-row stats aggregate joined
    * back by crossJoin (1-row broadcast) — the kCore cost envelope, so the
    * 100 TB story is identical: label-table-sized shuffles, O(log n)
    * rounds, lineage cut per round.
    */
  def densestSubgraphTrace(nf: NetworkFrame, rounds: Int = 8): DataFrame = withoutConstraintPropagation(nf.edges) {
    val sym = simpleEdges(nf).localCheckpointCapped()
    var surviving = nf.nodes.select("id").localCheckpointCapped()
    var trace: DataFrame = null
    for (r <- 0 until rounds) {
      val degNZ = induce(sym, surviving)
        .groupBy(col("source").as("id")).agg(count(lit(1)).as("d"))
      val deg = surviving.join(degNZ, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("d"), lit(0L)).as("d"))
        .localCheckpointCapped()
      val stats = deg.agg(count(lit(1)).as("n"),
          coalesce(sum(col("d")), lit(0L)).as("sum_d"))
        .localCheckpointCapped()
      val row = stats.select(lit(r.toLong).as("round"),
        col("n").as("n_nodes"),
        expr("sum_d div 2").as("n_edges"),
        when(col("n") > 0, expr("(sum_d * 500000) div n"))
          .otherwise(lit(0L)).as("density_ppm"))
      trace = if (trace == null) row else trace.union(row)
      surviving = deg.crossJoin(stats)
        .filter(col("d") * col("n") * 2 > col("sum_d") * 3)
        .select("id").localCheckpointCapped()
    }
    trace
  }

  /** One multilevel coarsening step by heavy-edge-style matching (the
    * contraction phase of Karypis/Kumar's multilevel partitioning, SIAM J.
    * Sci. Comput. 20(1), 1998): contract every matched pair from
    * [[maximalMatching]] into a super-node labeled by the pair's min id,
    * then re-aggregate all original edges between distinct super-nodes
    * (parallel edges merge, intra-pair edges vanish). Output:
    * (super_a < super_b, n_merged, total_weight) with the weight summed in
    * DECIMAL (order-independent, so exact at any parallelism). Cost beyond
    * the matching fixpoint: two broadcast-or-shuffle joins mapping
    * endpoints + one aggregation — the node map is node-table-sized, never
    * edge-table-sized, so the step scales exactly like one CC round. A
    * full multilevel stack is this operator iterated to fixpoint.
    */
  def coarsenByMatching(nf: NetworkFrame, rounds: Int = 6,
                        weightCol: String = "weight"): DataFrame = {
    val mates = maximalMatching(nf, rounds)
      .select(col("id"),
        least(col("id"), coalesce(col("partner"), col("id"))).as("snode"))
      .localCheckpointCapped() // node-sized map, referenced by both endpoints
    nf.edges
      .select(col("source"), col("target"),
        col(weightCol).cast("decimal(18,2)").as("__w"))
      .join(mates.select(col("id").as("source"), col("snode").as("ssuper")),
        Seq("source"))
      .join(mates.select(col("id").as("target"), col("snode").as("tsuper")),
        Seq("target"))
      .filter(col("ssuper") =!= col("tsuper"))
      .groupBy(least(col("ssuper"), col("tsuper")).as("super_a"),
        greatest(col("ssuper"), col("tsuper")).as("super_b"))
      .agg(count(lit(1)).as("n_merged"),
        sum(col("__w")).cast("double").as("total_weight"))
  }

  /** node2vec second-order transition table (Grover/Leskovec, KDD 2016):
    * for every walk state (prev -> cur) and every neighbor `next` of
    * `cur`, the biased unnormalized weight alpha is 1/p when next = prev
    * (return), 1 when next is also a neighbor of prev (BFS-ish), 1/q
    * otherwise (DFS-ish). Weights are pre-scaled integers (`wReturn`,
    * `wCommon`, `wFar` = 4/p, 4, 4/q at the default p=4, q=2), and the
    * per-state probability is the floored ppm rational w/sum(w) — exact,
    * replayable in any engine. The wedge space grows as sum(deg(cur)^2),
    * so `hubCap` drops high-degree centers (their transition rows are
    * near-uniform and are the ones a sampler would approximate anyway) —
    * the same discipline as the capped k-hop operator. One self-join on
    * `cur`, one membership left-join on (prev, next), one aggregation.
    */
  def node2vecTransitions(nf: NetworkFrame, hubCap: Int = 4,
                          wReturn: Long = 1L, wCommon: Long = 4L,
                          wFar: Long = 2L): DataFrame = {
    val sym = simpleEdges(nf).localCheckpointCapped()
    val curOk = sym.groupBy(col("source").as("id")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= hubCap).select("id")
    val e1 = sym.join(curOk.withColumnRenamed("id", "target"), Seq("target"), "left_semi")
      .select(col("source").as("prev"), col("target").as("cur"))
    val e2 = sym.select(col("source").as("cur"), col("target").as("next"))
    val weighted = e1.join(e2, Seq("cur"))
      .join(sym.select(col("source").as("prev"), col("target").as("next"),
        lit(1).as("__adj")), Seq("prev", "next"), "left_outer")
      .select(col("prev"), col("cur"), col("next"),
        when(col("next") === col("prev"), wReturn)
          .when(col("__adj").isNotNull, wCommon)
          .otherwise(wFar).as("w_q"))
    val sums = weighted.groupBy(col("prev"), col("cur"))
      .agg(sum(col("w_q")).as("sw"))
    weighted.join(sums, Seq("prev", "cur"))
      .select(col("prev"), col("cur"), col("next"), col("w_q"),
        expr("w_q * 1000000 div sw").as("prob_ppm"))
  }

  /** HITS hubs/authorities (Kleinberg), integer-exact: each iteration sums
    * hub mass into authorities along in-edges, then authority mass into
    * hubs along out-edges, with every pass max-normalized back to the 1e6
    * scale by exact integral division in DECIMAL (power iteration is
    * scale-invariant, so max normalization converges to the same ordering
    * as the usual L2 — the `sortSpectral` technique, keeping the result
    * bit-reproducible at any parallelism). A fixed iteration count makes
    * the output a pure function of the graph, replayable by an unrolled
    * oracle. Per iteration: two [[pushSum]]s, each [[renorm]]ed over its
    * receivers (dangling endpoints included) and checkpointed; state is one
    * score per node per direction.
    */
  def hits(nf: NetworkFrame, iterations: Int = 8): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    require(iterations >= 1, "at least one iteration")
    val e = nf.edges.select(col("source"), col("target")).distinct().localCheckpointCapped()
    val nodes = nf.nodes.select(col("id")).localCheckpointCapped()
    def pass(raw: DataFrame): DataFrame =
      renorm(nodes.join(raw, Seq("id"), "left_outer"), raw).localCheckpointCapped()
    var h = nodes.select(col("id"), lit(1000000L).as("q")).localCheckpointCapped()
    var a: DataFrame = h
    for (_ <- 1 to iterations) {
      a = pass(pushSum(e, h, "source", "target", col("q")))
      h = pass(pushSum(e, a, "target", "source", col("q")))
    }
    nodes
      .join(h.select(col("id"), col("q").as("hub_q")), Seq("id"), "left_outer")
      .join(a.select(col("id"), col("q").as("auth_q")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("hub_q"), lit(0L)).as("hub_q"),
        coalesce(col("auth_q"), lit(0L)).as("auth_q"))
  }

  /** Edge reciprocity of a directed graph: the fraction of distinct
    * non-self directed edges whose reverse edge also exists, quantized as
    * n_reciprocal * 1e6 DIV n_edges. One (source, target)-keyed left join
    * against the reversed edge set plus one global aggregate — no per-node
    * state, so the plan is a single co-partitioned shuffle at any scale.
    * Undefined (empty output sum) on an edgeless graph.
    */
  def reciprocity(nf: NetworkFrame): DataFrame = {
    val e = nf.edges.select(col("source"), col("target"))
      .filter(col("source") =!= col("target")).distinct()
    val rev = e.select(col("target").as("source"), col("source").as("target"))
      .withColumn("m", lit(1L))
    e.join(rev, Seq("source", "target"), "left_outer")
      .agg(count(lit(1)).as("n_edges"),
        coalesce(sum("m"), lit(0L)).as("n_reciprocal"))
      .select(col("n_edges"), col("n_reciprocal"),
        // NULL (not a division error) on an edgeless graph
        expr("if(n_edges = 0, CAST(NULL AS BIGINT), n_reciprocal * 1000000 div n_edges)")
          .as("reciprocity_q"))
  }

  /** Dyad census of a directed graph (Holland-Leinhardt M/A/N): mutual
    * pairs (both directions), asymmetric pairs (exactly one), and null
    * pairs (n-choose-2 minus the connected ones). Derived from one
    * canonical-pair aggregation over distinct non-self edges plus the node
    * count — a single pass, no per-node state.
    */
  def dyadCensus(nf: NetworkFrame): DataFrame = {
    val e = nf.edges.select(col("source"), col("target"))
      .filter(col("source") =!= col("target")).distinct()
    val pairs = e.select(least(col("source"), col("target")).as("s"),
        greatest(col("source"), col("target")).as("t"))
      .groupBy("s", "t").agg(count(lit(1)).as("dirs"))
    val counts = pairs.agg(
      coalesce(sum(when(col("dirs") === 2, 1L).otherwise(0L)), lit(0L)).as("mutual"),
      coalesce(sum(when(col("dirs") === 1, 1L).otherwise(0L)), lit(0L)).as("asym"))
    val n = nf.nodes.select(col("id")).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    counts.crossJoin(n)
      .select(col("n_nodes"), col("mutual"), col("asym"),
        expr("n_nodes * (n_nodes - 1) div 2 - mutual - asym").as("null_pairs"))
  }

  /** Rich-club connectivity at degree threshold k: among nodes with
    * undirected simple degree > k, the realized fraction of possible
    * pairs, quantized at 1e6 (0 when fewer than two rich nodes). One
    * degree pass + one induced-edge count — the standard hub-interconnect
    * diagnostic before trusting any hub-cap parameter.
    */
  def richClub(nf: NetworkFrame, k: Int): DataFrame = {
    val sym = simpleEdges(nf).localCheckpointCapped()
    val rich = sym.groupBy(col("source").as("id")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") > k).select("id")
    val nRich = rich.agg(count(lit(1)).as("n_rich"))
    val eRich = sym
      .join(rich.withColumnRenamed("id", "source"), Seq("source"), "left_semi")
      .join(rich.withColumnRenamed("id", "target"), Seq("target"), "left_semi")
      .select(least(col("source"), col("target")).as("s"),
        greatest(col("source"), col("target")).as("t"))
      .distinct()
      .agg(count(lit(1)).as("e_rich"))
    nRich.crossJoin(eRich)
      .select(col("n_rich"), col("e_rich"),
        expr("if(n_rich < 2, CAST(0 AS BIGINT), e_rich * 2000000 div (n_rich * (n_rich - 1)))")
          .as("rich_club_q"))
  }

  /** Sampled harmonic centrality: h(v) = sum over seeds s != v of
    * 1e6 DIV dist(s, v) on the symmetrized graph, seeds = the k smallest
    * node ids (deterministic). All k BFS trees grow in ONE simultaneous
    * frontier loop keyed on (seed, node) — per round one join shuffle over
    * the combined frontier plus one anti-join against the visited set, so
    * k seeds cost one loop, not k. Unreached pairs contribute 0; `maxDepth`
    * bounds the rounds (and matches the oracle's recursion bound).
    */
  def harmonicCentrality(nf: NetworkFrame, k: Int = 8, maxDepth: Int = 12):
      DataFrame =
    harmonicFromDistances(nf.nodes, multiSourceBfsDistances(nf, k, maxDepth))

  /** Harmonic aggregate over a precomputed `multiSourceBfsDistances` frame. */
  def harmonicFromDistances(nodes: DataFrame, dist: DataFrame): DataFrame =
    nodes.select(col("id"))
      .join(dist.filter(col("d") > 0)
          .groupBy("id").agg(sum(expr("1000000 div d")).as("hsum")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("hsum"), lit(0L)).as("harmonic_q"))

  /** Bipartite co-occurrence projection: from a (group, item) membership
    * table, emit the item-item edge list weighted by the number of shared
    * groups, keeping pairs with weight >= minCount. Each group's item set
    * is deterministically capped at `maxPerGroup` (smallest item ids kept)
    * BEFORE pairing, so a mega-group (a crawl dump with 10^6 members)
    * contributes O(cap^2) pairs, not O(deg^2) — the same hub-bounding
    * discipline as `linkPrediction`. Plan: distinct → per-group window cap
    * → self-join on group (pairs ordered a < b) → pair count. All shuffles
    * are keyed on group then (a, b); no all-pairs product anywhere.
    */
  def bipartiteProject(memb: DataFrame, grpCol: String, itemCol: String,
                       maxPerGroup: Int = 20, minCount: Long = 2): DataFrame =
    pairCounts(cappedMembership(memb, grpCol, itemCol, maxPerGroup), minCount)

  private def cappedMembership(memb: DataFrame, grpCol: String,
                               itemCol: String, maxPerGroup: Int): DataFrame = {
    require(maxPerGroup >= 2, "need at least two items per group to pair")
    val m = memb.select(col(grpCol).as("grp"), col(itemCol).as("item")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy("item")
    m.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxPerGroup).select("grp", "item")
  }

  private def pairCounts(capped: DataFrame, minCount: Long): DataFrame = {
    val a = capped.withColumnRenamed("item", "src")
    val b = capped.withColumnRenamed("item", "dst")
    a.join(b, Seq("grp")).filter(col("src") < col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minCount)
  }

  /** Association-rule lift over the same capped co-occurrence structure as
    * `bipartiteProject`: lift(a,b) = P(a,b) / (P(a) P(b)) = n_shared * G /
    * (cnt_a * cnt_b) with G the total group count, quantized at 1e6 by ONE
    * IEEE double divide over exact BIGINT products (numerator and
    * denominator each fit 53 bits far beyond this scale). Item supports and
    * the group total come from the SAME capped membership the pairs use, so
    * the probabilities are consistent. lift_q > 1e6 means positive
    * association. The group total joins in as a crossJoin of a 1-row
    * aggregate — no driver action, one broadcast.
    */
  def associationLift(memb: DataFrame, grpCol: String, itemCol: String,
                      maxPerGroup: Int = 20, minCount: Long = 2): DataFrame = {
    val capped = cappedMembership(memb, grpCol, itemCol, maxPerGroup)
      .localCheckpointCapped()
    val pairs = pairCounts(capped, minCount)
    val cnt = capped.groupBy("item").agg(count(lit(1)).as("cnt"))
    val ng = capped.select("grp").distinct().agg(count(lit(1)).as("ng"))
    pairs
      .join(cnt.select(col("item").as("src"), col("cnt").as("cnt_a")), Seq("src"))
      .join(cnt.select(col("item").as("dst"), col("cnt").as("cnt_b")), Seq("dst"))
      .crossJoin(broadcast(ng))
      .select(col("src"), col("dst"), col("n_shared"),
        expr("""CAST(floor(CAST(n_shared * ng AS DOUBLE) * 1000000
          / CAST(cnt_a * cnt_b AS DOUBLE)) AS BIGINT)""").as("lift_q"))
  }

  /** Newman modularity of a node partition over the undirected simple
    * graph: Q = sum_c (e_c / m - (d_c / 2m)^2), computed integer-exactly
    * as Q_q = (4*m*e_in - sum_c d_c^2) * 1e6 DIV (4*m^2) over BIGINTs
    * (negative-safe floor division matches DuckDB //). `labels` is
    * (id, community). One symmetrize-distinct pass, one broadcast-shaped
    * label join on each endpoint, two small aggregations — no iteration,
    * no per-pair work. Output: one row (m_edges, e_within, sum_deg_sq,
    * modularity_q); NULL modularity on an edgeless graph.
    */
  def modularity(nf: NetworkFrame, labels: DataFrame): DataFrame = {
    val lab = labels.select(col("id"), col("community"))
    val und = simpleEdges(nf)
      .select(least(col("source"), col("target")).as("s"),
        greatest(col("source"), col("target")).as("t"))
      .distinct().localCheckpointCapped()
    val labeled = und
      .join(lab.select(col("id").as("s"), col("community").as("cs")), Seq("s"))
      .join(lab.select(col("id").as("t"), col("community").as("ct")), Seq("t"))
    val mAndIn = labeled.agg(count(lit(1)).as("m_edges"),
      coalesce(sum(when(col("cs") === col("ct"), 1L).otherwise(0L)), lit(0L))
        .as("e_within"))
    // per-community degree sums from the directed view of the simple graph
    val deg = und.select(col("s").as("id"))
      .union(und.select(col("t").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val sumDegSq = deg.join(lab, Seq("id"))
      .groupBy("community").agg(sum("deg").as("dc"))
      .agg(coalesce(sum(expr("dc * dc")), lit(0L)).as("sum_deg_sq"))
    mAndIn.crossJoin(sumDegSq).select(col("m_edges"), col("e_within"),
      col("sum_deg_sq"),
      // exact DECIMAL(38,0) numerator/denominator, ONE IEEE double divide +
      // floor: identical operand values in any engine → identical quantized
      // result (numerator can be negative, so integer DIV — floor vs
      // truncate divergence across engines — is deliberately avoided).
      // DECIMAL, not BIGINT: 4*m*e_within*1e6 wraps int64 silently around
      // m ≈ 1.5M edges under non-ANSI Spark — far below target scale — while
      // decimal stays exact to 1e38 (the oracle reaches the same integers
      // via HUGEINT; both cast the exact value to DOUBLE identically)
      expr("""if(m_edges = 0, CAST(NULL AS BIGINT),
        CAST(floor(CAST((4 * CAST(m_edges AS DECIMAL(38,0)) * e_within - sum_deg_sq) * 1000000 AS DOUBLE)
          / CAST(4 * CAST(m_edges AS DECIMAL(38,0)) * m_edges AS DOUBLE)) AS BIGINT))""").as("modularity_q"))
  }

  /** Weisfeiler-Leman label refinement: every node's label is iteratively
    * re-hashed from (own label, SORTED multiset of neighbor labels) —
    * `rounds` rounds of the 1-WL color refinement that underlies graph
    * isomorphism tests and structural node featurization (WL kernels,
    * GNN expressiveness). All nodes start at the uniform label, so round 1
    * separates by degree, round k by k-hop structure. The multiset is
    * canonicalized with sort_array (collect_list order is partition-
    * dependent; the sort makes the hash input deterministic at any
    * parallelism). Per round: one message join + one per-node aggregation —
    * the componentLabels plan shape; the per-node neighbor list is bounded
    * by degree (hub lists are large but single-row; cap degrees upstream
    * for extreme skew). Output: (id, wl) hex labels.
    */
  def wlRefinement(nf: NetworkFrame, rounds: Int): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    require(rounds >= 1, "at least one refinement round")
    val e = simpleEdges(nf).localCheckpointCapped()
    var lab = nf.nodes.select(col("id"), lit("0").as("wl")).localCheckpointCapped()
    for (_ <- 1 to rounds) {
      val msgs = e.join(lab.select(col("id").as("source"), col("wl")), Seq("source"))
        .select(col("target").as("id"), col("wl"))
      val nb = msgs.groupBy("id")
        .agg(concat_ws("|", sort_array(collect_list(col("wl")))).as("nbl"))
      lab = lab.join(nb, Seq("id"), "left_outer")
        .select(col("id"),
          md5(concat(col("wl"), lit(":"), coalesce(col("nbl"), lit("")))).as("wl"))
        .localCheckpointCapped()
    }
    lab
  }

  /** GraphSAGE-style deterministic neighborhood sampling: per seed, per
    * hop h, each frontier node keeps at most fanout(h) of its neighbors,
    * ranked by a hash of (seed, parent, child) — pseudo-random but a pure
    * function of the ids, so the sampled computation graph is identical at
    * any parallelism and replayable by an oracle. Per hop: one edge join on
    * the frontier + one per-(seed, parent) top-k window (partial
    * WindowGroupLimit — at most fanout rows per group leave each map task).
    * Sampled trees bound downstream GNN training cost: hop h contributes at
    * most |seeds| * prod(fanout(1..h)) rows regardless of graph size.
    * Output: (seed, hop, parent, child) sampled tree edges.
    */
  def neighborSample(nf: NetworkFrame, seeds: DataFrame,
                     fanout: Seq[Int]): DataFrame = withoutConstraintPropagation(nf.edges) {
    require(fanout.nonEmpty && fanout.forall(_ >= 1), "per-hop fanout >= 1")
    val e = simpleEdges(nf).localCheckpointCapped()
    var frontier = seeds.select(col("id").as("seed"), col("id").as("node")).distinct()
    var out: DataFrame = null
    for ((f, h) <- fanout.zipWithIndex) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("seed", "parent")
        .orderBy(col("rnd"), col("child"))
      val sampled = e.join(frontier.withColumnRenamed("node", "source"), Seq("source"))
        .select(col("seed"), col("source").as("parent"), col("target").as("child"))
        .withColumn("rnd", conv(substring(md5(concat_ws(":",
          col("seed"), col("parent"), col("child"))), 1, 8), 16, 10).cast("long"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= f)
        .select(col("seed"), lit(h + 1).as("hop"), col("parent"), col("child"))
        .localCheckpointCapped()
      out = if (out == null) sampled else out.union(sampled)
      frontier = sampled.select(col("seed"), col("child").as("node")).distinct()
    }
    out
  }

  /** Deterministic negative-edge sampling for link-prediction training:
    * per source of the directed simple graph, `candidates` pseudo-random
    * node positions are derived by hash (a pure function of (source, j) —
    * partitioning-independent), mapped to real node ids through the dense
    * positional index, existing edges and self-pairs are removed by
    * anti-join, and the first `keep` survivors per source (in candidate
    * order j) are emitted. Plan: one candidate explode (map-only), one
    * broadcast-shaped join on the position table, one anti-join against
    * edges on the (source, target) key, one per-source top-k window.
    * Output: (source, target, j) — j preserves the sampling order for
    * reproducible truncation.
    */
  def negativeSamples(nf: NetworkFrame, candidates: Int = 8,
                      keep: Int = 3): DataFrame = withoutConstraintPropagation(nf.edges) {
    require(keep >= 1 && candidates >= keep, "candidates >= keep >= 1")
    val pos = NetworkFrame.positionsById(nf.nodes).localCheckpointCapped()
    val n = pos.count()
    val e = nf.edges.select(col("source"), col("target")).distinct().localCheckpointCapped()
    val srcs = e.select("source").distinct()
    val cand = srcs
      .withColumn("j", explode(sequence(lit(1), lit(candidates))))
      .withColumn("p", conv(substring(md5(concat_ws(":",
        col("source"), col("j"))), 1, 8), 16, 10).cast("long") % n)
      .join(pos.select(col("pos").as("p"), col("id").as("target")), Seq("p"))
      .filter(col("source") =!= col("target"))
      .select("source", "target", "j")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("j")
    cand.join(e, Seq("source", "target"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= keep)
      .select("source", "target", "j")
  }

  /** Weighted k-core (s-core): [[peel]] nodes whose cent-quantized
    * strength within the surviving subgraph is below `thresholdQ`, over
    * [[centWeights]] (parallel edges summed, self-loops dropped,
    * zero-weight pairs kept); emit each survivor's in-core strength. Fixed
    * rounds keep it oracle-replayable (same contract as `kCore`).
    */
  def weightedKCore(nf: NetworkFrame, weightCol: String, thresholdQ: Long,
                    rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "at least one peel round")
    val sym = centWeights(nf, weightCol, symmetric = true)
      .withColumn("w", col("w").cast("decimal(38,0)")).localCheckpointCapped()
    val core = peel(sym, nf.nodes.select(col("id")).localCheckpointCapped(), thresholdQ, rounds)
    inducedStrength(sym, core).withColumnRenamed("s", "strength_q")
  }

  /** Skip-gram (center, context) pair counts from a walk corpus — the
    * training-pair extraction step of DeepWalk/node2vec. Pairs are nodes
    * co-occurring within `window` steps on the same walk (self-pairs from
    * stalled walks excluded). One walk-keyed self-join (each walk is
    * steps+1 rows, so per-key fan-out is O(steps * window) — constant) +
    * one pair-count aggregation; output is the weighted co-occurrence
    * table an embedding trainer consumes.
    */
  def skipgramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, "window >= 1")
    val a = walks.select(col("walk_id"), col("step").as("sa"), col("node").as("center"))
    val b = walks.select(col("walk_id"), col("step").as("sb"), col("node").as("context"))
    a.join(b, Seq("walk_id"))
      .filter(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= window &&
        col("center") =!= col("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
  }

  /** Global transitivity: 3 * triangles / wedges over the undirected
    * simple graph, quantized at 1e6 (integral division of non-negatives —
    * exact in every engine). One canonical triangle count + one degree
    * aggregation; a single-row result.
    */
  def transitivity(nf: NetworkFrame): DataFrame = {
    val sym = simpleEdges(nf).localCheckpointCapped()
    val tri = triangleCount(nf)
    val wedges = sym.groupBy(col("source").as("id")).agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
    tri.crossJoin(wedges).select(col("n_triangles"), col("n_wedges"),
      expr("if(n_wedges = 0, CAST(NULL AS BIGINT), 3 * n_triangles * 1000000 div n_wedges)")
        .as("transitivity_q"))
  }

  /** Eccentricity lower bounds from the k smallest node ids: one
    * multi-source BFS (state keyed (seed, id), the same loop as
    * `harmonicCentrality`), then per-seed max distance + reached count.
    * Depth-capped, so the result is an eccentricity LOWER bound within the
    * seed's maxDepth-ball — exact whenever the BFS exhausts the component
    * (csgraph-parity texture next to `estimateDiameter`,
    * networkframe.py:721-730's csgraph delegation family). All k sweeps
    * share each round's single join + anti-join shuffle.
    */
  def eccentricities(nf: NetworkFrame, k: Int = 8, maxDepth: Int = 12):
      DataFrame =
    eccentricitiesFromDistances(multiSourceBfsDistances(nf, k, maxDepth))

  /** Eccentricity aggregate over a precomputed `multiSourceBfsDistances`
    * frame.
    */
  def eccentricitiesFromDistances(dist: DataFrame): DataFrame =
    dist.groupBy("seed")
      .agg(max("d").as("ecc_lb"), count(lit(1)).as("n_reached"))

  /** Minimum spanning forest by Borůvka rounds — the scipy.csgraph
    * `minimum_spanning_tree` counterpart for the reference's sparse-export
    * consumers (networkframe.py:759-778 hands CSR matrices to csgraph).
    * Edge weights are cent-quantized and ties are broken by the global
    * total order (wq, u, v), which perturbs weights into distinctness, so
    * the forest is UNIQUE and deterministic. Per round every component
    * picks its lightest incident inter-component edge (one struct-min
    * aggregation — Spark orders structs lexicographically), and the chosen
    * edges contract through [[componentLabels]] over the CONTRACTION graph
    * (component-level, exponentially smaller than the input): integral ids
    * within [[DriverContractionCap]] finish on the driver, larger graphs
    * and string/fractional ids run [[weakFixpoint]], which fails loudly at
    * its cap. Components at least halve — O(log n) outer rounds, each one
    * join + one agg shuffle over edges still crossing components.
    * Returns the forest edge list (u < v, wq cents). Throws
    * IllegalStateException if an edge still crosses components after
    * `maxRounds` contractions (the default 20 covers ~2^20 nodes).
    */
  def minimumSpanningForest(nf: NetworkFrame, weightCol: String = "weight",
                            maxRounds: Int = 20): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    val canon = nf.edges
      .select(least(col("source"), col("target")).as("u"),
        greatest(col("source"), col("target")).as("v"),
        floor(col(weightCol).cast("double") * 100).cast("long").as("wq"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min("wq").as("wq"))
      .localCheckpointCapped()
    var comp = nf.nodes.select(col("id"), col("id").as("comp")).localCheckpointCapped()
    // forest edges accumulate as already-checkpointed per-round picks; the
    // final union is assembled once, never re-checkpointed in the loop
    var picks = List.empty[DataFrame]
    var round = 0
    var done = false
    while (!done) {
      val labeled = canon
        .join(comp.select(col("id").as("u"), col("comp").as("cu")), Seq("u"))
        .join(comp.select(col("id").as("v"), col("comp").as("cv")), Seq("v"))
        .filter(col("cu") =!= col("cv"))
        .localCheckpointCapped()
      val pick = struct(col("wq"), col("u"), col("v"), col("cu"), col("cv"))
      val incident = labeled.select(col("cu").as("c"), pick.as("e"))
        .union(labeled.select(col("cv").as("c"), pick.as("e")))
      val chosen = incident.groupBy("c").agg(min("e").as("e"))
        .select(col("e.wq").as("wq"), col("e.u").as("u"), col("e.v").as("v"),
          col("e.cu").as("cu"), col("e.cv").as("cv"))
        .distinct()
        .localCheckpointCapped()
      if (chosen.isEmpty) done = true
      else if (round == maxRounds) throw new IllegalStateException(
        s"minimumSpanningForest did not converge within $round rounds")
      else {
        picks = chosen.select("u", "v", "wq") :: picks
        // contract the chosen edges: min-label components over COMPONENT
        // ids. Only components incident to a chosen edge can change label,
        // so the contraction graph (<= 2 rows per chosen edge) is the whole
        // state, not the full node set. Both directions, so the node set is
        // one column and the driver gate counts the same distinct pairs as
        // before; componentLabels deduplicates and checkpoints them itself.
        val ce = chosen.select(col("cu").as("source"), col("cv").as("target"))
          .union(chosen.select(col("cv").as("source"), col("cu").as("target")))
        val m = componentLabels(NetworkFrame(ce.select(col("source").as("id")).distinct(), ce))
        comp = comp.join(m.select(col("id").as("comp"), col("component").as("lab")),
            Seq("comp"), "left_outer")
          .select(col("id"), coalesce(col("lab"), col("comp")).as("comp"))
          .localCheckpointCapped()
        round += 1
      }
    }
    picks.foldLeft(canon.limit(0).select("u", "v", "wq"))(_ union _)
  }

  /** Earliest-arrival (foremost-path) temporal reachability: a node is
    * reached when a path exists whose edge timestamps are NONDECREASING,
    * and `arrival` is the least such final timestamp (Holme & Saramäki's
    * temporal-network reachability; static BFS over-counts paths that go
    * "back in time"). Seeds start at arrival -1 so any first edge
    * qualifies. The fixpoint relaxes all seeds simultaneously — state is
    * (seed, id, arrival), three [[relaxHop]]s per checkpointed cycle (key
    * seed, admit t >= arrival, extend t, min), each one shuffle into the
    * aggregate where a full-outer merge of the best message per
    * (seed, id) takes two. Arrivals only decrease and rows only appear,
    * so the loop is [[monotoneFixpoint]] (unit cycles): its [[probe]]
    * compares the (row count, arrival sum) pairs, or runs the join when a
    * sum overflowed. Cycles are bounded by the temporal diameter. Throws
    * IllegalStateException if `maxRounds` cycles do not converge.
    */
  def temporalReachability(edges: DataFrame, seeds: DataFrame,
                           maxRounds: Int = 30): DataFrame =
      withoutConstraintPropagation(edges) {
    val e = edges.select(col("source"), col("target"),
        col("t").cast("long").as("t"))
      .distinct().localCheckpointCapped()
    // three relaxations per cycle: the relaxation plan is join-linear in
    // the state (no self-join), so chained steps cost no lineage blowup,
    // and each probe is a full job (round-16: was two; the sf0.1 temporal
    // diameter needs ~22 relaxations, so three per cycle trims the
    // checkpoint/probe count from 11 to 8 with the same monotone fixpoint)
    monotoneFixpoint(seeds.select(col("id").as("seed"), col("id"), lit(-1L).as("v")),
        maxRounds, "temporalReachability", "cycles") { (arr, _) =>
      Iterator.iterate(arr)(relaxHop(e, _, Seq("seed"), col("t"), admit = col("t") >= col("v")))
        .drop(3).next().localCheckpointCapped()
    }.withColumnRenamed("v", "arrival")
  }

  /** Katz centrality, quantized: x' = base + (alphaNum * A^T x) DIV alphaDen
    * per round, base = 1e6, over the deduplicated directed edge set. The
    * attenuation alpha = alphaNum/alphaDen stays in exact integer arithmetic
    * (truncating DIV of non-negatives == floor in every engine), so a DuckDB
    * oracle can replay every round bit-for-bit. Converges geometrically when
    * alpha < 1/lambda_max; with quantization the iterate is deterministic
    * regardless. Same per-round shape as `pageRank`: one [[pushSum]],
    * lineage cut by localCheckpoint — O(iterations) rounds independent of
    * graph size, sums accumulate in DECIMAL(38,0) so hub in-degrees cannot
    * overflow at 100 TB.
    */
  def katzCentrality(nf: NetworkFrame, iterations: Int = 8,
                     alphaNum: Int = 5, alphaDen: Int = 100): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    require(iterations >= 1, "at least one iteration")
    require(alphaNum > 0 && alphaDen > alphaNum, "need 0 < alpha < 1")
    val base = 1000000L
    val e = nf.edges.select(col("source"), col("target")).distinct()
      .localCheckpointCapped()
    var v = nf.nodes.select(col("id"), lit(base).as("qs")).localCheckpointCapped()
    for (_ <- 1 to iterations) {
      v = nf.nodes.select(col("id"))
        .join(pushSum(e, v, "source", "target", col("qs")), Seq("id"), "left_outer")
        .selectExpr("id",
          s"CAST($base + ($alphaNum * coalesce(s, CAST(0 AS DECIMAL(38,0)))) DIV $alphaDen AS BIGINT) AS qs")
        .localCheckpointCapped()
    }
    nf.nodes.join(v, Seq("id"), "left_outer").orderBy(desc("qs"), asc("id"))
  }

  /** Full k-core decomposition: core_number(v) = the largest k such that v
    * survives k-core peeling. Level k [[peel]]s the level-(k-1) survivors
    * (the k-core lies inside the (k-1)-core), so each level's work shrinks
    * as the graph thins. Fixed `rounds` per level keep it replayable by an
    * unrolled oracle; nodes outside the 1-core report 0.
    */
  def coreNumbers(nf: NetworkFrame, maxK: Int = 4, rounds: Int = 8): DataFrame = {
    require(maxK >= 1 && rounds >= 1, "need at least one level and one round")
    val sym = unitWeights(simpleEdges(nf)).localCheckpointCapped()
    val levels = (1 to maxK).scanLeft(nf.nodes.select("id").localCheckpointCapped())(
      (alive, k) => peel(sym, alive, k, rounds)).tail
    val deepest = levels.zipWithIndex.map { case (core, i) => core.withColumn("k", lit(i + 1L)) }
      .reduce(_ union _)
      .groupBy("id").agg(max("k").as("core_number"))
    nf.nodes.select("id").join(deepest, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("core_number"), lit(0L)).as("core_number"))
  }

  /** Topological layering (distributed Kahn): layer r = the nodes with no
    * incoming edge from the not-yet-layered set, peeled per round — the
    * parallel-scheduling view of a DAG (everything in one layer can run
    * concurrently; layer count = critical-path length). Fixed `rounds`
    * keeps it oracle-replayable; nodes still unpeeled after all rounds
    * (cycle members, or depth > rounds) report layer NULL, so the operator
    * doubles as a cycle detector. Per round one induction semi-join + one
    * distinct-targets anti-join; the layered set only shrinks, so per-round
    * cost decays like `coreNumbers`.
    */
  def topologicalLayers(nf: NetworkFrame, rounds: Int = 12): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    require(rounds >= 1, "at least one round")
    val e0 = nf.edges.select(col("source"), col("target"))
      .filter(col("source") =!= col("target")).distinct().localCheckpointCapped()
    var remaining = nf.nodes.select("id").localCheckpointCapped()
    var layered: DataFrame = null
    for (r <- 1 to rounds) {
      val live = induce(e0, remaining)
      val blocked = live.select(col("target").as("id")).distinct()
      val layer = remaining.join(blocked, Seq("id"), "left_anti")
        .withColumn("layer", lit(r.toLong)).localCheckpointCapped()
      layered = if (layered == null) layer else layered.union(layer).localCheckpointCapped()
      remaining = remaining.join(layer.select("id"), Seq("id"), "left_anti")
        .localCheckpointCapped()
    }
    nf.nodes.select("id").join(layered, Seq("id"), "left_outer")
  }

  /** Incremental connected-components maintenance: given a valid labels
    * frame (id, component — min-member-id labels, e.g. `componentLabels`
    * output) and a batch of NEW edges over the same node set, produce the
    * updated labels WITHOUT touching the original graph: new edges project
    * onto the label quotient (at most |delta| quotient nodes), the tiny
    * quotient runs the usual pointer-doubled fixpoint, and every node
    * relabels through one broadcast-sized join. Because labels are
    * canonical min-ids, the incremental result is bit-identical to a full
    * recompute on the union graph — which is exactly what the oracle
    * checks. The 100 TB story: nightly edge deltas cost O(|delta|) work +
    * one map over the labels table, not an O(|E|) fixpoint re-run.
    */
  def incrementalComponents(labels: DataFrame, deltaEdges: DataFrame):
      DataFrame = {
    // cut lineage up front: the quotient fixpoint below re-evaluates its
    // input every round, and chained incremental calls (percolation sweeps)
    // would otherwise recompute the whole upstream label history per round
    val lab0 = labels.localCheckpointCapped()
    val le = deltaEdges
      .join(lab0.select(col("id").as("source"), col("component").as("ls")),
        Seq("source"))
      .join(lab0.select(col("id").as("target"), col("component").as("lt")),
        Seq("target"))
      .select(col("ls").as("source"), col("lt").as("target"))
      .filter(col("source") =!= col("target")).distinct()
      .localCheckpointCapped()
    val qnodes = le.select(col("source").as("id"))
      .union(le.select(col("target").as("id"))).distinct()
    val qlabels = componentLabels(NetworkFrame(qnodes, le), "weak")
      .select(col("id").as("component"), col("component").as("merged"))
    lab0.join(broadcast(qlabels), Seq("component"), "left_outer")
      .select(col("id"),
        coalesce(col("merged"), col("component")).as("component"))
  }

  /** Weighted Louvain move round: `louvainMoveRound` with cent-quantized
    * edge weights — node strength replaces degree, weighted links replace
    * link counts, and 2m becomes the total symmetrized weight. Gains
    * accumulate in DECIMAL(38,0) (weight products overflow BIGINT at
    * scale); everything else — synchronized argmax, direction constraint,
    * id tie-break — matches the unweighted round, so the same alternating
    * iteration drives weighted phase-1 community detection.
    */
  def louvainMoveRoundWeighted(nf: NetworkFrame, labels: DataFrame,
                               weightCol: String, down: Boolean = true):
      DataFrame = withoutConstraintPropagation(nf.edges) {
    val D38 = "decimal(38,0)"
    val wq = floor(col(weightCol).cast("double") * 100).cast("long")
    val base0 = nf.edges.select(col("source"), col("target"), wq.as("wq"))
    val sym = base0
      .union(base0.select(col("target").as("source"), col("source").as("target"),
        col("wq")))
      .filter(col("source") =!= col("target"))
      .groupBy("source", "target").agg(sum("wq").as("wq"))
      .filter(col("wq") > 0)
      .localCheckpointCapped()
    val lab = labels.select(col("id"), col("community")).localCheckpointCapped()
    val deg = sym.groupBy(col("source").as("id"))
      .agg(sum(col("wq").cast(D38)).as("k"))
    val m2 = sym.agg(sum(col("wq").cast(D38)).as("m2"))
    val st = lab.join(deg, Seq("id"), "left_outer")
      .groupBy("community")
      .agg(sum(coalesce(col("k"), lit(0).cast(D38))).as("st"))
    val kuc = sym
      .join(lab.select(col("id").as("target"), col("community").as("c")),
        Seq("target"))
      .groupBy(col("source").as("id"), col("c"))
      .agg(sum(col("wq").cast(D38)).as("kuc"))
    val own = lab.select(col("id"), col("community").as("cown"))
    val joined = kuc
      .join(own, Seq("id"))
      .join(deg, Seq("id"))
      .join(st.select(col("community").as("c"), col("st").as("stc")), Seq("c"))
      .join(st.select(col("community").as("cown"), col("st").as("stown")),
        Seq("cown"))
      .join(kuc.select(col("id"), col("c").as("cown"), col("kuc").as("kuown")),
        Seq("id", "cown"), "left_outer")
      .withColumn("kuown", coalesce(col("kuown"), lit(0).cast(D38)))
      .crossJoin(broadcast(m2))
    val gains = joined.filter(col("c") =!= col("cown"))
      .select(col("id"), col("c"),
        (col("m2") * (col("kuc") - col("kuown")) -
          col("k") * (col("stc") - (col("stown") - col("k")))).as("g"))
      .filter(col("g") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(desc("g"), asc("c"))
    val best = gains.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("id"), col("c"))
    val allowed =
      if (down) col("c") < col("community") else col("c") > col("community")
    lab.join(best, Seq("id"), "left_outer")
      .select(col("id"),
        when(col("c").isNotNull && allowed, col("c"))
          .otherwise(col("community")).as("community"))
  }

  /** Distributed maximal matching by synchronized propose-accept rounds:
    * every unmatched node proposes to its smallest-id unmatched neighbor;
    * mutual proposals (u -> v and v -> u) become matched pairs, both
    * endpoints leave the pool, repeat. Deterministic (min-id proposals, no
    * RNG) and maximal after enough rounds: while any edge joins two
    * unmatched nodes, some mutual pair exists among min-proposals — the
    * classic handshake matching used for graph coarsening (multilevel
    * partitioners) and conflict-free pairing. Fixed `rounds` keeps the
    * output oracle-replayable; per round one induction, one min
    * aggregation, one self-join on proposal pairs (all key-partitioned, no
    * all-pairs work). Output: (id, partner, matched_round), partner NULL
    * for nodes left unmatched.
    */
  def maximalMatching(nf: NetworkFrame, rounds: Int = 6): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    require(rounds >= 1, "at least one round")
    val sym = simpleEdges(nf).localCheckpointCapped()
    var unmatched = nf.nodes.select("id").localCheckpointCapped()
    var matched: DataFrame = null
    for (r <- 1 to rounds) {
      val e = induce(sym, unmatched)
      val prop = e.groupBy(col("source").as("id")).agg(min("target").as("prop"))
        .localCheckpointCapped()
      val mutual = prop.as("a")
        .join(prop.as("b"),
          col("a.prop") === col("b.id") && col("b.prop") === col("a.id") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("u"), col("b.id").as("v"),
          lit(r.toLong).as("matched_round"))
        .localCheckpointCapped()
      val pairRows = mutual
        .select(col("u").as("id"), col("v").as("partner"), col("matched_round"))
        .union(mutual.select(col("v").as("id"), col("u").as("partner"),
          col("matched_round")))
      matched = if (matched == null) pairRows.localCheckpointCapped()
                else matched.union(pairRows).localCheckpointCapped()
      unmatched = unmatched.join(pairRows.select("id"), Seq("id"), "left_anti")
        .localCheckpointCapped()
    }
    nf.nodes.select("id").join(matched, Seq("id"), "left_outer")
  }

  /** 2-approximation minimum vertex cover: the endpoints of a maximal
    * matching (Gavril's classic bound — every edge touches a matched
    * vertex, and any cover needs one endpoint per matching edge, so the
    * cover is at most twice optimal). Pure composition over
    * `maximalMatching`: zero additional shuffles beyond the matching
    * fixpoint. Output: (id, in_cover).
    */
  def vertexCover2Approx(nf: NetworkFrame, rounds: Int = 6): DataFrame =
    maximalMatching(nf, rounds)
      .select(col("id"), col("partner").isNotNull.as("in_cover"))

  /** Widest-path (maximin / bottleneck) distances from one source: the
    * width of a node is the maximum over paths of the minimum cent-quantized
    * edge weight along the path — max-min relaxation instead of min-plus
    * (`shortestPaths`' tropical-semiring twin; same fixed-round Bellman-Ford
    * shape, so the oracle unrolls identically). Parallel edges keep their
    * max weight (the widest lane wins). The seed reports Long.MaxValue (an
    * empty path has unbounded bottleneck); `rounds` bounds path length, so
    * cost is O(rounds) join+agg shuffles regardless of graph size.
    * [[pathRelaxation]] with extend = least(v, wq), keeping the max.
    */
  def widestPaths(nf: NetworkFrame, sourceId: Any, weightCol: String,
                  rounds: Int, directed: Boolean = true): DataFrame =
    pathRelaxation(nf, sourceId, weightCol, rounds, directed, useMax = true,
      start = Long.MaxValue, least(col("v"), col("wq"))).withColumnRenamed("v", "cq")

  /** Distributed greedy graph coloring by iterated Luby MIS layers: layer c
    * computes a maximal independent set of the still-uncolored subgraph and
    * assigns it color c — independent sets are exactly the color classes, so
    * the result is a proper coloring (no edge joins two same-colored nodes)
    * using at most maxdeg+1 layers. Fixed (layers, rounds) keeps the output
    * a pure function of the graph, replayable by an unrolled oracle; nodes
    * still undecided after all layers report color 0 (same leftover
    * contract as `maximalIndependentSet`). The classic scalable coloring —
    * register allocation, conflict-free scheduling, independent-batch
    * partitioning for async graph updates.
    */
  def greedyColoring(nf: NetworkFrame, layers: Int = 5, rounds: Int = 4):
      DataFrame = withoutConstraintPropagation(nf.edges) {
    require(layers >= 1, "at least one layer")
    val allNodes = nf.nodes.select("id").localCheckpointCapped()
    val sym = simpleEdges(nf).localCheckpointCapped()
    var uncolored = allNodes
    // color classes are consumed nowhere inside the layer loop (the
    // uncolored update anti-joins the layer's own MIS), so they buffer
    // and union once at the end instead of a grow-and-rewrite
    // checkpoint per layer — same round-16 trim as maximalIndependentSet
    val layersBuf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (c <- 1 to layers) {
      val sub = nf.copy(nodes = uncolored, edges = induce(sym, uncolored))
      val in = maximalIndependentSet(sub, rounds)
        .filter(col("status") === "in")
        .select(col("id"), lit(c.toLong).as("color"))
        .localCheckpointCapped()
      layersBuf += in
      uncolored = uncolored.join(in.select("id"), Seq("id"), "left_anti")
        .localCheckpointCapped()
    }
    val colored = layersBuf.reduce(_ union _)
    allNodes.join(colored, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("color"), lit(0L)).as("color"))
  }

  /** One synchronized Louvain move round: every node simultaneously
    * evaluates moving to each neighboring community and takes the move with
    * the largest positive modularity gain (integer-quantized: with 2m = the
    * symmetrized edge count, gain_q(c) = 2m*(k_{u,c} - k_{u,own\u}) -
    * k_u*(st_c - (st_own - k_u)) — the standard Louvain delta scaled by
    * (2m)^2, exact in BIGINT), ties broken toward the smaller community id,
    * staying put when no gain is positive. Synchronized + quantized makes
    * the round a pure function of (graph, labels) — deterministic at any
    * parallelism, unlike the reference sequential-sweep Louvain — so an
    * oracle replays it exactly; iterate it (alternating `down`) to a
    * fixpoint for full phase-1 community detection. Fully synchronized
    * moves can livelock on symmetric swaps (u moves to v's community while
    * v moves to u's, forever), so each round is direction-constrained: the
    * argmax move executes only toward a smaller community id when
    * `down = true`, only toward a larger one otherwise — alternating
    * directions breaks every swap cycle while still applying each node's
    * best move (the standard parity trick of synchronized/distributed
    * Louvain). Cost: two aggregations (degrees, community totals) + one
    * neighbor-label join + one per-node argmax, all shuffling on
    * node/community keys; the 2m scalar rides as a broadcast 1-row
    * aggregate, no driver action.
    */
  def louvainMoveRound(nf: NetworkFrame, labels: DataFrame,
                       down: Boolean = true): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    val sym = simpleEdges(nf).localCheckpointCapped()
    val lab = labels.select(col("id"), col("community")).localCheckpointCapped()
    val deg = sym.groupBy(col("source").as("id")).agg(count(lit(1)).as("k"))
    val m2 = sym.agg(count(lit(1)).as("m2"))
    val st = lab.join(deg, Seq("id"), "left_outer")
      .groupBy("community").agg(sum(coalesce(col("k"), lit(0L))).as("st"))
    val kuc = sym
      .join(lab.select(col("id").as("target"), col("community").as("c")),
        Seq("target"))
      .groupBy(col("source").as("id"), col("c")).agg(count(lit(1)).as("kuc"))
    val own = lab.select(col("id"), col("community").as("cown"))
    val base = kuc
      .join(own, Seq("id"))
      .join(deg, Seq("id"))
      .join(st.select(col("community").as("c"), col("st").as("stc")), Seq("c"))
      .join(st.select(col("community").as("cown"), col("st").as("stown")),
        Seq("cown"))
      .join(kuc.select(col("id"), col("c").as("cown"), col("kuc").as("kuown")),
        Seq("id", "cown"), "left_outer")
      .withColumn("kuown", coalesce(col("kuown"), lit(0L)))
      .crossJoin(broadcast(m2))
    val gains = base.filter(col("c") =!= col("cown"))
      .select(col("id"), col("c"),
        (col("m2") * (col("kuc") - col("kuown")) -
          col("k") * (col("stc") - (col("stown") - col("k")))).as("g"))
      .filter(col("g") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(desc("g"), asc("c"))
    val best = gains.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("id"), col("c"))
    val allowed =
      if (down) col("c") < col("community") else col("c") > col("community")
    lab.join(best, Seq("id"), "left_outer")
      .select(col("id"),
        when(col("c").isNotNull && allowed, col("c"))
          .otherwise(col("community")).as("community"))
  }

  /** Bounded-step hitting probability of a target set: ppm probability that
    * a uniform random walk on the DISTINCT directed edges reaches T within
    * `rounds` steps. Quantized-integer dynamic program (the same replayable
    * discipline as `pageRank`): p_0 = 1e6 on T else 0, and
    * p_k(v) = 1e6 if v in T else floor(sum over out-nbrs p_{k-1}(u) / deg),
    * dead ends absorb to 0. One [[pushSum]] + one broadcastable target
    * stamp per round — rounds x two shuffles,
    * no per-walk state, which is why this replaces sampled-walk reach
    * estimation at 100 TB. Output: (id, hit_ppm).
    */
  def boundedHitting(nf: NetworkFrame, targets: DataFrame,
                     rounds: Int): DataFrame =
      withoutConstraintPropagation(nf.edges) {
    require(rounds >= 1, "at least one round")
    val e = nf.edges.select(col("source"), col("target"))
      .filter(col("source") =!= col("target")).distinct()
      .localCheckpointCapped()
    val deg = e.groupBy(col("source").as("id")).agg(count(lit(1)).as("d"))
      .localCheckpointCapped()
    val t = targets.select(col("id")).distinct()
      .withColumn("isT", lit(true)).localCheckpointCapped()
    var p = nf.nodes.select(col("id"))
      .join(t, Seq("id"), "left_outer")
      .select(col("id"),
        when(col("isT"), 1000000L).otherwise(0L).as("p"))
      .localCheckpointCapped()
    for (_ <- 1 to rounds) {
      val m = pushSum(e, p, "target", "source", col("p")).join(deg, Seq("id"))
        .selectExpr("id", "s DIV d AS pv")
      p = nf.nodes.select(col("id"))
        .join(t, Seq("id"), "left_outer")
        .join(m, Seq("id"), "left_outer")
        .select(col("id"), when(col("isT"), 1000000L)
          .otherwise(coalesce(col("pv"), lit(0L))).as("p"))
        .localCheckpointCapped()
    }
    p.select(col("id"), col("p").as("hit_ppm"))
  }

  /** Directed triad closure census: 3-cycles (a->b->c->a, one count per
    * cyclic orientation via the min-id anchor, so a fully-reciprocal
    * triangle counts twice — once per direction) and transitive triples
    * (a->b, b->c, a->c counted as ordered role assignments). The directed
    * complement of `triangleCount`; same ordered three-way self-join shape,
    * so the same scale posture (broadcast/AQE on the deduped edge list, no
    * unoriented wedge explosion beyond the hub degrees).
    */
  def triadCensus(nf: NetworkFrame): DataFrame = {
    val e = nf.edges.select(col("source"), col("target"))
      .filter(col("source") =!= col("target")).distinct()
      .localCheckpointCapped()
    val cyc = e.as("e1")
      .join(e.as("e2"), col("e1.target") === col("e2.source"))
      .join(e.as("e3"), col("e2.target") === col("e3.source") &&
        col("e3.target") === col("e1.source"))
      .filter(col("e1.source") < col("e1.target") &&
        col("e1.source") < col("e2.target"))
      .agg(count(lit(1)).as("n_cyclic"))
    val tra = e.as("e1")
      .join(e.as("e2"), col("e1.target") === col("e2.source"))
      .join(e.as("e3"), col("e3.source") === col("e1.source") &&
        col("e3.target") === col("e2.target"))
      .filter(col("e1.source") =!= col("e2.target"))
      .agg(count(lit(1)).as("n_transitive"))
    cyc.crossJoin(tra)
  }

  /** Approximate neighborhood function (ANF, the HyperBall/HyperANF family):
    * per node and radius k <= rounds, a k-minimum-value sketch of the
    * undirected ball B(v, k). Each of `trials` independent md5-derived
    * 32-bit hashes seeds a node, and the ball sketch is the elementwise MIN
    * over the ball — a mergeable sketch, so one round is exactly one edge
    * join + one (id, trial) min-aggregation, and k rounds cover radius k
    * with NO per-pair BFS state ([[relaxRounds]] keyed by trial over
    * [[simpleEdges]]). This is the scalable estimator sibling of
    * `kHopNeighborhood` (exact balls; reference networkframe.py:1540-1549
    * territory): the exact count is O(sum of ball sizes) — quadratic on a
    * 100 TB small-world graph — while the sketch is O(k * |E| * trials)
    * with map-side-combinable mins.
    *
    * Output: (id, k, kmv_sum) with kmv_sum = sum over trials of the ball's
    * min hash — exact integers (the float estimate
    * trials * 2^32 / kmv_sum - 1 is a trivial driver-side epilogue; keeping
    * the sketch integral keeps the result engine-portable and mergeable).
    */
  def neighborhoodFunction(nf: NetworkFrame, rounds: Int = 3,
                           trials: Int = 8): DataFrame = {
    require(rounds >= 1 && trials >= 1, "rounds and trials must be positive")
    val init = nf.nodes.select(col("id"))
      .select(explode(sequence(lit(0), lit(trials - 1))).as("t"), col("id"))
      .select(col("t"), col("id"),
        conv(substring(md5(concat(col("id").cast("string"), lit(":"),
          col("t").cast("string"))), 1, 8), 16, 10).cast("long").as("v"))
    relaxRounds(simpleEdges(nf), init, Seq("t"), col("v"), useMax = false, rounds)
      .zipWithIndex.map { case (s, k) =>
        s.groupBy("id").agg(sum("v").as("kmv_sum"))
          .select(col("id"), lit(k + 1L).as("k"), col("kmv_sum"))
      }.reduce(_ union _)
  }

  private def induce(edges: DataFrame, ids: DataFrame): DataFrame =
    edges
      .join(ids.withColumnRenamed("id", "source"), Seq("source"), "left_semi")
      .join(ids.withColumnRenamed("id", "target"), Seq("target"), "left_semi")
}
