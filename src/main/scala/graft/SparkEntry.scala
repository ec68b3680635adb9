package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Analytics, Curation, DataProfile, Dedup, Similarity, TextAnalysis}
import graft.multimodal.Multimodal
import graft.streaming.EventStream
import org.apache.spark.sql.graftext.CappedCheckpoint._

/** Driver contract: one `queries` entry (+ matching DuckDB `oracleSql`) per
  * implemented operator from SURVEY.md §2 and per LLM-pipeline extension op.
  *
  * Determinism discipline (so Spark parquet output hash-matches the DuckDB
  * oracle bit-for-bit): all order-dependent floating accumulation is done in
  * DECIMAL (exact, order-independent); doubles appear only in final scalar
  * expressions whose operands are identical in both engines. Every query's
  * output carries a total ORDER BY over its columns.
  */
object SparkEntry {

  // ------------------------------------------------------------- fixtures

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `ts` as exact epoch nanoseconds (BIGINT), whatever the physical schema:
    * the testdata generator has shipped `ts` both as TIMESTAMP(NANOS)
    * (long under nanosAsLong) and as TIMESTAMP_NTZ(MICROS) across rounds, so
    * every query doing integer time arithmetic must normalize first rather
    * than assume one encoding. NTZ→TZ cast is exact under the UTC session tz.
    */
  private def tsNanos(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // loud guard on the long branch: epoch NANOS for any modern date is
        // >= ~1.5e18 while micros are ~1.7e15 — if the generator ever ships
        // long MICROS again, fail the query with a clear message instead of
        // silently computing every interval 1000x off (codegen'd per-row
        // branch, negligible cost)
        when(col("ts") =!= 0L && abs(col("ts")) < lit(100000000000000000L),
          raise_error(concat(lit("tsNanos: long ts value "),
            col("ts").cast("string"),
            lit(" is too small to be epoch nanoseconds — encoding changed?"))))
          .otherwise(col("ts"))
      case _ => unix_micros(col("ts").cast("timestamp")) * lit(1000L)
    }

  /** Every per-(JVM, sf dir) memoized artifact, keyed by (artifact kind,
    * sf dir): |customer|, the scratch parquet paths of the shared fixpoint
    * and signature tables, and the IO round-trip scratch dirs.
    */
  private val artifacts = scala.collection.concurrent.TrieMap.empty[(String, String), Any]

  /** The artifact of `kind` for `dir`, built by `build` on first use. */
  private def memo[T](kind: String, dir: String)(build: => T): T =
    artifacts.getOrElseUpdate((kind, dir), build).asInstanceOf[T]

  /** A derived table written ONCE per (JVM, sf dir) to scratch parquet and
    * read back on every use. Parquet, not cache/checkpoint, so Bench's
    * per-query block unpersist cannot invalidate it; on a real cluster
    * this is the table you would keep in the warehouse.
    */
  private def materialized(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    s.read.parquet(memo(kind, dir) {
      val out = Scratch.dir(s, kind + "_")
      build.write.mode("overwrite").parquet(out)
      out
    })

  // |customer| per sf dir, computed once per JVM (every query builds the graph)
  private def custCount(s: SparkSession, dir: String): Long =
    memo("cust_count", dir)(tbl(s, dir, "customer").count())

  /** Customer graph: nodes = customer, edges = orders with target derived as
    * o_orderkey mod |customer| — a deterministic synthetic multigraph over
    * the customer id space (FIXTURES.md §B).
    */
  private def graph(s: SparkSession, dir: String): NetworkFrame = {
    val c = tbl(s, dir, "customer")
    val n = custCount(s, dir)
    val nodes = c.select(col("c_custkey").as("id"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    val edges = tbl(s, dir, "orders").select(
      col("o_custkey").as("source"),
      (col("o_orderkey") % n).as("target"),
      col("o_totalprice").as("weight"),
      col("o_orderkey").as("edge_id"))
    NetworkFrame(nodes, edges)
  }

  /** The events multiplex: user -> hub (event_id % 211) edges layered by
    * event type over a shared endpoint universe — the multilayer test
    * graph. Node table = distinct endpoints (only derived if an operation
    * actually touches nodes). Weight is the DECIMAL-cast event value, the
    * exact-arithmetic discipline.
    */
  private def mlEvents(s: SparkSession, dir: String): MultilayerNetworkFrame = {
    val e = tbl(s, dir, "events").select(
      col("user_id").cast("long").as("source"),
      (col("event_id") % 211).cast("long").as("target"),
      col("event_type").as("layer"),
      col("value").cast("decimal(20,6)").as("wd"))
    val n = e.select(col("source").as("id"))
      .union(e.select(col("target").as("id"))).distinct()
    MultilayerNetworkFrame(NetworkFrame(n, e), "layer")
  }

  /** DuckDB prelude for the events multiplex (`mle`). */
  private val ML_E =
    """WITH mle AS (SELECT user_id AS source, event_id % 211 AS target, event_type AS layer, CAST(value AS DECIMAL(20,6)) AS wd FROM events)"""

  /** Sparse variant (every 10th order) — used for component / BFS / k-hop
    * queries so the graph has interesting structure.
    */
  private def sparse(s: SparkSession, dir: String): NetworkFrame = {
    val g = graph(s, dir)
    g.copy(edges = g.edges.filter(col("edge_id") % 10 === 0))
  }

  /** Strong-component labels of the sparse graph, materialized once —
    * q_strong_components and q_condensation both consume the same SCC
    * fixpoint, and `condensationFromLabels` exists precisely so callers
    * reuse a precomputed labels frame.
    */
  private def sccLabels(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "scc_labels")(
      GraphAlgorithms.strongComponentLabels(sparse(s, dir)))

  /** Weak component labels of the sparse graph, materialized once — the
    * q_components / q_n_components / q_label_components / q_largest_cc
    * family all consume the same fixpoint, and the API hands back a
    * reusable labels frame, so the harness reflects that reuse instead of
    * re-deriving the fixpoint four times.
    */
  private def sparseLabels(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "weak_labels")(
      GraphAlgorithms.componentLabels(sparse(s, dir), "weak"))

  /** The k=8, depth-12 multi-source BFS distance table of the sparse
    * graph, materialized once — q_closeness / q_harmonic / q_voronoi /
    * q_eccentricity are four aggregates of the SAME (seed, id, d) frame,
    * and the API exposes `*FromDistances` variants precisely so pipelines
    * run the BFS once and fan out.
    */
  private def seedDists(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "seed_dists")(
      GraphAlgorithms.multiSourceBfsDistances(sparse(s, dir), k = 8, maxDepth = 12))

  /** Spread a compute-heavy small scan across the session's shuffle
    * parallelism. Spark sizes scan splits by BYTES (maxPartitionBytes),
    * so a small parquet (documents/embeddings at bench scale are one row
    * group) arrives as ONE task and every expensive per-row derivation —
    * shingling, md5 minhashes, vector quantization — runs serially while
    * 31 cores idle (measured: jaccardPrefixPairs' shingle-set stage 6.5 s
    * serial -> 0.6 s spread). The repartition is keyed on the unique id
    * (deterministic, skew-free; guide §2.5) and SKIPPED when the scan
    * already has at least that many splits, so a warehouse-scale input
    * pays no extra shuffle — this is the bytes-vs-compute mismatch fix,
    * not a local-mode constant. The partition count is the per-JVM
    * concurrency bound from [[graft.functions.Tuning.spreadPartitions]]
    * (measured sweet spot 4-8; higher per-JVM task concurrency on
    * allocation-heavy stages triggers bimodal memory-subsystem stalls on
    * this host, reproduced on unmodified code).
    */
  private def spread(df: DataFrame, key: String): DataFrame = {
    val par = graft.functions.Tuning.spreadPartitions(df.sparkSession)
    if (df.rdd.getNumPartitions < par) df.repartition(par, col(key)) else df
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    spread(tbl(s, dir, "documents"), "doc_id")

  /** MinHash signatures of the documents table, materialized once — the
    * signature pass (shingle explode + 1 md5 per shingle + 16 derived
    * universal hashes) is the expensive stage shared by
    * q_minhash_sig / q_lsh_buckets / q_minhash_pairs / q_dedup_clusters,
    * and the API exposes `*FromSignatures` variants precisely so pipelines
    * derive signatures once and fan out.
    */
  private def docSignatures(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "minhash_sig")(
      Dedup.minhashSignatures(docs(s, dir), "doc_id", "text", 16, 3))
  // embeddings deliberately NOT spread: quantization is cheap array
  // arithmetic (unlike shingling), and a round-16 A/B measured the spread
  // regressing q_ivfpq_search 12.9 -> 55.3 s and q_cell_neardup
  // 2.3 -> 4.7 s solo (the IVF-PQ chain re-derives the corpus subtree
  // repeatedly; the extra exchange multiplies through it)
  private def emb(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "embeddings")

  /** Clear every per-(JVM, sf dir) memoized artifact, forcing the
    * next consumer of each family to rebuild its materialized table. The
    * bench guard's SOLO re-runs call this before timing: a memo-backed
    * query re-run inside the same JVM otherwise measures a bare parquet
    * read (q_strong_components: 0.2 s vs its ~9 s first-consumer cost) —
    * and since that read is deterministic, it REPRODUCES across attempts
    * and defeats agreement-based confirmation of genuine speedups. After
    * a reset the solo pays the first-consumer (build + consume) cost,
    * which is what the prior records it is compared against measured.
    * Old scratch dirs stay on disk until JVM-exit cleanup ([[Scratch]]);
    * a bench run resets at most a handful of times.
    */
  private[graft] def resetMemoizedArtifacts(): Unit = artifacts.clear()

  /** Artifacts currently memoized — observable for the spec that pins
    * [[resetMemoizedArtifacts]] actually clears state.
    */
  private[graft] def memoizedArtifactCount: Int = artifacts.size

  /** Auto-scaled clustering operating point (round 14). A FIXED
    * (nprobe, massign) decays as the sqrt(n) cell count outgrows it —
    * measured strong-band recall at (6,3): 90.9% at 23 cells (sf0.01),
    * 72.5% at 45 cells (sf0.1), 43.4% at 142 cells (10x). Both factors
    * scale from the sf0.1 reference point (45 cells) by the grid-fit law
    * g = (cells/45)^0.65: nprobe = ceil(6g), massign = round(3*sqrt(g)),
    * floored at (6,3) — so sf0.01 (oracle scale) and sf0.1 (bench scale)
    * are EXACTLY the round-13 point, and the 10x corpus lands (13, 4),
    * measured 72.4% strong-band (the round-14 GridR14 sweep: (11,3) —
    * pure nprobe ~ sqrt(cells) — reached only 57.1%; memberships buy the
    * rest). Cost: candidates stay n * nprobe * massign * cell with the
    * constants now growing ~cells^0.9, i.e. ~n^1.95 total on a corpus
    * whose neighbor families disperse across cells — holding recall on a
    * flat IVF costs that; the recorded next-decade path (SCALE.md) is a
    * second independent KMV index (union recall 1-(1-p)^L at constant-L
    * cost) or a two-level index, not more probes.
    */
  private[graft] def scaledClusterPoint(n: Long): (Int, Int) = {
    val cells = math.ceil(math.sqrt(math.max(1L, n).toDouble))
    val g = math.pow(cells / 45.0, 0.65)
    if (g <= 1.0) (DocClusterProbe, DocClusterAssign)
    else (math.ceil(DocClusterProbe * g).toInt,
      math.max(DocClusterAssign,
        math.round(DocClusterAssign * math.sqrt(g)).toInt))
  }

  /** Largest sqrt(n) cell count the flat KMV channel serves — the edge of
    * the measured flat envelope (round-14 grid: auto-scaled (13,4) at 142
    * cells). Past it the channel cutover (round 15) routes [[docKnnGraph]]
    * to the two-level coarse->fine residual index: holding flat recall
    * costs ~n^1.95 candidates in the dispersal regime, while the measured
    * two-level curve is ~n^(4/3) — and at the largest common scale
    * (20k vectors, realistic dup density) the two-level point (6,24,2,2)
    * MATCHES the auto-scaled flat point's 97.8% strong-band recall at
    * 2.7x fewer candidates (20.4M vs 55.5M; SCALE.md round-15). Every
    * corpus the bank currently gates (sf0.01, sf0.1, both 10x variants)
    * sits AT or inside the flat envelope, so oracle outputs and the
    * recorded recall history are bit-unchanged by the cutover.
    */
  private[graft] val FlatChannelMaxCells = 142
  private[graft] def useTwoLevelChannel(n: Long): Boolean =
    math.ceil(math.sqrt(math.max(1L, n).toDouble)) > FlatChannelMaxCells

  /** Fine-probe width of the two-level channel past the cutover: the
    * per-coarse-cell fine seed count grows ~n^(1/3) (ceil(sqrt(cellsize))
    * seeds over n^(2/3) cells), so the joint budget that covered a fixed
    * fraction of the probed regions at the 20164-vector cutover point
    * (pFine=24) scales by cbrt(n/20164). pCoarse/mCoarse/mFine stay
    * (6,2,2): the round-15 grid measured that widening pCoarse at fixed
    * pFine DILUTES the joint fine ranking (64.2% at pCoarse=10 falls to
    * 49.1% at 22 on the dispersal corpus) — probes must deepen within the
    * matched coarse regions, not spread. Validated at 30x realistic
    * (60k vectors, pFine=35): see SCALE.md round-15.
    */
  private[graft] def scaledTwoLevelPoint(n: Long): (Int, Int, Int, Int) =
    (DocClusterProbe, math.round(24.0 * math.cbrt(n / 20164.0)).toInt, 2, 2)

  /** IVF mutual-kNN graph of the embeddings table at the production
    * operating point, materialized once — the graph build (one corpus
    * quantization scan + the n^1.5 candidate scoring) is the expensive
    * stage shared by q_doc_clusters and q_doc_clusters_recall, and on a
    * cluster this is exactly the similarity-graph table a pipeline would
    * keep in the warehouse beside the embeddings.
    */
  private def docKnnGraph(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "doc_knn") {
      val e = emb(s, dir)
      val n = e.count()
      if (useTwoLevelChannel(n)) {
        val (pc, pf, mc, mf) = scaledTwoLevelPoint(n)
        Similarity.mutualKnnGraphTwoLevel(e, "vec_id", "embedding",
          k = 5, pCoarse = pc, pFine = pf, mCoarse = mc, mFine = mf)
      } else {
        val (np, ma) = scaledClusterPoint(n)
        Similarity.mutualKnnGraphKmv(e, "vec_id", "embedding",
          k = 5, nprobe = np, massign = ma)
      }
    }

  /** Deterministic ~ExactAuditCap-vector stratum of the embeddings table
    * (vec_id % max(1, n div cap) == 0) — the bounded corpus the exact
    * all-pairs AUDIT queries run on, so their n^2 scoring is a constant
    * at any scale. The modulus is 1 whenever n <= cap (sf0.01 audits the
    * full corpus, unchanged from round 12). One metadata-cheap count.
    */
  private def embCapped(s: SparkSession, dir: String,
                        cap: Long = ExactAuditCap): DataFrame = {
    val e = emb(s, dir)
    val n = e.count()
    val m = math.max(1L, n / cap)
    val stratum = e.filter(col("vec_id") % m === 0)
    // loud thin-stratum guard (round-14 advice): a sparse id space would
    // silently shrink the audited corpus; one column-pruned count
    Similarity.assertStratum(
      stratum.select("vec_id").count(), n, cap, "embCapped")
    stratum
  }

  /** DuckDB CTE prelude mirroring `graph`/`sparse` exactly. */
  private val G =
    """WITH RECURSIVE nodes AS (SELECT c_custkey AS id, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer),
edges AS (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target, o_totalprice AS weight, o_orderkey AS edge_id FROM orders),
sedges AS (SELECT source, target, weight, edge_id FROM edges WHERE edge_id % 10 = 0),
sym AS (SELECT source, target FROM sedges UNION SELECT target, source FROM sedges)"""

  /** Shared component-label CTE (min reachable id over the symmetrized
    * sparse graph) — mirrors GraphAlgorithms.componentLabels.
    */
  private val LAB =
    """,
reach(id, r) AS (SELECT id, id FROM nodes UNION SELECT reach.id, s.target FROM reach JOIN sym s ON s.source = reach.r),
lab AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"""

  /** The q_hitting absorbing-target predicate (id % this == 0) — one
    * constant shared by the Scala query and the DuckDB oracle.
    */
  private val HIT_TARGET_MOD = 97L

  // deterministic decimal accumulation helpers
  private val D = "decimal(18,2)"
  private def sumDec(c: Column): Column = sum(c.cast(D))
  private def sumD(c: Column): Column = sumDec(c).cast("double")

  // ------------------------------------------------------------ entrypoint

  /** Flagship query on sf=0.001: quotient graph of the customer graph by
    * market segment, weighted by exact total order value.
    */
  def entry(spark: SparkSession): DataFrame = {
    val g = graph(spark, "/root/testdata/sf0.001")
    val g2 = g.copy(edges = g.edges.withColumn("wd", col("weight").cast(D)))
    g2.condense("c_mktsegment", "sum", "total_value", Some("wd"))
      .edges.select(col("source"), col("target"),
        col("total_value").cast("double").as("total_value"))
      .orderBy("source", "target")
  }

  // -------------------------------------------------------------- queries

  type Q = (SparkSession, String) => DataFrame

  private def defs: Seq[(String, Q, Option[String])] = Seq(

    // ====================== subgraph algebra (SURVEY §2.2) ======================

    ("q_query_nodes", (s, dir) =>
      graph(s, dir).queryNodes("c_acctbal > 5000")
        .edges.select("source", "target", "weight").orderBy("source", "target", "weight"),
      Some(s"""$G, kept AS (SELECT id FROM nodes WHERE c_acctbal > 5000)
SELECT source, target, weight FROM edges WHERE source IN (SELECT id FROM kept) AND target IN (SELECT id FROM kept) ORDER BY 1,2,3""")),

    ("q_query_edges", (s, dir) =>
      graph(s, dir).queryEdges("weight > 250000")
        .edges.select("source", "target", "weight").orderBy("source", "target", "weight"),
      Some(s"""$G SELECT source, target, weight FROM edges WHERE weight > 250000 ORDER BY 1,2,3""")),

    ("q_query_nodes_param", (s, dir) =>
      graph(s, dir).queryNodes("c_mktsegment = @seg AND c_acctbal > @minbal",
          Map("seg" -> "MACHINERY", "minbal" -> 1000))
        .nodes.select("id", "c_acctbal").orderBy("id"),
      Some(s"""$G SELECT id, c_acctbal FROM nodes WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 1000 ORDER BY 1,2""")),

    ("q_remove_nodes", (s, dir) => {
      val g = graph(s, dir)
      g.removeNodes(g.nodes.filter("c_nationkey < 5").select("id"))
        .edges.select("source", "target", "weight").orderBy("source", "target", "weight")
    },
      Some(s"""$G, kept AS (SELECT id FROM nodes WHERE NOT (c_nationkey < 5))
SELECT source, target, weight FROM edges WHERE source IN (SELECT id FROM kept) AND target IN (SELECT id FROM kept) ORDER BY 1,2,3""")),

    ("q_remove_edges", (s, dir) => {
      val g = graph(s, dir)
      g.removeEdges(g.edges.filter("weight < 100000"))
        .edges.select("source", "target", "weight").orderBy("source", "target", "weight")
    },
      Some(s"""$G SELECT source, target, weight FROM edges e WHERE NOT EXISTS (
SELECT 1 FROM edges r WHERE r.weight < 100000 AND r.source = e.source AND r.target = e.target) ORDER BY 1,2,3""")),

    ("q_add_nodes", (s, dir) => {
      val g = graph(s, dir)
      val extra = tbl(s, dir, "supplier").select(
        (col("s_suppkey") + 1000000L).as("id"), col("s_name").as("c_name"),
        col("s_nationkey").as("c_nationkey"))
      g.addNodes(extra).nodes.select("id", "c_name", "c_nationkey").orderBy("id")
    },
      Some(s"""$G SELECT id, c_name, c_nationkey FROM (
SELECT id, c_name, c_nationkey FROM nodes UNION ALL SELECT s_suppkey + 1000000, s_name, s_nationkey FROM supplier) ORDER BY 1,2,3""")),

    ("q_add_edges", (s, dir) => {
      val g = graph(s, dir)
      val n = custCount(s, dir)
      val extra = tbl(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select((col("o_orderkey") % n).as("source"), col("o_custkey").as("target"),
          col("o_totalprice").as("weight"))
      g.addEdges(extra).edges.groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")
    },
      Some(s"""$G SELECT source, count(*) AS n FROM (
SELECT source FROM edges UNION ALL SELECT o_orderkey % (SELECT count(*) FROM customer) FROM orders WHERE o_orderstatus = 'F') GROUP BY 1 ORDER BY 1""")),

    ("q_reindex_nodes", (s, dir) => {
      val g = graph(s, dir)
      val n = custCount(s, dir)
      g.reindexNodes(s.range(n + 5).toDF("id"))
        .nodes.select("id", "c_name").orderBy("id")
    },
      Some(s"""$G, idx AS (SELECT unnest(generate_series(0, (SELECT count(*) FROM customer) + 4)) AS id)
SELECT idx.id, n2.c_name FROM idx LEFT JOIN nodes n2 ON idx.id = n2.id ORDER BY 1,2""")),

    ("q_remove_unused_nodes", (s, dir) =>
      sparse(s, dir).removeUnusedNodes().nodes.select("id").orderBy("id"),
      Some(s"""$G SELECT id FROM nodes WHERE id IN (SELECT source FROM sedges UNION SELECT target FROM sedges) ORDER BY 1""")),

    ("q_loc", (s, dir) => {
      val g = graph(s, dir)
      g.loc(g.nodes.filter(col("id") % 7 === 0).select("id"),
            g.nodes.filter(col("id") % 5 === 0).select("id"))
        .edges.select("source", "target", "weight").orderBy("source", "target", "weight")
    },
      Some(s"""$G SELECT source, target, weight FROM edges WHERE source % 7 = 0 AND target % 5 = 0 ORDER BY 1,2,3""")),

    // ====================== joins (SURVEY §2.3) ======================

    ("q_apply_node_features", (s, dir) =>
      graph(s, dir).applyNodeFeatures(Seq("c_mktsegment"), "both")
        .edges.select("source", "target", "edge_id", "source_c_mktsegment", "target_c_mktsegment")
        .orderBy("edge_id"),
      Some(s"""$G SELECT e.source, e.target, e.edge_id, ns.c_mktsegment AS source_c_mktsegment, nt.c_mktsegment AS target_c_mktsegment
FROM edges e LEFT JOIN nodes ns ON e.source = ns.id LEFT JOIN nodes nt ON e.target = nt.id ORDER BY 3""")),

    ("q_node_agreement", (s, dir) => {
      val g = graph(s, dir)
      g.nodeAgreement(g.queryNodes("c_acctbal > 2500"))
    },
      Some(s"""$G SELECT CAST((SELECT count(*) FROM nodes WHERE c_acctbal > 2500) AS DOUBLE) / (SELECT count(*) FROM nodes) AS agreement""")),

    // ====================== aggregations (SURVEY §2.4) ======================

    ("q_effective_edges", (s, dir) => {
      val g = graph(s, dir)
      g.copy(edges = g.edges.withColumn("wd", col("weight").cast(D)))
        .effectiveEdges(Some("wd"), "sum")
        .select(col("source"), col("target"), col("weight").cast("double").as("w"))
        .orderBy("source", "target", "w")
    },
      Some(s"""$G SELECT source, target, CAST(sum(CAST(weight AS DECIMAL(18,2))) AS DOUBLE) AS w FROM edges GROUP BY 1,2 ORDER BY 1,2,3""")),

    ("q_effective_counts", (s, dir) =>
      graph(s, dir).effectiveEdges(None)
        .select(col("source"), col("target"), col("weight").as("n"))
        .orderBy("source", "target", "n"),
      Some(s"""$G SELECT source, target, count(*) AS n FROM edges GROUP BY 1,2 ORDER BY 1,2,3""")),

    ("q_condense", (s, dir) => {
      val g = graph(s, dir)
      g.copy(edges = g.edges.withColumn("wd", col("weight").cast(D)))
        .condense("c_mktsegment", "sum", "wsum", Some("wd"))
        .edges.select(col("source"), col("target"), col("wsum").cast("double").as("wsum"))
        .orderBy("source", "target")
    },
      Some(s"""$G SELECT ns.c_mktsegment AS source, nt.c_mktsegment AS target, CAST(sum(CAST(e.weight AS DECIMAL(18,2))) AS DOUBLE) AS wsum
FROM edges e JOIN nodes ns ON e.source = ns.id JOIN nodes nt ON e.target = nt.id GROUP BY 1,2 ORDER BY 1,2""")),

    // multilayer surface (reference's MultilayerNetworkFrame is declared
    // with empty bodies, multilayer.py:4-23): layer = edge column, every
    // layer condensed in ONE grouped aggregation — plus a single-layer
    // filtered count folded into the same result for the `layer()` view
    ("q_layers", (s, dir) => {
      val g = graph(s, dir)
      val g2 = g.copy(edges = g.edges
        .withColumn("layer", col("edge_id") % 3)
        .withColumn("wd", col("weight").cast(D)))
      g2.condenseByLayer("layer", "c_mktsegment", "sum", "total_value", Some("wd"))
        .select(col("layer"), col("source"), col("target"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("layer", "source", "target")
    },
      Some(s"""$G, le AS (SELECT source, target, weight, edge_id % 3 AS layer FROM edges)
SELECT le.layer, ns.c_mktsegment AS source, nt.c_mktsegment AS target,
CAST(sum(CAST(le.weight AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM le JOIN nodes ns ON le.source = ns.id JOIN nodes nt ON le.target = nt.id
GROUP BY 1,2,3 ORDER BY 1,2,3""")),

    // ---- multilayer surface (MultilayerNetworkFrame; reference's class is
    // all-`pass`, multilayer.py:4-23). The events multiplex: users connect
    // to synthetic hubs in per-event-type LAYERS — layer is an edge column,
    // so every all-layer aggregate is one shuffle with layer as an extra
    // key, never a per-layer driver loop.

    // per-layer summary: edge count, exact weight sum, active node count
    ("q_ml_summary", (s, dir) =>
      mlEvents(s, dir).layerSummary(Some("wd"))
        .select(col("layer"), col("n_edges"),
          col("w_sum").cast("double").as("w_sum"), col("n_active_nodes"))
        .orderBy("layer"),
      Some(s"""$ML_E, b AS (SELECT layer, count(*) AS n_edges, CAST(sum(wd) AS DOUBLE) AS w_sum FROM mle GROUP BY 1),
a AS (SELECT layer, count(*) AS n_active_nodes FROM (SELECT DISTINCT layer, source AS id FROM mle UNION SELECT DISTINCT layer, target FROM mle) GROUP BY 1)
SELECT b.layer, n_edges, w_sum, n_active_nodes FROM b JOIN a USING (layer) ORDER BY 1""")),

    // multiplex node activity: layers a node is active in + total incidence
    ("q_ml_activity", (s, dir) =>
      mlEvents(s, dir).nodeActivity().orderBy("id"),
      Some(s"""$ML_E, i AS (SELECT layer, source AS id FROM mle UNION ALL SELECT layer, target FROM mle)
SELECT id, CAST(count(DISTINCT layer) AS BIGINT) AS n_layers, count(*) AS n_incident
FROM i GROUP BY 1 ORDER BY 1""")),

    // pairwise layer edge-overlap matrix: distinct (source,target) keys
    // shared by each layer pair — the join key is the edge key over
    // layer-DEDUPED edge sets, never a pair-of-edges space
    ("q_ml_overlap", (s, dir) =>
      mlEvents(s, dir).layerOverlap().orderBy("layer_a", "layer_b"),
      Some(s"""$ML_E, k AS (SELECT DISTINCT layer, source, target FROM mle)
SELECT a.layer AS layer_a, b.layer AS layer_b, count(*) AS n_shared_edges
FROM k a JOIN k b ON a.source = b.source AND a.target = b.target AND a.layer < b.layer
GROUP BY 1,2 ORDER BY 1,2""")),

    // layer-parameterized induction: queryNodes re-induces ONCE for all
    // layers (induction is layer-agnostic semi joins; the layer column
    // rides along), then per-(layer, node) degrees in one grouped agg
    ("q_ml_degrees", (s, dir) => {
      val g = graph(s, dir)
      MultilayerNetworkFrame(g.copy(edges =
          g.edges.withColumn("layer", col("edge_id") % 3)))
        .queryNodes("c_acctbal > 0")
        .degreesByLayer()
        .orderBy("layer", "id")
    },
      Some(s"""$G, n2 AS (SELECT id FROM nodes WHERE c_acctbal > 0),
le AS (SELECT e.edge_id % 3 AS layer, e.source, e.target FROM edges e JOIN n2 s ON e.source = s.id JOIN n2 t ON e.target = t.id),
o AS (SELECT layer, source AS id, count(*) AS od FROM le GROUP BY 1,2),
i AS (SELECT layer, target AS id, count(*) AS idg FROM le GROUP BY 1,2)
SELECT COALESCE(o.layer, i.layer) AS layer, COALESCE(o.id, i.id) AS id,
CAST(COALESCE(od, 0) AS BIGINT) AS out_degree, CAST(COALESCE(idg, 0) AS BIGINT) AS in_degree,
CAST(COALESCE(od, 0) + COALESCE(idg, 0) AS BIGINT) AS degree
FROM o FULL JOIN i ON o.layer = i.layer AND o.id = i.id ORDER BY 1, 2""")),

    ("q_size_edges", (s, dir) =>
      graph(s, dir).groupbyNodes("c_mktsegment").sizeEdges("size")
        .orderBy("source", "target"),
      Some(s"""$G SELECT ns.c_mktsegment AS source, nt.c_mktsegment AS target, count(*) AS size
FROM edges e JOIN nodes ns ON e.source = ns.id JOIN nodes nt ON e.target = nt.id GROUP BY 1,2 ORDER BY 1,2""")),

    ("q_degrees", (s, dir) =>
      graph(s, dir).degrees().orderBy("id"),
      Some(s"""$G SELECT n.id, COALESCE(o.c, 0) AS out_degree, COALESCE(i.c, 0) AS in_degree, COALESCE(o.c, 0) + COALESCE(i.c, 0) AS degree
FROM nodes n LEFT JOIN (SELECT source, count(*) c FROM edges GROUP BY 1) o ON n.id = o.source
LEFT JOIN (SELECT target, count(*) c FROM edges GROUP BY 1) i ON n.id = i.target ORDER BY 1""")),

    // degree distribution histogram of the full graph (the first profiling
    // query on any 100 TB graph): one degree pass + one count-keyed rollup
    ("q_degree_hist", (s, dir) =>
      graph(s, dir).degrees()
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree"),
      Some(s"""$G, d AS (SELECT n.id, COALESCE(o.c, 0) + COALESCE(i.c, 0) AS degree
FROM nodes n LEFT JOIN (SELECT source, count(*) c FROM edges GROUP BY 1) o ON n.id = o.source
LEFT JOIN (SELECT target, count(*) c FROM edges GROUP BY 1) i ON n.id = i.target)
SELECT degree, count(*) AS n_nodes FROM d GROUP BY 1 ORDER BY 1""")),

    // language x source crosstab via pivot (conditional aggregation — the
    // same relational shape as to_adjacency's explicit-values pivot)
    ("q_lang_by_source", (s, dir) => {
      val langs = Seq("en", "de", "fr", "es", "other")
      docs(s, dir)
        .withColumn("lg",
          when(col("lang").isin(langs.init.map(lit(_)): _*), col("lang"))
            .otherwise(lit("other")))
        .groupBy("source")
        .pivot("lg", langs)
        .agg(coalesce(count(lit(1)), lit(0L)))
        .na.fill(0L, langs)
        .orderBy("source")
    },
      Some("""SELECT source,
CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS en,
CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS de,
CAST(count(*) FILTER (WHERE lang = 'fr') AS BIGINT) AS fr,
CAST(count(*) FILTER (WHERE lang = 'es') AS BIGINT) AS es,
CAST(count(*) FILTER (WHERE lang NOT IN ('en', 'de', 'fr', 'es')) AS BIGINT) AS other
FROM documents GROUP BY 1 ORDER BY 1""")),

    ("q_to_adjacency", (s, dir) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val g = graph(s, dir)
      val qe = g.copy(edges = g.edges.withColumn("wd", col("weight").cast(D)))
        .groupbyNodes("c_mktsegment").applyEdges("sum", Some("wd"), "weight")
      val segNodes = g.nodes.select(col("c_mktsegment").as("id")).distinct()
      NetworkFrame(segNodes, qe).toAdjacency("weight", segs, "sum")
        .select(col("source") +: segs.map(v => coalesce(col(v).cast("double"), lit(0.0)).as(v)): _*)
        .orderBy("source")
    },
      Some(s"""$G, q AS (SELECT ns.c_mktsegment AS source, nt.c_mktsegment AS target, sum(CAST(e.weight AS DECIMAL(18,2))) AS w
FROM edges e JOIN nodes ns ON e.source = ns.id JOIN nodes nt ON e.target = nt.id GROUP BY 1,2)
SELECT source,
COALESCE(CAST(sum(CASE WHEN target='AUTOMOBILE' THEN w END) AS DOUBLE), 0) AS "AUTOMOBILE",
COALESCE(CAST(sum(CASE WHEN target='BUILDING' THEN w END) AS DOUBLE), 0) AS "BUILDING",
COALESCE(CAST(sum(CASE WHEN target='FURNITURE' THEN w END) AS DOUBLE), 0) AS "FURNITURE",
COALESCE(CAST(sum(CASE WHEN target='HOUSEHOLD' THEN w END) AS DOUBLE), 0) AS "HOUSEHOLD",
COALESCE(CAST(sum(CASE WHEN target='MACHINERY' THEN w END) AS DOUBLE), 0) AS "MACHINERY"
FROM q GROUP BY 1 ORDER BY 1""")),

    ("q_sparse_adjacency", (s, dir) => {
      val g = graph(s, dir).queryNodes("c_acctbal > 5000")
      g.copy(edges = g.edges.withColumn("wd", col("weight").cast(D)))
        .toSparseAdjacencyCoo(Some("wd"), "sum")
        .select(col("row").cast("long").as("row"), col("col").cast("long").as("col"),
          col("value").cast("double").as("value"))
        .orderBy("row", "col")
    },
      Some(s"""$G, kept AS (SELECT id FROM nodes WHERE c_acctbal > 5000),
pos AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS p FROM kept),
ke AS (SELECT source, target, weight FROM edges WHERE source IN (SELECT id FROM kept) AND target IN (SELECT id FROM kept)),
eff AS (SELECT source, target, sum(CAST(weight AS DECIMAL(18,2))) AS v FROM ke GROUP BY 1,2)
SELECT ps.p AS row, pt.p AS col, CAST(eff.v AS DOUBLE) AS value
FROM eff JOIN pos ps ON eff.source = ps.id JOIN pos pt ON eff.target = pt.id ORDER BY 1,2""")),

    // ====================== graph algorithms (SURVEY §2.5) ======================

    ("q_components", (s, dir) =>
      sparseLabels(s, dir).orderBy("id"),
      Some(s"""$G$LAB SELECT id, component FROM lab ORDER BY 1""")),

    ("q_n_components", (s, dir) =>
      sparseLabels(s, dir)
        .agg(count_distinct(col("component")).as("n_components")),
      Some(s"""$G$LAB SELECT count(DISTINCT component) AS n_components FROM lab""")),

    ("q_largest_cc", (s, dir) =>
      GraphAlgorithms.largestComponentFromLabels(sparse(s, dir), sparseLabels(s, dir))
        .nodes.select("id").orderBy("id"),
      Some(s"""$G$LAB, top AS (SELECT component FROM lab GROUP BY 1 ORDER BY count(*) DESC, component LIMIT 1)
SELECT id FROM lab WHERE component IN (SELECT component FROM top) ORDER BY 1""")),

    ("q_label_components", (s, dir) =>
      GraphAlgorithms.labelNodesWithLabels(sparse(s, dir), sparseLabels(s, dir))
        .nodes.select("id", "c_nationkey", "component").orderBy("id"),
      Some(s"""$G$LAB SELECT n.id, n.c_nationkey, l.component FROM nodes n JOIN lab l ON n.id = l.id ORDER BY 1""")),

    ("q_strong_components", (s, dir) =>
      sccLabels(s, dir).orderBy("id"),
      Some(s"""$G, dreach(id, r) AS (SELECT id, id FROM nodes UNION SELECT dreach.id, e.target FROM dreach JOIN sedges e ON e.source = dreach.r)
SELECT a.id, min(a.r) AS component FROM dreach a JOIN dreach b ON b.id = a.r AND b.r = a.id GROUP BY a.id ORDER BY 1""")),

    ("q_bfs_reach", (s, dir) =>
      GraphAlgorithms.selectComponentFromNode(sparse(s, dir), 0L, directed = true)
        .nodes.select("id").orderBy("id"),
      Some(s"""$G, r(id) AS (SELECT id FROM nodes WHERE id = 0 UNION SELECT e.target FROM r JOIN sedges e ON e.source = r.id)
SELECT id FROM r ORDER BY 1""")),

    ("q_k_hop_neighborhood", (s, dir) =>
      GraphAlgorithms.kHopNeighborhood(sparse(s, dir), 0L, 2, directed = false)
        .nodes.select("id").orderBy("id"),
      Some(s"""$G, fr(id, d) AS (SELECT id, 0 FROM nodes WHERE id = 0 UNION SELECT s.target, fr.d + 1 FROM fr JOIN sym s ON s.source = fr.id WHERE fr.d < 2)
SELECT DISTINCT id FROM fr ORDER BY 1""")),

    // hub-capped <=2-hop reachability sizes: every node's expansion
    // adjacency keeps only its 8 smallest-id neighbors (deterministic
    // per-source WindowGroupLimit top-k — the power-law escape hatch for
    // celebrity hubs), then pair-count per node; the oracle replays the
    // same capped adjacency with a row_number window
    ("q_k_hop_capped", (s, dir) =>
      GraphAlgorithms.kHopPairs(sparse(s, dir), 2, directed = false,
          dropSelf = true, degreeCap = Some(8))
        .groupBy("id").agg(count(lit(1)).as("n_reach"))
        .orderBy("id"),
      Some(s"""$G, sy AS (SELECT DISTINCT source, target FROM sym),
ad AS (SELECT source, target FROM (SELECT source, target, row_number() OVER (PARTITION BY source ORDER BY target) AS rn FROM sy) WHERE rn <= 8),
h2 AS (SELECT a.source AS id, b.target AS nb FROM ad a JOIN ad b ON b.source = a.target),
uni AS (SELECT DISTINCT id, nb FROM (SELECT source AS id, target AS nb FROM ad UNION ALL SELECT id, nb FROM h2) WHERE id <> nb)
SELECT id, count(*) AS n_reach FROM uni GROUP BY 1 ORDER BY 1""")),

    // single-source hop distances (min over the recursive frontier is immune
    // to the RECURSIVE-prelude sym duplication, like q_bfs_reach)
    ("q_bfs_depth", (s, dir) =>
      GraphAlgorithms.bfsDistances(sparse(s, dir), 0L, 4, directed = false)
        .select(col("id"), col("dist")).orderBy("id"),
      Some(s"""$G, fr(id, d) AS (SELECT id, 0 FROM nodes WHERE id = 0 UNION SELECT s.target, fr.d + 1 FROM fr JOIN sym s ON s.source = fr.id WHERE fr.d < 4)
SELECT id, CAST(min(d) AS BIGINT) AS dist FROM fr GROUP BY 1 ORDER BY 1""")),

    // deterministic synchronous label propagation (4 rounds, min-label
    // tie-break); the oracle replays each round's argmax as a CTE chain
    ("q_label_prop", (s, dir) =>
      GraphAlgorithms.labelPropagation(sparse(s, dir), rounds = 4)
        .orderBy("id"),
      Some(lpaSql(4))),

    // weighted label propagation: labels pulled by summed cent-quantized
    // edge weight instead of neighbor counts, same argmax tie-break
    ("q_label_prop_weighted", (s, dir) =>
      GraphAlgorithms.labelPropagationWeighted(sparse(s, dir), "weight",
          rounds = 4)
        .orderBy("id"),
      Some(wlpaSql(4))),

    // double-sweep diameter lower bound (min(d) consumers are immune to the
    // RECURSIVE sym duplication)
    ("q_diameter", (s, dir) =>
      GraphAlgorithms.estimateDiameter(sparse(s, dir), maxDepth = 8),
      Some(s"""$G, s0 AS (SELECT min(id) AS id FROM nodes),
f1(id, d) AS (SELECT id, 0 FROM s0 UNION SELECT s.target, f1.d + 1 FROM f1 JOIN sym s ON s.source = f1.id WHERE f1.d < 8),
d1 AS (SELECT id, min(d) AS d FROM f1 GROUP BY 1),
far AS (SELECT id FROM d1 ORDER BY d DESC, id LIMIT 1),
f2(id, d) AS (SELECT id, 0 FROM far UNION SELECT s.target, f2.d + 1 FROM f2 JOIN sym s ON s.source = f2.id WHERE f2.d < 8),
d2 AS (SELECT id, min(d) AS d FROM f2 GROUP BY 1)
SELECT (SELECT id FROM s0) AS seed, (SELECT id FROM far) AS far_id, (SELECT CAST(max(d) AS BIGINT) FROM d2) AS diameter_lb""")),

    // weighted SSSP: 6 Bellman-Ford rounds from node 0 over the undirected
    // sparse graph, cent-quantized weights; oracle replays the same rounds
    ("q_sssp", (s, dir) =>
      GraphAlgorithms.shortestPaths(sparse(s, dir), 0L, "weight",
          rounds = 6, directed = false)
        .orderBy("id"),
      Some(ssspSql(6))),

    ("q_k_hop_agg", (s, dir) => {
      val nf = sparse(s, dir)
      val pairs = GraphAlgorithms.kHopPairs(nf, 1, directed = false, dropSelf = true)
      val feats = nf.nodes.select(col("id").as("neighbor"), col("c_acctbal").cast(D).as("ad"))
      val ag = pairs.join(feats, Seq("neighbor"))
        .groupBy("id").agg(count(lit(1)).as("nn"), sum(col("ad")).as("sdec"))
      nf.nodes.select("id").join(ag, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("nn"), lit(0L)).as("n_neighbors"),
          col("sdec").cast("double").as("acct_sum"),
          (col("sdec").cast("double") / col("nn")).as("acct_mean"))
        .orderBy("id")
    },
      Some(s"""$G, pairs AS (SELECT DISTINCT source AS id, target AS neighbor FROM sym WHERE source <> target),
ag AS (SELECT p.id, count(*) AS nn, sum(CAST(n2.c_acctbal AS DECIMAL(18,2))) AS sdec FROM pairs p JOIN nodes n2 ON p.neighbor = n2.id GROUP BY 1)
SELECT n.id, COALESCE(ag.nn, 0) AS n_neighbors, CAST(ag.sdec AS DOUBLE) AS acct_sum, CAST(ag.sdec AS DOUBLE) / ag.nn AS acct_mean
FROM nodes n LEFT JOIN ag ON n.id = ag.id ORDER BY 1""")),

    ("q_k_hop_agg2", (s, dir) =>
      GraphAlgorithms.kHopPairs(sparse(s, dir), 2, directed = true, dropSelf = true)
        .groupBy("id").agg(count(lit(1)).as("n_reach")).orderBy("id"),
      Some(s"""$G, p1 AS (SELECT DISTINCT source, target FROM sedges),
p2 AS (SELECT DISTINCT a.source, b.target FROM p1 a JOIN p1 b ON a.target = b.source),
pr AS (SELECT source AS id, target AS neighbor FROM (SELECT * FROM p1 UNION SELECT * FROM p2) WHERE source <> target)
SELECT id, count(*) AS n_reach FROM pr GROUP BY 1 ORDER BY 1""")),

    ("q_triangles", (s, dir) =>
      GraphAlgorithms.triangleCount(sparse(s, dir)),
      Some(s"""$G, ce AS (SELECT DISTINCT least(source, target) AS s, greatest(source, target) AS t FROM sedges WHERE source <> target)
SELECT count(*) AS n_triangles FROM ce ab JOIN ce bc ON ab.t = bc.s JOIN ce ac ON ac.s = ab.s AND ac.t = bc.t""")),

    // directed triad closure census: 3-cycles (a->b->c->a, counted once per
    // orientation via the min-id anchor) vs transitive triples (a->b, b->c,
    // a->c) — the directed complement of the undirected triangle count
    ("q_triangle_types", (s, dir) =>
      GraphAlgorithms.triadCensus(sparse(s, dir)),
      Some(s"""$G, de AS (SELECT DISTINCT source, target FROM sedges WHERE source <> target),
cyc AS (SELECT count(*) AS n_cyclic FROM de e1 JOIN de e2 ON e1.target = e2.source JOIN de e3 ON e2.target = e3.source AND e3.target = e1.source
WHERE e1.source < e1.target AND e1.source < e2.target),
tra AS (SELECT count(*) AS n_transitive FROM de e1 JOIN de e2 ON e1.target = e2.source JOIN de e3 ON e3.source = e1.source AND e3.target = e2.target
WHERE e1.source <> e2.target)
SELECT n_cyclic, n_transitive FROM cyc, tra""")),

    // deterministic quantized PageRank over the sparse graph; oracle unrolls
    // the integer-exact iterations (same technique as q_spectral)
    ("q_pagerank", (s, dir) =>
      GraphAlgorithms.pageRank(sparse(s, dir), iterations = 10, damping = 85)
        .select(col("id"), col("qs").as("pr_q")).orderBy("id"),
      Some(pagerankSql(10, 85))),

    // mass-conserving PageRank: dangling mass redistributes uniformly
    // (integral share per node) instead of dropping — the textbook
    // stochastic variant alongside the reference-matching q_pagerank
    ("q_pagerank_cons", (s, dir) =>
      GraphAlgorithms.pageRankConserving(sparse(s, dir), iterations = 10,
          damping = 85)
        .select(col("id"), col("qs").as("prc_q")).orderBy("id"),
      Some(prcSql(10, 85))),

    // weighted degrees (node strength) over the full order graph
    ("q_strengths", (s, dir) =>
      graph(s, dir).strengths("weight").orderBy("id"),
      Some(s"""$G, wq AS (SELECT source, target, CAST(floor(weight * 100) AS BIGINT) AS w FROM edges),
o AS (SELECT source AS id, sum(w) AS os FROM wq GROUP BY 1),
i AS (SELECT target AS id, sum(w) AS isx FROM wq GROUP BY 1)
SELECT n.id, CAST(COALESCE(o.os, 0) AS BIGINT) AS out_strength_q, CAST(COALESCE(i.isx, 0) AS BIGINT) AS in_strength_q,
CAST(COALESCE(o.os, 0) + COALESCE(i.isx, 0) AS BIGINT) AS strength_q
FROM nodes n LEFT JOIN o ON o.id = n.id LEFT JOIN i ON i.id = n.id ORDER BY 1""")),

    // Newman degree assortativity of the sparse graph (one scalar row)
    ("q_assortativity", (s, dir) =>
      GraphAlgorithms.degreeAssortativity(sparse(s, dir)),
      Some("""WITH se AS (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
symd AS (SELECT DISTINCT source, target FROM (SELECT source, target FROM se UNION ALL SELECT target, source FROM se) WHERE source <> target),
dg AS (SELECT source AS id, count(*) AS d FROM symd GROUP BY 1),
p AS (SELECT dx.d AS x, dy.d AS y FROM symd s JOIN dg dx ON dx.id = s.source JOIN dg dy ON dy.id = s.target),
a AS (SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2 FROM p)
SELECT m, CAST((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
/ (sqrt(CAST(m AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
 * sqrt(CAST(m AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS DOUBLE) AS assortativity
FROM a""")),

    // HITS hubs/authorities over the sparse graph, integer-exact with
    // per-pass max renormalization; the oracle unrolls all 8 iterations
    ("q_hits", (s, dir) =>
      GraphAlgorithms.hits(sparse(s, dir), iterations = 8).orderBy("id"),
      Some(hitsSql(8))),

    // categorical homophily: fraction of distinct edges whose endpoints
    // share a nation, vs the expected same-nation rate under the nation
    // size distribution (both millionths-quantized) — the attribute
    // assortativity diagnostic
    ("q_homophily", (s, dir) => {
      val g = graph(s, dir)
      val e = g.edges.select("source", "target").distinct()
      val nat = g.nodes.select(col("id"), col("c_nationkey"))
      val lab = e
        .join(nat.select(col("id").as("source"), col("c_nationkey").as("ns")), Seq("source"))
        .join(nat.select(col("id").as("target"), col("c_nationkey").as("nt")), Seq("target"))
        .agg(count(lit(1)).as("n_edges"),
          coalesce(sum(when(col("ns") === col("nt"), 1L).otherwise(0L)), lit(0L)).as("n_same"))
      // DECIMAL(38,0) factors: ss*1e6 / n_same*1e6 wrap int64 silently at
      // ~3M nodes / ~9.2e12 edges under non-ANSI Spark; decimal keeps the
      // quantized ratios exact at any realistic scale (div on decimals
      // still yields BIGINT)
      val exp = nat.groupBy("c_nationkey").agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * c")).as("ss"), sum("c").as("tot"))
        .select(expr("CAST(ss AS DECIMAL(38,0)) * 1000000 div (CAST(tot AS DECIMAL(38,0)) * tot)").as("expected_q"))
      lab.crossJoin(exp)
        .select(col("n_edges"), col("n_same"),
          expr("CAST(n_same AS DECIMAL(38,0)) * 1000000 div n_edges").as("same_q"), col("expected_q"))
    },
      Some(s"""$G, e AS (SELECT DISTINCT source, target FROM edges),
lab AS (SELECT count(*) AS n_edges,
CAST(COALESCE(sum(CASE WHEN ns.c_nationkey = nt.c_nationkey THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_same
FROM e JOIN nodes ns ON ns.id = e.source JOIN nodes nt ON nt.id = e.target),
ex AS (SELECT CAST(CAST(sum(c * c) AS HUGEINT) * 1000000 // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT) AS expected_q
FROM (SELECT count(*) AS c FROM nodes GROUP BY c_nationkey))
SELECT CAST(n_edges AS BIGINT) AS n_edges, n_same,
CAST(CAST(n_same AS HUGEINT) * 1000000 // n_edges AS BIGINT) AS same_q, expected_q FROM lab, ex""")),

    // LPA community size distribution: how many communities of each size
    // the 4-round label propagation produces (composition diagnostic)
    ("q_community_sizes", (s, dir) =>
      GraphAlgorithms.labelPropagation(sparse(s, dir), rounds = 4)
        .groupBy("label").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_communities"))
        .orderBy("sz"),
      Some(lpaSql(4).replace("SELECT id, label FROM l4 ORDER BY 1",
        """, cs AS (SELECT label, count(*) AS sz FROM l4 GROUP BY 1)
SELECT sz, count(*) AS n_communities FROM cs GROUP BY 1 ORDER BY 1"""))),

    // Holland-Leinhardt dyad census (mutual / asymmetric / null pairs)
    ("q_dyad_census", (s, dir) =>
      GraphAlgorithms.dyadCensus(sparse(s, dir)),
      Some(s"""$G, e AS (SELECT DISTINCT source, target FROM sedges WHERE source <> target),
p AS (SELECT least(source, target) AS s, greatest(source, target) AS t, count(*) AS dirs FROM e GROUP BY 1, 2),
c AS (SELECT CAST(COALESCE(sum(CASE WHEN dirs = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS mutual,
CAST(COALESCE(sum(CASE WHEN dirs = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS asym FROM p),
nn AS (SELECT count(*) AS n_nodes FROM nodes)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes, mutual, asym,
CAST(n_nodes * (n_nodes - 1) // 2 - mutual - asym AS BIGINT) AS null_pairs FROM c, nn""")),

    // rich-club connectivity at degree > 8: realized fraction of possible
    // hub pairs, millionths-quantized
    ("q_rich_club", (s, dir) =>
      GraphAlgorithms.richClub(sparse(s, dir), k = 8),
      Some(s"""$G, sy AS (SELECT DISTINCT source, target FROM sym WHERE source <> target),
dg AS (SELECT source AS id, count(*) AS deg FROM sy GROUP BY 1),
rich AS (SELECT id FROM dg WHERE deg > 8),
nr AS (SELECT count(*) AS n_rich FROM rich),
er AS (SELECT count(*) AS e_rich FROM (
SELECT DISTINCT least(s.source, s.target) AS a, greatest(s.source, s.target) AS b FROM sy s
JOIN rich r1 ON r1.id = s.source JOIN rich r2 ON r2.id = s.target))
SELECT CAST(n_rich AS BIGINT) AS n_rich, CAST(e_rich AS BIGINT) AS e_rich,
CAST(CASE WHEN n_rich < 2 THEN 0 ELSE e_rich * 2000000 // (n_rich * (n_rich - 1)) END AS BIGINT) AS rich_club_q
FROM nr, er""")),

    // edge reciprocity of the sparse directed graph (one scalar row):
    // reversed-edge left join + global aggregate, millionths-quantized
    ("q_reciprocity", (s, dir) =>
      GraphAlgorithms.reciprocity(sparse(s, dir)),
      Some(s"""$G, e AS (SELECT DISTINCT source, target FROM sedges WHERE source <> target),
r AS (SELECT CASE WHEN e2.source IS NULL THEN 0 ELSE 1 END AS m
FROM e LEFT JOIN e e2 ON e.source = e2.target AND e.target = e2.source)
SELECT CAST(count(*) AS BIGINT) AS n_edges, CAST(sum(m) AS BIGINT) AS n_reciprocal,
CAST(sum(m) * 1000000 // count(*) AS BIGINT) AS reciprocity_q FROM r""")),

    // sampled harmonic centrality from the 8 smallest node ids: ONE
    // simultaneous multi-source BFS keyed on (seed, node); the oracle
    // replays it as a bounded recursive CTE over the same sym edges
    ("q_harmonic", (s, dir) =>
      GraphAlgorithms.harmonicFromDistances(sparse(s, dir).nodes, seedDists(s, dir))
        .orderBy("id"),
      Some(s"""$G, seeds AS (SELECT id FROM nodes ORDER BY id LIMIT 8),
bfs(seed, id, d) AS (
  SELECT id, id, 0 FROM seeds
  UNION
  SELECT b.seed, s.target, b.d + 1 FROM bfs b JOIN sym s ON s.source = b.id WHERE b.d < 12),
md AS (SELECT seed, id, min(d) AS d FROM bfs GROUP BY 1, 2)
SELECT n.id, CAST(COALESCE(sum(1000000 // d) FILTER (WHERE d > 0), 0) AS BIGINT) AS harmonic_q
FROM nodes n LEFT JOIN md ON md.id = n.id GROUP BY 1 ORDER BY 1""")),

    // sampled closeness centrality: seeds-reaching count + distance sum +
    // the quantized classic estimate, from the same multi-source BFS
    ("q_closeness", (s, dir) =>
      GraphAlgorithms.closenessFromDistances(sparse(s, dir).nodes, seedDists(s, dir))
        .orderBy("id"),
      Some(s"""$G, seeds AS (SELECT id FROM nodes ORDER BY id LIMIT 8),
bfs(seed, id, d) AS (
  SELECT id, id, 0 FROM seeds
  UNION
  SELECT b.seed, s.target, b.d + 1 FROM bfs b JOIN sym s ON s.source = b.id WHERE b.d < 12),
md AS (SELECT seed, id, min(d) AS d FROM bfs GROUP BY 1, 2),
ag AS (SELECT id, count(*) AS n_reached, CAST(sum(d) AS BIGINT) AS dist_sum FROM md WHERE d > 0 GROUP BY 1)
SELECT n.id, CAST(COALESCE(ag.n_reached, 0) AS BIGINT) AS n_reached,
CAST(COALESCE(ag.dist_sum, 0) AS BIGINT) AS dist_sum,
CAST(CASE WHEN COALESCE(ag.dist_sum, 0) = 0 THEN 0 ELSE ag.n_reached * 1000000 // ag.dist_sum END AS BIGINT) AS closeness_q
FROM nodes n LEFT JOIN ag ON ag.id = n.id ORDER BY 1""")),

    // sampled Brandes betweenness (4 seeds, quantized dependency rule);
    // the oracle unrolls sigma per BFS level forward and delta backward
    ("q_betweenness", (s, dir) =>
      GraphAlgorithms.betweennessSampled(sparse(s, dir), k = 4, maxDepth = 8)
        .orderBy("id"),
      Some(betweennessSql(4, 8))),

    // graph Voronoi partition: nearest-seed assignment by hop distance
    // (ties to the smaller seed) — BFS-based partitioning for
    // locality-aware sharding; same multi-source BFS as q_harmonic
    ("q_voronoi", (s, dir) =>
      GraphAlgorithms.voronoiFromDistances(sparse(s, dir).nodes, seedDists(s, dir))
        .orderBy("id"),
      Some(s"""$G, seeds AS (SELECT id FROM nodes ORDER BY id LIMIT 8),
bfs(seed, id, d) AS (
  SELECT id, id, 0 FROM seeds
  UNION
  SELECT b.seed, s.target, b.d + 1 FROM bfs b JOIN sym s ON s.source = b.id WHERE b.d < 12),
md AS (SELECT seed, id, min(d) AS d FROM bfs GROUP BY 1, 2),
best AS (SELECT id, seed, d FROM (SELECT id, seed, d, row_number() OVER (PARTITION BY id ORDER BY d, seed) AS rn FROM md) WHERE rn = 1)
SELECT n.id, b.seed, CAST(b.d AS BIGINT) AS dist FROM nodes n LEFT JOIN best b ON b.id = n.id ORDER BY 1""")),

    // per-node local clustering coefficient (millionths-quantized)
    ("q_clustering", (s, dir) =>
      GraphAlgorithms.clusteringCoefficient(sparse(s, dir)).orderBy("id"),
      Some(s"""WITH nodes AS (SELECT c_custkey AS id FROM customer),
se AS (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
ce AS (SELECT DISTINCT least(source, target) AS s, greatest(source, target) AS t FROM se WHERE source <> target),
tri AS (SELECT id, count(*) AS tri FROM (
SELECT unnest([ab.s, ab.t, bc.t]) AS id
FROM ce ab JOIN ce bc ON ab.t = bc.s JOIN ce ac ON ac.s = ab.s AND ac.t = bc.t) GROUP BY 1),
dg AS (SELECT id, count(*) AS deg FROM (SELECT s AS id FROM ce UNION ALL SELECT t FROM ce) GROUP BY 1)
SELECT n.id, COALESCE(dg.deg, 0) AS deg, COALESCE(tri.tri, 0) AS tri,
CASE WHEN COALESCE(dg.deg, 0) >= 2 THEN (2 * COALESCE(tri.tri, 0) * 1000000) // (dg.deg * (dg.deg - 1)) ELSE 0 END AS lcc_q
FROM nodes n LEFT JOIN dg ON dg.id = n.id LEFT JOIN tri ON tri.id = n.id ORDER BY 1""")),

    // deterministic hash-seeded random walks (DeepWalk-style corpus);
    // the oracle replays every hop with the same md5 index arithmetic
    ("q_walks", (s, dir) =>
      GraphAlgorithms.randomWalks(sparse(s, dir), steps = 4)
        .orderBy("walk_id", "step"),
      Some(walksSql(4))),

    // weight-proportional deterministic walks (importance sampling): each
    // hop draws md5 mod total weight and lands in the neighbor whose
    // cumulative cent-quantized weight range contains the draw
    ("q_wwalks", (s, dir) =>
      GraphAlgorithms.weightedRandomWalks(sparse(s, dir), "weight", steps = 4)
        .orderBy("walk_id", "step"),
      Some(wwalksSql(4))),

    // weight-proportional PageRank over the sparse graph (cent-quantized
    // order values as edge weights); unrolled-oracle replay as usual
    ("q_pagerank_weighted", (s, dir) =>
      GraphAlgorithms.pageRankWeighted(sparse(s, dir), "weight",
          iterations = 10, damping = 85)
        .select(col("id"), col("qs").as("wpr_q")).orderBy("id"),
      Some(wprSql(10, 85))),

    // personalized PageRank from node 0 (teleport mass returns to the seed);
    // same unrolled-oracle technique as q_pagerank
    ("q_ppr", (s, dir) =>
      GraphAlgorithms.personalizedPageRank(sparse(s, dir), 0L,
          iterations = 10, damping = 85)
        .select(col("id"), col("qs").as("ppr_q")).orderBy("id"),
      Some(pprSql(0L, 10, 85))),

    // seed-SET personalized PageRank (teleport mass split evenly across
    // four seeds) — the GNN mini-batch seed-expansion shape
    ("q_ppr_multi", (s, dir) =>
      GraphAlgorithms.personalizedPageRankMulti(sparse(s, dir),
          Seq(0L, 1L, 2L, 3L), iterations = 10, damping = 85)
        .select(col("id"), col("qs").as("pprm_q")).orderBy("id"),
      Some(pprMultiSql(Seq(0L, 1L, 2L, 3L), 10, 85))),

    // common-neighbor / resource-allocation link prediction (hub-capped
    // wedge join; integer-quantized score so ranks are engine-exact)
    ("q_link_predict", (s, dir) =>
      GraphAlgorithms.linkPrediction(sparse(s, dir), hubCap = 8)
        .orderBy("id_a", "id_b"),
      // DISTINCT is load-bearing: DuckDB 1.0 does not dedup the UNION inside
      // `sym` when the prelude is WITH RECURSIVE, so reciprocal edge pairs
      // reach this CTE twice and would inflate `deg` / double-count wedges.
      Some(s"""$G, sy AS (SELECT DISTINCT source, target FROM sym WHERE source <> target),
deg AS (SELECT source AS z, count(*) AS d FROM sy GROUP BY 1),
kept AS (SELECT sy.source AS z, sy.target AS n, d FROM sy JOIN deg ON deg.z = sy.source WHERE d <= 8)
SELECT a.n AS id_a, b.n AS id_b, count(*) AS cn, CAST(sum(1000000000000 // a.d) AS BIGINT) AS ra_q
FROM kept a JOIN kept b ON a.z = b.z AND a.n < b.n GROUP BY 1,2 ORDER BY 1,2""")),

    // bounded-step hitting probability to a deterministic target set
    // (ids % 97 == 0): quantized-integer absorbing-walk DP, 6 unrolled
    // rounds in the oracle — walk analytics without per-walk state
    ("q_hitting", (s, dir) =>
      GraphAlgorithms.boundedHitting(sparse(s, dir),
        graph(s, dir).nodes.select("id").filter(col("id") % HIT_TARGET_MOD === 0),
        rounds = 6)
        .orderBy("id"),
      Some(hittingSql(6))),

    // approximate neighborhood function (ANF/HyperBall family): KMV sketch
    // of |ball(v,k)| for k=1..3 — the scalable effective-diameter / reach
    // profile; sketch union = elementwise min, so each radius is one edge
    // join + one min-agg (mergeable, map-side combinable)
    ("q_anf", (s, dir) =>
      GraphAlgorithms.neighborhoodFunction(sparse(s, dir), rounds = 3,
        trials = 8).orderBy("id", "k"),
      Some(s"""$anfSql
SELECT id, k, kmv_sum FROM anf ORDER BY id, k""")),

    // neighborhood growth profile off the ANF sketch: per radius k, the
    // summed KMV ball-size estimate trials*2^32 DIV kmv_sum — the curve
    // whose saturation radius is the graph's effective diameter (all
    // integral arithmetic; one agg over the sketch table)
    ("q_reach_profile", (s, dir) =>
      GraphAlgorithms.neighborhoodFunction(sparse(s, dir), rounds = 3,
        trials = 8)
        .groupBy("k")
        .agg(count(lit(1)).as("n_nodes"),
          sum(expr("34359738368 DIV kmv_sum")).cast("long").as("est_reach_sum"))
        .orderBy("k"),
      Some(s"""$anfSql
SELECT k, CAST(count(*) AS BIGINT) AS n_nodes,
CAST(sum(34359738368 // kmv_sum) AS BIGINT) AS est_reach_sum
FROM anf GROUP BY 1 ORDER BY 1""")),

    // SCC condensation DAG: contract each strong component to its min-id
    // representative, emit distinct inter-component edges with
    // multiplicity; the oracle derives SCCs as mutual transitive reach
    ("q_condensation", (s, dir) =>
      GraphAlgorithms.condensationFromLabels(sparse(s, dir), sccLabels(s, dir))
        .orderBy("source", "target"),
      Some(s"""$G, se2 AS (SELECT DISTINCT source, target FROM sedges),
fwd(id, r) AS (SELECT id, id FROM nodes UNION SELECT f.id, s.target FROM fwd f JOIN se2 s ON s.source = f.r),
scc AS (SELECT a.id, min(a.r) AS comp FROM fwd a JOIN fwd b ON b.id = a.r AND b.r = a.id GROUP BY 1),
ce AS (SELECT sa.comp AS source, sb.comp AS target FROM se2 e JOIN scc sa ON sa.id = e.source JOIN scc sb ON sb.id = e.target WHERE sa.comp <> sb.comp)
SELECT source, target, count(*) AS n_edges FROM ce GROUP BY 1, 2 ORDER BY 1, 2""")),

    // deterministic Luby maximal independent set (md5 round-keys, strict
    // local-min join rule); the oracle replays every round unrolled
    ("q_mis", (s, dir) =>
      GraphAlgorithms.maximalIndependentSet(sparse(s, dir), rounds = 5)
        .orderBy("id"),
      Some(misSql(5))),

    // k-truss by fixed-round edge peeling (the edge-level k-core); the
    // oracle replays the same rounds as an unrolled CTE chain
    ("q_ktruss", (s, dir) =>
      GraphAlgorithms.kTruss(sparse(s, dir), k = 3, rounds = 3)
        .orderBy("s", "t"),
      Some(kTrussSql(3, 3))),

    // neighborhood Jaccard of node pairs sharing a neighbor (hub-capped
    // wedge join; true Jaccard of the capped neighbor sets)
    ("q_node_jaccard", (s, dir) =>
      GraphAlgorithms.neighborhoodJaccard(sparse(s, dir), hubCap = 8)
        .orderBy("id_a", "id_b"),
      Some(s"""$G, sy AS (SELECT DISTINCT source, target FROM sym WHERE source <> target),
dz AS (SELECT source AS z, count(*) AS d FROM sy GROUP BY 1),
kept AS (SELECT sy.source AS z, sy.target AS n FROM sy JOIN dz ON dz.z = sy.source WHERE d <= 8),
dg AS (SELECT n AS id, count(*) AS dgc FROM kept GROUP BY 1),
cp AS (SELECT a.n AS id_a, b.n AS id_b, count(*) AS cn FROM kept a JOIN kept b ON a.z = b.z AND a.n < b.n GROUP BY 1,2)
SELECT cp.id_a, cp.id_b, CAST(cp.cn AS BIGINT) AS cn,
CAST(cp.cn * 1000000 // (da.dgc + db.dgc - cp.cn) AS BIGINT) AS jaccard_q
FROM cp JOIN dg da ON da.id = cp.id_a JOIN dg db ON db.id = cp.id_b ORDER BY 1, 2""")),

    // k-core membership by fixed-round peeling; the oracle replays the same
    // rounds as an unrolled CTE chain (same technique as q_pagerank)
    ("q_kcore", (s, dir) =>
      GraphAlgorithms.kCore(sparse(s, dir), k = 2, rounds = 8)
        .orderBy("id"),
      Some(kcoreSql(2, 8))),

    // deterministic quantized power iteration (see sortSpectral): the oracle
    // unrolls the same 10 integer-exact iterations as chained CTEs
    ("q_spectral", (s, dir) =>
      GraphAlgorithms.sortSpectral(sparse(s, dir), "weight", iterations = 10)
        .select(col("id"), col("qs").as("score")).orderBy("id"),
      Some(spectralSql(10))),

    // salted skew join: per-target enrichment of edges against the node
    // table with the key salted over 8 partitions; row-identical to the
    // plain join (the oracle IS the plain join)
    ("q_salted_join", (s, dir) => {
      val g = graph(s, dir)
      graft.operators.SkewJoin.saltedJoin(
          g.edges.select(col("target").as("id"), col("weight")),
          g.nodes.select(col("id"), col("c_mktsegment")),
          Seq("id"), salts = 8, saltBy = Seq("weight"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sumD(col("weight")).as("w"))
        .orderBy("c_mktsegment")
    },
      Some(s"""$G SELECT n.c_mktsegment, count(*) AS n, CAST(sum(CAST(e.weight AS DECIMAL(18,2))) AS DOUBLE) AS w
FROM edges e JOIN nodes n ON e.target = n.id GROUP BY 1 ORDER BY 1""")),

    // ====================== dedup extensions ======================

    ("q_dedup_exact", (s, dir) =>
      Dedup.exactGroups(docs(s, dir), "doc_id", "text").orderBy("fp"),
      Some("""SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY 1 ORDER BY 1""")),

    // dedup observability: per-source exact-duplicate rate (the dashboard a
    // corpus pipeline watches to catch a crawler gone circular); one
    // group-agg over fingerprints, dup rate in ppm by integral division
    ("q_dedup_src_rate", (s, dir) =>
      docs(s, dir)
        .select(col("source"), md5(lower(trim(col("text")))).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"))
        .selectExpr("source", "n_docs", "n_unique",
          "CAST((n_docs - n_unique) * 1000000 DIV n_docs AS BIGINT) AS dup_ppm")
        .orderBy("source"),
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
CAST(count(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS n_unique,
CAST((count(*) - count(DISTINCT md5(lower(trim(text))))) * 1000000 // count(*) AS BIGINT) AS dup_ppm
FROM documents GROUP BY 1 ORDER BY 1""")),

    // token accounting for exact dedup: per source, tokens kept when only
    // the first (min doc_id) copy of each global fingerprint survives —
    // the "what does dedup buy us in training tokens" report; duplicate
    // cost attributes to the source holding the DROPPED copy. One
    // fp-keyed agg + one fp-keyed join, both map-side combinable.
    ("q_dedup_savings", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        md5(lower(trim(col("text")))).as("fp"),
        size(split(col("text"), " ")).cast("long").as("t"))
      val keep = d.groupBy("fp").agg(min("doc_id").as("keep_id"))
      d.join(keep, Seq("fp"))
        .groupBy("source")
        .agg(sum("t").as("total_tokens"),
          sum(when(col("doc_id") === col("keep_id"), col("t")).otherwise(0L))
            .as("kept_tokens"))
        .selectExpr("source", "total_tokens", "kept_tokens",
          "CAST((total_tokens - kept_tokens) * 1000000 DIV total_tokens AS BIGINT) AS saved_ppm")
        .orderBy("source")
    },
      Some("""WITH f AS (SELECT doc_id, source, md5(lower(trim(text))) AS fp, CAST(len(string_split(text, ' ')) AS BIGINT) AS t FROM documents),
k AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY 1)
SELECT source, CAST(sum(t) AS BIGINT) AS total_tokens,
CAST(sum(CASE WHEN doc_id = keep_id THEN t ELSE 0 END) AS BIGINT) AS kept_tokens,
CAST(sum(CASE WHEN doc_id = keep_id THEN 0 ELSE t END) * 1000000 // sum(t) AS BIGINT) AS saved_ppm
FROM f JOIN k USING (fp) GROUP BY 1 ORDER BY 1""")),

    // cross-source duplicate overlap via theta-sketch (KMV) intersection:
    // k smallest fingerprint hashes per source, pairwise overlap from
    // common-below-theta counts — sketch rows join, documents never do
    ("q_source_overlap", (s, dir) =>
      Dedup.sourceOverlapSketch(docs(s, dir), "source", "text", 32)
        .orderBy("src_a", "src_b"),
      Some("""WITH hsh AS (SELECT DISTINCT source AS g, CAST(concat('0x', substr(md5(lower(trim(text))), 1, 8)) AS BIGINT) AS h FROM documents),
rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM hsh),
sk AS (SELECT g, h FROM rk WHERE rn <= 32),
th AS (SELECT g, CASE WHEN count(*) >= 32 THEN max(h) ELSE 4294967296 END AS theta FROM sk GROUP BY 1),
pr AS (SELECT a.g AS ga, b.g AS gb, least(a.theta, b.theta) AS theta_q FROM th a JOIN th b ON a.g < b.g),
cm AS (SELECT sa.g AS ga, sb.g AS gb, sa.h FROM sk sa JOIN sk sb ON sa.h = sb.h AND sa.g < sb.g)
SELECT pr.ga AS src_a, pr.gb AS src_b, pr.theta_q,
CAST(coalesce(count(cm.h) FILTER (WHERE cm.h < pr.theta_q), 0) AS BIGINT) AS n_common,
CAST(coalesce(count(cm.h) FILTER (WHERE cm.h < pr.theta_q), 0) * 4294967296 // pr.theta_q AS BIGINT) AS est_overlap
FROM pr LEFT JOIN cm ON cm.ga = pr.ga AND cm.gb = pr.gb
GROUP BY 1, 2, 3 ORDER BY 1, 2""")),

    ("q_minhash_sig", (s, dir) =>
      docSignatures(s, dir).orderBy("id", "h"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy)
SELECT doc_id AS id, CAST(h AS INT) AS h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2 ORDER BY 1,2""")),

    ("q_lsh_buckets", (s, dir) =>
      Dedup.lshBucketsFromSignatures(docSignatures(s, dir), 16, 4)
        .orderBy("id", "band"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2)
SELECT doc_id AS id, CAST(h // 4 AS INT) AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2 ORDER BY 1,2""")),

    // split-leakage QA: near-duplicate candidate pairs (LSH) that CROSS the
    // deterministic train/val/test hash-split — the contamination check a
    // pipeline runs before shipping an eval set; composes the signature
    // table and the split assignment, both already warehouse-resident
    ("q_split_leakage", (s, dir) => {
      val sp = graft.functions.Sampling.hashSplit(docs(s, dir), "doc_id",
          Seq("train" -> 98, "val" -> 1, "test" -> 1))
        .select(col("doc_id"), col("split"))
      Dedup.minhashLshPairsFromSignatures(docSignatures(s, dir), 16, 4)
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")), Seq("id_a"))
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")), Seq("id_b"))
        .filter(col("sa") =!= col("sb"))
        .select(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"),
          col("est_jaccard"))
        .groupBy("split_lo", "split_hi")
        .agg(count(lit(1)).as("n_cross_pairs"),
          sum(when(col("est_jaccard") >= 0.5, 1L).otherwise(0L)).as("n_strong"))
        .orderBy("split_lo", "split_hi")
    },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2),
b AS (SELECT doc_id AS id, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2),
cand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
pj AS (SELECT c.ia, c.ib, CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS ej
FROM cand c JOIN sig sa ON sa.doc_id = c.ia JOIN sig sb ON sb.doc_id = c.ib AND sb.h = sa.h GROUP BY 1,2),
sp AS (SELECT doc_id, CASE WHEN bk < 98 THEN 'train' WHEN bk < 99 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bk FROM documents)),
x AS (SELECT least(a.split, b.split) AS split_lo, greatest(a.split, b.split) AS split_hi, ej
FROM pj JOIN sp a ON a.doc_id = pj.ia JOIN sp b ON b.doc_id = pj.ib WHERE a.split <> b.split)
SELECT split_lo, split_hi, count(*) AS n_cross_pairs,
CAST(sum(CASE WHEN ej >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_strong
FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    ("q_minhash_pairs", (s, dir) =>
      Dedup.minhashLshPairsFromSignatures(docSignatures(s, dir), 16, 4)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2),
b AS (SELECT doc_id AS id, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2),
cand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id)
SELECT c.ia AS id_a, c.ib AS id_b, CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS est_jaccard
FROM cand c JOIN sig sa ON sa.doc_id = c.ia JOIN sig sb ON sb.doc_id = c.ib AND sb.h = sa.h GROUP BY 1,2 ORDER BY 1,2""")),

    // contrastive training triples: LSH positives (est_jaccard >= 0.5) with
    // 3 md5-position-drawn negatives each — deterministic under any
    // partitioning (the dense index is sortBy+zipWithIndex, no window)
    ("q_contrastive", (s, dir) =>
      Dedup.contrastiveTriples(docs(s, dir), "doc_id", "text", 0.5, 3, 16, 4)
        .orderBy("id_a", "id_b", "neg_rank"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2),
b AS (SELECT doc_id AS id, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2),
cand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
e AS (SELECT c.ia, c.ib FROM cand c JOIN sig sa ON sa.doc_id = c.ia JOIN sig sb ON sb.doc_id = c.ib AND sb.h = sa.h GROUP BY 1,2
HAVING CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.5),
n AS (SELECT count(*) AS n FROM documents),
idx AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS pos FROM documents),
d AS (SELECT ia AS id_a, ib AS id_b, r AS neg_rank, CAST(concat('0x', substr(md5(ia || ':' || ib || ':' || r), 1, 8)) AS BIGINT) % (SELECT n FROM n) AS neg_pos
FROM e, (SELECT unnest(generate_series(1, 3)) AS r) s)
SELECT id_a, id_b, CAST(neg_rank AS INT) AS neg_rank, idx.doc_id AS neg_id
FROM d JOIN idx ON idx.pos = d.neg_pos
WHERE idx.doc_id <> id_a AND idx.doc_id <> id_b ORDER BY 1, 2, 3""")),

    ("q_simhash", (s, dir) =>
      Dedup.simhash(docs(s, dir), "doc_id", "text").orderBy("id"),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tb AS (SELECT doc_id, unnest(generate_series(0, 31)) AS b, md5(tok) AS hx FROM toks),
bits AS (SELECT doc_id, b, strpos('0123456789abcdef', substr(hx, CAST(b // 4 AS INT) + 1, 1)) - 1 AS nib FROM tb),
votes AS (SELECT doc_id, b, sum(CAST(floor(nib / power(2, b % 4)) AS BIGINT) % 2 * 2 - 1) AS v FROM bits GROUP BY 1,2)
SELECT doc_id AS id, CAST(sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash FROM votes GROUP BY 1 ORDER BY 1""")),

    // df-capped (maxDf=20): stop-shingles shared by >20 docs are dropped
    // before the inverted-index self-join — kills the d^2 Zipf-head blowup
    ("q_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", 3, 0.0, maxDf = 20)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
dfc AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 20),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc USING (shingle)),
sz AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
it AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2)
SELECT ia AS id_a, ib AS id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
FROM it JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib ORDER BY 1,2""")),

    // pigeonhole block join: exact recall at hamming <= 3 without all-pairs
    ("q_simhash_pairs", (s, dir) =>
      Dedup.simhashNearDupPairs(docs(s, dir), "doc_id", "text", 3)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tb AS (SELECT doc_id, unnest(generate_series(0, 31)) AS b, md5(tok) AS hx FROM toks),
bits AS (SELECT doc_id, b, strpos('0123456789abcdef', substr(hx, CAST(b // 4 AS INT) + 1, 1)) - 1 AS nib FROM tb),
votes AS (SELECT doc_id, b, sum(CAST(floor(nib / power(2, b % 4)) AS BIGINT) % 2 * 2 - 1) AS v FROM bits GROUP BY 1,2),
sh AS (SELECT doc_id AS id, CAST(sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash FROM votes GROUP BY 1),
blocks AS (SELECT id, bb.b, CAST(floor(simhash / power(2, bb.b * 8)) AS BIGINT) % 256 AS blk FROM sh, (SELECT unnest(generate_series(0, 3)) AS b) bb),
cand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM blocks x JOIN blocks y ON x.b = y.b AND x.blk = y.blk AND x.id < y.id)
SELECT ia AS id_a, ib AS id_b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
FROM cand JOIN sh sa ON sa.id = ia JOIN sh sb ON sb.id = ib
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3 ORDER BY 1,2""")),

    // LSH pair graph -> connected components -> canonical representative:
    // the end-to-end "keep one per near-dup cluster" pipeline op
    ("q_dedup_clusters", (s, dir) =>
      Dedup.nearDupClustersFromSignatures(docs(s, dir), "doc_id",
          docSignatures(s, dir), 0.5, 16, 4)
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2),
b AS (SELECT doc_id AS id, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2),
cand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
pe AS (SELECT c.ia, c.ib, CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS ej
FROM cand c JOIN sig sa ON sa.doc_id = c.ia JOIN sig sb ON sb.doc_id = c.ib AND sb.h = sa.h GROUP BY 1,2),
e AS (SELECT ia, ib FROM pe WHERE ej >= 0.5),
sym2 AS (SELECT ia AS s, ib AS tt FROM e UNION SELECT ib, ia FROM e),
reach(id, r) AS (SELECT doc_id, doc_id FROM documents UNION SELECT reach.id, s2.tt FROM reach JOIN sym2 s2 ON s2.s = reach.r)
SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1 ORDER BY 1""")),

    // exact Jaccard-threshold pairs via PPJoin-style prefix filtering:
    // the inverted index covers only each doc's rarest-first prefix, so
    // Zipf-head shingles never enter the candidate join — exact at any
    // threshold, unlike the lossy df-cap of q_ngram_jaccard
    ("q_jaccard_prefix", (s, dir) =>
      Dedup.jaccardPrefixPairs(docs(s, dir), "doc_id", "text", 3, 0.5)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
it AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2)
SELECT ia AS id_a, ib AS id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
FROM it JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5 ORDER BY 1,2""")),

    // incremental signature maintenance: a stale snapshot (every 10th doc's
    // text mutated) plus the upsert batch of true texts must reproduce the
    // full-recompute signature table — changed ids anti-join out, fresh
    // signatures union in, unchanged docs never touched
    ("q_sig_incremental", (s, dir) => {
      val d = docs(s, dir)
      val stale = d.withColumn("text",
        when(col("doc_id") % 10 === 0, reverse(col("text")))
          .otherwise(col("text")))
      Dedup.incrementalSignatures(
          Dedup.minhashSignatures(stale, "doc_id", "text", 16, 3),
          d.filter(col("doc_id") % 10 === 0), "doc_id", "text", 16, 3)
        .orderBy("id", "h")
    },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy)
SELECT doc_id AS id, CAST(h AS INT) AS h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2 ORDER BY 1,2""")),

    // snapshot-delta near-dup admission (the daily-crawl ingest gate): a
    // 10% hash-held-out batch of "new" docs is checked against the 90%
    // standing corpus WITHOUT rescanning it — the corpus side enters as
    // its at-rest MinHash signature table (numHashes rows per doc, the
    // only corpus state the gate ever touches), candidates come from an
    // LSH band-bucket equi-join, and only candidate pairs are verified by
    // signature agreement. At 100 TB the standing corpus is parquet
    // signatures, the batch side is broadcast-sized, and nothing is
    // all-pairs — admission cost scales with the BATCH, not the corpus
    ("q_incremental_dedup", (s, dir) => {
      val d = docs(s, dir)
      val bk = graft.functions.Sampling.hashBucket(col("doc_id"), 10, "inc")
      val batch = d.filter(bk === 9)
      // the gate consumes corpusSig twice (bucket table + verify join) —
      // materialize so the 90%-corpus signature pass runs once, the same
      // discipline as minhashLshPairs; at scale this is the at-rest
      // parquet signature table
      val corpusSig = Dedup.minhashSignatures(
        d.filter(bk < 9), "doc_id", "text", 16, 3).localCheckpointCapped()
      Dedup.dedupAgainstCorpus(batch, "doc_id", "text", corpusSig, 16, 4, 3, 0.5)
        .orderBy("new_id", "corpus_id")
    },
      Some("""WITH d AS (SELECT doc_id, text, CAST(concat('0x', substr(md5(concat('inc', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10 AS bk FROM documents),
t AS (SELECT doc_id, bk, string_split(text, ' ') AS l FROM d),
sh AS (SELECT DISTINCT doc_id, bk, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, bk, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, bk, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, bk, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2,3),
b AS (SELECT doc_id AS id, bk, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2,3),
cand AS (SELECT DISTINCT x.id AS nid, y.id AS cid FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket WHERE x.bk = 9 AND y.bk < 9)
SELECT c.nid AS new_id, c.cid AS corpus_id, CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS est_jaccard
FROM cand c JOIN sig sa ON sa.doc_id = c.nid JOIN sig sb ON sb.doc_id = c.cid AND sb.h = sa.h
GROUP BY 1,2 HAVING CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.5 ORDER BY 1,2""")),

    // hashed linear classifier inference (fastText-style bag-of-words
    // scoring): per-token slot weights derived from the hashing-trick
    // feature map, mean weight per doc as the keep/drop quality gate
    ("q_quality_model", (s, dir) =>
      TextAnalysis.hashedLinearScore(docs(s, dir), "doc_id", "text", 1024)
        .orderBy("id"),
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
w AS (SELECT doc_id, CAST(concat('0x', substr(md5(concat('w:', CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 1024 AS VARCHAR))), 1, 8)) AS BIGINT) % 2001 - 1000 AS w FROM tk),
agg AS (SELECT doc_id, count(*) AS n_toks, sum(w) AS sw FROM w GROUP BY 1),
sc AS (SELECT doc_id, n_toks, CAST(floor(CAST(CAST(sw AS HUGEINT) * 1000000 AS DOUBLE) / n_toks) AS BIGINT) AS score_q FROM agg)
SELECT doc_id AS id, n_toks, score_q, score_q >= 0 AS keep FROM sc ORDER BY 1""")),

    // ====================== similarity search extensions ======================

    // banded sign-LSH candidate generation (16 bands x 4 bits), exact cosine
    // on candidates only — no all-pairs nested-loop join in the plan, and
    // (round 12) a sorted-neighborhood window INSIDE each bucket: members
    // rank by a per-band deterministic shuffle (md5(band:id)) and only
    // pairs within 8 rank positions are candidates, so the candidate set
    // is <= bands * window * n — LINEAR, where the unwindowed constant
    // geometry kept a constant fraction of n^2 (measured 72x at 10x
    // corpus — SCALE.md round 9). Truncation is audited by
    // q_lsh_bucket_audit and the realized recall gated by q_lsh_recall;
    // q_cell_neardup remains the moderate-threshold production channel
    ("q_embed_neardup", (s, dir) =>
      Similarity.cosineNearDupPairs(emb(s, dir), "vec_id", "embedding", 0.4, 16, 4)
        .orderBy("id_a", "id_b"),
      Some(s"""$EMB_U,
$LSH_RK,
cand AS (SELECT DISTINCT least(x.vec_id, y.vec_id) AS ia, greatest(x.vec_id, y.vec_id) AS ib FROM rkb x JOIN rkb y ON x.band = y.band AND x.bucket = y.bucket AND y.rk > x.rk AND y.rk <= x.rk + 8),
dots AS (SELECT c.ia, c.ib, sum(a.x * b.x) AS d FROM cand c JOIN u a ON a.vec_id = c.ia JOIN u b ON b.vec_id = c.ib AND b.i = a.i GROUP BY 1,2),
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1)
SELECT ia AS id_a, ib AS id_b, round(CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))), 6) AS sim
FROM dots JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib
WHERE CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.4 ORDER BY 1,2""")),

    // truncation ledger for the windowed LSH channel: per band, how many
    // buckets exceed the window (their pairs are rank-bounded, not
    // exhaustive) and how many rows sit in them — keeps the linear
    // candidate bound honest instead of silently lossy
    ("q_lsh_bucket_audit", (s, dir) =>
      Similarity.signLshBucketAudit(emb(s, dir), "vec_id", "embedding", 16, 4, 8)
        .orderBy("band"),
      Some(s"""WITH $LSH_BK,
bs AS (SELECT band, bucket, count(*) AS bsz FROM bk GROUP BY 1, 2)
SELECT band, count(*) AS n_buckets, max(bsz) AS max_bucket,
CAST(sum(CASE WHEN bsz > 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
CAST(sum(CASE WHEN bsz > 9 THEN bsz ELSE 0 END) AS BIGINT) AS rows_in_truncated
FROM bs GROUP BY 1 ORDER BY 1""")),

    // realized recall of the windowed LSH channel vs the exact pair set at
    // cosine >= 0.4 — the q_cell_recall pattern applied to the sign-LSH
    // channel, so the window bound's recall price is measured and gated.
    // Denominator is the ANCHORED exact pair set (O(anchors * n), never
    // n^2 — the full exact side alone ran >6 min at the 10x corpus)
    ("q_lsh_recall", (s, dir) => {
      // two agg consumers (denominator + found) — materialize once
      val exact = Similarity.cosineNearDupPairsAnchored(emb(s, dir), "vec_id",
        "embedding", 0.4, AnchorCap).select("id_a", "id_b")
        .localCheckpointCapped()
      val lsh = Similarity.cosineNearDupPairs(emb(s, dir), "vec_id",
        "embedding", 0.4, 16, 4).select("id_a", "id_b")
      val found = exact.join(lsh, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select(col("n_exact"), col("n_found"),
          when(col("n_exact") > 0, expr("n_found * 1000000 div n_exact"))
            .otherwise(0L).as("recall_ppm"))
    },
      Some(s"""${EMB_U.replace("WITH u AS", "WITH u AS MATERIALIZED")},
nr AS MATERIALIZED (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
$ANCHORED_NEARDUP_CTES,
$LSH_RK,
lcand AS (SELECT DISTINCT least(x.vec_id, y.vec_id) AS ia, greatest(x.vec_id, y.vec_id) AS ib FROM rkb x JOIN rkb y ON x.band = y.band AND x.bucket = y.bucket AND y.rk > x.rk AND y.rk <= x.rk + 8),
ldots AS (SELECT c.ia, c.ib, sum(a.x * b.x) AS d FROM lcand c JOIN u a ON a.vec_id = c.ia JOIN u b ON b.vec_id = c.ib AND b.i = a.i GROUP BY 1, 2),
lp AS (SELECT ia, ib FROM ldots JOIN nr na ON na.vec_id = ia JOIN nr nb ON nb.vec_id = ib
WHERE CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.4),
fnd AS MATERIALIZED (SELECT ex.ia, ex.ib FROM ex JOIN lp ON lp.ia = ex.ia AND lp.ib = ex.ib)
SELECT (SELECT count(*) FROM ex) AS n_exact, (SELECT count(*) FROM fnd) AS n_found,
CASE WHEN (SELECT count(*) FROM ex) > 0 THEN (SELECT count(*) FROM fnd) * 1000000 // (SELECT count(*) FROM ex) ELSE 0 END AS recall_ppm""")),

    // exhaustive all-pairs baseline — audit duty, so it runs on the
    // ExactAuditCap-bounded id stratum (full corpus at sf0.01): the n^2
    // scorer's cost is a constant at any scale
    ("q_embed_neardup_exact", (s, dir) =>
      Similarity.cosineNearDupPairsExact(embCapped(s, dir), "vec_id", "embedding", 0.4)
        .orderBy("id_a", "id_b"),
      Some(s"""$EMB_CAPPED_U,
dots AS (SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.x * b.x) AS d FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1,2),
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1)
SELECT ia AS id_a, ib AS id_b, round(CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))), 6) AS sim
FROM dots JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib
WHERE CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.4 ORDER BY 1,2""")),

    // Matryoshka truncation recall: overlap of the exact cosine top-10
    // under full 64-dim vectors vs their first-16-dim prefixes — the
    // measurement that decides whether the 4x-cheaper truncated index can
    // drive retrieval with full vectors kept only for re-ranking
    ("q_matryoshka", (s, dir) => {
      val e = emb(s, dir)
      Similarity.matryoshkaRecall(e.filter(col("vec_id") < 20), e,
          "vec_id", "embedding", 16, 10)
        .orderBy("query_id")
    },
      Some(s"""$EMB_U,
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
dq AS (SELECT q.vec_id AS qa, c.vec_id AS cb, sum(q.x * c.x) AS d FROM u q JOIN u c ON q.i = c.i AND q.vec_id < 20 AND q.vec_id <> c.vec_id GROUP BY 1,2),
rkf AS (SELECT qa, cb, row_number() OVER (PARTITION BY qa ORDER BY CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) DESC, cb) AS rn
FROM dq JOIN norms na ON na.vec_id = qa JOIN norms nb ON nb.vec_id = cb),
n16 AS (SELECT vec_id, sum(x * x) AS nn FROM u WHERE i <= 16 GROUP BY 1),
d16 AS (SELECT q.vec_id AS qa, c.vec_id AS cb, sum(q.x * c.x) AS d FROM u q JOIN u c ON q.i = c.i AND q.i <= 16 AND q.vec_id < 20 AND q.vec_id <> c.vec_id GROUP BY 1,2),
rkt AS (SELECT qa, cb, row_number() OVER (PARTITION BY qa ORDER BY CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) DESC, cb) AS rn
FROM d16 JOIN n16 na ON na.vec_id = qa JOIN n16 nb ON nb.vec_id = cb),
ov AS (SELECT f.qa, count(*) AS n_overlap FROM rkf f JOIN rkt t ON t.qa = f.qa AND t.cb = f.cb AND t.rn <= 10 WHERE f.rn <= 10 GROUP BY 1),
qs AS (SELECT DISTINCT qa FROM rkf)
SELECT qa AS query_id, CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
CAST(COALESCE(n_overlap, 0) * 1000000 // 10 AS BIGINT) AS recall_ppm
FROM qs LEFT JOIN ov USING (qa) ORDER BY 1""")),

    ("q_ann_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },
      Some(s"""$EMB_U,
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
dq AS (SELECT q.vec_id AS qa, c.vec_id AS cb, sum(q.x * c.x) AS d
FROM u q JOIN u c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id <> c.vec_id GROUP BY 1,2),
sims AS (SELECT qa, cb, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv
FROM dq JOIN norms na ON na.vec_id = qa JOIN norms nb ON nb.vec_id = cb),
rk AS (SELECT qa, cb, sv, row_number() OVER (PARTITION BY qa ORDER BY sv DESC, cb) AS rn FROM sims)
SELECT qa AS query_id, cb AS neighbor_id, CAST(rn AS INT) AS rank, round(sv, 6) AS sim FROM rk WHERE rn <= 5 ORDER BY 1,3""")),

    ("q_ann_lsh", (s, dir) =>
      Similarity.lshTopK(emb(s, dir), "vec_id", "embedding", 3, 8)
        .orderBy("query_id", "rank"),
      Some(s"""$EMB_U,
bk AS (SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, 8), j -> CASE WHEN embedding[j] > 0 THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket FROM embeddings),
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
cand AS (SELECT q.vec_id AS qa, q.bucket, c.vec_id AS cb FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
dq AS (SELECT cand.qa, cand.bucket, cand.cb, sum(a.x * b.x) AS d
FROM cand JOIN u a ON a.vec_id = cand.qa JOIN u b ON b.vec_id = cand.cb AND b.i = a.i GROUP BY 1,2,3),
sims AS (SELECT qa, bucket, cb, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv
FROM dq JOIN norms na ON na.vec_id = qa JOIN norms nb ON nb.vec_id = cb),
rk AS (SELECT qa, bucket, cb, row_number() OVER (PARTITION BY qa ORDER BY sv DESC, cb) AS rn FROM sims)
SELECT qa AS query_id, bucket, cb AS neighbor_id, CAST(rn AS INT) AS rank FROM rk WHERE rn <= 3 ORDER BY 1,4""")),

    // CCMatrix/LASER-style bitext mining: a hash split plays the two
    // "languages"; each side-0 query finds its best side-1 match among its
    // nprobe=9 nearest candidate-side KMV cells (cell EQUI-join — never the
    // |A|x|B| cross product) and survives on the Artetxe-Schwenk ratio
    // margin over the ppm-floored top-4 cosines
    ("q_bitext_mine", (s, dir) => {
      val e = emb(s, dir)
      val side = graft.functions.Sampling.hashBucket(col("vec_id"), 2, "bt")
      Similarity.marginMinedPairs(e.filter(side === 0), e.filter(side === 1),
          "vec_id", "embedding", k = 4, nprobe = BitextProbe,
          marginPpmMin = 1100000L, massign = BitextAssign)
        .orderBy("query_id")
    },
      Some(s"""$EMB_U,
nr AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
sd0 AS (SELECT vec_id, CAST(concat('0x', substr(md5(concat('bt', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT) % 2 AS side FROM embeddings),
cnt AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS kk FROM sd0 WHERE side = 1),
sr AS (SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM sd0 WHERE side = 1),
seeds AS (SELECT vec_id AS sid FROM sr, cnt WHERE rn <= kk),
dots AS (SELECT a.vec_id AS id, s.vec_id AS sid, sum(a.x * s.x) AS d FROM u a JOIN u s ON s.i = a.i WHERE s.vec_id IN (SELECT sid FROM seeds) GROUP BY 1, 2),
csims AS (SELECT id, sid, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(ns.nn AS DOUBLE))) AS csim FROM dots JOIN nr na ON na.vec_id = id JOIN nr ns ON ns.vec_id = sid),
qasg AS (SELECT id, sid FROM (SELECT c.id, c.sid, row_number() OVER (PARTITION BY c.id ORDER BY c.csim DESC, c.sid) AS rn FROM csims c JOIN sd0 ON sd0.vec_id = c.id WHERE sd0.side = 0) WHERE rn <= $BitextProbe),
casg AS (SELECT id, sid FROM (SELECT c.id, c.sid, row_number() OVER (PARTITION BY c.id ORDER BY c.csim DESC, c.sid) AS rn FROM csims c JOIN sd0 ON sd0.vec_id = c.id WHERE sd0.side = 1) WHERE rn <= $BitextAssign),
pr AS (SELECT DISTINCT q.id AS qid, ca.id AS nid FROM qasg q JOIN casg ca ON ca.sid = q.sid),
pd AS (SELECT qid, nid, sum(a.x * b.x) AS d FROM pr JOIN u a ON a.vec_id = qid JOIN u b ON b.vec_id = nid AND b.i = a.i GROUP BY 1, 2),
sc AS (SELECT qid, nid, CAST(floor(CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) * 1000000) AS BIGINT) AS cos_q FROM pd JOIN nr na ON na.vec_id = qid JOIN nr nb ON nb.vec_id = nid),
tk AS (SELECT qid, nid, cos_q, row_number() OVER (PARTITION BY qid ORDER BY cos_q DESC, nid) AS rk FROM sc),
ag AS (SELECT qid, max(CASE WHEN rk = 1 THEN nid END) AS match_id, max(CASE WHEN rk = 1 THEN cos_q END) AS cos_q, count(*) AS m, CAST(sum(cos_q) AS BIGINT) AS cs FROM tk WHERE rk <= 4 GROUP BY 1)
SELECT qid AS query_id, match_id, cos_q, CAST((cos_q * m * 1000000) // cs AS BIGINT) AS margin_ppm
FROM ag WHERE cos_q > 0 AND cs > 0 AND (cos_q * m * 1000000) // cs >= 1100000 ORDER BY 1""")),

    // bitext probe-loss audit (the q_cell_recall pattern): fraction of
    // queries whose nprobe=9 mined best match equals the brute-force best
    // match — the price of the cell bound, measured, not assumed. The
    // brute-force side runs only for the ~AnchorCap deterministic query
    // stratum (O(anchors * |candidates|), never |A| x |B|); the mined
    // side stays the full production path
    ("q_bitext_recall", (s, dir) => {
      val e = emb(s, dir)
      val side = graft.functions.Sampling.hashBucket(col("vec_id"), 2, "bt")
      val qs = e.filter(side === 0)
      val cs = e.filter(side === 1)
      val nq = qs.count()
      val m = math.max(1L, nq / AnchorCap)
      Similarity.assertStratum(
        qs.filter(col("vec_id") % m === 0).select("vec_id").count(),
        nq, AnchorCap, "q_bitext_recall anchors")
      val mined = Similarity.marginMinedPairs(qs, cs, "vec_id", "embedding",
          k = 4, nprobe = BitextProbe, marginPpmMin = 0L,
          massign = BitextAssign)
        .select(col("query_id"), col("match_id"))
      val exact = Similarity.bruteForceTopK(qs.filter(col("vec_id") % m === 0),
          cs, "vec_id", "embedding", 1)
        .select(col("query_id"), col("neighbor_id").as("exact_id"))
      exact.join(mined, Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("match_id").isNotNull, 1L).otherwise(0L)).as("n_mined"),
          sum(when(col("match_id") === col("exact_id"), 1L).otherwise(0L))
            .as("n_agree"))
        .select(col("n_queries"), col("n_mined"), col("n_agree"),
          expr("n_agree * 1000000L div n_queries").as("recall_ppm"))
    },
      Some(s"""$EMB_U,
nr AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
sd0 AS (SELECT vec_id, CAST(concat('0x', substr(md5(concat('bt', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT) % 2 AS side FROM embeddings),
amod AS (SELECT greatest(1, count(*) // $AnchorCap) AS m FROM sd0 WHERE side = 0),
cnt AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS kk FROM sd0 WHERE side = 1),
sr AS (SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM sd0 WHERE side = 1),
seeds AS (SELECT vec_id AS sid FROM sr, cnt WHERE rn <= kk),
dots AS (SELECT a.vec_id AS id, s.vec_id AS sid, sum(a.x * s.x) AS d FROM u a JOIN u s ON s.i = a.i WHERE s.vec_id IN (SELECT sid FROM seeds) GROUP BY 1, 2),
csims AS (SELECT id, sid, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(ns.nn AS DOUBLE))) AS csim FROM dots JOIN nr na ON na.vec_id = id JOIN nr ns ON ns.vec_id = sid),
qasg AS (SELECT id, sid FROM (SELECT c.id, c.sid, row_number() OVER (PARTITION BY c.id ORDER BY c.csim DESC, c.sid) AS rn FROM csims c JOIN sd0 ON sd0.vec_id = c.id WHERE sd0.side = 0) WHERE rn <= $BitextProbe),
casg AS (SELECT id, sid FROM (SELECT c.id, c.sid, row_number() OVER (PARTITION BY c.id ORDER BY c.csim DESC, c.sid) AS rn FROM csims c JOIN sd0 ON sd0.vec_id = c.id WHERE sd0.side = 1) WHERE rn <= $BitextAssign),
pr AS (SELECT DISTINCT q.id AS qid, ca.id AS nid FROM qasg q JOIN casg ca ON ca.sid = q.sid),
pd AS (SELECT qid, nid, sum(a.x * b.x) AS d FROM pr JOIN u a ON a.vec_id = qid JOIN u b ON b.vec_id = nid AND b.i = a.i GROUP BY 1, 2),
sc AS (SELECT qid, nid, CAST(floor(CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) * 1000000) AS BIGINT) AS cos_q FROM pd JOIN nr na ON na.vec_id = qid JOIN nr nb ON nb.vec_id = nid),
tk AS (SELECT qid, nid, cos_q, row_number() OVER (PARTITION BY qid ORDER BY cos_q DESC, nid) AS rk FROM sc),
ag AS (SELECT qid, max(CASE WHEN rk = 1 THEN nid END) AS match_id, max(CASE WHEN rk = 1 THEN cos_q END) AS cos_q, CAST(sum(cos_q) AS BIGINT) AS cs FROM tk WHERE rk <= 4 GROUP BY 1),
mined AS (SELECT qid, match_id FROM ag WHERE cos_q > 0 AND cs > 0),
exd AS (SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.x * b.x) AS d FROM u a JOIN u b ON b.i = a.i JOIN sd0 qa ON qa.vec_id = a.vec_id AND qa.side = 0 JOIN sd0 cb ON cb.vec_id = b.vec_id AND cb.side = 1 WHERE a.vec_id % (SELECT m FROM amod) = 0 GROUP BY 1, 2),
exs AS (SELECT qid, nid, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv FROM exd JOIN nr na ON na.vec_id = qid JOIN nr nb ON nb.vec_id = nid),
exact AS (SELECT qid, nid AS exact_id FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sv DESC, nid) AS rn FROM exs) WHERE rn = 1)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
CAST(sum(CASE WHEN mined.match_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mined,
CAST(sum(CASE WHEN mined.match_id = exact.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
CAST((sum(CASE WHEN mined.match_id = exact.exact_id THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS recall_ppm
FROM exact LEFT JOIN mined USING (qid)""")),

    // per-vector quantized squared norm + corpus norm profile: the sanity
    // scan run before any index build (map-only pass + one tiny rollup)
    ("q_embed_norms", (s, dir) => {
      val qv = Similarity.quantize(col("embedding"))
      emb(s, dir)
        .select(col("label"), Similarity.dotLong(qv, qv).as("n2"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), min("n2").as("min_n2"),
          max("n2").as("max_n2"),
          sum(col("n2").cast("decimal(38,0)")).cast("decimal(38,0)").cast("string").as("sum_n2"))
        .orderBy("label")
    },
      Some(s"""$EMB_U,
n2 AS (SELECT e.label, sum(u.x * u.x) AS n2 FROM u JOIN embeddings e USING (vec_id) GROUP BY u.vec_id, e.label)
SELECT label, count(*) AS n_vecs, CAST(min(n2) AS BIGINT) AS min_n2, CAST(max(n2) AS BIGINT) AS max_n2,
CAST(CAST(sum(n2) AS HUGEINT) AS VARCHAR) AS sum_n2 FROM n2 GROUP BY 1 ORDER BY 1""")),

    // recall@3 of the sign-LSH ANN vs the exact top-3 on a 1-in-50 query
    // sample — the retrieval-quality gauge; exact cost is bounded by the
    // sample rate, the approximate side stays bucket-joined
    ("q_ann_recall", (s, dir) =>
      Similarity.annRecall(emb(s, dir), "vec_id", "embedding", 3, 8, 50)
        .orderBy("query_id"),
      Some(s"""$EMB_U,
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
edq AS (SELECT q.vec_id AS qa, c.vec_id AS cb, sum(q.x * c.x) AS d
FROM u q JOIN u c ON q.i = c.i AND q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id GROUP BY 1,2),
esims AS (SELECT qa, cb, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv
FROM edq JOIN norms na ON na.vec_id = qa JOIN norms nb ON nb.vec_id = cb),
ek AS (SELECT qa, cb FROM (SELECT qa, cb, row_number() OVER (PARTITION BY qa ORDER BY sv DESC, cb) AS rn FROM esims) WHERE rn <= 3),
bk AS (SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, 8), j -> CASE WHEN embedding[j] > 0 THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket FROM embeddings),
cand AS (SELECT q.vec_id AS qa, c.vec_id AS cb FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id WHERE q.vec_id % 50 = 0),
ak AS (SELECT qa, cb FROM (SELECT s.qa, s.cb, row_number() OVER (PARTITION BY s.qa ORDER BY s.sv DESC, s.cb) AS rn
FROM esims s JOIN cand ON cand.qa = s.qa AND cand.cb = s.cb) WHERE rn <= 3),
hits AS (SELECT e.qa, count(*) AS n_hit FROM ek e JOIN ak a ON a.qa = e.qa AND a.cb = e.cb GROUP BY 1),
ex AS (SELECT qa, count(*) AS n_exact FROM ek GROUP BY 1)
SELECT ex.qa AS query_id, CAST(ex.n_exact AS BIGINT) AS n_exact, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
CAST(COALESCE(h.n_hit, 0) * 1000000 // ex.n_exact AS BIGINT) AS recall_q
FROM ex LEFT JOIN hits h ON h.qa = ex.qa ORDER BY 1""")),

    ("q_ann_ivf", (s, dir) =>
      Similarity.ivfTopK(emb(s, dir), "vec_id", "embedding", "label", 3)
        .orderBy("query_id", "rank"),
      Some(s"""$EMB_U,
lb AS (SELECT vec_id, label FROM embeddings),
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
cand AS (SELECT q.vec_id AS qa, q.label AS cell, c.vec_id AS cb FROM lb q JOIN lb c ON q.label = c.label AND q.vec_id <> c.vec_id),
dq AS (SELECT cand.qa, cand.cell, cand.cb, sum(a.x * b.x) AS d
FROM cand JOIN u a ON a.vec_id = cand.qa JOIN u b ON b.vec_id = cand.cb AND b.i = a.i GROUP BY 1,2,3),
sims AS (SELECT qa, cell, cb, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv
FROM dq JOIN norms na ON na.vec_id = qa JOIN norms nb ON nb.vec_id = cb),
rk AS (SELECT qa, cell, cb, row_number() OVER (PARTITION BY qa ORDER BY sv DESC, cb) AS rn FROM sims)
SELECT qa AS query_id, cell, cb AS neighbor_id, CAST(rn AS INT) AS rank FROM rk WHERE rn <= 3 ORDER BY 1,4""")),

    // IVF cell centroids: integer-exact means of the quantized embeddings.
    // Spark DIV truncates toward zero while DuckDB // floors, so the oracle
    // spells truncating division sign-aware (sums can be negative)
    ("q_ivf_centroids", (s, dir) =>
      Similarity.ivfCentroids(emb(s, dir), "embedding", "label")
        .orderBy("cell", "i"),
      Some("""WITH u AS (SELECT label AS cell, s.i, CAST(floor(CAST(embedding[s.i] AS DOUBLE) * 10000000) AS BIGINT) AS x FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s),
g AS (SELECT cell, i, sum(x) AS sx, count(*) AS n FROM u GROUP BY 1,2)
SELECT cell, CAST(i AS INT) AS i,
CAST(CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END AS BIGINT) AS centroid_q
FROM g ORDER BY 1,2""")),

    // one spherical k-means Lloyd assignment step (the E-step paired with
    // q_ivf_centroids' M-step = the full IVF training loop): every vector
    // re-assigned to its max-cosine centroid, ties to the smaller cell
    ("q_kmeans_assign", (s, dir) =>
      Similarity.kmeansAssign(emb(s, dir), "vec_id", "embedding", "label")
        .select(col("id").as("vec_id"), col("cell"), col("new_cell"), col("moved"))
        .orderBy("vec_id"),
      Some(s"""$EMB_U,
lb AS (SELECT vec_id, label FROM embeddings),
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
g AS (SELECT label AS cell, i, sum(x) AS sx, count(*) AS n FROM u JOIN lb USING (vec_id) GROUP BY 1,2),
cent AS (SELECT cell, i, CAST(CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END AS BIGINT) AS cq FROM g),
cn AS (SELECT cell, sum(cq * cq) AS cn2 FROM cent GROUP BY 1),
qc AS (SELECT u.vec_id, c.cell, sum(u.x * c.cq) AS d FROM u JOIN cent c ON c.i = u.i GROUP BY 1,2),
ps AS (SELECT qc.vec_id, qc.cell, CAST(d AS DOUBLE) / (sqrt(CAST(nn AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cs
FROM qc JOIN norms ON norms.vec_id = qc.vec_id JOIN cn ON cn.cell = qc.cell),
best AS (SELECT vec_id, cell AS new_cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn FROM ps) WHERE rn = 1)
SELECT b.vec_id, lb.label AS cell, b.new_cell, lb.label <> b.new_cell AS moved
FROM best b JOIN lb ON lb.vec_id = b.vec_id ORDER BY 1""")),

    // multi-probe IVF: nprobe=2 cells per query, centroid ranking and
    // candidate scoring both integer-exact (the oracle recomputes the same
    // truncation-exact centroids and replays the two-stage ranking)
    ("q_ann_ivf_probe", (s, dir) =>
      Similarity.ivfTopKProbe(emb(s, dir), "vec_id", "embedding", "label",
          k = 3, nprobe = 2)
        .orderBy("query_id", "rank"),
      Some(s"""$EMB_U,
lb AS (SELECT vec_id, label FROM embeddings),
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
g AS (SELECT label AS cell, i, sum(x) AS sx, count(*) AS n FROM u JOIN lb USING (vec_id) GROUP BY 1,2),
cent AS (SELECT cell, i, CAST(CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END AS BIGINT) AS cq FROM g),
cn AS (SELECT cell, sum(cq * cq) AS cn2 FROM cent GROUP BY 1),
qc AS (SELECT u.vec_id, c.cell, sum(u.x * c.cq) AS d FROM u JOIN cent c ON c.i = u.i GROUP BY 1,2),
ps AS (SELECT qc.vec_id, qc.cell, CAST(d AS DOUBLE) / (sqrt(CAST(nn AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cs
FROM qc JOIN norms ON norms.vec_id = qc.vec_id JOIN cn ON cn.cell = qc.cell),
probed AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS pn FROM ps) WHERE pn <= 2),
cand AS (SELECT p.vec_id AS qa, c.vec_id AS cb FROM probed p JOIN lb c ON c.label = p.cell AND c.vec_id <> p.vec_id),
dq AS (SELECT cand.qa, cand.cb, sum(a.x * b.x) AS d
FROM cand JOIN u a ON a.vec_id = cand.qa JOIN u b ON b.vec_id = cand.cb AND b.i = a.i GROUP BY 1,2),
sims AS (SELECT qa, cb, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv
FROM dq JOIN norms na ON na.vec_id = qa JOIN norms nb ON nb.vec_id = cb),
rk AS (SELECT qa, cb, row_number() OVER (PARTITION BY qa ORDER BY sv DESC, cb) AS rn FROM sims)
SELECT qa AS query_id, cb AS neighbor_id, CAST(rn AS INT) AS rank FROM rk WHERE rn <= 3 ORDER BY 1,3""")),

    // int8 scalar quantization of the embedding corpus: codes validated via
    // an md5 over the ordered code list, plus worst reconstruction error
    ("q_int8_quant", (s, dir) =>
      Similarity.int8Quantize(emb(s, dir), "vec_id", "embedding")
        .select(col("id"), col("scale_q"),
          md5(array_join(transform(col("codes"), c => c.cast("string")), ","))
            .as("codes_md5"),
          col("max_err_q"))
        .orderBy("id"),
      Some("""WITH u AS (SELECT vec_id, s.i, CAST(floor(CAST(embedding[s.i] AS DOUBLE) * 10000000) AS BIGINT) AS x FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s),
sc AS (SELECT vec_id, max(abs(x)) AS scale_q FROM u GROUP BY 1),
c AS (SELECT u.vec_id, u.i, u.x, sc.scale_q,
  CASE WHEN sc.scale_q = 0 THEN 0 WHEN u.x >= 0 THEN (u.x * 127) // sc.scale_q ELSE -(((-u.x) * 127) // sc.scale_q) END AS code
  FROM u JOIN sc ON u.vec_id = sc.vec_id),
r AS (SELECT vec_id, i, x, scale_q, code,
  CASE WHEN scale_q = 0 THEN 0 WHEN code >= 0 THEN (code * scale_q) // 127 ELSE -(((-code) * scale_q) // 127) END AS recon FROM c)
SELECT vec_id AS id, any_value(scale_q) AS scale_q,
md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY i)) AS codes_md5,
max(abs(x - recon)) AS max_err_q
FROM r GROUP BY 1 ORDER BY 1""")),

    // ====================== text analysis extensions ======================

    // mergeable Flajolet-Martin cardinality sketch over the corpus token
    // stream (the no-shuffle distinct-count estimate at 100 TB); the
    // deliverable is the per-bucket max-rho sketch itself
    ("q_card_sketch", (s, dir) =>
      TextAnalysis.cardinalitySketch(
          docs(s, dir).select(explode(TextAnalysis.tokens(col("text"))).as("token")),
          "token", 64)
        .orderBy("bucket"),
      Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
h AS (SELECT md5(token) AS hx FROM t),
sk AS (SELECT CAST(CAST(concat('0x', substr(hx, 1, 8)) AS BIGINT) % 64 AS INT) AS bucket,
CAST(33 - length(bin(CAST(concat('0x', substr(hx, 9, 8)) AS BIGINT))) AS INT) AS rho FROM h)
SELECT bucket, max(rho) AS max_rho FROM sk GROUP BY 1 ORDER BY 1""")),

    // pattern redaction over the events props payload (digit runs -> <NUM>);
    // the PII preset itself is spec-gated (no PII exists in the testdata)
    ("q_redact", (s, dir) =>
      TextAnalysis.redactPatterns(tbl(s, dir, "events"), "props",
          Seq(("num", "[0-9]+", "<NUM>")))
        .select(col("event_id"), col("n_num"), col("redacted"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_num,
regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted
FROM events ORDER BY 1""")),

    // financial-identifier preset over documents: counts are taken on the
    // ORIGINAL text per pattern, redaction applies in list order (matching
    // redactPatterns' fold) — the oracle replays both stages explicitly
    ("q_redact_financial", (s, dir) =>
      TextAnalysis.redactPatterns(docs(s, dir).select("doc_id", "text"),
          "text", TextAnalysis.financialPatterns)
        .select(col("doc_id"), col("n_iban"), col("n_card"), col("redacted"))
        .orderBy("doc_id"),
      Some("""WITH r1 AS (SELECT doc_id, text,
CAST(len(regexp_extract_all(text, '[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}')) AS BIGINT) AS n_iban,
regexp_replace(text, '[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}', '<IBAN>', 'g') AS t1
FROM documents)
SELECT doc_id, n_iban,
CAST(len(regexp_extract_all(text, '[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}')) AS BIGINT) AS n_card,
regexp_replace(t1, '[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}', '<CARD>', 'g') AS redacted
FROM r1 ORDER BY 1""")),

    ("q_text_quality", (s, dir) =>
      TextAnalysis.qualityFeatures(docs(s, dir).select("doc_id", "text"), "text")
        .select("doc_id", "n_chars", "n_tokens", "mean_token_len", "stopword_ratio",
          "punct_ratio", "quality_score")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
m AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(len(l) AS BIGINT) AS n_tokens,
CAST(len(list_filter(l, x -> x IN ($ALL_MARKERS))) AS BIGINT) AS stop,
CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct FROM t)
SELECT doc_id, n_chars, n_tokens,
CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS mean_token_len,
CAST(stop AS DOUBLE) / n_tokens AS stopword_ratio,
CAST(punct AS DOUBLE) / n_chars AS punct_ratio,
CAST(100 - (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0 ELSE 20 END)
 - (CASE WHEN CAST(stop AS DOUBLE) / n_tokens > 0.05 THEN 0 ELSE 10 END)
 - (CASE WHEN CAST(punct AS DOUBLE) / n_chars < 0.2 THEN 0 ELSE 15 END) AS BIGINT) AS quality_score
FROM m ORDER BY 1""")),

    ("q_lang_id", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"),
        col("lang")).orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
h AS (SELECT doc_id, lang,
len(list_filter(l, x -> x IN ('the','a','of','and','is'))) AS h_en,
len(list_filter(l, x -> x IN ('der','die','das','und','ist'))) AS h_de,
len(list_filter(l, x -> x IN ('le','les','et','est','une'))) AS h_fr,
len(list_filter(l, x -> x IN ('el','los','las','y','es'))) AS h_es,
len(list_filter(l, x -> x IN ('的','是','在'))) AS h_zh FROM t)
SELECT doc_id, CASE WHEN greatest(h_en,h_de,h_fr,h_es,h_zh) = 0 THEN 'und'
WHEN h_en = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'en'
WHEN h_de = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'de'
WHEN h_fr = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'fr'
WHEN h_es = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'es'
ELSE 'zh' END AS lang_pred, lang FROM h ORDER BY 1""")),

    ("q_token_counts", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.bpeTokenEstimate(col("text")).as("bpe_est")).orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_est
FROM documents ORDER BY 1""")),

    // unicode regex tokenizer variant: counts diverge from the whitespace
    // split exactly where punctuation glues tokens together
    ("q_token_counts_regex", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCountUnicode(col("text")).cast("long").as("n_tokens_regex"),
        size(array_distinct(TextAnalysis.tokensUnicode(lower(col("text")))))
          .cast("long").as("n_distinct_regex")).orderBy("doc_id"),
      Some("""SELECT doc_id,
CAST(len(list_filter(regexp_split_to_array(text, '[^\p{L}\p{N}]+'), w -> w <> '')) AS BIGINT) AS n_tokens_regex,
CAST(len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), w -> w <> ''))) AS BIGINT) AS n_distinct_regex
FROM documents ORDER BY 1""")),

    ("q_fingerprints", (s, dir) =>
      docs(s, dir)
        .filter(size(TextAnalysis.tokens(col("text"))) >= 5)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.rollingFingerprint(col("text"), 5).as("rolling_fp"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents)
SELECT doc_id, md5(lower(trim(text))) AS fp,
list_aggregate(list_transform(generate_series(1, len(l) - 4), i -> md5(array_to_string(list_slice(l, i, i + 4), ' '))), 'min') AS rolling_fp
FROM t WHERE len(l) >= 5 ORDER BY 1""")),

    // integer-exact TF-IDF analogue: score = tf * 1e6 * N DIV df
    ("q_tfidf_top", (s, dir) =>
      TextAnalysis.tfidfTopTerms(docs(s, dir), "doc_id", "text", 5)
        .orderBy("doc_id", "rank"),
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tfc AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1,2),
dfreq AS (SELECT token, count(*) AS df FROM tfc GROUP BY 1),
scored AS (SELECT doc_id, tfc.token, tf, CAST(CAST(tf AS BIGINT) * 1000000 // df AS BIGINT) AS score_q
FROM tfc JOIN dfreq ON tfc.token = dfreq.token),
rk AS (SELECT doc_id, token, tf, score_q, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, token) AS rn FROM scored)
SELECT doc_id, token, tf, score_q, CAST(rn AS INT) AS rank FROM rk WHERE rn <= 5 ORDER BY 1, 5""")),

    // Gopher-style duplicate-ngram repetition signal
    ("q_repetition", (s, dir) =>
      TextAnalysis.repetitionFeatures(docs(s, dir).select("doc_id", "text"), "doc_id", "text", 3)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
s AS (SELECT doc_id, list_transform(generate_series(1, len(l) - 2), i -> array_to_string(list_slice(l, i, i + 2), ' ')) AS sh FROM t WHERE len(l) >= 3)
SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles, CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh) AS rep_ratio FROM s ORDER BY 1""")),

    // typed JSON extraction + exact aggregation over event props
    ("q_props_agg", (s, dir) =>
      graft.functions.SemiStructured.propsAggByType(tbl(s, dir, "events"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY 1 ORDER BY 1""")),

    // per-source corpus stats (the provenance-level quality rollup)
    ("q_source_stats", (s, dir) =>
      docs(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("decimal(38,0)"))
            .cast("long").as("total_tokens"),
          count_distinct(col("lang")).as("n_langs"))
        .orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs,
CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
count(DISTINCT lang) AS n_langs FROM documents GROUP BY 1 ORDER BY 1""")),

    // per-source leave-one-out screening: complement-corpus stats as
    // totals-minus-group over ONE corpus scan (the naive form rescans the
    // corpus once per source — |sources| reads at 100 TB)
    ("q_source_ablation", (s, dir) =>
      Curation.sourceAblation(docs(s, dir), "source", "text")
        .orderBy("source"),
      Some("""WITH g AS (SELECT source, count(*) AS n_docs, CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens FROM documents GROUP BY 1),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs, CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM g)
SELECT source, n_docs, n_tokens,
CAST((n_tokens * 1000000) // t_tokens AS BIGINT) AS share_ppm,
CAST(t_docs - n_docs AS BIGINT) AS rest_docs,
CAST(t_tokens - n_tokens AS BIGINT) AS rest_tokens,
CAST(CASE WHEN t_docs - n_docs > 0 THEN ((t_tokens - n_tokens) * 1000000) // (t_docs - n_docs) ELSE 0 END AS BIGINT) AS rest_avg_tokens_q
FROM g, t ORDER BY 1""")),

    // deterministic hash sampling / splits: pure function of the key, so
    // samples and holdouts are stable across engines and reruns
    ("q_hash_sample", (s, dir) =>
      graft.functions.Sampling.sampleByHash(docs(s, dir), "doc_id", 10)
        .select("doc_id").orderBy("doc_id"),
      Some("""SELECT doc_id FROM documents WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10 ORDER BY 1""")),

    ("q_hash_split", (s, dir) =>
      graft.functions.Sampling.hashSplit(docs(s, dir), "doc_id",
          Seq("train" -> 98, "val" -> 1, "test" -> 1))
        .groupBy("split").agg(count(lit(1)).as("n")).orderBy("split"),
      Some("""WITH b AS (SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b FROM documents)
SELECT CASE WHEN b < 98 THEN 'train' WHEN b < 99 THEN 'val' ELSE 'test' END AS split, count(*) AS n FROM b GROUP BY 1 ORDER BY 1""")),

    // stratified variant: per-stratum keep rates (downsample the head
    // language, keep the tail) — still a single pushed-down scan filter
    ("q_sample_stratified", (s, dir) =>
      graft.functions.Sampling.sampleStratified(docs(s, dir), "doc_id", "lang",
          Seq("en" -> 5), defaultPct = 50)
        .select("doc_id", "lang").orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
  < CASE WHEN lang = 'en' THEN 5 ELSE 50 END ORDER BY 1""")),

    // deterministic multi-epoch training order: per-epoch md5 permutation,
    // bucketed into data-loader shards with dense in-shard ranks —
    // regenerate any shard independently (checkpoint-resumable loading)
    ("q_epoch_shuffle", (s, dir) =>
      graft.functions.Sampling.epochShuffle(
          docs(s, dir).filter(col("doc_id") % 5 === 0), "doc_id", 2, 4)
        .orderBy("epoch", "bucket", "pos"),
      Some("""WITH e AS (SELECT doc_id AS id, unnest(generate_series(0, 1)) AS epoch FROM documents WHERE doc_id % 5 = 0),
k AS (SELECT CAST(epoch AS INT) AS epoch, id, md5('ep' || CAST(epoch AS VARCHAR) || ':' || CAST(id AS VARCHAR)) AS k FROM e),
b AS (SELECT epoch, id, k, CAST(CAST(concat('0x', substr(k, 1, 8)) AS BIGINT) % 4 AS INT) AS bucket FROM k)
SELECT epoch, bucket, CAST(row_number() OVER (PARTITION BY epoch, bucket ORDER BY k, id) AS BIGINT) AS pos, id
FROM b ORDER BY 1, 2, 3""")),

    // backward as-of join (union + one window pass, no join operator):
    // each click gets the latest preceding purchase value per user;
    // oracle is DuckDB's NATIVE ASOF JOIN — an independent implementation
    ("q_asof_join", (s, dir) => {
      val ev = EventStream.normalizeTs(tbl(s, dir, "events"))
      graft.operators.AsOfJoin.asofBackward(
          ev.filter(col("event_type") === "click")
            .select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "purchase"),
          keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          valueCols = Seq("value"), tieCol = Some("event_id"))
        .select("event_id", "user_id", "asof_value").orderBy("event_id")
    },
      Some("""WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, arg_max(value, event_id) AS value FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT c.event_id, c.user_id, p.value AS asof_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts ORDER BY 1""")),

    // context-length chunking: fixed 64-token windows, stride 48
    ("q_chunks", (s, dir) =>
      TextAnalysis.chunkTokens(docs(s, dir).filter(col("doc_id") % 10 === 0),
          "doc_id", "text", chunkSize = 64, stride = 48)
        .orderBy("doc_id", "chunk_start"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents WHERE doc_id % 10 = 0),
s AS (SELECT doc_id, l, unnest(range(0, len(l), 48)) AS chunk_start FROM t)
SELECT doc_id, chunk_start, array_to_string(l[chunk_start+1:chunk_start+64], ' ') AS chunk_text
FROM s ORDER BY 1, 2""")),

    // benchmark decontamination: corpus docs sharing a 4-gram with the
    // hash-held-out benchmark slice (n-gram test-set-overlap filter)
    ("q_decontaminate", (s, dir) => {
      val d = docs(s, dir)
      val bench = graft.functions.Sampling.sampleByHash(d, "doc_id", 5, salt = "bench")
      val corpus = d.filter(
        graft.functions.Sampling.hashBucket(col("doc_id"), 100, "bench") >= 5)
      Dedup.contaminatedIds(corpus, bench, "doc_id", "text", n = 4)
        .orderBy("doc_id")
    },
      Some("""WITH b AS (SELECT CAST(concat('0x', substr(md5(concat('bench', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 AS bk, doc_id, text FROM documents),
bench AS (SELECT string_split(text, ' ') AS l FROM b WHERE bk < 5),
bsh AS (SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(l) - 3, 0)), i -> array_to_string(list_slice(l, i, i + 3), ' '))) AS g FROM bench),
c AS (SELECT doc_id, string_split(text, ' ') AS l FROM b WHERE bk >= 5),
csh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 3, 0)), i -> array_to_string(list_slice(l, i, i + 3), ' '))) AS g FROM c)
SELECT DISTINCT doc_id FROM csh JOIN bsh USING (g) ORDER BY 1""")),

    // per-group document cap (the per-domain cap): rank by salted key hash
    // inside each source, keep k — WindowGroupLimit prunes map-side
    ("q_cap_per_group", (s, dir) =>
      graft.functions.Sampling.capPerGroup(docs(s, dir), "doc_id", "source", 10)
        .select("doc_id", "source").orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM (
SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
FROM documents) WHERE rk <= 10 ORDER BY doc_id""")),

    // corpus length profile: exact discrete quantiles (ANSI percentile_disc
    // = smallest value with cume_dist >= fraction; DuckDB quantile_disc
    // matches — probed on tie/even-count cases)
    ("q_len_quantiles", (s, dir) =>
      TextAnalysis.lengthQuantiles(docs(s, dir), "source", "text")
        .orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs,
CAST(quantile_disc(len(string_split(text, ' ')), 0.5) AS BIGINT) AS p50_tokens,
CAST(quantile_disc(len(string_split(text, ' ')), 0.9) AS BIGINT) AS p90_tokens
FROM documents GROUP BY 1 ORDER BY 1""")),

    // corpus vocabulary: global top-k tokens by document frequency
    ("q_vocab", (s, dir) =>
      TextAnalysis.vocabulary(docs(s, dir), "doc_id", "text", 50)
        .orderBy("rank"),
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tfc AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1,2),
v AS (SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total FROM tfc GROUP BY 1),
rk AS (SELECT token, df, tf_total, row_number() OVER (ORDER BY df DESC, tf_total DESC, token) AS rn FROM v)
SELECT token, df, tf_total, CAST(rn AS INT) AS rank FROM rk WHERE rn <= 50 ORDER BY 4""")),

    // tokenizer-vocab coverage: per-source OOV rate against the corpus
    // top-30 document-frequency vocabulary — the "does my tokenizer cover
    // this source" dashboard; the vocab side is TakeOrderedAndProject-sized
    // and broadcast into a single corpus scan
    ("q_oov_rate", (s, dir) => {
      val vocab = TextAnalysis.vocabulary(docs(s, dir), "doc_id", "text", 30)
        .select(col("token"))
      docs(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .join(broadcast(vocab.withColumn("iv", lit(1L))), Seq("token"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .selectExpr("source", "n_tokens", "n_oov",
          "CAST(n_oov * 1000000 DIV n_tokens AS BIGINT) AS oov_ppm")
        .orderBy("source")
    },
      Some("""WITH tk AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token FROM documents),
tfc AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1,2),
v AS (SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total FROM tfc GROUP BY 1),
rk AS (SELECT token, row_number() OVER (ORDER BY df DESC, tf_total DESC, token) AS rn FROM v),
voc AS (SELECT token FROM rk WHERE rn <= 30)
SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
CAST(count(*) FILTER (WHERE tk.token NOT IN (SELECT token FROM voc)) AS BIGINT) AS n_oov,
CAST(count(*) FILTER (WHERE tk.token NOT IN (SELECT token FROM voc)) * 1000000 // count(*) AS BIGINT) AS oov_ppm
FROM tk GROUP BY 1 ORDER BY 1""")),

    // Kneser-Ney continuation statistics: distinct-left-context counts per
    // token (the type-count KN smoothing scores by), history fertility, and
    // continuation probability in ppm of the bigram-type total
    ("q_kn_counts", (s, dir) =>
      TextAnalysis.knContinuation(docs(s, dir), "doc_id", "text")
        .orderBy("token"),
      Some("""WITH t AS (SELECT string_split(text, ' ') AS l FROM documents WHERE len(string_split(text, ' ')) >= 2),
bp AS (SELECT DISTINCT lt, rt FROM (SELECT unnest(list_transform(generate_series(1, len(l) - 1), i -> {'lt': l[i], 'rt': l[i + 1]}), recursive := true) FROM t)),
cont AS (SELECT rt AS token, count(*) AS cont_types FROM bp GROUP BY 1),
fert AS (SELECT lt AS token, count(*) AS right_types FROM bp GROUP BY 1),
tot AS (SELECT count(*) AS tt FROM bp)
SELECT coalesce(c.token, f.token) AS token,
CAST(coalesce(c.cont_types, 0) AS BIGINT) AS cont_types,
CAST(coalesce(f.right_types, 0) AS BIGINT) AS right_types,
CAST(coalesce(c.cont_types, 0) * 1000000 // tt AS BIGINT) AS cont_ppm
FROM cont c FULL OUTER JOIN fert f ON c.token = f.token, tot ORDER BY 1""")),

    // collocation mining by quantized lift (the integral PMI analogue):
    // top bigram phrases whose joint count beats independence
    ("q_collocations", (s, dir) =>
      TextAnalysis.collocations(docs(s, dir), "doc_id", "text",
          minCount = 5, topK = 20)
        .select(col("w1"), col("w2"), col("fxy"), col("lift_q"),
          col("rank").cast("int").as("rank"))
        .orderBy("rank"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
uni AS (SELECT w, count(*) AS f FROM (SELECT unnest(l) AS w FROM t) GROUP BY 1),
nt AS (SELECT CAST(sum(len(l)) AS HUGEINT) AS n FROM t),
bg AS (SELECT w1, w2, count(*) AS fxy FROM (
  SELECT l[i] AS w1, l[i + 1] AS w2 FROM t, unnest(generate_series(1, len(l) - 1)) AS s(i) WHERE len(l) >= 2)
  GROUP BY 1, 2 HAVING count(*) >= 5),
sc AS (SELECT bg.w1, bg.w2, bg.fxy,
CAST((CAST(bg.fxy AS HUGEINT) * (SELECT n FROM nt) * 1000000) // (CAST(ux.f AS HUGEINT) * uy.f) AS BIGINT) AS lift_q
FROM bg JOIN uni ux ON ux.w = bg.w1 JOIN uni uy ON uy.w = bg.w2)
SELECT w1, w2, fxy, lift_q, CAST(rn AS INT) AS rank FROM (
SELECT w1, w2, fxy, lift_q, row_number() OVER (ORDER BY lift_q DESC, fxy DESC, w1, w2) AS rn FROM sc)
WHERE rn <= 20 ORDER BY 5""")),

    // corpus-trained bigram frequency scoring — the integer-exact analogue
    // of a bigram LM fluency score (no cross-engine float log): train
    // bigram counts over the corpus, score docs by avg bigram frequency
    ("q_bigram_lm", (s, dir) =>
      TextAnalysis.bigramLm(docs(s, dir), "doc_id", "text").orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1])) AS bigram FROM t WHERE len(l) >= 2),
cf AS (SELECT bigram, count(*) AS f FROM bg GROUP BY 1),
ds AS (SELECT doc_id, count(*) AS n_bigrams, sum(f) AS fs FROM bg JOIN cf USING (bigram) GROUP BY 1)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, CAST(fs AS BIGINT) AS freq_sum,
CAST((fs * 1000000) // n_bigrams AS BIGINT) AS lm_score_q FROM ds ORDER BY 1""")),

    // conditional-bigram fluency filter (integer-exact CCNet-perplexity
    // stand-in): avg ppm of P(w2|w1) over each doc's bigrams — joint
    // frequency (q_bigram_lm) scores common WORDS, this scores predictable
    // TRANSITIONS, which is the signal a fluency gate actually wants
    ("q_lm_filter", (s, dir) =>
      TextAnalysis.conditionalBigramScore(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1), i -> struct_pack(w1 := l[i], bigram := l[i] || ' ' || l[i + 1]))) AS b FROM t WHERE len(l) >= 2),
sp AS (SELECT doc_id, b.w1 AS w1, b.bigram AS bigram FROM bg),
fxy AS (SELECT bigram, count(*) AS fxy FROM sp GROUP BY 1),
fx AS (SELECT w1, count(*) AS fx FROM sp GROUP BY 1),
ds AS (SELECT doc_id, count(*) AS n_bigrams, sum((1000000 * fxy) // fx) AS ts
FROM sp JOIN fxy USING (bigram) JOIN fx USING (w1) GROUP BY 1)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
CAST(ts // n_bigrams AS BIGINT) AS cond_score_q FROM ds ORDER BY 1""")),

    // curriculum training order: exact global ntile on the fluency score
    // (easiest = most predictable text first) via the scale-safe
    // sortBy+zipWithIndex rank — never a global window — then a
    // deterministic per-source round-robin interleave inside each stage
    ("q_curriculum", (s, dir) => {
      val d = docs(s, dir)
      val sc = TextAnalysis.conditionalBigramScore(d, "doc_id", "text")
        .join(d.select("doc_id", "source"), Seq("doc_id"))
      Curation.curriculumOrder(sc, "doc_id", "source", "cond_score_q", 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("stage", "pos")
    },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1), i -> struct_pack(w1 := l[i], bigram := l[i] || ' ' || l[i + 1]))) AS b FROM t WHERE len(l) >= 2),
sp AS (SELECT doc_id, b.w1 AS w1, b.bigram AS bigram FROM bg),
fxy AS (SELECT bigram, count(*) AS fxy FROM sp GROUP BY 1),
fx AS (SELECT w1, count(*) AS fx FROM sp GROUP BY 1),
ds AS (SELECT doc_id, count(*) AS n_bigrams, sum((1000000 * fxy) // fx) AS ts
FROM sp JOIN fxy USING (bigram) JOIN fx USING (w1) GROUP BY 1),
scd AS (SELECT ds.doc_id AS id, d.source, CAST(ts // n_bigrams AS BIGINT) AS score FROM ds JOIN documents d ON d.doc_id = ds.doc_id),
cn AS (SELECT count(*) AS n FROM scd),
rnk AS (SELECT id, source, row_number() OVER (ORDER BY score DESC, id) - 1 AS rn FROM scd),
st AS (SELECT id, source, CAST((rn * 4) // n AS INT) AS stage FROM rnk, cn),
si AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS src_idx FROM (SELECT DISTINCT source FROM scd)),
mm AS (SELECT count(*) AS m FROM si),
ir AS (SELECT id, stage, source, row_number() OVER (PARTITION BY stage, source ORDER BY md5('cur:' || CAST(id AS VARCHAR)), id) AS in_src_rank FROM st)
SELECT id AS doc_id, stage, ir.source, CAST(in_src_rank AS BIGINT) AS in_src_rank,
CAST((in_src_rank - 1) * m + src_idx AS BIGINT) AS pos
FROM ir JOIN si ON si.source = ir.source, mm ORDER BY 2, 5""")),

    // per-source quality percentile rank (percent_rank = (rank-1)/(n-1)
    // over exact integer scores — engine-identical double); the per-group
    // ranking every "keep the best X% per domain" policy needs
    ("q_quality_rank", (s, dir) =>
      TextAnalysis.qualityFeatures(docs(s, dir).select("doc_id", "source", "text"), "text")
        .withColumn("q_rank", percent_rank().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(col("quality_score"), col("doc_id"))))
        .select("doc_id", "source", "quality_score", "q_rank")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS l FROM documents),
m AS (SELECT doc_id, source, CAST(len(l) AS BIGINT) AS n_tokens, CAST(length(text) AS BIGINT) AS n_chars,
CAST(len(list_filter(l, x -> x IN ($ALL_MARKERS))) AS BIGINT) AS stop,
CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct FROM t),
sc AS (SELECT doc_id, source,
CAST(100 - (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0 ELSE 20 END)
- (CASE WHEN CAST(stop AS DOUBLE) / n_tokens > 0.05 THEN 0 ELSE 10 END)
- (CASE WHEN CAST(punct AS DOUBLE) / n_chars < 0.2 THEN 0 ELSE 15 END) AS BIGINT) AS quality_score FROM m)
SELECT doc_id, source, quality_score,
percent_rank() OVER (PARTITION BY source ORDER BY quality_score, doc_id) AS q_rank
FROM sc ORDER BY 1""")),

    // the flagship corpus-cleaning composition: quality filter (score >=
    // 70) -> exact dedup (keep min id per fingerprint) -> near-dup cluster
    // representatives (MinHash-LSH over the cached signature table,
    // filtered to survivors — per-doc signatures are independent, so the
    // full-corpus signature table restricted to survivor ids IS the
    // survivor signature table). One pipeline a training-data user runs
    // end-to-end; the oracle replays every stage.
    ("q_clean_corpus", (s, dir) => {
      val q = TextAnalysis.qualityFeatures(docs(s, dir).select("doc_id", "text"), "text")
        .filter(col("quality_score") >= 70)
        .select("doc_id", "text", "n_tokens", "quality_score")
      val undup = Dedup.exactDedup(q, "doc_id", "text")
      val sig = docSignatures(s, dir)
        .join(undup.select(col("doc_id").as("id")), Seq("id"), "left_semi")
        .localCheckpointCapped()
      val reps = Dedup.nearDupClustersFromSignatures(undup.select("doc_id"),
          "doc_id", sig, 0.5, 16, 4)
        .filter(col("cluster_rep") === col("doc_id")).select("doc_id")
      undup.join(reps, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
        .orderBy("doc_id")
    },
      Some(s"""WITH RECURSIVE t AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
m AS (SELECT doc_id, text, l, CAST(len(l) AS BIGINT) AS n_tokens, CAST(length(text) AS BIGINT) AS n_chars,
CAST(len(list_filter(l, x -> x IN ($ALL_MARKERS))) AS BIGINT) AS stop,
CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct FROM t),
sc AS (SELECT doc_id, text, l, n_tokens,
CAST(100 - (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0 ELSE 20 END)
- (CASE WHEN CAST(stop AS DOUBLE) / n_tokens > 0.05 THEN 0 ELSE 10 END)
- (CASE WHEN CAST(punct AS DOUBLE) / n_chars < 0.2 THEN 0 ELSE 15 END) AS BIGINT) AS quality_score FROM m),
qd AS (SELECT * FROM sc WHERE quality_score >= 70),
fp AS (SELECT doc_id, md5(lower(trim(text))) AS f FROM qd),
keep1 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
u AS (SELECT qd.doc_id, qd.l, qd.n_tokens, qd.quality_score FROM qd JOIN keep1 USING (doc_id)),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM u),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1, 2),
b AS (SELECT doc_id AS id, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1, 2),
cand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
pe AS (SELECT c.ia, c.ib, CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS ej
FROM cand c JOIN sig sa ON sa.doc_id = c.ia JOIN sig sb ON sb.doc_id = c.ib AND sb.h = sa.h GROUP BY 1, 2),
e AS (SELECT ia, ib FROM pe WHERE ej >= 0.5),
sym2 AS (SELECT ia AS s, ib AS tt FROM e UNION SELECT ib, ia FROM e),
reach(id, r) AS (SELECT doc_id, doc_id FROM u UNION SELECT reach.id, s2.tt FROM reach JOIN sym2 s2 ON s2.s = reach.r),
rep AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1)
SELECT u.doc_id, u.n_tokens, u.quality_score FROM u JOIN rep ON rep.doc_id = u.doc_id AND rep.cluster_rep = u.doc_id ORDER BY 1""")),

    // GPT-style sequence packing: concatenate per source in doc_id order,
    // cut into 256-token context windows; integer-exact running offsets
    ("q_pack", (s, dir) =>
      TextAnalysis.packDocuments(docs(s, dir), "doc_id", "source", "text", 256)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
c AS (SELECT doc_id, source, n_tokens, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS token_start FROM t)
SELECT doc_id, source, n_tokens, token_start, CAST(token_start // 256 AS BIGINT) AS bin_first,
CAST((token_start + n_tokens - 1) // 256 AS BIGINT) AS bin_last FROM c ORDER BY 1""")),

    // corpus-wide span dedup: keep the first occurrence of every 8-token
    // segment, reassemble documents from surviving segments
    ("q_segment_dedup", (s, dir) =>
      Dedup.segmentDedup(docs(s, dir), "doc_id", "text", 8)
        .orderBy("id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
s AS (SELECT doc_id, l, unnest(range(0, len(l), 8)) AS seg_start FROM t),
seg AS (SELECT doc_id, CAST(seg_start AS BIGINT) AS seg_start, array_to_string(l[seg_start+1:seg_start+8], ' ') AS seg FROM s),
k AS (SELECT doc_id, seg_start, seg, row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_start) AS rn FROM seg)
SELECT doc_id AS id, count(*) AS n_segments, CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_start) AS clean_text
FROM k GROUP BY 1 ORDER BY 1""")),

    // C4-style per-source boilerplate stripping: an 8-token segment seen in
    // >=2 DISTINCT docs of the SAME source is template debris — every
    // occurrence is dropped (vs q_segment_dedup, which keeps firsts
    // corpus-wide); cross-source repeats are untouched
    ("q_boilerplate", (s, dir) =>
      Dedup.boilerplateSegments(docs(s, dir), "doc_id", "source", "text", 8, 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
s AS (SELECT doc_id, source, l, unnest(range(0, len(l), 8)) AS seg_start FROM t),
seg AS (SELECT doc_id, source, CAST(seg_start AS BIGINT) AS seg_start, array_to_string(l[seg_start+1:seg_start+8], ' ') AS seg FROM s),
bf AS (SELECT source, md5(seg) AS h FROM seg GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2),
k AS (SELECT seg.doc_id, seg.source, seg.seg_start, seg.seg, (bf.h IS NOT NULL) AS boiler
FROM seg LEFT JOIN bf ON bf.source = seg.source AND bf.h = md5(seg.seg))
SELECT doc_id, source, count(*) AS n_segments,
CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
string_agg(CASE WHEN NOT boiler THEN seg END, ' ' ORDER BY seg_start) AS clean_text
FROM k GROUP BY 1, 2 ORDER BY 1""")),

    // ====================== multimodal extensions ======================

    ("q_multimodal_decode", (s, dir) =>
      Multimodal.decodeImages(Multimodal.fromText(s, docs(s, dir), "doc_id", "text"))
        .toDF().select("id", "width", "height", "channels", "byte_len").orderBy("id"),
      Some("""SELECT doc_id AS id, 1 + (ascii(substr(text, 1, 1)) % 64) AS width,
1 + (ascii(substr(text, 2, 1)) % 64) AS height, 3 AS channels,
CAST(octet_length(encode(text)) AS BIGINT) AS byte_len FROM documents ORDER BY 1""")),

    // REAL end-to-end image decode: each doc's text bytes become an 8x8
    // 24-bit BMP (syntheticBmp), javax.imageio decodes actual pixels, and
    // the 8-dim feature vector is per-band means + second moments from
    // integer raster sums — the oracle predicts every statistic in closed
    // form from the same text bytes (file data byte i = text byte i % len;
    // channel = i % 3 with B=0,G=1,R=2; ImageIO band 0 is R)
    ("q_image_features", (s, dir) =>
      Multimodal.decodeImages(Multimodal.fromTextBmp(s, docs(s, dir), "doc_id", "text"))
        .toDF()
        .select(Seq(col("id"), col("width"), col("height"), col("channels"),
          col("byte_len")) ++
          (0 until Multimodal.featureDim).map(i =>
            element_at(col("features"), i + 1).as(s"f$i")): _*)
        .orderBy("id"),
      Some("""WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
p AS (SELECT doc_id, n, text, unnest(generate_series(0, 191)) AS i FROM t),
b AS (SELECT doc_id, i % 3 AS chan, ascii(substr(text, CAST(i % n AS INT) + 1, 1)) AS v FROM p),
s AS (SELECT doc_id,
sum(CASE WHEN chan = 2 THEN v ELSE 0 END) AS sr, sum(CASE WHEN chan = 1 THEN v ELSE 0 END) AS sg, sum(CASE WHEN chan = 0 THEN v ELSE 0 END) AS sb,
sum(CASE WHEN chan = 2 THEN v * v ELSE 0 END) AS qr, sum(CASE WHEN chan = 1 THEN v * v ELSE 0 END) AS qg, sum(CASE WHEN chan = 0 THEN v * v ELSE 0 END) AS qb
FROM b GROUP BY 1)
SELECT doc_id AS id, 8 AS width, 8 AS height, 3 AS channels, CAST(246 AS BIGINT) AS byte_len,
CAST(CAST(sr AS DOUBLE) / 64 / 255.0 AS REAL) AS f0,
CAST(CAST(sg AS DOUBLE) / 64 / 255.0 AS REAL) AS f1,
CAST(CAST(sb AS DOUBLE) / 64 / 255.0 AS REAL) AS f2,
CAST(0.0 AS REAL) AS f3,
CAST(CAST(qr AS DOUBLE) / 64 / 65025.0 AS REAL) AS f4,
CAST(CAST(qg AS DOUBLE) / 64 / 65025.0 AS REAL) AS f5,
CAST(CAST(qb AS DOUBLE) / 64 / 65025.0 AS REAL) AS f6,
CAST(0.0 AS REAL) AS f7
FROM s ORDER BY 1""")),

    // the COMPRESSED-codec decode path, oracle-gated: deterministic PNGs
    // (real zlib IDAT; ImageIO must inflate) whose decoded samples repeat
    // the text bytes in R,G,B order, so channel means stay a closed form
    // over the text — decoded=true in every row proves the real PNG branch
    // ran (a decode failure would flip it false and empty the means,
    // hash-mismatching loudly)
    ("q_png_features", (s, dir) =>
      Multimodal.decodePixels(Multimodal.fromTextPng(s, docs(s, dir), "doc_id", "text"))
        .toDF()
        .select(col("id"), col("width"), col("height"), col("channels"),
          col("decoded"),
          element_at(col("channel_mean"), 1).as("m_r"),
          element_at(col("channel_mean"), 2).as("m_g"),
          element_at(col("channel_mean"), 3).as("m_b"))
        .orderBy("id"),
      Some("""WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
p AS (SELECT doc_id, n, text, unnest(generate_series(0, 191)) AS i FROM t),
b AS (SELECT doc_id, i % 3 AS chan, ascii(substr(text, CAST(i % n AS INT) + 1, 1)) AS v FROM p),
s AS (SELECT doc_id,
sum(CASE WHEN chan = 0 THEN v ELSE 0 END) AS sr, sum(CASE WHEN chan = 1 THEN v ELSE 0 END) AS sg, sum(CASE WHEN chan = 2 THEN v ELSE 0 END) AS sb
FROM b GROUP BY 1)
SELECT doc_id AS id, 8 AS width, 8 AS height, 3 AS channels, TRUE AS decoded,
CAST(CAST(sr AS DOUBLE) / 64 / 255.0 AS REAL) AS m_r,
CAST(CAST(sg AS DOUBLE) / 64 / 255.0 AS REAL) AS m_g,
CAST(CAST(sb AS DOUBLE) / 64 / 255.0 AS REAL) AS m_b
FROM s ORDER BY 1""")),

    // perceptual average-hash over REAL decoded pixels of the synthetic
    // BMPs: 8x8 image -> one luminance cell per pixel (299R+587G+114B),
    // bit set where the cell exceeds the integer grid mean; emitted as the
    // 64-char two's-complement bit string (bin() is MSB-first in both
    // engines' reading). Raster row y = 7 - file row (bottom-up BMP), so
    // the oracle computes every bit position in closed form from the text
    // bytes — the whole image-near-dup stack's hash function, oracle-gated
    ("q_phash", (s, dir) =>
      Multimodal.perceptualHash(Multimodal.fromTextBmp(s, docs(s, dir), "doc_id", "text"))
        .toDF()
        .select(col("id"), col("decoded"),
          lpad(bin(col("phash")), 64, "0").as("phash_bits"))
        .orderBy("id"),
      Some("""WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
p AS (SELECT doc_id, n, text, unnest(generate_series(0, 63)) AS px FROM t),
b AS (SELECT doc_id, px,
ascii(substr(text, CAST((px * 3 + 2) % n AS INT) + 1, 1)) AS vr,
ascii(substr(text, CAST((px * 3 + 1) % n AS INT) + 1, 1)) AS vg,
ascii(substr(text, CAST((px * 3 + 0) % n AS INT) + 1, 1)) AS vb FROM p),
l AS (SELECT doc_id, px, 299 * vr + 587 * vg + 114 * vb AS lum FROM b),
g AS (SELECT doc_id, sum(lum) // 64 AS gmean FROM l GROUP BY 1),
bits AS (SELECT l.doc_id, (7 - (px // 8)) * 8 + (px % 8) AS bit,
CASE WHEN lum > gmean THEN '1' ELSE '0' END AS s FROM l JOIN g ON g.doc_id = l.doc_id)
SELECT doc_id AS id, TRUE AS decoded, string_agg(s, '' ORDER BY bit DESC) AS phash_bits
FROM bits GROUP BY 1 ORDER BY 1""")),

    ("q_frame_sample", (s, dir) =>
      Multimodal.sampleFrames(Multimodal.fromText(s, docs(s, dir), "doc_id", "text"), 16, 4)
        .toDF().orderBy("id", "frame_index"),
      Some("""WITH f AS (SELECT doc_id, text, unnest(generate_series(0, CAST(floor(length(text) / 16) AS INT) - 1, 4)) AS fi FROM documents WHERE length(text) >= 16)
SELECT doc_id AS id, CAST(fi AS INT) AS frame_index, md5(substr(text, CAST(fi AS INT) * 16 + 1, 16)) AS frame_md5 FROM f ORDER BY 1,2""")),

    // ====================== corpus curation ======================

    // temperature-scaled mixture weights (w ∝ tokens^(1/2), quantized via
    // the one correctly-rounded transcendental): the per-language sampling
    // table for a training run — boost_ppm > 1e6 marks up-weighted tails
    ("q_mix_weights", (s, dir) =>
      Curation.mixtureWeights(docs(s, dir), "lang", "text").orderBy("lang"),
      Some("""WITH g AS (SELECT lang, count(*) AS n_docs, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens FROM documents GROUP BY 1),
sq AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT) AS s_q FROM g),
tot AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS tt, CAST(sum(s_q) AS HUGEINT) AS st FROM sq),
p AS (SELECT lang, n_docs, n_tokens,
  CAST(CAST(n_tokens AS HUGEINT) * 1000000 // tt AS BIGINT) AS raw_ppm,
  CAST(CAST(s_q AS HUGEINT) * 1000000 // st AS BIGINT) AS w_ppm FROM sq CROSS JOIN tot)
SELECT lang, n_docs, n_tokens, raw_ppm, w_ppm,
CAST(CAST(w_ppm AS HUGEINT) * 1000000 // nullif(raw_ppm, 0) AS BIGINT) AS boost_ppm
FROM p ORDER BY 1""")),

    // token-budget curriculum selection: per source, admit docs by
    // descending lexical diversity until 800 tokens — the fixed-budget
    // training-slice assembler
    ("q_budget_sample", (s, dir) =>
      Curation.budgetSample(docs(s, dir), "doc_id", "source", "text", 800L)
        .orderBy("id"),
      Some("""WITH b AS (SELECT doc_id AS id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct FROM documents),
sc AS (SELECT id, source, n_tokens, CAST(n_distinct * 1000000 // n_tokens AS BIGINT) AS score_q FROM b),
c AS (SELECT id, source, n_tokens, score_q,
  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY score_q DESC, id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM sc)
SELECT id, source, n_tokens, score_q, cum_tokens FROM c WHERE cum_tokens <= 800 ORDER BY 1""")),

    // DSIR-style hashed importance weights toward the English slice:
    // smoothed target/raw probability ratio per hashed-unigram bucket,
    // docs scored by mean token ratio — the domain-reweighting scorer
    ("q_importance", (s, dir) =>
      Curation.importanceRatio(docs(s, dir), "doc_id", "text",
          col("lang") === "en", 64)
        .orderBy("id"),
      Some("""WITH tk AS (SELECT doc_id AS id, lang = 'en' AS is_t, unnest(string_split(text, ' ')) AS tok FROM documents),
tb AS (SELECT id, is_t, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS b FROM tk),
cnt AS (SELECT b, count(*) AS cr, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct FROM tb GROUP BY 1),
tot AS (SELECT CAST(sum(cr) AS HUGEINT) AS rr, CAST(sum(ct) AS HUGEINT) AS tt FROM cnt),
ratio AS (SELECT b, CAST((CAST(ct + 1 AS HUGEINT) * (rr + 64) * 1000000) // (CAST(cr + 1 AS HUGEINT) * (tt + 64)) AS BIGINT) AS ratio_ppm FROM cnt CROSS JOIN tot)
SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
CAST(CAST(sum(ratio_ppm) AS HUGEINT) // count(*) AS BIGINT) AS imp_ppm
FROM tb JOIN ratio USING (b) GROUP BY 1 ORDER BY 1""")),

    // per-source token-length distribution drift vs the whole corpus
    // (total-variation distance in ppm) — the "which slice is atypical"
    // ingest-QA dashboard
    ("q_length_drift", (s, dir) =>
      Curation.lengthDrift(docs(s, dir), "source", "text", 32, 15)
        .orderBy("source"),
      Some("""WITH lb AS (SELECT source, least(CAST(len(string_split(text, ' ')) AS BIGINT) // 32, 15) AS b FROM documents),
gb AS (SELECT source, b, count(*) AS c FROM lb GROUP BY 1, 2),
g AS (SELECT source, CAST(sum(c) AS BIGINT) AS cg FROM gb GROUP BY 1),
corpus AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM gb GROUP BY 1),
tot AS (SELECT CAST(sum(cb) AS HUGEINT) AS ctot FROM corpus),
grid AS (SELECT g.source, g.cg, corpus.b, corpus.cb FROM g CROSS JOIN corpus),
p AS (SELECT grid.source, grid.b,
  CAST(CAST(coalesce(gb.c, 0) AS HUGEINT) * 1000000 // grid.cg AS BIGINT) AS grp_ppm,
  CAST(CAST(grid.cb AS HUGEINT) * 1000000 // ctot AS BIGINT) AS corpus_ppm
  FROM grid LEFT JOIN gb ON gb.source = grid.source AND gb.b = grid.b CROSS JOIN tot)
SELECT source, CAST(sum(abs(grp_ppm - corpus_ppm)) // 2 AS BIGINT) AS tv_ppm
FROM p GROUP BY 1 ORDER BY 1""")),

    // tokenizer fertility per language: BPE-estimate subwords per unicode
    // word (ppm) — the "how expensive is this language to tokenize" table
    ("q_fertility", (s, dir) =>
      docs(s, dir).groupBy("lang").agg(
          sum(TextAnalysis.bpeTokenEstimate(col("text"))).as("bpe_tokens"),
          sum(TextAnalysis.tokenCountUnicode(col("text")).cast("long"))
            .as("words"))
        .withColumn("fertility_ppm",
          expr("CAST(CAST(bpe_tokens AS DECIMAL(38,0)) * 1000000 DIV nullif(words, 0) AS BIGINT)"))
        .orderBy("lang"),
      Some("""WITH r AS (SELECT lang,
  CAST(list_sum(list_transform(string_split(text, ' '), w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS bpe,
  CAST(len(list_filter(regexp_split_to_array(text, '[^\p{L}\p{N}]+'), w -> w <> '')) AS BIGINT) AS words FROM documents),
g AS (SELECT lang, CAST(sum(bpe) AS BIGINT) AS bpe_tokens, CAST(sum(words) AS BIGINT) AS words FROM r GROUP BY 1)
SELECT lang, bpe_tokens, words,
CAST(CAST(bpe_tokens AS HUGEINT) * 1000000 // nullif(words, 0) AS BIGINT) AS fertility_ppm
FROM g ORDER BY 1""")),

    // streaming quality drift: per-micro-batch token-length histogram TV
    // (ppm) vs the static corpus reference — batch boundaries are staged
    // deterministically (chunk = doc_id mod 5), so DuckDB replays them
    ("q_drift_stream", (s, dir) =>
      EventStream.runDriftStream(s, s"$dir/documents.parquet", 5, 32, 15,
          s"drift_${Counter.next()}")
        .orderBy("chunk"),
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS chunk, least(CAST(len(string_split(text, ' ')) AS BIGINT) // 32, 15) AS b FROM documents),
ref AS (SELECT b, count(*) AS cb FROM d GROUP BY 1),
tot AS (SELECT CAST(sum(cb) AS HUGEINT) AS ctot FROM ref),
bt AS (SELECT chunk, b, count(*) AS c FROM d GROUP BY 1, 2),
n AS (SELECT chunk, CAST(sum(c) AS BIGINT) AS n_docs FROM bt GROUP BY 1),
grid AS (SELECT n.chunk, n.n_docs, ref.b, ref.cb FROM n CROSS JOIN ref),
p AS (SELECT grid.chunk, grid.n_docs,
  CAST(CAST(coalesce(bt.c, 0) AS HUGEINT) * 1000000 // grid.n_docs AS BIGINT) AS bppm,
  CAST(CAST(grid.cb AS HUGEINT) * 1000000 // ctot AS BIGINT) AS rppm
  FROM grid LEFT JOIN bt ON bt.chunk = grid.chunk AND bt.b = grid.b CROSS JOIN tot)
SELECT chunk, n_docs, CAST(sum(abs(bppm - rppm)) // 2 AS BIGINT) AS tv_ppm
FROM p GROUP BY 1, 2 ORDER BY 1""")),

    // ====================== streaming ======================

    ("q_events_window", (s, dir) =>
      EventStream.windowedTypeCounts(tbl(s, dir, "events"), "1 hour")
        .orderBy("window_start", "event_type"),
      Some(EVENTS_SQL)),

    ("q_events_stream", (s, dir) =>
      EventStream.runStreamingOnce(s, s"$dir/events.parquet", "1 hour",
          s"stream_out_${Counter.next()}")
        .orderBy("window_start", "event_type"),
      Some(EVENTS_SQL)),

    // production append mode: only watermark-finalized windows are emitted —
    // the oracle mirrors the finalization predicate (end <= max(ts) - delay)
    ("q_events_append", (s, dir) =>
      EventStream.runStreamingAppend(s, s"$dir/events.parquet", "1 hour",
          "10 minutes", s"stream_append_${Counter.next()}")
        .orderBy("window_start", "event_type"),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type, count(*) AS n_events,
CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
GROUP BY 1,2 ORDER BY 1,2""")),

    // streaming graph maintenance: eventsAsEdges + effective-edges as one
    // watermarked windowed agg, append mode — only watermark-finalized
    // (window, edge) rows are emitted, mirrored by the oracle's WHERE
    ("q_edges_stream", (s, dir) =>
      EventStream.runEdgesStream(s, s"$dir/events.parquet", "1 hour",
          "10 minutes", s"edges_stream_${Counter.next()}")
        .orderBy("window_start", "source", "target"),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, user_id AS source, event_type AS target,
count(*) AS n_parallel, CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS weight FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
GROUP BY 1,2,3 ORDER BY 1,2,3""")),

    // streaming connected-component maintenance: a foreachBatch runner
    // keeps live labels over 6 staged chunks consumed 2 per trigger
    // (3 micro-batches) of the events-derived edge stream, merging only
    // each batch's quotient delta via incrementalComponents; min-id
    // labeling is confluent, so the final table equals the batch weak-CC
    // fixpoint over all edges — which is exactly what the oracle replays
    ("q_cc_stream", (s, dir) =>
      EventStream.runComponentsStream(s, s"$dir/events.parquet",
          chunks = 6, everyNth = 10, targetMod = 211,
          s"cc_stream_${Counter.next()}")
        .orderBy("id"),
      Some("""WITH RECURSIVE e AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS s, CAST(event_id % 211 AS BIGINT) AS t FROM events WHERE event_id % 10 = 0),
n AS (SELECT s AS id FROM e UNION SELECT t FROM e),
sym2 AS (SELECT s, t FROM e WHERE s <> t UNION SELECT t, s FROM e WHERE s <> t),
reach(id, r) AS (SELECT id, id FROM n UNION SELECT reach.id, s2.t FROM reach JOIN sym2 s2 ON s2.s = reach.r)
SELECT id, min(r) AS component FROM reach GROUP BY 1 ORDER BY 1""")),

    // stream-stream interval self-join (attribution: views within 4 hours
    // before each click, per user) through the real watermarked join
    ("q_stream_join", (s, dir) =>
      EventStream.runIntervalJoinStream(s, s"$dir/events.parquet",
          "click", "view", "4 hours", "10 minutes",
          s"interval_join_${Counter.next()}")
        .select(col("l_id"), col("r_id"), col("user_id"))
        .orderBy("l_id", "r_id"),
      Some("""SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id
FROM events l JOIN events r ON l.user_id = r.user_id
AND r.ts >= l.ts - INTERVAL 4 HOUR AND r.ts <= l.ts
WHERE l.event_type = 'click' AND r.event_type = 'view'
ORDER BY 1,2""")),

    // LEFT-OUTER stream-stream interval join: matched rows emit on arrival;
    // unmatched clicks emit a null view only after the watermark clears
    // l_ts (state eviction proves no future match); clicks still open at
    // drain are withheld — the oracle replays exactly that contract
    ("q_stream_left", (s, dir) =>
      EventStream.runIntervalJoinLeftStream(s, s"$dir/events.parquet",
          "click", "view", "4 hours", "10 minutes",
          s"interval_join_left_${Counter.next()}")
        .select(col("l_id"), col("r_id"), col("user_id"))
        .orderBy("l_id", "r_id"),
      Some("""WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
l AS (SELECT event_id AS l_id, user_id, ts FROM events WHERE event_type = 'click'),
r AS (SELECT event_id AS r_id, user_id, ts FROM events WHERE event_type = 'view'),
m AS (SELECT l.l_id, r.r_id, l.user_id FROM l JOIN r ON l.user_id = r.user_id
AND r.ts >= l.ts - INTERVAL 4 HOUR AND r.ts <= l.ts),
um AS (SELECT l.l_id, CAST(NULL AS BIGINT) AS r_id, l.user_id FROM l, wm
WHERE l.ts < wm.w AND NOT EXISTS (SELECT 1 FROM r WHERE r.user_id = l.user_id
AND r.ts >= l.ts - INTERVAL 4 HOUR AND r.ts <= l.ts))
SELECT l_id, r_id, user_id FROM m UNION ALL SELECT l_id, r_id, user_id FROM um
ORDER BY 1, 2""")),

    // native CSV + JSON source/sink round-trip: nation written as headered
    // CSV and read back with schema inference, region as JSON lines; the
    // oracle aggregates the parquet originals, proving the non-parquet IO
    // paths preserve values end to end
    ("q_io_roundtrip", (s, dir) => {
      val tmp = memo("io", dir) {
        val d = Scratch.dir(s, "io_")
        tbl(s, dir, "nation").write.mode("overwrite")
          .option("header", "true").csv(s"$d/nation_csv")
        tbl(s, dir, "region").write.mode("overwrite").json(s"$d/region_json")
        d
      }
      val n = s.read.option("header", "true").option("inferSchema", "true")
        .csv(s"$tmp/nation_csv")
      val r = s.read.json(s"$tmp/region_json")
      n.join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          sum(col("n_nationkey").cast("long")).cast("long").as("key_sum"))
        .orderBy("r_name")
    },
      Some("""SELECT r.r_name, count(*) AS n_nations, CAST(sum(n.n_nationkey) AS BIGINT) AS key_sum
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1 ORDER BY 1""")),

    // ORC sink/source parity: write a columnar slice to ORC, read it back,
    // aggregate — exercises the second columnar format end-to-end (same
    // pushdown/pruning machinery as the parquet scans; the oracle reads the
    // original table, so the round-trip must be lossless)
    ("q_io_orc", (s, dir) => {
      val tmp = memo("orc", dir) {
        val d = Scratch.dir(s, "orc_")
        tbl(s, dir, "supplier").write.mode("overwrite").orc(s"$d/supplier_orc")
        d
      }
      s.read.orc(s"$tmp/supplier_orc")
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(20,2)")).cast("double")
            .as("sum_bal"))
        .orderBy("s_nationkey")
    },
      Some("""SELECT s_nationkey, count(*) AS n_suppliers,
CAST(sum(CAST(s_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS sum_bal
FROM supplier GROUP BY 1 ORDER BY 1""")),

    // recency-decayed edge aggregation: each event's cents halve per day of
    // age (integer power-of-2 decay, exact in any engine — values are
    // non-negative so truncating and flooring division agree), rolled up
    // into (user, type) edge weights — the freshness-weighted graph
    ("q_edge_decay", (s, dir) => {
      val ev = EventStream.normalizeTs(tbl(s, dir, "events"))
      val mxd = ev.agg(max(to_date(col("ts"))).as("m"))
      ev.crossJoin(broadcast(mxd))
        .select(col("user_id").as("source"), col("event_type").as("target"),
          expr("CAST(floor(value * 100) AS BIGINT) div shiftleft(CAST(1 AS BIGINT), least(datediff(m, CAST(ts AS DATE)), 20))").as("dc"))
        .groupBy("source", "target")
        .agg(sum(col("dc").cast("decimal(38,0)")).cast("long").as("decayed_cents"))
        .orderBy("source", "target")
    },
      Some("""WITH mx AS (SELECT max(CAST(ts AS DATE)) AS m FROM events),
d AS (SELECT user_id, event_type,
CAST(floor(value * 100) AS BIGINT) // CAST(power(2, least(datediff('day', CAST(ts AS DATE), (SELECT m FROM mx)), 20)) AS BIGINT) AS dc
FROM events)
SELECT user_id AS source, event_type AS target, CAST(sum(dc) AS BIGINT) AS decayed_cents
FROM d GROUP BY 1, 2 ORDER BY 1, 2""")),

    // daily active users + event volume: tumbling calendar-day rollup with
    // an exact distinct count (partial+final over (day, user))
    ("q_daily_active", (s, dir) => {
      val ev = EventStream.normalizeTs(tbl(s, dir, "events"))
      ev.groupBy(to_date(col("ts")).as("day"))
        .agg(count_distinct(col("user_id")).as("dau"),
          count(lit(1)).as("n_events"))
        .orderBy("day")
    },
      Some("""SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS dau, count(*) AS n_events
FROM events GROUP BY 1 ORDER BY 1""")),

    // ordered conversion funnel (view -> click -> purchase): per-stage user
    // counts where each stage must strictly follow the user's first event
    // of the previous stage
    ("q_funnel", (s, dir) =>
      EventStream.funnelCounts(tbl(s, dir, "events"),
        Seq("view", "click", "purchase")),
      Some("""WITH v AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t WHERE e.event_type = 'click' GROUP BY 1),
p AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t WHERE e.event_type = 'purchase' GROUP BY 1)
SELECT (SELECT count(*) FROM v) AS n_view, (SELECT count(*) FROM c) AS n_click,
(SELECT count(*) FROM p) AS n_purchase""")),

    // watermark-bounded streaming dedup (dropDuplicatesWithinWatermark)
    // keyed on (user, type): key-only projection makes the streamed result
    // equal batch DISTINCT independent of intra-batch arrival order
    ("q_stream_dedup", (s, dir) =>
      EventStream.runDedupStream(s, s"$dir/events.parquet",
          Seq("user_id", "event_type"), "10 minutes",
          s"dedup_stream_${Counter.next()}")
        .orderBy("user_id", "event_type"),
      Some("""SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2""")),

    // streaming ingest admission: the q_incremental_dedup gate run LIVE —
    // the batch side arrives as a stream, signatures/band-buckets are
    // stateless in-row expressions (zero stream shuffles), the corpus
    // enters only as static signature/bucket tables, and the single piece
    // of streaming state is the (new_id, corpus_id) verify agg. Same
    // oracle as the batch gate: streamed == batch, spec-pinned
    ("q_stream_admission", (s, dir) => {
      val bk = graft.functions.Sampling.hashBucket(col("doc_id"), 10, "inc")
      // materialized: the stream consumes it twice per microbatch
      // (bucket table + verify join)
      val corpusSig = Dedup.minhashSignatures(
        docs(s, dir).filter(bk < 9), "doc_id", "text", 16, 3)
        .localCheckpointCapped()
      graft.streaming.DocStream.runAdmissionStream(s,
          s"$dir/documents.parquet", "doc_id", "text", bk === 9, corpusSig,
          16, 4, 3, 0.5, s"admission_stream_${Counter.next()}")
        .orderBy("new_id", "corpus_id")
    },
      Some("""WITH d AS (SELECT doc_id, text, CAST(concat('0x', substr(md5(concat('inc', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10 AS bk FROM documents),
t AS (SELECT doc_id, bk, string_split(text, ' ') AS l FROM d),
sh AS (SELECT DISTINCT doc_id, bk, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, bk, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, bk, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, bk, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2,3),
b AS (SELECT doc_id AS id, bk, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2,3),
cand AS (SELECT DISTINCT x.id AS nid, y.id AS cid FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket WHERE x.bk = 9 AND y.bk < 9)
SELECT c.nid AS new_id, c.cid AS corpus_id, CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS est_jaccard
FROM cand c JOIN sig sa ON sa.doc_id = c.nid JOIN sig sb ON sb.doc_id = c.cid AND sb.h = sa.h
GROUP BY 1,2 HAVING CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.5 ORDER BY 1,2""")),

    // stream-static broadcast enrichment: the streaming event source joined
    // to the static customer dimension (stateless broadcast join inside the
    // microbatch), rolled up by (segment, event type)
    ("q_stream_enrich", (s, dir) =>
      EventStream.runEnrichedStream(s, s"$dir/events.parquet",
          tbl(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          "c_custkey", "c_mktsegment", s"enriched_${Counter.next()}")
        .select(col("c_mktsegment").as("segment"), col("event_type"),
          col("n"), col("cents"))
        .orderBy("segment", "event_type"),
      Some("""SELECT c.c_mktsegment AS segment, e.event_type, count(*) AS n,
CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey GROUP BY 1, 2 ORDER BY 1, 2""")),

    // custom per-key streaming state (flatMapGroupsWithState): exact
    // cent-quantized running totals per user, validated against the
    // ordered-window oracle
    ("q_running_totals", (s, dir) =>
      EventStream.runRunningTotalsStream(s, s"$dir/events.parquet",
          s"running_totals_${Counter.next()}")
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id,
CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS running_cents
FROM events ORDER BY event_id""")),

    // gap-based sessionization (session_window); the oracle rebuilds the
    // same sessions with lag + running-sum windows over exact microseconds
    ("q_sessions", (s, dir) =>
      EventStream.sessionize(tbl(s, dir, "events"), "30 minutes")
        .orderBy("user_id", "t_start"),
      Some("""WITH l AS (SELECT user_id, event_id, ts, value, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
f AS (SELECT *, CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) >= 1800000000 THEN 1 ELSE 0 END AS ns FROM l),
s AS (SELECT user_id, ts, value, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS seq FROM f)
SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS t_start, CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS t_end,
count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, seq ORDER BY 1,2""")),

    // ====================== relational flagships ======================

    ("q1_pricing", (s, dir) =>
      tbl(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(sumD(col("l_quantity")).as("sum_qty"),
          sumD(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, count(*) AS n
FROM lineitem GROUP BY 1,2 ORDER BY 1,2""")),

    // TPC-H Q3 analog (shipping-priority top-10): three-way join with
    // pushed-down date/segment filters, exact integer revenue
    // (cents x (10000 - discount_bps)), TakeOrderedAndProject top-k
    ("q3_shipping", (s, dir) => {
      val cut = "1996-07-01"
      val c = tbl(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < to_date(lit(cut)))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("odate"), col("o_orderpriority"))
      val l = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > to_date(lit(cut)))
        .select(col("l_orderkey"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(10000L) - floor(col("l_discount") * 10000).cast("long")))
            .as("rev_q"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("odate"), col("o_orderpriority"))
        .agg(sum(col("rev_q").cast("decimal(38,0)")).cast("long").as("revenue_q"))
        .orderBy(desc("revenue_q"), asc("odate"), asc("l_orderkey"))
        .limit(10)
    },
      Some("""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS odate, o_orderpriority,
CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))) AS BIGINT) AS revenue_q
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
AND CAST(o_orderdate AS DATE) < DATE '1996-07-01' AND CAST(l_shipdate AS DATE) > DATE '1996-07-01'
GROUP BY 1, 2, 3 ORDER BY 4 DESC, 2, 1 LIMIT 10""")),

    // TPC-H Q5 analog (local-supplier volume): six-table join chain with
    // region/date pushdown; dimension chain broadcasts, fact side shuffles
    // once on the order key
    ("q5_supplier", (s, dir) => {
      val dims = tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val c = tbl(s, dir, "customer").select("c_custkey", "c_nationkey")
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= to_date(lit("1996-01-01")) &&
          col("o_orderdate").cast("date") < to_date(lit("1997-01-01")))
        .select("o_orderkey", "o_custkey")
      val l = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(10000L) - floor(col("l_discount") * 10000).cast("long")))
            .as("rev_q"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(dims), l("l_suppkey") === dims("s_suppkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey") &&
          c("c_nationkey") === dims("s_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("rev_q").cast("decimal(38,0)")).cast("long").as("revenue_q"))
        .orderBy(desc("revenue_q"), asc("n_name"))
    },
      Some("""SELECT n_name,
CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))) AS BIGINT) AS revenue_q
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
AND r_name = 'ASIA' AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01' AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
GROUP BY 1 ORDER BY 2 DESC, 1""")),

    // TPC-H Q10 analog (returned-item reporting): revenue lost to returns
    // per customer over one quarter, top 20 — fact-side filters push to the
    // scans, the customer dimension broadcasts
    ("q10_returns", (s, dir) => {
      val c = tbl(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey")
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= to_date(lit("1996-01-01")) &&
          col("o_orderdate").cast("date") < to_date(lit("1996-04-01")))
        .select("o_orderkey", "o_custkey")
      val l = tbl(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (floor(col("l_extendedprice") * 100).cast("long") *
            (lit(10000L) - floor(col("l_discount") * 10000).cast("long")))
            .as("rev_q"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(sum(col("rev_q").cast("decimal(38,0)")).cast("long").as("revenue_q"))
        .orderBy(desc("revenue_q"), asc("c_custkey"))
        .limit(20)
    },
      Some("""SELECT c_custkey, c_name, c_nationkey,
CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * (10000 - CAST(floor(l_discount * 10000) AS BIGINT))) AS BIGINT) AS revenue_q
FROM customer, orders, lineitem
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_returnflag = 'R'
AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01' AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
GROUP BY 1, 2, 3 ORDER BY 4 DESC, 1 LIMIT 20""")),

    ("q_revenue_by_segment", (s, dir) => {
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sumD(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")
    },
      Some("""SELECT c_mktsegment, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1""")),

    // ====================== round-4 batch: projections, CDC, anomalies ======================

    // bipartite co-occurrence projection: parts that ship in the same order,
    // per-group membership capped (deterministically, smallest ids) BEFORE
    // pairing so a mega-order contributes O(cap^2), not O(deg^2)
    ("q_copurchase", (s, dir) =>
      GraphAlgorithms.bipartiteProject(
          tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", maxPerGroup = 20, minCount = 2)
        .select(col("src"), col("dst"), col("n_shared"))
        .orderBy("src", "dst"),
      Some("""WITH m AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
capped AS (SELECT grp, item FROM (SELECT grp, item, row_number() OVER (PARTITION BY grp ORDER BY item) AS rn FROM m) WHERE rn <= 20)
SELECT a.item AS src, b.item AS dst, count(*) AS n_shared
FROM capped a JOIN capped b ON a.grp = b.grp AND a.item < b.item
GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""")),

    // CDC compaction: the changelog's latest row per key (ts desc, event_id
    // desc tie-break) — the current-state view of an upsert stream
    ("q_cdc_latest", (s, dir) =>
      EventStream.latestByKey(tbl(s, dir, "events"), "user_id")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id"),
      Some("""SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM (
SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
WHERE rn = 1 ORDER BY user_id""")),

    // sliding (hopping) windows: 1h windows every 30min, epoch-aligned —
    // each event lands in exactly duration/slide = 2 windows
    ("q_sliding_window", (s, dir) =>
      EventStream.slidingTypeCounts(tbl(s, dir, "events"), "1 hour", "30 minutes")
        .orderBy("window_start", "event_type"),
      Some("""WITH x AS (SELECT make_timestamp(((epoch_us(ts) // 1800000000) - s.i) * 1800000000) AS window_start,
event_type, value FROM events, (SELECT unnest(generate_series(0, 1)) AS i) s)
SELECT window_start, event_type, count(*) AS n_events,
CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    // hourly anomaly z-scores from integer-exact moments (never stddev_samp,
    // whose streaming accumulation is order-dependent); |z| >= 2.0
    ("q_anomaly", (s, dir) =>
      EventStream.hourlyAnomalies(tbl(s, dir, "events"), 20000)
        .orderBy("window_start", "event_type"),
      Some("""WITH hourly AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type, count(*) AS n_events FROM events GROUP BY 1, 2),
mom AS (SELECT event_type, count(*) AS n_hours, sum(n_events) AS sum_n, sum(n_events * n_events) AS sum_n2 FROM hourly GROUP BY 1 HAVING count(*) >= 2),
z AS (SELECT h.window_start, h.event_type, h.n_events,
CAST(m.sum_n AS DOUBLE) / CAST(m.n_hours AS DOUBLE) AS mean,
(CAST(m.sum_n2 AS DOUBLE) - CAST(m.sum_n AS DOUBLE) * (CAST(m.sum_n AS DOUBLE) / CAST(m.n_hours AS DOUBLE))) / CAST(m.n_hours - 1 AS DOUBLE) AS varr
FROM hourly h JOIN mom m ON h.event_type = m.event_type),
zz AS (SELECT window_start, event_type, n_events,
CASE WHEN varr <= 0 THEN CAST(0 AS BIGINT)
ELSE CAST(floor((CAST(n_events AS DOUBLE) - mean) / sqrt(varr) * 10000) AS BIGINT) END AS z_q FROM z)
SELECT window_start, event_type, n_events, z_q FROM zz WHERE abs(z_q) >= 20000 ORDER BY 1, 2""")),

    // Newman modularity of the nation partition over the sparse graph —
    // integer-exact numerator/denominator, one IEEE divide at the end
    ("q_modularity", (s, dir) => {
      val g = sparse(s, dir)
      GraphAlgorithms.modularity(g,
        g.nodes.select(col("id"), col("c_nationkey").as("community")))
    },
      Some(s"""$G, und AS (SELECT DISTINCT least(source, target) AS s, greatest(source, target) AS t FROM sedges WHERE source <> target),
lab AS (SELECT id, c_nationkey AS community FROM nodes),
le AS (SELECT u.s, u.t, ls.community AS cs, lt.community AS ct FROM und u JOIN lab ls ON u.s = ls.id JOIN lab lt ON u.t = lt.id),
mi AS (SELECT count(*) AS m_edges, COALESCE(sum(CASE WHEN cs = ct THEN 1 ELSE 0 END), 0) AS e_within FROM le),
deg AS (SELECT id, count(*) AS deg FROM (SELECT s AS id FROM und UNION ALL SELECT t FROM und) GROUP BY 1),
sd AS (SELECT COALESCE(sum(dc * dc), 0) AS sum_deg_sq FROM (SELECT community, sum(deg) AS dc FROM deg JOIN lab USING (id) GROUP BY 1))
SELECT CAST(m_edges AS BIGINT) AS m_edges, CAST(e_within AS BIGINT) AS e_within, CAST(sum_deg_sq AS BIGINT) AS sum_deg_sq,
CASE WHEN m_edges = 0 THEN CAST(NULL AS BIGINT)
ELSE CAST(floor(CAST((4 * CAST(m_edges AS HUGEINT) * e_within - sum_deg_sq) * 1000000 AS DOUBLE) / CAST(4 * CAST(m_edges AS HUGEINT) * m_edges AS DOUBLE)) AS BIGINT) END AS modularity_q
FROM mi, sd""")),

    // sparse TF-IDF cosine pairs over 3-gram shingles through a df-capped
    // inverted index — exact decimal dots/norms, one fixed double-op cosine
    // (unigram TF-IDF is degenerate on this corpus: 31 tokens, df ~390/500)
    ("q_doc_cosine", (s, dir) =>
      TextAnalysis.tfidfCosinePairs(docs(s, dir), "doc_id", "text", 20, 100000, 3)
        .orderBy("doc_a", "doc_b"),
      Some("""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
tk AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 2), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS token FROM t0 WHERE len(l) >= 3),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 20),
post AS MATERIALIZED (SELECT tf.token, doc_id, CAST(tf * 1000000 // df AS BIGINT) AS wq FROM tf JOIN dfreq ON tf.token = dfreq.token),
norms AS (SELECT doc_id, sum(CAST(wq AS HUGEINT) * wq) AS n2 FROM post GROUP BY 1),
dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(CAST(a.wq AS HUGEINT) * b.wq) AS dot
FROM post a JOIN post b ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) * 1000000) AS BIGINT) AS cos_q
FROM dots JOIN norms na ON na.doc_id = doc_a JOIN norms nb ON nb.doc_id = doc_b
WHERE CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) * 1000000) AS BIGINT) >= 100000
ORDER BY 1, 2""")),

    // first principal component of the embedding matrix: integer-exact
    // power iteration, never materializing the Gram matrix
    ("q_pc1", (s, dir) =>
      Similarity.principalComponent(emb(s, dir), "vec_id", "embedding", 64, 5),
      Some(pc1Sql(64, 5))),

    // per-vector PC1 projections — the 1-d PCA embedding of every row,
    // sharing the component fixpoint
    ("q_pc1_scores", (s, dir) =>
      Similarity.principalScores(emb(s, dir), "vec_id", "embedding", 64, 5),
      Some(pc1ScoresSql(64, 5))),

    // association-rule lift over the capped co-purchase structure:
    // supports and group totals from the SAME capped membership as the
    // pairs, one exact double divide at the end
    ("q_lift", (s, dir) =>
      GraphAlgorithms.associationLift(
          tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", maxPerGroup = 20, minCount = 2)
        .select("src", "dst", "n_shared", "lift_q")
        .orderBy("src", "dst"),
      Some("""WITH m AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item FROM lineitem),
capped AS (SELECT grp, item FROM (SELECT grp, item, row_number() OVER (PARTITION BY grp ORDER BY item) AS rn FROM m) WHERE rn <= 20),
pairs AS (SELECT a.item AS src, b.item AS dst, count(*) AS n_shared
FROM capped a JOIN capped b ON a.grp = b.grp AND a.item < b.item GROUP BY 1, 2 HAVING count(*) >= 2),
cnt AS (SELECT item, count(*) AS cnt FROM capped GROUP BY 1),
ng AS (SELECT count(DISTINCT grp) AS ng FROM capped)
SELECT src, dst, n_shared,
CAST(floor(CAST(n_shared * ng AS DOUBLE) * 1000000 / CAST(ca.cnt * cb.cnt AS DOUBLE)) AS BIGINT) AS lift_q
FROM pairs CROSS JOIN ng JOIN cnt ca ON ca.item = pairs.src JOIN cnt cb ON cb.item = pairs.dst
ORDER BY 1, 2""")),

    // keep-the-best-copy curation: near-dup clusters (LSH -> CC) reduced to
    // one surviving doc each by token-count quality, tie-broken by id
    ("q_dedup_keep_best", (s, dir) => {
      val clusters = Dedup.nearDupClustersFromSignatures(docs(s, dir), "doc_id",
        docSignatures(s, dir), 0.5, 16, 4)
      val quality = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Dedup.keepBestPerCluster(clusters, "doc_id", quality, "n_tokens")
        .orderBy("cluster_rep")
    },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2),
b AS (SELECT doc_id AS id, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2),
cand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
pe AS (SELECT c.ia, c.ib, CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS ej
FROM cand c JOIN sig sa ON sa.doc_id = c.ia JOIN sig sb ON sb.doc_id = c.ib AND sb.h = sa.h GROUP BY 1,2),
e AS (SELECT ia, ib FROM pe WHERE ej >= 0.5),
sym2 AS (SELECT ia AS s, ib AS tt FROM e UNION SELECT ib, ia FROM e),
reach(id, r) AS (SELECT doc_id, doc_id FROM documents UNION SELECT reach.id, s2.tt FROM reach JOIN sym2 s2 ON s2.s = reach.r),
cl AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1),
ql AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS q FROM documents),
best AS (SELECT cluster_rep, cl.doc_id, q, row_number() OVER (PARTITION BY cluster_rep ORDER BY q DESC, cl.doc_id) AS rn FROM cl JOIN ql ON cl.doc_id = ql.doc_id),
sz AS (SELECT cluster_rep, count(*) AS n_docs FROM cl GROUP BY 1)
SELECT best.cluster_rep, best.doc_id AS best_doc, sz.n_docs, best.q AS best_quality
FROM best JOIN sz ON best.cluster_rep = sz.cluster_rep WHERE rn = 1 ORDER BY 1""")),

    // corpus self-similarity: mean pairwise 2-gram Jaccard (ppm) over a
    // deterministic fixed-SIZE sample — the "is this corpus collapsing
    // into template boilerplate" diversity snapshot. The sample is the k
    // smallest md5(doc_id) (the KMV discipline from sourceOverlapSketch),
    // so the pair space is O(k^2) CONSTANT in corpus size — a fraction
    // sample (e.g. doc_id % 53) would keep the quadratic growing with the
    // corpus. The top-k plans as TakeOrderedAndProject (map-side partial
    // top-k, never a global sort); the k-row id set then broadcast-joins
    // back to documents, so the wide text column is only read for k rows
    ("q_self_similarity", (s, dir) => {
      val k = 128
      val ids = docs(s, dir)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("hk"))
        .orderBy("hk", "doc_id").limit(k).select("doc_id")
      // checkpoint the k-row sample BEFORE the emptiness filter: without
      // the barrier Catalyst pushes size(shingles(text)) > 0 below the
      // broadcast join and evaluates the full shingle expression over the
      // whole corpus (measured 8x at 10x data); checkpointed, the shingle
      // work is k rows and both pair sides reuse one materialization
      val sample = docs(s, dir).join(broadcast(ids), "doc_id")
        .select(col("doc_id"), TextAnalysis.shingles(col("text"), 2).as("sh"))
        .localCheckpointCapped()
        .filter(size(col("sh")) > 0)
      val pairs = sample.as("a").join(sample.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(
          size(array_intersect(col("a.sh"), col("b.sh"))).cast("long")
            .as("inter"),
          size(col("a.sh")).cast("long").as("sa"),
          size(col("b.sh")).cast("long").as("sb"))
        .selectExpr(
          "CAST(inter * 1000000 DIV (sa + sb - inter) AS BIGINT) AS j_ppm")
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum(col("j_ppm").cast("decimal(38,0)")).as("sj"))
        .selectExpr("n_pairs",
          "CAST(sj DIV nullif(n_pairs, 0) AS BIGINT) AS mean_jaccard_ppm")
    },
      Some("""WITH ids AS (SELECT doc_id FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 128),
t AS (SELECT d.doc_id, string_split(text, ' ') AS l FROM documents d JOIN ids USING (doc_id)),
sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(l) - 1, 0)), i -> array_to_string(list_slice(l, i, i + 1), ' '))) AS sh FROM t),
s2 AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
p AS (SELECT CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
  CAST(len(a.sh) AS BIGINT) AS sa, CAST(len(b.sh) AS BIGINT) AS sb
  FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id),
j AS (SELECT CAST(inter * 1000000 // (sa + sb - inter) AS BIGINT) AS j_ppm FROM p)
SELECT count(*) AS n_pairs, CAST(CAST(sum(j_ppm) AS HUGEINT) // nullif(count(*), 0) AS BIGINT) AS mean_jaccard_ppm
FROM j""")),

    // blocking-recall audit: what fraction of the EXACT Jaccard >= 0.5
    // pairs (jaccardPrefixPairs — exact at any threshold) does the banded
    // MinHash-LSH candidate generation recover? The text-side analogue of
    // q_ann_recall, and it follows the same cost discipline: the exact
    // truth side runs on a deterministic 1/3 id sample (recall within the
    // sample is an unbiased estimate of index recall), so the audit never
    // pays the full-corpus exact join. Both channels are restricted to
    // the SAME sample; one semi join + two 1-row aggregates on top
    ("q_blocking_recall", (s, dir) => {
      val truth = Dedup.jaccardPrefixPairs(
        docs(s, dir).filter(col("doc_id") % 3 === 0), "doc_id", "text",
        3, 0.5).select("id_a", "id_b")
      val cand = Dedup.minhashLshPairsFromSignatures(
          docSignatures(s, dir).filter(col("id") % 3 === 0),
        16, 4).select("id_a", "id_b")
      truth.join(cand, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_found"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .selectExpr("n_truth", "n_found",
          // nullif: a (future) testdata regen with zero true pairs must
          // yield NULL recall, not a divide-by-zero error under ANSI
          "CAST(n_found * 1000000 DIV nullif(n_truth, 0) AS BIGINT) AS recall_ppm")
    },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents WHERE doc_id % 3 = 0),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
it AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2),
truth AS (SELECT ia, ib FROM it JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2),
b AS (SELECT doc_id AS id, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2),
cand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
f AS (SELECT count(*) AS n_found FROM truth JOIN cand USING (ia, ib)),
n AS (SELECT count(*) AS n_truth FROM truth)
SELECT n.n_truth, f.n_found, CAST(f.n_found * 1000000 // nullif(n.n_truth, 0) AS BIGINT) AS recall_ppm
FROM n CROSS JOIN f""")),

    // multi-signal (ensemble) near-dup detection: a pair is flagged by the
    // TEXT channel (MinHash est_jaccard >= 0.5), the EMBEDDING channel
    // (banded sign-LSH cosine >= 0.4), or both — text dedup misses
    // paraphrases, embedding dedup misses short-text noise; the full-outer
    // join of the two (already bucketed, never all-pairs) candidate sets
    // is the policy input for "drop only when both channels agree" vs
    // "drop on any signal" curation
    ("q_ensemble_pairs", (s, dir) => {
      val tp = Dedup.minhashLshPairsFromSignatures(docSignatures(s, dir), 16, 4)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), lit(true).as("text_dup"))
      // cell-scoped (sqrt(n) KMV-seeded cells), not sign-LSH: the banded-
      // LSH channel keeps a constant fraction of the pair space and
      // measured 72x at 10x corpus; cells bound candidates at n^1.5
      val ep = Similarity.cellScopedNearDupPairs(emb(s, dir), "vec_id",
          "embedding", 0.4)
        .select(col("id_a"), col("id_b"), lit(true).as("embed_dup"))
      tp.join(ep, Seq("id_a", "id_b"), "full_outer")
        .select(col("id_a"), col("id_b"),
          coalesce(col("text_dup"), lit(false)).as("text_dup"),
          coalesce(col("embed_dup"), lit(false)).as("embed_dup"))
        .orderBy("id_a", "id_b")
    },
      Some(s"""$EMB_U,
$ENSEMBLE_CTES
SELECT a.ia AS id_a, a.ib AS id_b,
EXISTS (SELECT 1 FROM tp WHERE tp.ia = a.ia AND tp.ib = a.ib) AS text_dup,
EXISTS (SELECT 1 FROM ep WHERE ep.ia = a.ia AND ep.ib = a.ib) AS embed_dup
FROM allp a ORDER BY 1, 2""")),

    // per-channel evidence ledger for the ensemble: pairs found by the
    // text channel only / the embedding channel only / both — the
    // auditable split that tells a curation policy how much each channel
    // contributes and how often they corroborate; all-integer one-rower
    ("q_ensemble_channels", (s, dir) => {
      val tp = Dedup.minhashLshPairsFromSignatures(docSignatures(s, dir), 16, 4)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), lit(true).as("text_dup"))
      val ep = Similarity.cellScopedNearDupPairs(emb(s, dir), "vec_id",
          "embedding", 0.4)
        .select(col("id_a"), col("id_b"), lit(true).as("embed_dup"))
      tp.join(ep, Seq("id_a", "id_b"), "full_outer")
        .select(coalesce(col("text_dup"), lit(false)).as("t"),
          coalesce(col("embed_dup"), lit(false)).as("e"))
        .agg(
          sum(when(col("t") && !col("e"), 1L).otherwise(0L)).as("n_text_only"),
          sum(when(!col("t") && col("e"), 1L).otherwise(0L)).as("n_embed_only"),
          sum(when(col("t") && col("e"), 1L).otherwise(0L)).as("n_both"),
          count(lit(1)).as("n_total"))
    },
      Some(s"""$EMB_U,
$ENSEMBLE_CTES
SELECT
CAST(sum(CASE WHEN td AND NOT ed THEN 1 ELSE 0 END) AS BIGINT) AS n_text_only,
CAST(sum(CASE WHEN ed AND NOT td THEN 1 ELSE 0 END) AS BIGINT) AS n_embed_only,
CAST(sum(CASE WHEN td AND ed THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
count(*) AS n_total
FROM (SELECT
EXISTS (SELECT 1 FROM tp WHERE tp.ia = a.ia AND tp.ib = a.ib) AS td,
EXISTS (SELECT 1 FROM ep WHERE ep.ia = a.ia AND ep.ib = a.ib) AS ed
FROM allp a)""")),

    // rendezvous (highest-random-weight) sharding: each doc goes to the
    // shard whose salted hash is lexicographic max — when the shard count
    // changes S -> S+1 only ~1/(S+1) of docs move (vs ~all for mod
    // bucketing), the consistent-placement property a growing corpus
    // store needs; pure per-row arithmetic, one tiny rollup
    ("q_hrw_shards", (s, dir) => {
      val e = docs(s, dir).select(col("doc_id"),
          explode(sequence(lit(0), lit(4))).as("shard"))
        .withColumn("hk", md5(concat(col("shard").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
      e.groupBy("doc_id").agg(expr("max_by(shard, hk)").cast("int").as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
        .orderBy("shard")
    },
      Some("""WITH e AS (SELECT doc_id, unnest(generate_series(0, 4)) AS shard FROM documents),
h AS (SELECT doc_id, shard, md5(CAST(shard AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS hk FROM e),
a AS (SELECT doc_id, CAST(arg_max(shard, hk) AS INT) AS shard FROM h GROUP BY 1)
SELECT shard, count(*) AS n_docs, min(doc_id) AS min_doc FROM a GROUP BY 1 ORDER BY 1""")),

    // content-defined chunking: chunk boundaries where the rolling 3-gram
    // hash's first hex digit is '0' (expected chunk ~16 tokens) — an
    // insertion shifts only its own chunk's boundaries, not every later
    // offset, which is what makes CDC segments dedup-friendly across doc
    // revisions (fixed-stride chunking re-keys everything downstream of an
    // edit); per-row codegen'd expressions, no shuffle
    ("q_cdc_chunks", (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val windows = when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - lit(2)),
          i => md5(array_join(slice(toks, i, lit(3)), " "))))
        .otherwise(array().cast("array<string>"))
      docs(s, dir).select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          (size(filter(windows, h => substring(h, 1, 1) === "0")) + 1)
            .cast("long").as("n_chunks"))
        .withColumn("avg_chunk_micro_tokens",
          expr("CAST(n_tokens * 1000000L DIV n_chunks AS BIGINT)"))
        .orderBy("doc_id")
    },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
w AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
  CASE WHEN len(l) >= 3 THEN list_transform(generate_series(1, len(l) - 2), i -> md5(array_to_string(list_slice(l, i, i + 2), ' '))) ELSE CAST([] AS VARCHAR[]) END AS ws FROM t),
c AS (SELECT doc_id, n_tokens, CAST(len(list_filter(ws, h -> substr(h, 1, 1) = '0')) + 1 AS BIGINT) AS n_chunks FROM w)
SELECT doc_id, n_tokens, n_chunks,
CAST(n_tokens * 1000000 // n_chunks AS BIGINT) AS avg_chunk_micro_tokens
FROM c ORDER BY 1""")),

    // leakage-proof split assignment: hash-split on the near-dup CLUSTER
    // representative, not the doc id — every member of a near-dup cluster
    // lands in the same train/val/test split by construction, closing the
    // leakage channel q_split_leakage measures. One labels join on top of
    // the warehouse-resident cluster table; the split stays a pure function
    // of the rep id (stable when the corpus grows)
    ("q_cluster_split", (s, dir) => {
      val clusters = Dedup.nearDupClustersFromSignatures(docs(s, dir), "doc_id",
        docSignatures(s, dir), 0.5, 16, 4)
      clusters.withColumn("split",
          when(graft.functions.Sampling.hashBucket(col("cluster_rep"), 100,
            "csplit") < 90, "train")
            .when(graft.functions.Sampling.hashBucket(col("cluster_rep"), 100,
              "csplit") < 95, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_rep")).as("n_clusters"))
        .orderBy("split")
    },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2),
b AS (SELECT doc_id AS id, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2),
cand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
pe AS (SELECT c.ia, c.ib, CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS ej
FROM cand c JOIN sig sa ON sa.doc_id = c.ia JOIN sig sb ON sb.doc_id = c.ib AND sb.h = sa.h GROUP BY 1,2),
e AS (SELECT ia, ib FROM pe WHERE ej >= 0.5),
sym2 AS (SELECT ia AS s, ib AS tt FROM e UNION SELECT ib, ia FROM e),
reach(id, r) AS (SELECT doc_id, doc_id FROM documents UNION SELECT reach.id, s2.tt FROM reach JOIN sym2 s2 ON s2.s = reach.r),
cl AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1),
sp AS (SELECT doc_id, cluster_rep,
CASE WHEN CAST(concat('0x', substr(md5('csplit' || CAST(cluster_rep AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train'
WHEN CAST(concat('0x', substr(md5('csplit' || CAST(cluster_rep AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'val'
ELSE 'test' END AS split FROM cl)
SELECT split, count(*) AS n_docs, CAST(count(DISTINCT cluster_rep) AS BIGINT) AS n_clusters
FROM sp GROUP BY 1 ORDER BY 1""")),

    // the end-to-end curation pipeline in one plan: quality gate (lexical
    // diversity) -> exact dedup (min-id per fingerprint) -> stable hash
    // split -> per-(split, source) token-budget admission -> final
    // training-slice accounting. Every stage is a pure relational
    // transform, so the whole pipeline is ONE lazy plan and a SINGLE scan
    // of documents: Catalyst fuses the gate into the scan, the dedup is a
    // window-min over fp, the budget is one windowed cumsum — no
    // materialization between stages (single-scan pinned by Round9Spec)
    ("q_pipeline_e2e", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"),
          md5(lower(trim(col("text")))).as("fp"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).cast("long")
            .as("n_distinct"))
        .withColumn("score_q",
          expr("CAST(n_distinct * 1000000L DIV n_tokens AS BIGINT)"))
        .filter(col("score_q") >= 200000)
      // exact dedup as a WINDOW-min, not groupBy+self-join: the join-back
      // shape scans the corpus (and recomputes the gate + md5) twice and
      // at real scale its keep table is corpus-sized — not broadcastable;
      // the window keeps the pipeline a SINGLE pass over documents with
      // one narrow shuffle of the projected columns (text already dropped)
      val wfp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      val uniq = d.withColumn("min_id", min("doc_id").over(wfp))
        .filter(col("doc_id") === col("min_id")).drop("min_id")
      val bk = graft.functions.Sampling.hashBucket(col("doc_id"), 100, "e2e")
      val sp = uniq.withColumn("split",
        when(bk < 90, "train").when(bk < 95, "val").otherwise("test"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("split", "source")
        .orderBy(col("score_q").desc, col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      sp.withColumn("cum", sum("n_tokens").over(w))
        .filter(col("cum") <= 500L)
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("kept_tokens"))
        .orderBy("split", "source")
    },
      Some("""WITH d AS (SELECT doc_id, source, text, md5(lower(trim(text))) AS fp,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct FROM documents),
q AS (SELECT *, CAST(n_distinct * 1000000 // n_tokens AS BIGINT) AS score_q FROM d
  WHERE CAST(n_distinct * 1000000 // n_tokens AS BIGINT) >= 200000),
u AS (SELECT * EXCLUDE (min_id) FROM (SELECT q.*, min(doc_id) OVER (PARTITION BY fp) AS min_id FROM q) WHERE doc_id = min_id),
sp AS (SELECT *, CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT *, CAST(concat('0x', substr(md5('e2e' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bk FROM u)),
c AS (SELECT split, source, doc_id, n_tokens,
  CAST(sum(n_tokens) OVER (PARTITION BY split, source ORDER BY score_q DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM sp)
SELECT split, source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
FROM c WHERE cum <= 500 GROUP BY 1, 2 ORDER BY 1, 2""")),

    // deterministic per-(user, hour) rate limiting: keep the first k events
    // in (ts, event_id) order — flood control as a WindowGroupLimit plan
    ("q_rate_limit", (s, dir) =>
      EventStream.rateLimit(tbl(s, dir, "events"), "user_id", 2)
        .select("event_id", "user_id", "hr")
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr FROM (
SELECT *, row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts) ORDER BY ts, event_id) AS rn FROM events)
WHERE rn <= 2 ORDER BY event_id""")),

    // cohort retention: users by first-event day, counted at each
    // day-offset they return — exact integers throughout
    ("q_retention", (s, dir) =>
      EventStream.cohortRetention(tbl(s, dir, "events"))
        .orderBy("cohort_day", "day_offset"),
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
x AS (SELECT DISTINCT c.cohort_day, CAST(datediff('day', c.cohort_day, ev.day) AS INT) AS day_offset, ev.user_id
FROM ev JOIN c ON ev.user_id = c.user_id)
SELECT cohort_day, day_offset, count(*) AS n_users FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    // sliding windows through the real streaming machinery in append mode:
    // overlapping windows emit once each, watermark-finalized (oracle's
    // WHERE mirrors the finalization predicate)
    ("q_sliding_stream", (s, dir) =>
      EventStream.runSlidingStream(s, s"$dir/events.parquet", "1 hour",
          "30 minutes", "10 minutes", s"sliding_stream_${Counter.next()}")
        .orderBy("window_start", "event_type"),
      Some("""WITH x AS (SELECT make_timestamp(((epoch_us(ts) // 1800000000) - s.i) * 1800000000) AS window_start,
event_type, value FROM events, (SELECT unnest(generate_series(0, 1)) AS i) s)
SELECT window_start, event_type, count(*) AS n_events,
CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
FROM x WHERE window_start + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
GROUP BY 1, 2 ORDER BY 1, 2""")),

    // binned point-in-interval range join: errors counted inside the
    // session that contains them — equi-join on (user, hour bucket) with
    // the exact range predicate as a filter, never a nested loop
    ("q_point_in_interval", (s, dir) => {
      val sess = EventStream.sessionize(tbl(s, dir, "events"), "30 minutes")
        .select(col("user_id"), col("t_start"), col("t_end"))
      val errs = EventStream.normalizeTs(tbl(s, dir, "events"))
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"))
      graft.operators.RangeJoin.pointInInterval(errs, "ts", sess,
          "t_start", "t_end", Seq("user_id"), 3600)
        .groupBy("user_id", "t_start").agg(count(lit(1)).as("n_err"))
        .orderBy("user_id", "t_start")
    },
      Some("""WITH l AS (SELECT user_id, event_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
f AS (SELECT *, CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) >= 1800000000 THEN 1 ELSE 0 END AS ns FROM l),
g AS (SELECT user_id, ts, event_id, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS seq FROM f),
s AS (SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS t_start, CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS t_end FROM g GROUP BY user_id, seq)
SELECT s.user_id, s.t_start, count(*) AS n_err
FROM s JOIN events e ON e.user_id = s.user_id AND e.ts >= s.t_start AND e.ts < s.t_end AND e.event_type = 'error'
GROUP BY 1, 2 ORDER BY 1, 2""")),

    // 1-WL color refinement: structural node labels from iterated hashing
    // of sorted neighbor-label multisets (graph-kernel featurization)
    ("q_wl_labels", (s, dir) =>
      GraphAlgorithms.wlRefinement(sparse(s, dir), 2).orderBy("id"),
      Some(wlSql(2))),

    // GraphSAGE-style sampled computation trees: hash-ranked per-(seed,
    // parent) neighbor pick, fanout (3, 2) over two hops
    ("q_neighbor_sample", (s, dir) => {
      val g = sparse(s, dir)
      GraphAlgorithms.neighborSample(g,
          g.nodes.select("id").orderBy("id").limit(20), Seq(3, 2))
        .orderBy("seed", "hop", "parent", "child")
    },
      Some("""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
symd AS MATERIALIZED (SELECT DISTINCT source, target FROM (SELECT source, target FROM se UNION ALL SELECT target, source FROM se) WHERE source <> target),
f0 AS (SELECT id AS seed, id AS node FROM (SELECT id FROM nodes ORDER BY id LIMIT 20)),
c1 AS (SELECT f.seed, s.source AS parent, s.target AS child,
CAST(concat('0x', substr(md5(concat(f.seed, ':', s.source, ':', s.target)), 1, 8)) AS BIGINT) AS rnd
FROM symd s JOIN f0 f ON f.node = s.source),
s1 AS MATERIALIZED (SELECT seed, 1 AS hop, parent, child FROM (SELECT *, row_number() OVER (PARTITION BY seed, parent ORDER BY rnd, child) AS rn FROM c1) WHERE rn <= 3),
f1 AS (SELECT DISTINCT seed, child AS node FROM s1),
c2 AS (SELECT f.seed, s.source AS parent, s.target AS child,
CAST(concat('0x', substr(md5(concat(f.seed, ':', s.source, ':', s.target)), 1, 8)) AS BIGINT) AS rnd
FROM symd s JOIN f1 f ON f.node = s.source),
s2 AS MATERIALIZED (SELECT seed, 2 AS hop, parent, child FROM (SELECT *, row_number() OVER (PARTITION BY seed, parent ORDER BY rnd, child) AS rn FROM c2) WHERE rn <= 2)
SELECT seed, hop, parent, child FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) ORDER BY 1, 2, 3, 4""")),

    // deterministic negative-edge sampling: hash-derived candidate
    // positions -> dense positional index -> anti-join real edges
    ("q_neg_samples", (s, dir) =>
      GraphAlgorithms.negativeSamples(sparse(s, dir), 8, 3)
        .orderBy("source", "j"),
      Some("""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
de AS MATERIALIZED (SELECT DISTINCT source, target FROM se),
pos AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS p FROM nodes),
srcs AS (SELECT DISTINCT source FROM de),
cand AS (SELECT s.source, j.j, CAST(concat('0x', substr(md5(concat(s.source, ':', j.j)), 1, 8)) AS BIGINT) % (SELECT count(*) FROM nodes) AS p
FROM srcs s, (SELECT unnest(generate_series(1, 8)) AS j) j),
cand2 AS (SELECT c.source, pos.id AS target, c.j FROM cand c JOIN pos ON pos.p = c.p WHERE c.source <> pos.id),
neg AS (SELECT c.source, c.target, c.j FROM cand2 c WHERE NOT EXISTS (SELECT 1 FROM de e WHERE e.source = c.source AND e.target = c.target))
SELECT source, target, CAST(j AS INT) AS j FROM (SELECT *, row_number() OVER (PARTITION BY source ORDER BY j) AS rn FROM neg)
WHERE rn <= 3 ORDER BY source, j""")),

    // asymmetric containment dedup: subset duplication Jaccard misses
    // (short doc quoted inside a long one), same df-capped inverted index
    ("q_containment", (s, dir) =>
      Dedup.ngramContainmentPairs(docs(s, dir), "doc_id", "text", 3, 500000, 20)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
dfc AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 20),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc USING (shingle)),
sz AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
it AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2)
SELECT ia AS id_a, ib AS id_b, CAST(i AS BIGINT) AS inter,
CAST(i * 1000000 // least(sa.sz, sb.sz) AS BIGINT) AS containment_q
FROM it JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
WHERE i * 1000000 // least(sa.sz, sb.sz) >= 500000 ORDER BY 1, 2""")),

    // skip-gram training pairs off the deterministic walk corpus —
    // the DeepWalk/node2vec pair-extraction stage
    ("q_skipgram", (s, dir) =>
      GraphAlgorithms.skipgramPairs(
          GraphAlgorithms.randomWalks(sparse(s, dir), steps = 4), 2)
        .orderBy("center", "context"),
      Some(skipgramSql(4, 2))),

    // rolling 7-day behavioral features per user: daily rollup first,
    // then a RANGE-framed window over integer day numbers
    ("q_rolling_7d", (s, dir) =>
      EventStream.rollingDailyCounts(tbl(s, dir, "events"), "user_id", 7)
        .orderBy("user_id", "day"),
      Some("""WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
sum(CAST(floor(value * 100) AS BIGINT)) AS cents FROM events GROUP BY 1, 2),
x AS (SELECT user_id, day, CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) AS dnum, n, cents FROM d)
SELECT user_id, day, CAST(sum(n) OVER w AS BIGINT) AS roll_n, CAST(sum(cents) OVER w AS BIGINT) AS roll_cents
FROM x WINDOW w AS (PARTITION BY user_id ORDER BY dnum RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) ORDER BY 1, 2""")),

    // product-quantization codes: per-subspace integer codebooks + exact
    // L2 argmin — the ~64x at-rest compression for a vector corpus
    ("q_pq_codes", (s, dir) =>
      Similarity.pqCodes(emb(s, dir), "vec_id", "embedding", "label", 8, 64)
        .orderBy("vec_id", "subspace"),
      Some("""WITH u AS (SELECT vec_id, s.i, CAST(floor(CAST(embedding[s.i] AS DOUBLE) * 10000000) AS BIGINT) AS x, label FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s),
sub AS (SELECT vec_id, label AS cell, (i - 1) // 8 AS s, i, x FROM u),
cents AS (SELECT cell AS code, s, i,
CAST(CASE WHEN sum(x) >= 0 THEN sum(x) // count(*) ELSE -((-sum(x)) // count(*)) END AS BIGINT) AS c
FROM sub GROUP BY 1, 2, 3),
d AS (SELECT sub.vec_id, sub.s, cents.code, sum(CAST((x - c) * (x - c) AS HUGEINT)) AS d2
FROM sub JOIN cents ON cents.s = sub.s AND cents.i = sub.i GROUP BY 1, 2, 3)
SELECT vec_id, s AS subspace, CAST(code AS INT) AS code
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn FROM d)
WHERE rn = 1 ORDER BY 1, 2""")),

    // IVF-PQ ADC search: coarse nprobe-cell probe + per-query codebook
    // lookup table, candidates ranked by summed integer code distances —
    // the corpus side reads m codes per vector, never raw vectors (the
    // billion-scale ANN serving shape)
    ("q_ivfpq_search", (s, dir) =>
      Similarity.ivfPqSearch(emb(s, dir), "vec_id", "embedding", "label",
          m = 8, dims = 64, k = 3, nprobe = 2)
        .orderBy("query_id", "rank"),
      Some(s"""$EMB_U,
lb AS (SELECT vec_id, label FROM embeddings),
sub AS MATERIALIZED (SELECT u.vec_id, lb.label AS cell, (i - 1) // 8 AS s, i, x FROM u JOIN lb USING (vec_id)),
cents AS MATERIALIZED (SELECT cell AS code, s, i,
CAST(CASE WHEN sum(x) >= 0 THEN sum(x) // count(*) ELSE -((-sum(x)) // count(*)) END AS BIGINT) AS c
FROM sub GROUP BY 1, 2, 3),
codes AS MATERIALIZED (SELECT vec_id, s, code FROM (
SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn FROM (
SELECT sub.vec_id, sub.s, cents.code, sum(CAST((x - c) * (x - c) AS HUGEINT)) AS d2
FROM sub JOIN cents ON cents.s = sub.s AND cents.i = sub.i GROUP BY 1, 2, 3)) WHERE rn = 1),
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
g AS (SELECT label AS cell, i, sum(x) AS sx, count(*) AS n FROM u JOIN lb USING (vec_id) GROUP BY 1,2),
cent AS (SELECT cell, i, CAST(CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END AS BIGINT) AS cq FROM g),
cn AS (SELECT cell, sum(cq * cq) AS cn2 FROM cent GROUP BY 1),
qc AS (SELECT u.vec_id, c.cell, sum(u.x * c.cq) AS d FROM u JOIN cent c ON c.i = u.i GROUP BY 1,2),
ps AS (SELECT qc.vec_id, qc.cell, CAST(d AS DOUBLE) / (sqrt(CAST(nn AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cs
FROM qc JOIN norms ON norms.vec_id = qc.vec_id JOIN cn ON cn.cell = qc.cell),
probed AS (SELECT vec_id AS query_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS pn FROM ps) WHERE pn <= 2),
lut AS MATERIALIZED (SELECT q.vec_id AS query_id, c.s, c.code, sum(CAST((q.x - c.c) * (q.x - c.c) AS HUGEINT)) AS ld
FROM sub q JOIN cents c ON c.s = q.s AND c.i = q.i GROUP BY 1, 2, 3),
cand AS (SELECT probed.query_id, lb.vec_id AS neighbor_id FROM probed JOIN lb ON lb.label = probed.cell
WHERE lb.vec_id <> probed.query_id),
ad AS (SELECT cand.query_id, cand.neighbor_id, CAST(sum(l.ld) AS BIGINT) AS ad2
FROM cand JOIN codes ON codes.vec_id = cand.neighbor_id
JOIN lut l ON l.query_id = cand.query_id AND l.s = codes.s AND l.code = codes.code
GROUP BY 1, 2)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, ad2 FROM (
SELECT query_id, neighbor_id, ad2, row_number() OVER (PARTITION BY query_id ORDER BY ad2, neighbor_id) AS rank FROM ad)
WHERE rank <= 3 ORDER BY 1, 3""")),

    // as-of join with staleness tolerance: matches older than 1h are
    // nulled (merge_asof tolerance semantics), same one-window-pass plan
    ("q_asof_within", (s, dir) => {
      val ev = EventStream.normalizeTs(tbl(s, dir, "events"))
      graft.operators.AsOfJoin.asofBackwardWithin(
          ev.filter(col("event_type") === "click")
            .select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "purchase"),
          keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
          valueCols = Seq("value"), tolerance = "1 HOUR",
          tieCol = Some("event_id"))
        .select("event_id", "user_id", "asof_value").orderBy("event_id")
    },
      Some("""WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, arg_max(value, event_id) AS value FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT c.event_id, c.user_id, CASE WHEN p.ts >= c.ts - INTERVAL 1 HOUR THEN p.value END AS asof_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts ORDER BY 1""")),

    // weighted k-core (s-core): strength-threshold peeling, survivors with
    // their in-core strength
    ("q_weighted_kcore", (s, dir) =>
      GraphAlgorithms.weightedKCore(sparse(s, dir), "weight", 40000000L, 4)
        .orderBy("id"),
      Some(wkcoreSql(40000000L, 4))),

    // equal-width feature binning in exact cent arithmetic: global min/max
    // via a broadcast 1-row aggregate, one group-by-bin shuffle
    ("q_feature_bins", (s, dir) =>
      graft.functions.Sampling.featureBins(tbl(s, dir, "customer"), "c_acctbal", 10)
        .orderBy("bin"),
      Some("""WITH v AS (SELECT CAST(floor(c_acctbal * 100) AS BIGINT) AS q FROM customer),
mm AS (SELECT min(q) AS mn, max(q) AS mx FROM v)
SELECT (q - mn) * 10 // (mx - mn + 1) AS bin, count(*) AS n, min(q) AS lo_q, max(q) AS hi_q
FROM v, mm GROUP BY 1 ORDER BY 1""")),

    // SCD type-2 dimension history: changelog rows become validity
    // intervals closed by the next change (lead window, one key shuffle)
    ("q_scd2", (s, dir) =>
      EventStream.scd2History(tbl(s, dir, "events"), "user_id")
        .select("user_id", "event_id", "effective_from", "effective_to",
          "is_current")
        .orderBy("user_id", "effective_from", "event_id"),
      Some("""SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS effective_from,
CAST(lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP) AS effective_to,
lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
FROM events ORDER BY user_id, effective_from, event_id""")),

    // global transitivity: 3 * triangles / wedges, single-row summary
    ("q_transitivity", (s, dir) =>
      GraphAlgorithms.transitivity(sparse(s, dir)),
      Some(s"""$G, und AS (SELECT DISTINCT least(source, target) AS s, greatest(source, target) AS t FROM sedges WHERE source <> target),
tri AS (SELECT count(*) AS n_triangles FROM und ab JOIN und bc ON ab.t = bc.s JOIN und ac ON ac.s = ab.s AND ac.t = bc.t),
deg AS (SELECT id, count(*) AS d FROM (SELECT s AS id FROM und UNION ALL SELECT t FROM und) GROUP BY 1),
w AS (SELECT COALESCE(sum(d * (d - 1) // 2), 0) AS n_wedges FROM deg)
SELECT CAST(n_triangles AS BIGINT) AS n_triangles, CAST(n_wedges AS BIGINT) AS n_wedges,
CASE WHEN n_wedges = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(3 * n_triangles * 1000000 // n_wedges AS BIGINT) END AS transitivity_q
FROM tri, w""")),

    // ============== batch G: spanning forest, profiling, blocking ==============

    // eccentricity profile from the 8 smallest ids (depth-capped multi-
    // source BFS; exact where the sweep exhausts the component)
    ("q_eccentricity", (s, dir) =>
      GraphAlgorithms.eccentricitiesFromDistances(seedDists(s, dir))
        .orderBy("seed"),
      Some(s"""$G, seeds AS (SELECT id FROM nodes ORDER BY id LIMIT 8),
bfs(seed, id, d) AS (
  SELECT id, id, 0 FROM seeds
  UNION
  SELECT b.seed, s.target, b.d + 1 FROM bfs b JOIN sym s ON s.source = b.id WHERE b.d < 12),
md AS (SELECT seed, id, min(d) AS d FROM bfs GROUP BY 1, 2)
SELECT seed, CAST(max(d) AS BIGINT) AS ecc_lb, count(*) AS n_reached FROM md GROUP BY 1 ORDER BY 1""")),

    // minimum spanning forest (Borůvka); oracle replays the rounds unrolled
    ("q_mst", (s, dir) =>
      GraphAlgorithms.minimumSpanningForest(sparse(s, dir))
        .agg(count(lit(1)).as("n_edges"), sum("wq").as("total_wq")),
      Some(mstSql(12))),

    // ROLLUP aggregation with explicit grouping-level id
    ("q_rollup_nodes", (s, dir) =>
      graph(s, dir).nodes
        .rollup("c_mktsegment", "c_nationkey")
        .agg(sum(floor(col("c_acctbal") * 100).cast("long")).as("bal_cents"),
          count(lit(1)).as("n"),
          (grouping(col("c_mktsegment")) * 2 + grouping(col("c_nationkey")))
            .cast("long").as("gid"))
        .select(coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
          coalesce(col("c_nationkey"), lit(-1L)).as("nat"),
          col("gid"), col("bal_cents"), col("n"))
        .orderBy("gid", "seg", "nat"),
      Some(s"""$G SELECT COALESCE(c_mktsegment, 'ALL') AS seg, CAST(COALESCE(c_nationkey, -1) AS BIGINT) AS nat,
CAST(GROUPING(c_mktsegment) * 2 + GROUPING(c_nationkey) AS BIGINT) AS gid,
CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents, count(*) AS n
FROM nodes GROUP BY ROLLUP(c_mktsegment, c_nationkey) ORDER BY 3, 1, 2""")),

    // gaps-and-islands: per-user consecutive-day activity streaks
    ("q_streaks", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day")
      val days = EventStream.normalizeTs(tbl(s, dir, "events"))
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      days
        .withColumn("dn", datediff(col("day"), to_date(lit("2020-01-01"))))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("user_id"), (col("dn") - col("rn")).as("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").as("longest"), count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    },
      Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
num AS (SELECT user_id, day, datediff('day', DATE '2020-01-01', day) AS dn,
row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM days),
isl AS (SELECT user_id, dn - rn AS grp, count(*) AS len FROM num GROUP BY 1, 2)
SELECT user_id, CAST(max(len) AS BIGINT) AS longest, count(*) AS n_streaks FROM isl GROUP BY 1 ORDER BY 1""")),

    // per-group mode with deterministic tie-break (count desc, then id) —
    // the rank filter plans as WindowGroupLimit, so only per-group leaders
    // survive the shuffle
    ("q_mode", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(desc("n"), asc("user_id"))
      tbl(s, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("event_type", "user_id", "n").orderBy("event_type")
    },
      Some("""WITH c AS (SELECT event_type, user_id, count(*) AS n FROM events GROUP BY 1, 2),
r AS (SELECT event_type, user_id, n, row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS rk FROM c)
SELECT event_type, user_id, n FROM r WHERE rk = 1 ORDER BY 1""")),

    // fuzzy-duplicate pairs: Levenshtein <= 3 within brand blocks
    ("q_edit_distance", (s, dir) =>
      Dedup.editDistancePairs(tbl(s, dir, "part"), "p_partkey", "p_name",
          col("p_brand"), 3)
        .orderBy("id_a", "id_b"),
      Some("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3 ORDER BY 1, 2""")),

    // character diversity (inverse Simpson, exact integer arithmetic)
    ("q_char_diversity", (s, dir) =>
      TextAnalysis.charDiversity(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
cc AS (SELECT doc_id, ch, count(*) AS cnt FROM ch WHERE len(ch) > 0 GROUP BY 1, 2)
SELECT doc_id, count(*) AS distinct_chars, CAST(sum(cnt) AS BIGINT) AS n_chars,
CAST((CAST(sum(cnt) AS HUGEINT) * sum(cnt) * 1000000) // sum(CAST(cnt AS HUGEINT) * cnt) AS BIGINT) AS inv_simpson_q
FROM cc GROUP BY 1 ORDER BY 1""")),

    // corpus-drift profile: pairwise cosine between source unigram vectors
    ("q_source_cosine", (s, dir) =>
      TextAnalysis.groupTokenCosine(docs(s, dir), "source", "text")
        .orderBy("grp_a", "grp_b"),
      Some("""WITH tk AS (SELECT source AS grp, unnest(string_split(text, ' ')) AS token FROM documents),
c AS (SELECT grp, token, count(*) AS c FROM tk GROUP BY 1, 2),
norms AS (SELECT grp, sum(CAST(c AS HUGEINT) * c) AS n2 FROM c GROUP BY 1),
dots AS (SELECT a.grp AS grp_a, b.grp AS grp_b, sum(CAST(a.c AS HUGEINT) * b.c) AS dot
FROM c a JOIN c b ON a.token = b.token AND a.grp < b.grp GROUP BY 1, 2)
SELECT grp_a, grp_b, CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) * 1000000) AS BIGINT) AS cos_q
FROM dots JOIN norms na ON na.grp = grp_a JOIN norms nb ON nb.grp = grp_b ORDER BY 1, 2""")),

    // mutual-kNN similarity graph — the EXACT all-pairs scorer, audit duty
    // only, so it runs on the ExactAuditCap-bounded deterministic stratum
    // (full corpus at sf0.01 where n <= cap): constant cost at any scale
    ("q_knn_graph", (s, dir) =>
      Similarity.mutualKnnGraph(embCapped(s, dir), "vec_id", "embedding", 5)
        .orderBy("vec_a", "vec_b"),
      Some(s"""$EMB_CAPPED_U,
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
dq AS (SELECT a.vec_id AS qa, b.vec_id AS cb, sum(a.x * b.x) AS d
FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id GROUP BY 1, 2),
sims AS (SELECT qa, cb, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv
FROM dq JOIN norms na ON na.vec_id = qa JOIN norms nb ON nb.vec_id = cb),
rk AS (SELECT qa, cb, sv, row_number() OVER (PARTITION BY qa ORDER BY sv DESC, cb) AS rn FROM sims),
tk AS (SELECT qa, cb, sv FROM rk WHERE rn <= 5)
SELECT t.qa AS vec_a, t.cb AS vec_b, CAST(floor(t.sv * 1000000) AS BIGINT) AS cos_q
FROM tk t JOIN tk r ON r.qa = t.cb AND r.cb = t.qa WHERE t.qa < t.cb ORDER BY 1, 2""")),

    // semantic document clustering — THE PRODUCTION PATH: weak components
    // over the IVF mutual-kNN graph. Candidates come from the cell
    // EQUI-join of each vector's nprobe nearest KMV cells against massign
    // cell MEMBERSHIPS per vector (NO id-inequality-only join in the
    // plan), so graph construction is O(n * nprobe * massign * cell)
    // ~ n^1.5 vs the exact scorer's n^2; the fused mutualKnnGraphKmv
    // quantizes the corpus ONCE and derives cells/centroids/probes/scores
    // from that checkpoint. Exact variant kept as q_doc_clusters_exact
    // (audit-bounded corpus); the IVF recall price is measured by
    // q_doc_clusters_recall on an anchored stratum, not assumed.
    ("q_doc_clusters", (s, dir) => {
      val e = emb(s, dir)
      val knn = docKnnGraph(s, dir)
        .select(col("vec_a").as("source"), col("vec_b").as("target"))
      val lab = GraphAlgorithms.componentLabels(
        NetworkFrame(e.select(col("vec_id").as("id")), knn))
      lab.join(lab.groupBy("component").agg(count(lit(1)).as("cluster_size")),
          Seq("component"))
        .select(col("id").as("vec_id"), col("component").as("cluster"),
          col("cluster_size"))
        .orderBy("vec_id")
    },
      // FLAT-ENVELOPE ORACLE ONLY (round-15 advice): this SQL mirrors the
      // flat ivfMutualCtes chain at the UNSCALED (6,3) point, which is
      // docKnnGraph's route exactly when n <= 20164 AND scaledClusterPoint
      // still returns (6,3) — true for every gated corpus (sf0.001/0.01/
      // 0.1; spec-pinned in Round15Spec). Gating a larger corpus would
      // silently compare structurally different graphs; the two-level
      // route has its OWN gated mirror (q_doc_clusters_2l below), which
      // is the oracle to extend if a past-cutover corpus is ever gated.
      Some(s"""${EMB_U.replace("WITH u AS", "WITH u AS MATERIALIZED")},
nr AS MATERIALIZED (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
${ivfMutualCtes(5, DocClusterProbe, DocClusterAssign)},
${svComponentCtes("embeddings")},
sz AS (SELECT cluster, count(*) AS n FROM lab GROUP BY 1)
SELECT lab.id AS vec_id, lab.cluster, CAST(sz.n AS BIGINT) AS cluster_size
FROM lab JOIN sz USING (cluster) ORDER BY 1""")),

    // the PAST-CUTOVER channel, oracle-gated (round-15 verdict #3): the
    // two-level coarse->fine residual index run at its exact cutover
    // constants (pCoarse=6, pFine=24, mCoarse=2, mFine=2 — the operating
    // point docKnnGraph ships at n = 20165, where the pFine law starts) on
    // the gated corpus, against a DuckDB mirror of the full
    // coarse/fine/residual chain. No gated corpus SIZE reaches the
    // cutover, so q_doc_clusters stays flat-gated — this query forces the
    // two-level code path itself (coarse KMV seeds -> integer centroids ->
    // residual re-expression -> per-cell fine seeds -> joint fine probe ->
    // exact-scored mutual top-k) through the hash-compared bank every
    // round instead of leaving it to specs and manual Grid runs
    ("q_doc_clusters_2l", (s, dir) =>
      Similarity.mutualKnnGraphTwoLevel(emb(s, dir), "vec_id", "embedding",
          k = 5, pCoarse = 6, pFine = 24, mCoarse = 2, mFine = 2)
        .orderBy("vec_a", "vec_b"),
      Some(s"""${EMB_U.replace("WITH u AS", "WITH u AS MATERIALIZED")},
nr AS MATERIALIZED (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
${twoLevelMutualCtes(5, 6, 24, 2, 2)}
SELECT source AS vec_a, target AS vec_b, cq AS cos_q FROM me2 ORDER BY 1, 2""")),

    // exact-scorer variant of the clustering — correctness baseline and
    // audit duty only, so it runs on the ExactAuditCap-bounded stratum
    // (the full corpus at sf0.01): the n^2 plan can never become the
    // bank's scale-killer
    ("q_doc_clusters_exact", (s, dir) => {
      val e = embCapped(s, dir)
      val knn = Similarity.mutualKnnGraph(e, "vec_id", "embedding", 5)
        .select(col("vec_a").as("source"), col("vec_b").as("target"))
      val lab = GraphAlgorithms.componentLabels(
        NetworkFrame(e.select(col("vec_id").as("id")), knn))
      lab.join(lab.groupBy("component").agg(count(lit(1)).as("cluster_size")),
          Seq("component"))
        .select(col("id").as("vec_id"), col("component").as("cluster"),
          col("cluster_size"))
        .orderBy("vec_id")
    },
      Some(s"""$EMB_CAPPED_U,
norms AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
dq AS (SELECT a.vec_id AS qa, b.vec_id AS cb, sum(a.x * b.x) AS d
FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id GROUP BY 1, 2),
sims AS (SELECT qa, cb, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv
FROM dq JOIN norms na ON na.vec_id = qa JOIN norms nb ON nb.vec_id = cb),
rk AS (SELECT qa, cb, sv, row_number() OVER (PARTITION BY qa ORDER BY sv DESC, cb) AS rn FROM sims),
tk AS MATERIALIZED (SELECT qa, cb FROM rk WHERE rn <= 5),
me AS MATERIALIZED (SELECT t.qa AS source, t.cb AS target FROM tk t JOIN tk r ON r.qa = t.cb AND r.cb = t.qa WHERE t.qa < t.cb),
${svComponentCtes("embc")},
sz AS (SELECT cluster, count(*) AS n FROM lab GROUP BY 1)
SELECT lab.id AS vec_id, lab.cluster, CAST(sz.n AS BIGINT) AS cluster_size
FROM lab JOIN sz USING (cluster) ORDER BY 1""")),

    // mutual-edge recall of the IVF graph vs the exact graph — the audit
    // that prices the probe/membership bound (the q_cell_recall pattern
    // applied to the clustering channel). The denominator is the ANCHORED
    // exact edge set (mutualKnnEdgesAnchored: every mutual edge touching
    // the ~AnchorCap deterministic id stratum, each carrying the full
    // graph's exact cos_q), so audit cost is O(AnchorCap * n) — never the
    // all-pairs n^2 that blew the round-12 oracle budget; the estimator
    // agrees with the full-graph recall to ~3pp at sf0.1. Stratified:
    // overall recall counts every anchored edge (including weak
    // far-neighbor top-5 edges, the first casualties as cells outgrow the
    // probes), while the strong band (cos >= 0.4, the near-dup threshold)
    // counts the edges that actually merge clusters — the number the
    // (nprobe=6, massign=3) operating point must keep >= 600000 ppm at
    // sf0.1. All-integer output.
    ("q_doc_clusters_recall", (s, dir) => {
      val e = emb(s, dir)
      // the IVF graph comes from the shared per-(JVM, dir) parquet (the
      // build is the expensive stage and multiple agg branches consume
      // it); the anchored exact set feeds two branches — materialize once
      val ivf = docKnnGraph(s, dir).select("vec_a", "vec_b")
      val exact = Similarity.mutualKnnEdgesAnchored(e, "vec_id", "embedding",
          k = 5, anchorCap = AnchorCap)
        .localCheckpointCapped()
      val found = exact.join(ivf, Seq("vec_a", "vec_b"), "left_semi")
      val strongE = exact.filter(col("cos_q") >= 400000L)
      val strongF = found.filter(col("cos_q") >= 400000L)
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .crossJoin(strongE.agg(count(lit(1)).as("n_exact_strong")))
        .crossJoin(strongF.agg(count(lit(1)).as("n_found_strong")))
        .select(col("n_exact"), col("n_found"),
          when(col("n_exact") > 0, expr("n_found * 1000000 div n_exact"))
            .otherwise(0L).as("recall_ppm"),
          col("n_exact_strong"), col("n_found_strong"),
          when(col("n_exact_strong") > 0,
            expr("n_found_strong * 1000000 div n_exact_strong"))
            .otherwise(0L).as("recall_strong_ppm"))
    },
      Some(s"""${EMB_U.replace("WITH u AS", "WITH u AS MATERIALIZED")},
nr AS MATERIALIZED (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
${ivfMutualCtes(5, DocClusterProbe, DocClusterAssign)},
${anchoredExactCtes(5)},
ast AS (SELECT count(*) AS n_exact, count(*) FILTER (WHERE cq >= 400000) AS n_exact_strong FROM xme),
fnd AS MATERIALIZED (SELECT x.cq FROM xme x JOIN me m ON m.source = x.ea AND m.target = x.eb),
fst AS (SELECT count(*) AS n_found, count(*) FILTER (WHERE cq >= 400000) AS n_found_strong FROM fnd)
SELECT n_exact, n_found,
CASE WHEN n_exact > 0 THEN n_found * 1000000 // n_exact ELSE 0 END AS recall_ppm,
n_exact_strong, n_found_strong,
CASE WHEN n_exact_strong > 0 THEN n_found_strong * 1000000 // n_exact_strong ELSE 0 END AS recall_strong_ppm
FROM ast, fst""")),

    // top session paths: batch sessionization (30-min inactivity gap) +
    // total-order event-type path strings, counted corpus-wide — the
    // product-analytics "what do sessions look like" profile; two window
    // passes + one count agg + TakeOrderedAndProject for the top-20
    ("q_session_paths", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val ev0 = tbl(s, dir, "events")
      val byUser = W.partitionBy("user_id").orderBy("tsn", "event_id")
      val sess = ev0.withColumn("tsn", tsNanos(ev0))
        .select(col("user_id"), col("event_id"), col("event_type"), col("tsn"))
        .withColumn("prev", lag("tsn", 1).over(byUser))
        .withColumn("brk",
          when(col("prev").isNull || col("tsn") - col("prev") > 1800000000000L,
            1L).otherwise(0L))
        .withColumn("sess", sum("brk").over(
          byUser.rowsBetween(W.unboundedPreceding, 0)))
      sess.groupBy("user_id", "sess")
        .agg(collect_list(struct(col("tsn"), col("event_id"),
          col("event_type"))).as("ps"))
        .select(array_join(transform(array_sort(col("ps")),
          p => p.getField("event_type")), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), asc("path")).limit(20)
    },
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tn FROM events),
g AS (SELECT *, CASE WHEN lag(tn) OVER w IS NULL OR tn - lag(tn) OVER w > 1800000000000 THEN 1 ELSE 0 END AS brk
FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tn, event_id)),
sx AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM g),
p AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY tn, event_id) AS path FROM sx GROUP BY 1, 2)
SELECT path, count(*) AS n_sessions FROM p GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20""")),

    // long-context stitching: deterministic ordered concatenation of
    // related documents (source x lang proxy groups) into training
    // sequences — emitted as prefix hash + exact length, and BOTH stay
    // bounded: stitch_chars is pure arithmetic (sum of lengths plus
    // separators, never a materialized string) and the 2000-char prefix
    // hash concatenates only the docs whose start offset (running sum of
    // prior lengths + 3-char separators, same partition key as the group
    // so the window adds no extra shuffle) can still reach into the first
    // 2000 characters — a group holding the whole corpus contributes a
    // handful of rows to the concat, not its full text
    ("q_ctx_stitch", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val wsl = W.partitionBy("source", "lang").orderBy("doc_id")
      docs(s, dir)
        .withColumn("cum_before", coalesce(
          sum(length(col("text")).cast("long") + lit(3L))
            .over(wsl.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          (sum(length(col("text")).cast("long")) +
            (count(lit(1)) - 1L) * 3L).as("stitch_chars"),
          // < 2003, not < 2000: a doc starting just past 2000 is dropped
          // only once even the 3-char separator before it lies wholly
          // beyond the prefix window
          collect_list(when(col("cum_before") < 2003L,
            struct(col("doc_id"), col("text")))).as("ps"))
        .select(col("source"), col("lang"), col("n_docs"), col("stitch_chars"),
          md5(substring(array_join(transform(array_sort(col("ps")),
            p => p.getField("text")), " | "), 1, 2000)).as("stitch_hash"))
        .orderBy("source", "lang")
    },
      Some("""SELECT source, lang, count(*) AS n_docs,
CAST(len(string_agg(text, ' | ' ORDER BY doc_id)) AS BIGINT) AS stitch_chars,
md5(substr(string_agg(text, ' | ' ORDER BY doc_id), 1, 2000)) AS stitch_hash
FROM documents GROUP BY 1, 2 ORDER BY 1, 2""")),

    // relational pivot: per-user event-type count matrix with an explicit
    // (deterministic) column set — the wide companion of q_unpivot
    ("q_pivot", (s, dir) =>
      tbl(s, dir, "events").groupBy("user_id")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .selectExpr("user_id", "view AS n_view", "click AS n_click",
          "purchase AS n_purchase", "signup AS n_signup", "error AS n_error")
        .orderBy("user_id"),
      Some("""SELECT user_id,
count(*) FILTER (WHERE event_type = 'view') AS n_view,
count(*) FILTER (WHERE event_type = 'click') AS n_click,
count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
count(*) FILTER (WHERE event_type = 'error') AS n_error
FROM events GROUP BY 1 ORDER BY 1""")),

    // hierarchical subtotals in one pass: ROLLUP(source, lang) — the
    // provenance dashboard cube slice; Catalyst plans one Expand + one
    // aggregation (subtotal rows cost one extra projected copy per level,
    // not a re-scan); gid is the standard grouping bitmask in both engines
    ("q_rollup", (s, dir) =>
      docs(s, dir).rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          grouping_id().as("gid"))
        .orderBy("gid", "source", "lang"),
      Some("""SELECT source, lang, count(*) AS n_docs,
CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
CAST(GROUPING(source, lang) AS BIGINT) AS gid
FROM documents GROUP BY ROLLUP(source, lang) ORDER BY gid, source, lang""")),

    // full cross-dimensional subtotals: CUBE(event_type, user bucket) with
    // decimal-exact value sums — same one-Expand plan shape as ROLLUP
    ("q_cube_events", (s, dir) =>
      tbl(s, dir, "events")
        .select(col("event_type"), (col("user_id") % 4).as("ub"), col("value"))
        .cube("event_type", "ub")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_value"),
          grouping_id().as("gid"))
        .orderBy("gid", "event_type", "ub"),
      Some("""SELECT event_type, user_id % 4 AS ub, count(*) AS n_events,
CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
CAST(GROUPING(event_type, ub) AS BIGINT) AS gid
FROM events GROUP BY CUBE(event_type, ub) ORDER BY gid, event_type, ub""")),

    // unpivot/melt wide per-nation aggregates into long form
    ("q_unpivot", (s, dir) =>
      graph(s, dir).nodes.groupBy(col("c_nationkey").as("nation"))
        .agg(sum(floor(col("c_acctbal") * 100).cast("long")).as("bal_cents"),
          count(lit(1)).as("n_cust"))
        .selectExpr("nation",
          "stack(2, 'bal_cents', bal_cents, 'n_cust', n_cust) AS (metric, value)")
        .orderBy("nation", "metric"),
      Some("""WITH agg AS (SELECT c_nationkey AS nation, CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents, count(*) AS n_cust FROM customer GROUP BY 1)
SELECT nation, metric, value FROM (
SELECT nation, 'bal_cents' AS metric, bal_cents AS value FROM agg
UNION ALL SELECT nation, 'n_cust', n_cust FROM agg) ORDER BY 1, 2""")),

    // decile profile over a global total order. ntile's single-partition
    // sort is deliberate here (one machine sorts |customer| ranks); the
    // range-partitioned alternative for 100 TB is the percent_rank path
    // q_feature_bins takes
    ("q_ntile", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c_acctbal").asc, col("id").asc)
      graph(s, dir).nodes
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          min(floor(col("c_acctbal") * 100).cast("long")).as("min_cents"),
          max(floor(col("c_acctbal") * 100).cast("long")).as("max_cents"))
        .orderBy("decile")
    },
      Some(s"""$G, d AS (SELECT c_acctbal, ntile(10) OVER (ORDER BY c_acctbal, id) AS decile FROM nodes)
SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
CAST(min(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS min_cents,
CAST(max(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS max_cents
FROM d GROUP BY 1 ORDER BY 1""")),

    // behavior transitions: event-type bigram counts in per-user time order
    ("q_event_bigrams", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      EventStream.normalizeTs(tbl(s, dir, "events"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "next_type")
    },
      Some("""WITH seq AS (SELECT user_id, event_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events)
SELECT prev_type, event_type AS next_type, count(*) AS n FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ============== batch H: sketches, layout keys, interval algebra ==============

    // count-min sketch frequency estimates vs true counts (est >= true)
    ("q_cms", (s, dir) =>
      TextAnalysis.cmsProfile(docs(s, dir), "text", d = 4, w = 64,
          minTrue = 10)
        .orderBy("token"),
      Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
truec AS (SELECT token, count(*) AS true_n FROM tk GROUP BY 1 HAVING count(*) >= 10),
hs AS (SELECT token, true_n, unnest(generate_series(0, 3)) AS j FROM truec),
hb AS (SELECT token, true_n, j, CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 8)) AS BIGINT) % 64 AS bucket FROM hs),
allhb AS (SELECT j, CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 8)) AS BIGINT) % 64 AS bucket FROM tk, (SELECT unnest(generate_series(0, 3)) AS j)),
sk AS (SELECT j, bucket, count(*) AS n FROM allhb GROUP BY 1, 2)
SELECT hb.token, CAST(hb.true_n AS BIGINT) AS true_n, CAST(min(sk.n) AS BIGINT) AS est_n
FROM hb JOIN sk ON sk.j = hb.j AND sk.bucket = hb.bucket GROUP BY 1, 2 ORDER BY 1""")),

    // Z-order (Morton) layout key: per-z-range bucket stats over the
    // (nation, balance-band) plane — the multi-dim data-skipping curve
    ("q_zorder", (s, dir) => {
      val z = Storage.zorderKey(col("c_nationkey"),
        floor((col("c_acctbal") + 1000) / 100).cast("long"), 7)
      graph(s, dir).nodes.select(z.as("zkey"))
        .groupBy((col("zkey") / 64).cast("long").as("zbucket"))
        .agg(count(lit(1)).as("n"), min("zkey").as("min_z"), max("zkey").as("max_z"))
        .orderBy("zbucket")
    },
      Some(s"""$G, b AS (SELECT CAST(c_nationkey AS BIGINT) AS x, CAST(floor((c_acctbal + 1000) / 100) AS BIGINT) AS y FROM nodes),
z AS (SELECT ${Storage.zorderSql("x", "y", 7)} AS zkey FROM b)
SELECT zkey // 64 AS zbucket, count(*) AS n, CAST(min(zkey) AS BIGINT) AS min_z, CAST(max(zkey) AS BIGINT) AS max_z
FROM z GROUP BY 1 ORDER BY 1""")),

    // quantized percent_rank of order value within event type: ppm rank via
    // (rank-1)*1e6 DIV (n-1) — window-function coverage with exact integral
    // quantization instead of the engines' float percent_rank
    ("q_percent_rank", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      tbl(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("rk", rank().over(
          W.partitionBy("event_type").orderBy("cents")))
        .withColumn("n", count(lit(1)).over(W.partitionBy("event_type")))
        .selectExpr("event_type", "event_id", "cents",
          "CAST(CASE WHEN n > 1 THEN (rk - 1) * 1000000 DIV (n - 1) ELSE 0 END AS BIGINT) AS prank_ppm")
        .orderBy("event_type", "event_id")
    },
      Some("""WITH c AS (SELECT event_type, event_id, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
r AS (SELECT *, rank() OVER (PARTITION BY event_type ORDER BY cents) AS rk,
count(*) OVER (PARTITION BY event_type) AS n FROM c)
SELECT event_type, event_id, cents,
CAST(CASE WHEN n > 1 THEN (rk - 1) * 1000000 // (n - 1) ELSE 0 END AS BIGINT) AS prank_ppm
FROM r ORDER BY 1, 2""")),

    // sessionized bounce rate: fraction of 30-min-gap sessions with exactly
    // one event, per event type of the session opener
    ("q_bounce_rate", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val ev0 = tbl(s, dir, "events")
      val byUser = W.partitionBy("user_id").orderBy("tsn", "event_id")
      val sess = ev0.withColumn("tsn", tsNanos(ev0))
        .select(col("user_id"), col("event_id"), col("event_type"), col("tsn"))
        .withColumn("prev", lag("tsn", 1).over(byUser))
        .withColumn("brk",
          when(col("prev").isNull || col("tsn") - col("prev") > 1800000000000L,
            1L).otherwise(0L))
        .withColumn("sess", sum("brk").over(
          byUser.rowsBetween(W.unboundedPreceding, 0)))
      sess.groupBy("user_id", "sess")
        .agg(count(lit(1)).as("len"),
          min(struct(col("tsn"), col("event_id"), col("event_type")))
            .getField("event_type").as("opener"))
        .groupBy("opener")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("len") === 1, 1L).otherwise(0L)).as("n_bounced"))
        .selectExpr("opener", "n_sessions", "n_bounced",
          "CAST(n_bounced * 1000000 DIV n_sessions AS BIGINT) AS bounce_ppm")
        .orderBy("opener")
    },
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tn FROM events),
g AS (SELECT *, CASE WHEN lag(tn) OVER w IS NULL OR tn - lag(tn) OVER w > 1800000000000 THEN 1 ELSE 0 END AS brk
FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tn, event_id)),
sx AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM g),
p AS (SELECT user_id, sess, count(*) AS len, min(struct_pack(tn := tn, event_id := event_id, event_type := event_type)) AS mn FROM sx GROUP BY 1, 2),
q AS (SELECT (mn).event_type AS opener, len FROM p)
SELECT opener, count(*) AS n_sessions,
CAST(sum(CASE WHEN len = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounced,
CAST(sum(CASE WHEN len = 1 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS bounce_ppm
FROM q GROUP BY 1 ORDER BY 1""")),

    // exact-moment Pearson correlation between order total and the owning
    // customer's account balance (cents-quantized; the double formula runs
    // over exact integer moments, so it is bit-identical in any engine)
    ("q_correlation", (s, dir) => {
      val o = tbl(s, dir, "orders")
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("x"))
      val c = tbl(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          floor(col("c_acctbal") * 100).cast("long").as("y"))
      o.join(broadcast(c), Seq("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sx2"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("sy2"))
        .selectExpr("n",
          """CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000) AS BIGINT) AS corr_q""")
    },
      Some("""WITH j AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS x, CAST(floor(c_acctbal * 100) AS BIGINT) AS y
FROM orders JOIN customer ON c_custkey = o_custkey),
m AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * x) AS sx2, sum(CAST(y AS HUGEINT) * y) AS sy2 FROM j)
SELECT n, CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
/ (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
 * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000) AS BIGINT) AS corr_q
FROM m""")),

    // day-of-week seasonality profile; dow derived from epoch days with an
    // explicit (epoch_days + 4) % 7 formula (0=Sunday) because the engines'
    // native dayofweek numberings disagree
    ("q_events_dow", (s, dir) =>
      tbl(s, dir, "events")
        .select(((datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
            + 4) % 7).cast("long").as("dow"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("dow")
        // sum as DECIMAL(38,0) then narrow: a LongType sum can overflow
        // (throwing under ANSI) at scale while DuckDB promotes to HUGEINT
        // — same discipline as the TPC-H analogs
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents").cast("decimal(38,0)")).cast("long").as("sum_cents"))
        .orderBy("dow"),
      Some("""SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-01' + 4) % 7 AS BIGINT) AS dow,
count(*) AS n_events, CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1 ORDER BY 1""")),

    // Benford first-significant-digit screen over order totals (the
    // classic bulk anomaly/fraud sniff test): digit histogram with ppm
    ("q_benford", (s, dir) =>
      tbl(s, dir, "orders")
        .select(floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("ppm", expr(
          "CAST(n * 1000000 DIV (sum(n) OVER ()) AS BIGINT)"))
        .orderBy("digit"),
      Some("""WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders WHERE floor(o_totalprice * 100) > 0),
d AS (SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit, count(*) AS n FROM c GROUP BY 1)
SELECT digit, n, CAST(n * 1000000 // (SELECT sum(n) FROM d) AS BIGINT) AS ppm FROM d ORDER BY 1""")),

    // data-skipping effectiveness report over the z-order layout: per
    // zbucket "file", the min/max stats a format keeps, whether a fixed
    // range predicate (nation IN [3,5], balance-band [15,25]) could prune
    // it on stats alone, and the row-level truth — the scan-fraction audit
    // that justifies a re-layout before a 100 TB backfill
    ("q_skipping", (s, dir) => {
      val nodes = graph(s, dir).nodes
        .select(col("c_nationkey").cast("long").as("x"),
          floor((col("c_acctbal") + 1000) / 100).cast("long").as("y"))
      val z = nodes.select(col("x"), col("y"),
          Storage.zorderKey(col("x"), col("y"), 7).as("zkey"))
        .withColumn("zbucket", (col("zkey") / 64).cast("long"))
      z.groupBy("zbucket")
        .agg(count(lit(1)).as("n_rows"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"),
          sum(when(col("x").between(3, 5) && col("y").between(15, 25), 1L)
            .otherwise(0L)).as("n_matching"))
        .withColumn("stats_hit",
          when(col("max_x") >= 3 && col("min_x") <= 5 &&
            col("max_y") >= 15 && col("min_y") <= 25, 1L).otherwise(0L))
        .select(col("zbucket"), col("n_rows"), col("stats_hit"),
          col("n_matching"))
        .orderBy("zbucket")
    },
      Some(s"""$G, b AS (SELECT CAST(c_nationkey AS BIGINT) AS x, CAST(floor((c_acctbal + 1000) / 100) AS BIGINT) AS y FROM nodes),
z AS (SELECT x, y, ${Storage.zorderSql("x", "y", 7)} AS zkey FROM b),
g AS (SELECT zkey // 64 AS zbucket, count(*) AS n_rows, min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y,
sum(CASE WHEN x BETWEEN 3 AND 5 AND y BETWEEN 15 AND 25 THEN 1 ELSE 0 END) AS n_matching FROM z GROUP BY 1)
SELECT zbucket, CAST(n_rows AS BIGINT) AS n_rows,
CAST(CASE WHEN max_x >= 3 AND min_x <= 5 AND max_y >= 15 AND min_y <= 25 THEN 1 ELSE 0 END AS BIGINT) AS stats_hit,
CAST(n_matching AS BIGINT) AS n_matching FROM g ORDER BY 1""")),

    // per-user union length of [ts, ts + value minutes] exposure intervals
    ("q_interval_union", (s, dir) => {
      val ev = tbl(s, dir, "events")
      val iv = ev.withColumn("tsn", tsNanos(ev))
        .select(col("user_id"), col("event_id"),
          expr("tsn DIV 1000000000").as("s"),
          (expr("tsn DIV 1000000000") +
            floor(col("value") * 60).cast("long")).as("e"))
      graft.operators.RangeJoin.intervalUnion(iv, "user_id", "s", "e", "event_id")
        .select(col("user_id"), col("covered").as("covered_sec"), col("n_islands"))
        .orderBy("user_id")
    },
      Some("""WITH iv AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS s,
epoch_ns(ts) // 1000000000 + CAST(floor(value * 60) AS BIGINT) AS e FROM events),
m AS (SELECT user_id, s, e, event_id, max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv),
fl AS (SELECT user_id, s, e, event_id, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ni FROM m),
isl AS (SELECT user_id, s, e, sum(ni) OVER (PARTITION BY user_id ORDER BY s, e, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl),
g AS (SELECT user_id, island, max(e) - min(s) AS len FROM isl GROUP BY 1, 2)
SELECT user_id, CAST(sum(len) AS BIGINT) AS covered_sec, count(*) AS n_islands FROM g GROUP BY 1 ORDER BY 1""")),

    // per-component order and size with edge density at 1e6 (reuses the
    // cached weak-label fixpoint, like the rest of the component family)
    ("q_component_density", (s, dir) => {
      val lab = sparseLabels(s, dir)
      val und = sparse(s, dir).symmetrizedEdges
        .filter(col("source") =!= col("target"))
        .select(least(col("source"), col("target")).as("u"),
          greatest(col("source"), col("target")).as("v")).distinct()
      val m = und
        .join(lab.select(col("id").as("u"), col("component")), Seq("u"))
        .groupBy("component").agg(count(lit(1)).as("n_edges"))
      lab.groupBy("component").agg(count(lit(1)).as("n_nodes"))
        .join(m, Seq("component"), "left_outer")
        .select(col("component"), col("n_nodes"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          expr("""CASE WHEN n_nodes < 2 THEN CAST(NULL AS BIGINT)
                  ELSE coalesce(n_edges, 0) * 2000000 DIV (n_nodes * (n_nodes - 1)) END""")
            .as("density_q"))
        .orderBy("component")
    },
      Some(s"""$G$LAB, und AS (SELECT DISTINCT least(source, target) AS u, greatest(source, target) AS v FROM sedges WHERE source <> target),
em AS (SELECT l.component, count(*) AS n_edges FROM und JOIN lab l ON l.id = und.u GROUP BY 1),
nn AS (SELECT component, count(*) AS n_nodes FROM lab GROUP BY 1)
SELECT nn.component, nn.n_nodes, CAST(COALESCE(em.n_edges, 0) AS BIGINT) AS n_edges,
CASE WHEN nn.n_nodes < 2 THEN CAST(NULL AS BIGINT) ELSE CAST(COALESCE(em.n_edges, 0) * 2000000 // (nn.n_nodes * (nn.n_nodes - 1)) AS BIGINT) END AS density_q
FROM nn LEFT JOIN em ON em.component = nn.component ORDER BY 1""")),

    // exact per-group percentiles (percentile_disc semantics spelled out as
    // rank arithmetic so both engines agree bit-for-bit)
    ("q_percentiles", (s, dir) => {
      val byType = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      val rk = byType.orderBy("cents", "event_id")
      tbl(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(rk))
        .withColumn("n", count(lit(1)).over(byType))
        .groupBy("event_type")
        .agg(max(when(col("rn") <= ceil(col("n") * 0.5), col("cents"))).as("p50_cents"),
          max(when(col("rn") <= ceil(col("n") * 0.9), col("cents"))).as("p90_cents"))
        .orderBy("event_type")
    },
      Some("""WITH c AS (SELECT event_type, event_id, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
rk AS (SELECT event_type, cents, row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM c)
SELECT event_type, CAST(max(CASE WHEN rn <= CAST(ceil(0.5 * n) AS BIGINT) THEN cents END) AS BIGINT) AS p50_cents,
CAST(max(CASE WHEN rn <= CAST(ceil(0.9 * n) AS BIGINT) THEN cents END) AS BIGINT) AS p90_cents
FROM rk GROUP BY 1 ORDER BY 1""")),

    // ======= batch I: temporal paths, constrained funnels, robust stats =======

    // time-respecting reachability over the FULL order graph (edge time =
    // order date; a path must never go back in time)
    ("q_temporal_reach", (s, dir) => {
      val n = custCount(s, dir)
      val te = tbl(s, dir, "orders").select(
        col("o_custkey").as("source"), (col("o_orderkey") % n).as("target"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))).as("t"))
      val seeds = tbl(s, dir, "customer")
        .select(col("c_custkey").as("id")).orderBy("id").limit(4)
      GraphAlgorithms.temporalReachability(te, seeds)
        .orderBy("seed", "id")
    },
      Some("""WITH RECURSIVE n AS (SELECT count(*) AS c FROM customer),
te AS (SELECT o_custkey AS source, o_orderkey % (SELECT c FROM n) AS target,
datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS t FROM orders),
seeds AS (SELECT c_custkey AS id FROM customer ORDER BY 1 LIMIT 4),
f(seed, id, t) AS (SELECT id, id, CAST(-1 AS BIGINT) FROM seeds
UNION SELECT f.seed, e.target, e.t FROM f JOIN te e ON e.source = f.id AND e.t >= f.t)
SELECT seed, id, CAST(min(t) AS BIGINT) AS arrival FROM f GROUP BY 1, 2 ORDER BY 1, 2""")),

    // conversion funnel with a max-delay constraint: a click counts only
    // within one hour of the user's most recent view
    ("q_funnel_windowed", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tn", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val ev0 = tbl(s, dir, "events")
      val e = ev0
        .filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          tsNanos(ev0).as("tn"))
      val conv = e
        .withColumn("lv", max(when(col("event_type") === "view", col("tn"))).over(w))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "click" && col("lv").isNotNull &&
          col("tn") - col("lv") <= 3600000000000L, 1L).otherwise(0L)).as("c"))
      val nv = e.filter(col("event_type") === "view")
        .agg(count_distinct(col("user_id")).as("n_viewers"))
      conv.agg(sum("c").as("n_converted")).crossJoin(nv)
        .select(col("n_converted"), col("n_viewers"),
          expr("n_converted * 1000000 DIV n_viewers").as("rate_q"))
    },
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tn FROM events WHERE event_type IN ('view', 'click')),
w AS (SELECT user_id, event_type, tn, max(CASE WHEN event_type = 'view' THEN tn END)
OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv FROM e),
conv AS (SELECT user_id, max(CASE WHEN event_type = 'click' AND lv IS NOT NULL AND tn - lv <= 3600000000000 THEN 1 ELSE 0 END) AS c FROM w GROUP BY 1),
v AS (SELECT count(DISTINCT user_id) AS nv FROM e WHERE event_type = 'view')
SELECT CAST(sum(c) AS BIGINT) AS n_converted, (SELECT nv FROM v) AS n_viewers,
CAST(sum(c) * 1000000 // (SELECT nv FROM v) AS BIGINT) AS rate_q FROM conv""")),

    // robust dispersion: median absolute deviation via two rank passes
    ("q_mad", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val c = tbl(s, dir, "events").select(col("event_type"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      val rk1 = W.partitionBy("event_type").orderBy("cents", "event_id")
      val med = c
        .withColumn("rn", row_number().over(rk1))
        .withColumn("n", count(lit(1)).over(W.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(max(when(col("rn") <= ceil(col("n") * 0.5), col("cents"))).as("med"))
      val rk2 = W.partitionBy("event_type").orderBy("d", "event_id")
      c.join(med, Seq("event_type"))
        .select(col("event_type"), col("event_id"),
          abs(col("cents") - col("med")).as("d"), col("med"))
        .withColumn("rn", row_number().over(rk2))
        .withColumn("n", count(lit(1)).over(W.partitionBy("event_type")))
        .groupBy(col("event_type"), col("med").as("med_cents"))
        .agg(max(when(col("rn") <= ceil(col("n") * 0.5), col("d"))).as("mad_cents"))
        .orderBy("event_type")
    },
      Some("""WITH c AS (SELECT event_type, event_id, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
rk AS (SELECT event_type, cents, row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM c),
med AS (SELECT event_type, max(CASE WHEN rn <= CAST(ceil(0.5 * n) AS BIGINT) THEN cents END) AS med FROM rk GROUP BY 1),
dev AS (SELECT c.event_type, abs(c.cents - med.med) AS d, c.event_id FROM c JOIN med ON med.event_type = c.event_type),
rk2 AS (SELECT event_type, d, row_number() OVER (PARTITION BY event_type ORDER BY d, event_id) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM dev)
SELECT m.event_type, CAST(m.med AS BIGINT) AS med_cents, CAST(max(CASE WHEN rk2.rn <= CAST(ceil(0.5 * rk2.n) AS BIGINT) THEN rk2.d END) AS BIGINT) AS mad_cents
FROM rk2 JOIN med m ON m.event_type = rk2.event_type GROUP BY 1, 2 ORDER BY 1""")),

    // language-ID confusion matrix: annotated lang x heuristic prediction
    ("q_lang_confusion", (s, dir) =>
      docs(s, dir)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred"),
      Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
h AS (SELECT doc_id, lang,
len(list_filter(l, x -> x IN ('the','a','of','and','is'))) AS h_en,
len(list_filter(l, x -> x IN ('der','die','das','und','ist'))) AS h_de,
len(list_filter(l, x -> x IN ('le','les','et','est','une'))) AS h_fr,
len(list_filter(l, x -> x IN ('el','los','las','y','es'))) AS h_es,
len(list_filter(l, x -> x IN ('的','是','在'))) AS h_zh FROM t),
p AS (SELECT lang, CASE WHEN greatest(h_en,h_de,h_fr,h_es,h_zh) = 0 THEN 'und'
WHEN h_en = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'en'
WHEN h_de = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'de'
WHEN h_fr = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'fr'
WHEN h_es = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'es'
ELSE 'zh' END AS lang_pred FROM h)
SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2 ORDER BY 1, 2""")),

    // mergeable log2-bin histogram with conservative quantile upper bounds
    // (bin counts ADD across shards — the sketch path where exact rank
    // arithmetic would need a full sort)
    ("q_hist_quantiles", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val b = tbl(s, dir, "events")
        .select(col("event_type"), floor(col("value") * 100).cast("long").as("cents"))
        .select(col("event_type"),
          when(col("cents") <= 0, 0)
            .otherwise(length(conv(col("cents"), 10, 2))).cast("long").as("bin"))
      val cum = b.groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(
          W.partitionBy("event_type").orderBy("bin")))
        .withColumn("n", sum("cnt").over(W.partitionBy("event_type")))
      val ub = expr("shiftleft(CAST(1 AS BIGINT), CAST(bin AS INT)) - 1")
      cum.groupBy("event_type")
        .agg(min(when(col("cum") >= ceil(col("n") * 0.5), ub)).as("est_p50"),
          min(when(col("cum") >= ceil(col("n") * 0.9), ub)).as("est_p90"),
          count(lit(1)).as("n_bins"))
        .orderBy("event_type")
    },
      Some("""WITH c AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
b AS (SELECT event_type, CASE WHEN cents <= 0 THEN 0 ELSE length(bin(cents)) END AS bin FROM c),
h AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
cum AS (SELECT event_type, bin, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum, sum(cnt) OVER (PARTITION BY event_type) AS n FROM h)
SELECT event_type,
CAST(min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN (1::BIGINT << bin) - 1 END) AS BIGINT) AS est_p50,
CAST(min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT) THEN (1::BIGINT << bin) - 1 END) AS BIGINT) AS est_p90,
count(*) AS n_bins FROM cum GROUP BY 1 ORDER BY 1""")),

    // ========= batch J: attenuation centrality, priority sampling, =========
    // ========= membership sketches, novelty, attribution, NFC      =========

    // Katz centrality: attenuated walk-count importance (alpha = 5/100),
    // exact integer iterate; the oracle unrolls all 8 rounds
    ("q_katz", (s, dir) =>
      GraphAlgorithms.katzCentrality(sparse(s, dir), iterations = 8)
        .select(col("id"), col("qs").as("katz_q")).orderBy("id"),
      Some(katzSql(8, 5, 100))),

    // deterministic weighted (priority) sample: top-50 smallest
    // hash-DIV-weight priorities — heavier orders oversampled, fully
    // replayable; plans as TakeOrderedAndProject, not a global sort
    ("q_weighted_sample", (s, dir) =>
      graft.functions.Sampling.weightedSample(
          tbl(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          "o_orderkey", "o_totalprice", 50, salt = "ws")
        .select(col("o_orderkey"), col("priority"))
        .orderBy("priority", "o_orderkey"),
      Some("""WITH w AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS wq,
CAST(concat('0x', substr(md5(concat('ws', CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT) AS h FROM orders)
SELECT o_orderkey, (h * 10000) // wq AS priority FROM w WHERE wq > 0 ORDER BY 2, 1 LIMIT 50""")),

    // per-source Bloom membership bitmaps over distinct tokens (mergeable
    // by bitwise OR — the shard-local membership sketch)
    ("q_bloom", (s, dir) =>
      TextAnalysis.bloomFilter(docs(s, dir), "source", "text", words = 4, k = 3)
        .orderBy("grp", "word"),
      Some("""WITH tk AS (SELECT source AS grp, unnest(string_split(text, ' ')) AS token FROM documents),
dtk AS (SELECT DISTINCT grp, token FROM tk),
ps AS (SELECT grp, token, unnest(generate_series(0, 2)) AS j FROM dtk),
pos AS (SELECT grp, CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 8)) AS BIGINT) % 252 AS pos FROM ps)
SELECT grp, pos // 63 AS word, bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
FROM pos GROUP BY 1, 2 ORDER BY 1, 2""")),

    // per-document 8-gram novelty: fraction of shingles occurring in no
    // other document (low = template/boilerplate debris, high = unique
    // content) — two shuffles, no self-join
    ("q_ngram_novelty", (s, dir) =>
      Dedup.ngramNovelty(docs(s, dir), "doc_id", "text", 8)
        .withColumnRenamed("id", "doc_id").orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 7, 0)), i -> array_to_string(list_slice(l, i, i + 7), ' '))) AS shingle FROM t),
dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
pd AS (SELECT sh.doc_id, count(*) AS n_shingles, sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS n_unique FROM sh JOIN dfc USING (shingle) GROUP BY 1)
SELECT d.doc_id, CAST(COALESCE(pd.n_shingles, 0) AS BIGINT) AS n_shingles,
CAST(COALESCE(pd.n_unique, 0) AS BIGINT) AS n_unique,
CASE WHEN COALESCE(pd.n_shingles, 0) = 0 THEN CAST(NULL AS BIGINT)
ELSE CAST(pd.n_unique * 1000000 // pd.n_shingles AS BIGINT) END AS novelty_ppm
FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id ORDER BY 1""")),

    // last-touch marketing attribution: each purchase credits the user's
    // most recent prior view/click within 7 days ('none' otherwise) —
    // one window pass over the per-user event order, no join
    ("q_attribution", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("user_id").orderBy("tsn", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
      val ev0 = tbl(s, dir, "events")
      ev0
        .filter(col("event_type").isin("view", "click", "purchase"))
        .withColumn("tsn", tsNanos(ev0))
        .withColumn("ltt",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .withColumn("ltts",
          last(when(col("event_type") =!= "purchase", col("tsn")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(when(col("ltts").isNull ||
            col("tsn") - col("ltts") > 604800000000000L, "none")
          .otherwise(col("ltt")).as("attributed"),
          floor(col("value") * 100).cast("long").as("cents"))
        .groupBy("attributed")
        .agg(count(lit(1)).as("n_conversions"),
          sum("cents").as("attributed_cents"))
        .orderBy("attributed")
    },
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tn, value FROM events WHERE event_type IN ('view', 'click', 'purchase')),
l AS (SELECT *, last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ltt,
last_value(CASE WHEN event_type <> 'purchase' THEN tn END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ltts FROM e),
p AS (SELECT CASE WHEN ltts IS NULL OR tn - ltts > 604800000000000 THEN 'none' ELSE ltt END AS attributed, value FROM l WHERE event_type = 'purchase')
SELECT attributed, count(*) AS n_conversions, CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS attributed_cents
FROM p GROUP BY 1 ORDER BY 1""")),

    // Unicode NFC normalization via the native graft_nfc expression —
    // the canonical-composition pass every text-dedup pipeline runs first
    ("q_nfc", (s, dir) => {
      graft.functions.NfcNormalize.register(s)
      docs(s, dir).select(col("doc_id"),
          expr("md5(graft_nfc(text))").as("norm_hash"),
          when(expr("graft_nfc(text)") === col("text"), 0L).otherwise(1L)
            .as("changed"))
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, md5(nfc_normalize(text)) AS norm_hash,
CAST(CASE WHEN nfc_normalize(text) = text THEN 0 ELSE 1 END AS BIGINT) AS changed
FROM documents ORDER BY 1""")),

    // interpolated (percentile_cont) quartiles in exact integer arithmetic:
    // result scaled x100 (cent-hundredths) so the linear interpolation
    // lo + (hi-lo)*frac stays integral in both engines
    ("q_percentile_cont", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val byP = W.partitionBy("pri")
      val rk = byP.orderBy("cents", "okey")
      tbl(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"), col("o_orderkey").as("okey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(rk))
        .withColumn("n", count(lit(1)).over(byP))
        .withColumn("i25", expr("((n - 1) * 25) div 100"))
        .withColumn("f25", expr("((n - 1) * 25) % 100"))
        .withColumn("i75", expr("((n - 1) * 75) div 100"))
        .withColumn("f75", expr("((n - 1) * 75) % 100"))
        .groupBy("pri")
        .agg(max(when(col("rn") === col("i25") + 1, col("cents"))).as("lo25"),
          max(when(col("rn") === least(col("i25") + 2, col("n")), col("cents"))).as("hi25"),
          max("f25").as("fr25"),
          max(when(col("rn") === col("i75") + 1, col("cents"))).as("lo75"),
          max(when(col("rn") === least(col("i75") + 2, col("n")), col("cents"))).as("hi75"),
          max("f75").as("fr75"))
        .select(col("pri"),
          (col("lo25") * 100 + (col("hi25") - col("lo25")) * col("fr25")).as("p25_c100"),
          (col("lo75") * 100 + (col("hi75") - col("lo75")) * col("fr75")).as("p75_c100"))
        .orderBy("pri")
    },
      Some("""WITH c AS (SELECT o_orderpriority AS pri, o_orderkey AS okey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
rk AS (SELECT pri, cents, row_number() OVER (PARTITION BY pri ORDER BY cents, okey) AS rn, count(*) OVER (PARTITION BY pri) AS n FROM c),
x AS (SELECT pri, cents, rn, n, ((n - 1) * 25) // 100 AS i25, ((n - 1) * 25) % 100 AS f25, ((n - 1) * 75) // 100 AS i75, ((n - 1) * 75) % 100 AS f75 FROM rk),
a AS (SELECT pri, max(CASE WHEN rn = i25 + 1 THEN cents END) AS lo25, max(CASE WHEN rn = least(i25 + 2, n) THEN cents END) AS hi25, max(f25) AS fr25,
max(CASE WHEN rn = i75 + 1 THEN cents END) AS lo75, max(CASE WHEN rn = least(i75 + 2, n) THEN cents END) AS hi75, max(f75) AS fr75 FROM x GROUP BY 1)
SELECT pri, CAST(lo25 * 100 + (hi25 - lo25) * fr25 AS BIGINT) AS p25_c100,
CAST(lo75 * 100 + (hi75 - lo75) * fr75 AS BIGINT) AS p75_c100 FROM a ORDER BY 1""")),

    // CUBE aggregation (all four grouping levels) with explicit grouping id
    ("q_cube", (s, dir) =>
      graph(s, dir).nodes
        .cube("c_mktsegment", "c_nationkey")
        .agg(sum(floor(col("c_acctbal") * 100).cast("long")).as("bal_cents"),
          count(lit(1)).as("n"),
          (grouping(col("c_mktsegment")) * 2 + grouping(col("c_nationkey")))
            .cast("long").as("gid"))
        .select(coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
          coalesce(col("c_nationkey"), lit(-1L)).as("nat"),
          col("gid"), col("bal_cents"), col("n"))
        .orderBy("gid", "seg", "nat"),
      Some(s"""$G SELECT COALESCE(c_mktsegment, 'ALL') AS seg, CAST(COALESCE(c_nationkey, -1) AS BIGINT) AS nat,
CAST(GROUPING(c_mktsegment) * 2 + GROUPING(c_nationkey) AS BIGINT) AS gid,
CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents, count(*) AS n
FROM nodes GROUP BY CUBE(c_mktsegment, c_nationkey) ORDER BY 3, 1, 2""")),

    // streaming windowed top-k: the per-window event-type leaderboard off
    // the real microbatch aggregate (rank planned as WindowGroupLimit)
    ("q_stream_topk", (s, dir) =>
      EventStream.topKPerWindow(
        EventStream.runStreamingOnce(s, s"$dir/events.parquet", "1 hour",
          s"stream_topk_${Counter.next()}"), 3)
        .orderBy("window_start", "rk"),
      Some("""WITH a AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type, count(*) AS n_events FROM events GROUP BY 1, 2),
r AS (SELECT window_start, event_type, n_events, row_number() OVER (PARTITION BY window_start ORDER BY n_events DESC, event_type) AS rk FROM a)
SELECT window_start, CAST(rk AS BIGINT) AS rk, event_type, n_events FROM r WHERE rk <= 3 ORDER BY 1, 2""")),

    // ===== batch K: decompositions, community moves, changelog algebra =====

    // full k-core decomposition (core numbers) by ascending-k warm-start
    // peeling; the oracle unrolls every level's peel chain
    ("q_core_numbers", (s, dir) =>
      GraphAlgorithms.coreNumbers(sparse(s, dir), maxK = 4, rounds = 8)
        .orderBy("id"),
      Some(coreSql(4, 8))),

    // one synchronized Louvain modularity-gain move round from singleton
    // communities (deterministic: quantized gain, smaller-id tie-break)
    ("q_louvain_move", (s, dir) => {
      val g = sparse(s, dir)
      val singletons = g.nodes.select(col("id"), col("id").as("community"))
      GraphAlgorithms.louvainMoveRound(g, singletons).orderBy("id")
    },
      Some(louvainSql(1))),

    // Louvain phase 1: three synchronized move rounds iterated to a stable
    // partition (the oracle replays every round's gains unrolled)
    ("q_louvain", (s, dir) => {
      val g = sparse(s, dir)
      var labs = g.nodes.select(col("id"), col("id").as("community"))
      for (r <- 1 to 3)
        labs = GraphAlgorithms.louvainMoveRound(g, labs, down = r % 2 == 1)
      labs.orderBy("id")
    },
      Some(louvainSql(3))),

    // distributed greedy coloring by iterated Luby-MIS layers (color class
    // = independent set, so the coloring is proper by construction)
    ("q_coloring", (s, dir) =>
      GraphAlgorithms.greedyColoring(sparse(s, dir), layers = 5, rounds = 4)
        .orderBy("id"),
      Some(colorSql(5, 4))),

    // random-walk visit counts: the RW-sampling node-importance profile
    // off the deterministic walk corpus (q_walks' exact walks, aggregated)
    ("q_walk_visits", (s, dir) =>
      GraphAlgorithms.randomWalks(sparse(s, dir), steps = 4)
        .groupBy("node").agg(count(lit(1)).as("n_visits"))
        .orderBy("node"),
      Some(s"""${walksBody(4)}
SELECT node, count(*) AS n_visits FROM wk GROUP BY 1 ORDER BY 1""")),

    // ==== batch M: substring dedup spans, winnowing, bottleneck paths ====

    // maximal duplicated 8-gram spans (exact-substring dedup cut list):
    // corpus-repeated positions merged by gaps-and-islands
    ("q_dup_spans", (s, dir) =>
      Dedup.duplicatedSpans(docs(s, dir), "doc_id", "text", 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "span_start"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT doc_id, unnest(generate_series(1, greatest(len(l) - 7, 0))) - 1 AS pos,
array_to_string(list_slice(l, unnest(generate_series(1, greatest(len(l) - 7, 0))), unnest(generate_series(1, greatest(len(l) - 7, 0))) + 7), ' ') AS shingle FROM t),
occ AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) >= 2),
fl AS (SELECT sh.doc_id, sh.pos FROM sh JOIN occ USING (shingle)),
rn AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn FROM fl)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, CAST(max(pos) + 7 AS BIGINT) AS span_end, count(*) AS n_grams
FROM rn GROUP BY doc_id, pos - rn ORDER BY 1, 2""")),

    // winnowing (MOSS) fingerprints: per-window minimum k-gram hash with
    // earliest-position ties — the density-bounded local sampling index
    ("q_winnow", (s, dir) =>
      TextAnalysis.winnowFingerprints(docs(s, dir), "doc_id", "text", 4, 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
hs0 AS (SELECT doc_id, unnest(generate_series(1, greatest(len(l) - 3, 0))) - 1 AS pos,
array_to_string(list_slice(l, unnest(generate_series(1, greatest(len(l) - 3, 0))), unnest(generate_series(1, greatest(len(l) - 3, 0))) + 3), ' ') AS kg FROM t),
hs AS (SELECT doc_id, pos, CAST(concat('0x', substr(md5(kg), 1, 8)) AS BIGINT) AS hq FROM hs0),
n AS (SELECT doc_id, count(*) AS nh FROM hs GROUP BY 1),
starts AS (SELECT doc_id, unnest(generate_series(0, CAST(nh - 4 AS INT))) AS s FROM n),
wins AS (SELECT st.doc_id, st.s, h.pos, h.hq FROM starts st JOIN hs h ON h.doc_id = st.doc_id AND h.pos BETWEEN st.s AND st.s + 3),
sel AS (SELECT doc_id, s, pos, hq, row_number() OVER (PARTITION BY doc_id, s ORDER BY hq, pos) AS rn FROM wins)
SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, hq AS fp FROM sel WHERE rn = 1 ORDER BY 1, 2""")),

    // exact streaming COUNT(DISTINCT): chained stateful operators
    // (watermarked dedup on (window, user) -> windowed count, append mode)
    ("q_stream_uniques", (s, dir) =>
      EventStream.runUniquesStream(s, s"$dir/events.parquet", "1 hour",
          "10 minutes", s"stream_uniques_${Counter.next()}")
        .orderBy("window_start"),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, count(DISTINCT user_id) AS n_users
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
GROUP BY 1 ORDER BY 1""")),

    // widest (maximin / bottleneck) path capacities from node 0 — the
    // max-min tropical twin of q_sssp, same unrolled relaxation oracle
    ("q_widest_path", (s, dir) =>
      GraphAlgorithms.widestPaths(sparse(s, dir), 0L, "weight",
          rounds = 6, directed = false)
        .orderBy("id"),
      Some(wpathSql(6))),

    // ====== batch N: matching, keyness, data profiling ======

    // distributed maximal matching (synchronized min-id propose-accept —
    // the graph-coarsening pairing); the oracle unrolls every round
    ("q_matching", (s, dir) =>
      GraphAlgorithms.maximalMatching(sparse(s, dir), rounds = 6)
        .orderBy("id"),
      Some(matchSql(6))),

    // Gavril 2-approx minimum vertex cover: matched endpoints of the
    // maximal matching — zero extra shuffles beyond the matching fixpoint
    ("q_vertex_cover", (s, dir) =>
      GraphAlgorithms.vertexCover2Approx(sparse(s, dir), rounds = 6)
        .orderBy("id"),
      Some(coverSql(6))),

    // per-source keyword extraction: exact integer rate-ratio keyness,
    // top-5 per source (map-side WindowGroupLimit)
    ("q_keyness", (s, dir) =>
      TextAnalysis.groupTokenKeyness(docs(s, dir), "source", "text", 5, 50)
        .orderBy("grp", "rk"),
      Some("""WITH tk AS (SELECT source AS grp, unnest(string_split(text, ' ')) AS token FROM documents),
c AS (SELECT grp, token, count(*) AS c FROM tk GROUP BY 1, 2),
gt AS (SELECT grp, sum(c) AS gt FROM c GROUP BY 1),
tt AS (SELECT token, sum(c) AS tt FROM c GROUP BY 1 HAVING sum(c) >= 50),
tot AS (SELECT sum(c) AS total FROM c),
l AS (SELECT grp, token, CAST((CAST(c AS HUGEINT) * (SELECT total FROM tot) * 1000000) // (CAST(gt AS HUGEINT) * tt) AS BIGINT) AS lift_ppm
FROM c JOIN gt USING (grp) JOIN tt USING (token)),
r AS (SELECT grp, token, lift_ppm, row_number() OVER (PARTITION BY grp ORDER BY lift_ppm DESC, token) AS rk FROM l)
SELECT grp, CAST(rk AS BIGINT) AS rk, token, lift_ppm FROM r WHERE rk <= 5 ORDER BY 1, 2""")),

    // weighted Louvain phase 1: three alternating strength-weighted move
    // rounds (DECIMAL gains; the oracle replays them in HUGEINT)
    ("q_louvain_weighted", (s, dir) => {
      val g = sparse(s, dir)
      var labs = g.nodes.select(col("id"), col("id").as("community"))
      for (r <- 1 to 3)
        labs = GraphAlgorithms.louvainMoveRoundWeighted(g, labs, "weight",
          down = r % 2 == 1)
      labs.orderBy("id")
    },
      Some(louvainWSql(3))),

    // graph snapshot diff: edge churn between the pre/post-1998 halves of
    // the order stream (added / removed / persistent + stability ppm)
    ("q_graph_diff", (s, dir) => {
      val n = custCount(s, dir)
      val e = tbl(s, dir, "orders").select(
        col("o_custkey").as("source"), (col("o_orderkey") % n).as("target"),
        col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val before = e.filter(col("o_orderdate") < cut)
        .select("source", "target").distinct()
        .withColumn("ina", lit(1))
      val after = e.filter(col("o_orderdate") >= cut)
        .select("source", "target").distinct()
        .withColumn("inb", lit(1))
      before.join(after, Seq("source", "target"), "full_outer")
        .agg(sum(when(col("inb").isNull, 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("ina").isNull, 1L).otherwise(0L)).as("n_added"),
          sum(when(col("ina").isNotNull && col("inb").isNotNull, 1L)
            .otherwise(0L)).as("n_persistent"))
        .selectExpr("n_removed", "n_added", "n_persistent",
          "CAST(n_persistent * 1000000 DIV (n_removed + n_added + n_persistent) AS BIGINT) AS stability_ppm")
    },
      Some("""WITH e AS (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target, o_orderdate FROM orders),
a AS (SELECT DISTINCT source, target FROM e WHERE o_orderdate < TIMESTAMP '1998-01-01'),
b AS (SELECT DISTINCT source, target FROM e WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
f AS (SELECT COALESCE(a.source, b.source) AS s, a.source AS sa, b.source AS sb
FROM a FULL JOIN b ON a.source = b.source AND a.target = b.target)
SELECT CAST(sum(CASE WHEN sb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
CAST(sum(CASE WHEN sa IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
CAST(sum(CASE WHEN sa IS NOT NULL AND sb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_persistent,
CAST(sum(CASE WHEN sa IS NOT NULL AND sb IS NOT NULL THEN 1 ELSE 0 END) * 1000000
// count(*) AS BIGINT) AS stability_ppm FROM f""")),

    // vocabulary growth checkpoints (Heaps'-law curve): distinct tokens
    // seen after the first N documents, replayed from per-token first-ids
    ("q_vocab_growth", (s, dir) =>
      TextAnalysis.vocabularyGrowth(docs(s, dir), "doc_id", "text",
          Seq(100L, 200L, 300L, 400L, 500L))
        .orderBy("cp"),
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
f AS (SELECT token, min(doc_id) AS first_id FROM tk GROUP BY 1),
cps AS (SELECT unnest([100, 200, 300, 400, 500]) AS cp)
SELECT CAST(cp AS BIGINT) AS cp, count(*) AS vocab FROM f JOIN cps ON f.first_id <= cps.cp
GROUP BY 1 ORDER BY 1""")),

    // two-proportion z-test (A/B by user-id parity, conversion = a
    // purchase over 150): z from exact integer counts; the only doubles
    // are the final scalar expression over identical operands in both
    // engines
    ("q_abtest", (s, dir) => {
      val conv = tbl(s, dir, "events")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 150,
          1L).otherwise(0L)).as("converted"))
        .withColumn("arm", (col("user_id") % 2).cast("long"))
      conv.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum("converted").as("k"))
        .agg(sum(when(col("arm") === 0, col("n"))).as("na"),
          sum(when(col("arm") === 0, col("k"))).as("ka"),
          sum(when(col("arm") === 1, col("n"))).as("nb"),
          sum(when(col("arm") === 1, col("k"))).as("kb"))
        .selectExpr("na", "ka", "nb", "kb",
          """(CAST(ka AS DOUBLE) / na - CAST(kb AS DOUBLE) / nb) /
             sqrt((CAST(ka + kb AS DOUBLE) / (na + nb)) *
                  (1.0 - CAST(ka + kb AS DOUBLE) / (na + nb)) *
                  (1.0 / na + 1.0 / nb)) AS z""")
    },
      Some("""WITH conv AS (SELECT user_id, max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS converted FROM events GROUP BY 1),
arms AS (SELECT user_id % 2 AS arm, count(*) AS n, sum(converted) AS k FROM conv GROUP BY 1),
w AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS na, CAST(sum(CASE WHEN arm = 0 THEN k END) AS BIGINT) AS ka,
CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS nb, CAST(sum(CASE WHEN arm = 1 THEN k END) AS BIGINT) AS kb FROM arms)
SELECT na, ka, nb, kb,
(CAST(ka AS DOUBLE) / na - CAST(kb AS DOUBLE) / nb) /
sqrt((CAST(ka + kb AS DOUBLE) / (na + nb)) * (1.0 - CAST(ka + kb AS DOUBLE) / (na + nb)) * (1.0 / na + 1.0 / nb)) AS z
FROM w""")),

    // average-neighbor-degree curve knn(k): the degree-correlation profile
    // behind the scalar assortativity
    ("q_knn_degree", (s, dir) => {
      val und = sparse(s, dir).symmetrizedEdges
        .filter(col("source") =!= col("target"))
        .select("source", "target").distinct()
      val dg = und.groupBy(col("source").as("id")).agg(count(lit(1)).as("d"))
      und
        .join(dg.select(col("id").as("source"), col("d").as("ds")), Seq("source"))
        .join(dg.select(col("id").as("target"), col("d").as("dt")), Seq("target"))
        .groupBy(col("ds").as("degree"))
        .agg(count(lit(1)).as("n_ends"),
          sum(col("dt").cast("decimal(38,0)")).as("sdt"))
        .selectExpr("degree", "n_ends",
          "CAST((sdt * 1000000) DIV n_ends AS BIGINT) AS avg_nbr_degree_ppm")
        .orderBy("degree")
    },
      Some(s"""$G, und AS (SELECT DISTINCT source, target FROM (SELECT source, target FROM sedges UNION ALL SELECT target, source FROM sedges) WHERE source <> target),
dg AS (SELECT source AS id, count(*) AS d FROM und GROUP BY 1),
p AS (SELECT da.d AS ds, db.d AS dt FROM und u JOIN dg da ON da.id = u.source JOIN dg db ON db.id = u.target)
SELECT ds AS degree, count(*) AS n_ends, CAST(sum(CAST(dt AS HUGEINT)) * 1000000 // count(*) AS BIGINT) AS avg_nbr_degree_ppm
FROM p GROUP BY 1 ORDER BY 1""")),

    // join-key skew diagnostics: the pre-join profile that decides whether
    // a key needs salting (max/avg frequency ratio + the hottest key)
    ("q_skew_stats", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
        .orderBy(desc("c"), asc("key"))
      val counts = tbl(s, dir, "orders")
        .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("c"))
      val top = counts.withColumn("rk", row_number().over(W))
        .filter(col("rk") === 1).select(col("key").as("top_key"),
          col("c").as("top_count"))
      counts.agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"),
          max("c").as("max_count"))
        .crossJoin(broadcast(top))
        .selectExpr("n_keys", "CAST(n_rows AS BIGINT) AS n_rows",
          "max_count", "top_key",
          "CAST(max_count * 1000000 * n_keys DIV n_rows AS BIGINT) AS skew_ratio_ppm")
    },
      Some("""WITH c AS (SELECT o_custkey AS key, count(*) AS c FROM orders GROUP BY 1),
t AS (SELECT key AS top_key, c AS top_count FROM (SELECT key, c, row_number() OVER (ORDER BY c DESC, key) AS rk FROM c) WHERE rk = 1),
a AS (SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows, CAST(max(c) AS BIGINT) AS max_count FROM c)
SELECT n_keys, n_rows, max_count, top_key,
CAST(max_count * 1000000 * n_keys // n_rows AS BIGINT) AS skew_ratio_ppm
FROM a, t""")),

    // dataset card: the one-row corpus summary a data release ships with
    // (sizes, vocabulary, language spread, exact-duplicate rate)
    ("q_dataset_card", (s, dir) => {
      val d = docs(s, dir)
      val tok = d.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
        .agg(count(lit(1)).as("n_tokens"), countDistinct("t").as("vocab"))
      val dup = d.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") - 1).as("n_dups"))
      val base = d.agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        sum(length(col("text")).cast("decimal(38,0)")).as("chars"))
      base.crossJoin(broadcast(tok)).crossJoin(broadcast(dup))
        .selectExpr("n_docs", "n_langs", "n_sources", "n_tokens", "vocab",
          "CAST(chars DIV n_docs AS BIGINT) AS mean_chars",
          "CAST(n_dups * 1000000 DIV n_docs AS BIGINT) AS exact_dup_ppm")
    },
      Some("""WITH tok AS (SELECT count(*) AS n_tokens, count(DISTINCT t) AS vocab FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
dup AS (SELECT CAST(sum(c - 1) AS BIGINT) AS n_dups FROM (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1)),
base AS (SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs, count(DISTINCT source) AS n_sources, sum(CAST(length(text) AS HUGEINT)) AS chars FROM documents)
SELECT n_docs, n_langs, n_sources, n_tokens, vocab,
CAST(chars // n_docs AS BIGINT) AS mean_chars,
CAST(n_dups * 1000000 // n_docs AS BIGINT) AS exact_dup_ppm
FROM base, tok, dup""")),

    // Zipf rank-frequency profile: token frequencies bucketed into rank
    // deciles (the log-free head/tail shape check on a corpus)
    ("q_zipf_curve", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val freq = docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      freq
        .withColumn("rk", row_number().over(W.orderBy(desc("freq"), asc("token"))))
        .withColumn("n", count(lit(1)).over(W.partitionBy()))
        .groupBy(expr("(rk - 1) * 10 div n").as("decile"))
        .agg(count(lit(1)).as("n_tokens"), sum("freq").as("total_freq"),
          max("freq").as("max_freq"), min("freq").as("min_freq"))
        .orderBy("decile")
    },
      Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
f AS (SELECT token, count(*) AS freq FROM tk GROUP BY 1),
r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rk, count(*) OVER () AS n FROM f)
SELECT (rk - 1) * 10 // n AS decile, count(*) AS n_tokens,
CAST(sum(freq) AS BIGINT) AS total_freq, CAST(max(freq) AS BIGINT) AS max_freq, CAST(min(freq) AS BIGINT) AS min_freq
FROM r GROUP BY 1 ORDER BY 1""")),

    // BPE merge induction (Sennrich et al. 2016) over the corpus word-
    // frequency table: tokenizer training as a first-class pipeline op.
    // The oracle replays the same 4 greedy merges with unrolled CTEs —
    // the double-space symbol encoding makes one non-overlapping replace
    // pass exactly the left-to-right BPE merge in both engines.
    ("q_bpe_merges", (s, dir) =>
      TextAnalysis.bpeMerges(docs(s, dir), "doc_id", "text", rounds = 4)
        .orderBy("round"),
      Some {
        val unions = (1 to 4).map(i =>
          s"""SELECT $i AS round, l AS "left", r AS "right", l||r AS merged, cnt AS pair_count FROM b$i""")
          .mkString("\nUNION ALL ")
        bpeTrainCtes(4) + s"\nSELECT * FROM (\n$unions) ORDER BY round"
      }),

    // BPE ENCODE: the trained merge table (4 rounds, a bounded driver
    // collect — same class as training's per-round argmax) applied to
    // every document as a chain of codegen'd replaces over per-word
    // symbol strings — map-only, zero shuffles; at corpus scale THIS is
    // the pass that touches every byte, so it must not join or shuffle
    ("q_bpe_encode", (s, dir) => {
      val m = TextAnalysis.bpeMerges(docs(s, dir), "doc_id", "text", rounds = 4)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs(s, dir), "doc_id", "text", m)
        .orderBy("doc_id")
    },
      Some {
        val enc = (1 to 4).map(i => s""",
e$i AS (SELECT doc_id, wchars, replace(sym,
  ' ' || (SELECT l FROM b$i) || '  ' || (SELECT r FROM b$i) || ' ',
  ' ' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ' ') AS sym FROM e${i - 1})""").mkString
        bpeTrainCtes(4) + s""",
dw AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w FROM documents),
e0 AS (SELECT doc_id, ' ' || array_to_string(regexp_split_to_array(w, ''), '  ') || ' ' AS sym, length(w) AS wchars FROM dw)$enc,
tok AS (SELECT doc_id, count(*) AS nw, sum(wchars) AS nc, sum(len(string_split(trim(sym), '  '))) AS nt FROM e4 GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(nw, 0) AS BIGINT) AS n_words,
CAST(coalesce(nc, 0) AS BIGINT) AS n_chars,
CAST(coalesce(nt, 0) AS BIGINT) AS n_tokens,
CAST(coalesce(nc, 0) - coalesce(nt, 0) AS BIGINT) AS saved
FROM documents d LEFT JOIN tok USING (doc_id) ORDER BY 1"""
      }),

    // the published Gopher rule filter (Rae et al. 2021, A1.1): integer
    // cross-multiplied ratio tests, so the booleans are engine-exact
    ("q_gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH base AS (
  SELECT doc_id,
    list_filter(string_split(text, ' '), w -> w <> '') AS toks,
    string_split(text, chr(10)) AS lns,
    length(text) - length(replace(text, '#', '')) AS hashes,
    (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses
  FROM documents),
m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(COALESCE(list_sum(list_transform(toks, w -> length(w))), 0) AS BIGINT) AS char_sum,
    CAST(hashes + ellipses AS BIGINT) AS n_symbols,
    CAST(len(lns) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lns, l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '•'))) AS BIGINT) AS n_bullet_lines,
    CAST(len(list_filter(lns, l -> ends_with(l, '...'))) AS BIGINT) AS n_ellipsis_lines,
    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
    CAST(len(list_intersect(toks, ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_words
  FROM base)
SELECT doc_id, n_words, char_sum, n_symbols, n_lines, n_bullet_lines,
  n_ellipsis_lines, n_alpha_words, n_stop_words,
  (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
  (char_sum >= 3 * n_words AND char_sum <= 10 * n_words) AS ok_mean_word_len,
  (10 * n_symbols < n_words) AS ok_symbol_ratio,
  (10 * n_bullet_lines < 9 * n_lines) AS ok_bullets,
  (10 * n_ellipsis_lines < 3 * n_lines) AS ok_ellipses,
  (5 * n_alpha_words > 4 * n_words) AS ok_alpha,
  (n_stop_words >= 2) AS ok_stop_words,
  ((n_words >= 50 AND n_words <= 100000)
   AND (char_sum >= 3 * n_words AND char_sum <= 10 * n_words)
   AND (10 * n_symbols < n_words)
   AND (10 * n_bullet_lines < 9 * n_lines)
   AND (10 * n_ellipsis_lines < 3 * n_lines)
   AND (5 * n_alpha_words > 4 * n_words)
   AND (n_stop_words >= 2)) AS gopher_pass
FROM m ORDER BY doc_id""")),

    // compaction planning: contiguous bin-packing of monthly partitions
    // into ~4000-row output files by running-sum arithmetic (the
    // small-files maintenance job's planning step)
    ("q_compaction_plan", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val parts = tbl(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("rows"))
      parts
        .withColumn("cum", sum("rows").over(W.orderBy("month")
          .rowsBetween(W.unboundedPreceding, 0)))
        .selectExpr("CAST(month AS TIMESTAMP) AS month", "rows",
          "CAST((cum - 1) DIV 4000 AS BIGINT) AS target_file",
          "cum")
        .orderBy("month")
    },
      Some("""WITH p AS (SELECT date_trunc('month', o_orderdate) AS month, count(*) AS rows FROM orders GROUP BY 1),
c AS (SELECT month, rows, sum(rows) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING) AS cum FROM p)
SELECT CAST(month AS TIMESTAMP) AS month, rows, CAST((cum - 1) // 4000 AS BIGINT) AS target_file, CAST(cum AS BIGINT) AS cum
FROM c ORDER BY 1""")),

    // hashing-trick features (feature hashing a la CountVectorizer): token
    // counts bucketed by md5 % 256 — the fixed-width sparse featurizer
    ("q_hashing_tf", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .select(col("doc_id"),
          (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long") % 256)
            .as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("tf"))
        .orderBy("doc_id", "bucket"),
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
b AS (SELECT doc_id, CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % 256 AS bucket FROM tk)
SELECT doc_id, bucket, count(*) AS tf FROM b GROUP BY 1, 2 ORDER BY 1, 2""")),

    // topological layers of the DAG-ified sparse graph (edges oriented
    // low -> high id): the parallel-schedule / critical-path profile
    ("q_topo_layers", (s, dir) => {
      val g = sparse(s, dir)
      val dag = g.copy(edges = g.edges.filter(col("source") < col("target")))
      GraphAlgorithms.topologicalLayers(dag, rounds = 12).orderBy("id")
    },
      Some(topoSql(12))),

    // exact Gini coefficient of order value per priority class (rank
    // formula, ppm by integral division — the inequality profile)
    ("q_gini", (s, dir) => {
      val byP = org.apache.spark.sql.expressions.Window.partitionBy("pri")
      val rk = byP.orderBy("cents", "okey")
      tbl(s, dir, "orders")
        .select(col("o_orderpriority").as("pri"), col("o_orderkey").as("okey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(rk))
        .groupBy("pri")
        .agg(count(lit(1)).as("n"),
          sum(col("cents").cast("decimal(38,0)")).as("sx"),
          sum((col("rn") * col("cents")).cast("decimal(38,0)")).as("six"))
        .selectExpr("pri", "n",
          "CAST((2 * six - (n + 1) * sx) * 1000000 DIV (n * sx) AS BIGINT) AS gini_ppm")
        .orderBy("pri")
    },
      Some("""WITH c AS (SELECT o_orderpriority AS pri, o_orderkey AS okey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
rk AS (SELECT pri, cents, row_number() OVER (PARTITION BY pri ORDER BY cents, okey) AS rn FROM c),
a AS (SELECT pri, count(*) AS n, sum(CAST(cents AS HUGEINT)) AS sx, sum(CAST(rn AS HUGEINT) * cents) AS six FROM rk GROUP BY 1)
SELECT pri, n, CAST((2 * six - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT) AS gini_ppm FROM a ORDER BY 1""")),

    // incremental CC maintenance: a delta edge slice merges components via
    // the label quotient (O(|delta|) work; the oracle recomputes the union
    // graph from scratch and must agree bit-for-bit on canonical min-ids)
    ("q_cc_incremental", (s, dir) => {
      val g = graph(s, dir)
      val delta = g.edges.filter(col("edge_id") % 10 === 5)
        .select("source", "target")
      GraphAlgorithms.incrementalComponents(sparseLabels(s, dir), delta)
        .orderBy("id")
    },
      Some(s"""$G, delta AS (SELECT source, target FROM edges WHERE edge_id % 10 = 5),
uni AS (SELECT source, target FROM sedges UNION SELECT source, target FROM delta),
us AS (SELECT source, target FROM uni UNION SELECT target, source FROM uni),
reach(id, r) AS (SELECT id, id FROM nodes UNION SELECT reach.id, s.target FROM reach JOIN us s ON s.source = reach.r)
SELECT id, min(r) AS component FROM reach GROUP BY 1 ORDER BY 1""")),

    // dedup-threshold tuning: histogram of candidate-pair Jaccard scores
    // (how many pairs each threshold keeps/cuts)
    ("q_jaccard_hist", (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", 3, 0.0, maxDf = 20)
        .select(floor(col("jaccard") * 10).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .orderBy("bucket"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
dfc AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 20),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc USING (shingle)),
sz AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
it AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2),
j AS (SELECT CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard FROM it JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib)
SELECT CAST(floor(jaccard * 10) AS BIGINT) AS bucket, count(*) AS n_pairs FROM j GROUP BY 1 ORDER BY 1""")),

    // deterministic Poisson bootstrap: 10 hash-replayable resamples of the
    // order-value mean (map-side partial sums; no resampling shuffle)
    ("q_bootstrap", (s, dir) =>
      graft.functions.Sampling.poissonBootstrap(tbl(s, dir, "orders"),
          "o_orderkey", "o_totalprice", replicates = 10, salt = "bs")
        .orderBy("b"),
      Some("""WITH r AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, unnest(generate_series(0, 9)) AS b FROM orders),
h AS (SELECT b, cents, CAST(concat('0x', substr(md5(concat('bs', CAST(o_orderkey AS VARCHAR), ':', CAST(b AS VARCHAR))), 1, 8)) AS BIGINT) AS h FROM r),
m AS (SELECT b, cents, CASE WHEN h < 1580030169 THEN 0 WHEN h < 3160060338 THEN 1 WHEN h < 3950075422 THEN 2 WHEN h < 4213413784 THEN 3 WHEN h < 4279248375 THEN 4 ELSE 5 END AS mult FROM h)
SELECT CAST(b AS BIGINT) AS b, CAST(sum(mult) AS BIGINT) AS n_eff,
CAST(sum(CAST(mult AS HUGEINT) * cents) AS BIGINT) AS sum_cents,
CAST(sum(CAST(mult AS HUGEINT) * cents) * 1000000 // sum(mult) AS BIGINT) AS mean_cents_ppm
FROM m GROUP BY 1 ORDER BY 1""")),

    // percolation profile: component structure of the sparse graph as weak
    // edges drop out at ascending weight thresholds. The thresholds nest
    // (edges at t=3e7 are a subset of t=2e7 of t=1e7), so only the
    // SMALLEST graph pays a full fixpoint — each lower threshold merges
    // its delta edge slab through `incrementalComponents`' label quotient
    // (the dendrogram sweep as incremental maintenance, not 3 recomputes)
    ("q_percolation", (s, dir) => {
      val g = sparse(s, dir)
      val wq = floor(col("weight").cast("double") * 100).cast("long")
      val top = GraphAlgorithms.componentLabels(
        g.copy(edges = g.edges.filter(wq >= 30000000L)), "weak")
      val mid = GraphAlgorithms.incrementalComponents(top,
        g.edges.filter(wq >= 20000000L && wq < 30000000L)
          .select("source", "target"))
      val low = GraphAlgorithms.incrementalComponents(mid,
        g.edges.filter(wq >= 10000000L && wq < 20000000L)
          .select("source", "target"))
      val frames = Seq((10000000L, low), (20000000L, mid), (30000000L, top))
        .map { case (t, lab) =>
          lab.groupBy("component").agg(count(lit(1)).as("sz"))
            .agg(count(lit(1)).as("n_components"), max("sz").as("largest"))
            .select(lit(t).as("threshold_q"), col("n_components"),
              col("largest"))
        }
      frames.reduce(_ union _).orderBy("threshold_q")
    },
      Some {
        val per = Seq(10000000L, 20000000L, 30000000L).map { t =>
          s"""(WITH RECURSIVE f AS (SELECT source, target FROM sedges WHERE CAST(floor(weight * 100) AS BIGINT) >= $t),
sy AS (SELECT source, target FROM f UNION SELECT target, source FROM f),
reach(id, r) AS (SELECT id, id FROM nodes UNION SELECT reach.id, s.target FROM reach JOIN sy s ON s.source = reach.r),
lb AS (SELECT id, min(r) AS component FROM reach GROUP BY 1),
cs AS (SELECT component, count(*) AS sz FROM lb GROUP BY 1)
SELECT CAST($t AS BIGINT) AS threshold_q, count(*) AS n_components, CAST(max(sz) AS BIGINT) AS largest FROM cs)"""
        }.mkString("\nUNION ALL ")
        s"""$G SELECT * FROM ($per) ORDER BY 1"""
      }),

    // winsorized mean: rank-clip at p05/p95 per event type, then the exact
    // 1e6-scaled mean of the clipped cents (outlier-robust central value)
    ("q_winsorize", (s, dir) => {
      val byType = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      val rk = byType.orderBy("cents", "event_id")
      tbl(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(rk))
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("lo", max(when(col("rn") <= ceil(col("n") * 0.05),
          col("cents"))).over(byType))
        .withColumn("hi", max(when(col("rn") <= ceil(col("n") * 0.95),
          col("cents"))).over(byType))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(greatest(col("lo"), least(col("hi"), col("cents")))
            .cast("decimal(38,0)")).as("sd"))
        .selectExpr("event_type", "n",
          "CAST((sd * 1000000) DIV n AS BIGINT) AS wmean_ppm")
        .orderBy("event_type")
    },
      Some("""WITH c AS (SELECT event_type, event_id, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
rk AS (SELECT event_type, cents, row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn, count(*) OVER (PARTITION BY event_type) AS n FROM c),
b AS (SELECT event_type, cents, n,
max(CASE WHEN rn <= CAST(ceil(0.05 * n) AS BIGINT) THEN cents END) OVER (PARTITION BY event_type) AS lo,
max(CASE WHEN rn <= CAST(ceil(0.95 * n) AS BIGINT) THEN cents END) OVER (PARTITION BY event_type) AS hi FROM rk)
SELECT event_type, count(*) AS n,
CAST(sum(CAST(greatest(lo, least(hi, cents)) AS HUGEINT)) * 1000000 // count(*) AS BIGINT) AS wmean_ppm
FROM b GROUP BY 1 ORDER BY 1""")),

    // one-pass multi-column data profile (row/null/exact-distinct/min/max)
    ("q_profile", (s, dir) =>
      graft.functions.DataProfile.columnProfile(tbl(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name"),
      Some("""WITH a AS (SELECT count(*) AS total,
count(o_orderkey) AS nn1, count(DISTINCT o_orderkey) AS nd1, CAST(min(o_orderkey) AS VARCHAR) AS mn1, CAST(max(o_orderkey) AS VARCHAR) AS mx1,
count(o_custkey) AS nn2, count(DISTINCT o_custkey) AS nd2, CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2,
count(o_orderstatus) AS nn3, count(DISTINCT o_orderstatus) AS nd3, min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3,
count(o_orderpriority) AS nn4, count(DISTINCT o_orderpriority) AS nd4, min(o_orderpriority) AS mn4, max(o_orderpriority) AS mx4
FROM orders)
SELECT col_name, total AS n_rows, n_null, n_distinct, min_v, max_v FROM (
SELECT 'o_orderkey' AS col_name, total, total - nn1 AS n_null, nd1 AS n_distinct, mn1 AS min_v, mx1 AS max_v FROM a
UNION ALL SELECT 'o_custkey', total, total - nn2, nd2, mn2, mx2 FROM a
UNION ALL SELECT 'o_orderstatus', total, total - nn3, nd3, mn3, mx3 FROM a
UNION ALL SELECT 'o_orderpriority', total, total - nn4, nd4, mn4, mx4 FROM a)
ORDER BY 1""")),

    // MERGE/upsert changelog compaction: last op per key wins, deletes
    // drop the key (signup=insert, error=delete, rest=update)
    ("q_merge_upsert", (s, dir) => {
      val log = tbl(s, dir, "events").select(col("user_id"), col("event_id"),
        col("ts"), floor(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D").otherwise("U").as("op"))
      EventStream.applyChangelog(log, "user_id", "op", Seq("ts", "event_id"))
        .select("user_id", "op", "cents", "event_id").orderBy("user_id")
    },
      Some("""WITH log AS (SELECT user_id, event_id, ts, CAST(floor(value * 100) AS BIGINT) AS cents,
CASE WHEN event_type = 'signup' THEN 'I' WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM log)
SELECT user_id, op, cents, event_id FROM r WHERE rn = 1 AND op <> 'D' ORDER BY 1""")),

    // per-user time-weighted average value (step-function integral over
    // nanosecond gaps, exact decimal accumulation)
    ("q_twap", (s, dir) =>
      EventStream.timeWeightedAverage(tbl(s, dir, "events"), "user_id")
        .orderBy("user_id"),
      Some("""WITH c AS (SELECT user_id, event_id, epoch_ns(ts) AS tn, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
l AS (SELECT user_id, tn, cents, lead(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) AS nts FROM c),
g AS (SELECT user_id, sum(CAST(nts - tn AS HUGEINT) * cents) AS num, sum(CAST(nts - tn AS HUGEINT)) AS den, count(*) AS n_gaps
FROM l WHERE nts IS NOT NULL GROUP BY 1)
SELECT user_id, n_gaps, CAST(num // den AS BIGINT) AS twap_cents FROM g ORDER BY 1""")),

    // source mixing allocation: per-source sampling rate toward a uniform
    // target mix (the data-mixing planning step of corpus assembly)
    ("q_mix_rates", (s, dir) => {
      val bySrc = docs(s, dir).groupBy("source").agg(count(lit(1)).as("n"))
      val tot = bySrc.agg(sum("n").as("total"), count(lit(1)).as("k"))
      bySrc.crossJoin(broadcast(tot))
        .selectExpr("source", "n", "CAST(total DIV k AS BIGINT) AS target_n",
          "CAST(least(1000000, (total DIV k) * 1000000 DIV n) AS BIGINT) AS rate_ppm",
          "CAST(n * least(1000000, (total DIV k) * 1000000 DIV n) DIV 1000000 AS BIGINT) AS expected_kept")
        .orderBy("source")
    },
      Some("""WITH b AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
t AS (SELECT sum(n) AS total, count(*) AS k FROM b)
SELECT source, n, CAST(total // k AS BIGINT) AS target_n,
CAST(least(1000000, (total // k) * 1000000 // n) AS BIGINT) AS rate_ppm,
CAST(n * least(1000000, (total // k) * 1000000 // n) // 1000000 AS BIGINT) AS expected_kept
FROM b, t ORDER BY 1""")),

    // IVF quantization diagnostics: per-cell mean squared residual against
    // the integer centroids (decides re-training / cell-count changes)
    ("q_ivf_residual", (s, dir) =>
      Similarity.ivfResidualEnergy(emb(s, dir), "embedding", "label")
        .orderBy("cell"),
      Some("""WITH u AS (SELECT label AS cell, vec_id, s.i, CAST(floor(CAST(embedding[s.i] AS DOUBLE) * 10000000) AS BIGINT) AS x FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s),
g AS (SELECT cell, i, sum(x) AS sx, count(*) AS n FROM u GROUP BY 1, 2),
cent AS (SELECT cell, i, CAST(CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END AS BIGINT) AS cq FROM g),
r AS (SELECT u.cell, CAST(u.x - c.cq AS HUGEINT) * (u.x - c.cq) AS r2 FROM u JOIN cent c ON c.cell = u.cell AND c.i = u.i),
e AS (SELECT cell, sum(r2) AS e FROM r GROUP BY 1),
nv AS (SELECT label AS cell, count(*) AS n_vectors FROM embeddings GROUP BY 1)
SELECT e.cell, nv.n_vectors, CAST(e.e // nv.n_vectors AS BIGINT) AS mean_resid_q
FROM e JOIN nv USING (cell) ORDER BY 1""")),

    // Okapi BM25 retrieval top-k (k1=6/5, b=3/4 kept rational; idf is the
    // repo's N*1e6 div df weight — never transcendental): scan + isin
    // pushdown + one doc-keyed shuffle + TakeOrderedAndProject, no
    // materialized inverted index
    ("q_bm25", (s, dir) =>
      TextAnalysis.bm25TopK(docs(s, dir), "doc_id", "text",
          Seq("spark", "merge", "stream"), 20)
        .orderBy("rank"),
      Some(s"""$BM25_BODY
SELECT doc_id, n_hits, CAST(score_q AS BIGINT) AS score_q,
CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INT) AS rank
FROM bm_agg ORDER BY score_q DESC, doc_id LIMIT 20""")),

    // batch BM25 against a query TABLE (the production retrieval shape):
    // broadcast term join, shared per-term df across queries, per-query
    // top-k as a WindowGroupLimit — one corpus scan for all queries
    ("q_bm25_multi", (s, dir) => {
      import s.implicits._
      val qt = Seq((1L, "spark"), (1L, "merge"), (2L, "stream"),
        (2L, "table"), (3L, "customer")).toDF("query_id", "term")
      TextAnalysis.bm25TopKPerQuery(docs(s, dir), "doc_id", "text", qt, 10)
        .orderBy("query_id", "rank")
    },
      Some("""WITH qt(query_id, term) AS (VALUES (1, 'spark'), (1, 'merge'), (2, 'stream'), (2, 'table'), (3, 'customer')),
mb_base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, string_split(text, ' ') AS l FROM documents),
mb_stats AS (SELECT count(*) AS n_docs, sum(dl) AS sumdl FROM mb_base),
mb_tf AS (SELECT doc_id, dl, tok AS token, count(*) AS tf FROM (SELECT doc_id, dl, unnest(l) AS tok FROM mb_base) WHERE tok IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
mb_df AS (SELECT token, count(*) AS df FROM mb_tf GROUP BY 1),
mb_c AS (SELECT doc_id, token, (CAST(n_docs * 1000000 // df AS HUGEINT) * tf * 44 * sumdl) // (CAST(20 AS HUGEINT) * sumdl * tf + 6 * sumdl + 18 * dl * n_docs) AS contrib
FROM mb_tf JOIN mb_df USING (token) CROSS JOIN mb_stats),
sc AS (SELECT query_id, doc_id, count(*) AS n_hits, sum(contrib) AS score_q FROM mb_c JOIN qt ON qt.term = mb_c.token GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, n_hits, score_q, row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rn FROM sc)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_hits, CAST(score_q AS BIGINT) AS score_q, CAST(rn AS INT) AS rank
FROM r WHERE rn <= 10 ORDER BY 1, 5""")),

    // ranked-retrieval scorecard over the BM25 per-query top-10: MRR,
    // precision@10, recall@10, and graded linear-discount DCG (all ppm
    // floor-divs — no cross-engine libm log2) against a deterministic
    // relevance set (doc relevant to a query iff its terms appear >= 3
    // times total; grade = the occurrence count)
    ("q_retrieval_metrics", (s, dir) => {
      val (ranked, rel) = retrievalEvalInputs(s, dir, tfMin = 3)
      TextAnalysis.retrievalMetrics(ranked, rel, 10).orderBy("query_id")
    },
      Some("""WITH qt(query_id, term) AS (VALUES (1, 'spark'), (1, 'merge'), (2, 'stream'), (2, 'table'), (3, 'customer')),
mb_base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, string_split(text, ' ') AS l FROM documents),
mb_stats AS (SELECT count(*) AS n_docs, sum(dl) AS sumdl FROM mb_base),
mb_tf AS (SELECT doc_id, dl, tok AS token, count(*) AS tf FROM (SELECT doc_id, dl, unnest(l) AS tok FROM mb_base) WHERE tok IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
mb_df AS (SELECT token, count(*) AS df FROM mb_tf GROUP BY 1),
mb_c AS (SELECT doc_id, token, (CAST(n_docs * 1000000 // df AS HUGEINT) * tf * 44 * sumdl) // (CAST(20 AS HUGEINT) * sumdl * tf + 6 * sumdl + 18 * dl * n_docs) AS contrib
FROM mb_tf JOIN mb_df USING (token) CROSS JOIN mb_stats),
sc AS (SELECT query_id, doc_id, sum(contrib) AS score_q FROM mb_c JOIN qt ON qt.term = mb_c.token GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank FROM sc),
topk AS (SELECT query_id, doc_id, rank FROM r WHERE rank <= 10),
rel AS (SELECT query_id, mb_tf.doc_id, sum(tf) AS rel FROM mb_tf JOIN qt ON qt.term = mb_tf.token GROUP BY 1, 2 HAVING sum(tf) >= 3),
tot AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
h AS (SELECT t.query_id, t.rank, coalesce(rel.rel, 0) AS rel FROM topk t LEFT JOIN rel ON rel.query_id = t.query_id AND rel.doc_id = t.doc_id),
m AS (SELECT query_id, min(CASE WHEN rel > 0 THEN rank END) AS first_rel, sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_rel_at_k, sum((1000000 * rel) // (rank + 1)) AS dcg FROM h GROUP BY 1)
SELECT CAST(m.query_id AS BIGINT) AS query_id, CAST(coalesce(tot.n_rel, 0) AS BIGINT) AS n_rel,
CAST(n_rel_at_k AS BIGINT) AS n_rel_at_k,
CAST(coalesce(1000000 // first_rel, 0) AS BIGINT) AS mrr_q,
CAST((1000000 * n_rel_at_k) // 10 AS BIGINT) AS prec_at_k_q,
CAST(CASE WHEN coalesce(tot.n_rel, 0) > 0 THEN (1000000 * n_rel_at_k) // tot.n_rel ELSE 0 END AS BIGINT) AS recall_at_k_q,
CAST(dcg AS BIGINT) AS dcg_lin_q
FROM m LEFT JOIN tot USING (query_id) ORDER BY 1""")),

    // retrieval hard-negative mining (the DPR/ANCE contrastive-training
    // pattern): the top-3 BM25-ranked docs per query that are NOT in the
    // relevance set — boundary-hugging negatives, not random ones
    ("q_hard_negatives", (s, dir) => {
      // stricter tf>=8 positive bar than the metrics query: mining wants
      // boundary docs left OUTSIDE the set
      val (ranked, rel) = retrievalEvalInputs(s, dir, tfMin = 8)
      TextAnalysis.hardNegatives(ranked, rel, 3)
        .orderBy("query_id", "neg_rank")
    },
      Some("""WITH qt(query_id, term) AS (VALUES (1, 'spark'), (1, 'merge'), (2, 'stream'), (2, 'table'), (3, 'customer')),
mb_base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, string_split(text, ' ') AS l FROM documents),
mb_stats AS (SELECT count(*) AS n_docs, sum(dl) AS sumdl FROM mb_base),
mb_tf AS (SELECT doc_id, dl, tok AS token, count(*) AS tf FROM (SELECT doc_id, dl, unnest(l) AS tok FROM mb_base) WHERE tok IN (SELECT term FROM qt) GROUP BY 1, 2, 3),
mb_df AS (SELECT token, count(*) AS df FROM mb_tf GROUP BY 1),
mb_c AS (SELECT doc_id, token, (CAST(n_docs * 1000000 // df AS HUGEINT) * tf * 44 * sumdl) // (CAST(20 AS HUGEINT) * sumdl * tf + 6 * sumdl + 18 * dl * n_docs) AS contrib
FROM mb_tf JOIN mb_df USING (token) CROSS JOIN mb_stats),
sc AS (SELECT query_id, doc_id, sum(contrib) AS score_q FROM mb_c JOIN qt ON qt.term = mb_c.token GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank FROM sc),
topk AS (SELECT query_id, doc_id, rank FROM r WHERE rank <= 10),
rel AS (SELECT query_id, mb_tf.doc_id FROM mb_tf JOIN qt ON qt.term = mb_tf.token GROUP BY 1, 2 HAVING sum(tf) >= 8),
neg AS (SELECT t.query_id, t.doc_id, t.rank, row_number() OVER (PARTITION BY t.query_id ORDER BY t.rank) AS neg_rank
FROM topk t LEFT JOIN rel ON rel.query_id = t.query_id AND rel.doc_id = t.doc_id WHERE rel.doc_id IS NULL)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(rank AS INT) AS rank, CAST(neg_rank AS INT) AS neg_rank
FROM neg WHERE neg_rank <= 3 ORDER BY 1, 4""")),

    // reciprocal-rank fusion of the BM25 lexical top-50 with the hashed
    // linear quality-model top-50 — the standard hybrid-retrieval combiner,
    // entirely integral (1e6 div (60+rank))
    ("q_rrf", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("score_q"), asc("id"))
      val lex = TextAnalysis.bm25TopK(docs(s, dir), "doc_id", "text",
          Seq("spark", "merge", "stream"), 50)
        .select(col("doc_id").as("id"), col("rank"))
      val qual = TextAnalysis.hashedLinearScore(docs(s, dir), "doc_id", "text", 1024)
        .orderBy(desc("score_q"), asc("id")).limit(50)
        .withColumn("rank", row_number().over(w))
        .select("id", "rank")
      TextAnalysis.rrfFuse(lex, qual, "id")
        .orderBy(desc("rrf_q"), asc("id"))
    },
      Some(s"""$BM25_BODY,
lex AS (SELECT doc_id AS id, CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INT) AS rank_a
FROM bm_agg ORDER BY score_q DESC, doc_id LIMIT 50),
qtk AS (SELECT doc_id, CAST(concat('0x', substr(md5(concat('w:', CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 1024 AS VARCHAR))), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
qagg AS (SELECT doc_id, count(*) AS n_toks, sum(w) AS sw FROM qtk GROUP BY 1),
qsc AS (SELECT doc_id, CAST(floor(CAST(CAST(sw AS HUGEINT) * 1000000 AS DOUBLE) / n_toks) AS BIGINT) AS score_q FROM qagg),
qual AS (SELECT doc_id AS id, CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INT) AS rank_b
FROM qsc ORDER BY score_q DESC, doc_id LIMIT 50)
SELECT id, rank_a, rank_b,
coalesce(1000000 // (60 + rank_a), 0) + coalesce(1000000 // (60 + rank_b), 0) AS rrf_q
FROM lex FULL JOIN qual USING (id) ORDER BY rrf_q DESC, id""")),

    // SemDeDup-style semantic dedup: banded sign-LSH pairs at cosine>=0.4,
    // weak components over the similarity graph, keep-one-per-cluster by
    // squared norm (tie: min id) — the curation gate over embeddings
    ("q_semdedup", (s, dir) =>
      Similarity.semanticDedup(emb(s, dir), "vec_id", "embedding", 0.4,
          cellScoped = true)
        .orderBy("id"),
      Some(s"""${EMB_U.replace("WITH u", "WITH RECURSIVE u")},
nr AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
${cellCtes()},
dots AS (SELECT c.ia, c.ib, sum(x1.x * x2.x) AS d FROM ecand c JOIN u x1 ON x1.vec_id = c.ia JOIN u x2 ON x2.vec_id = c.ib AND x2.i = x1.i GROUP BY 1,2),
e AS (SELECT ia, ib FROM dots JOIN nr na ON na.vec_id = ia JOIN nr nb ON nb.vec_id = ib
WHERE CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.4),
sym2 AS (SELECT ia AS s, ib AS tt FROM e UNION SELECT ib, ia FROM e),
reach(id, r) AS (SELECT vec_id, vec_id FROM embeddings UNION SELECT reach.id, s2.tt FROM reach JOIN sym2 s2 ON s2.s = reach.r),
lab AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY 1)
SELECT lab.id, cluster_rep, CAST(nn AS BIGINT) AS n2,
row_number() OVER (PARTITION BY cluster_rep ORDER BY nn DESC, lab.id) = 1 AS keep
FROM lab JOIN nr n ON n.vec_id = lab.id ORDER BY 1""")),

    // sorted-neighborhood dedup: one global (64-char text prefix, id)
    // sort, each doc compared to its 10 rank-successors only (candidates
    // EXACTLY n*w), exact distinct-shingle Jaccard verification — rank
    // assigned via range-partitioned sortBy+zipWithIndex on the
    // fixed-width key (shuffle carries ~72 B/doc, not the corpus), never
    // a single-partition row_number window
    ("q_snm_pairs", (s, dir) =>
      Dedup.sortedNeighborhoodPairs(docs(s, dir), "doc_id", "text", 10, 3, 0.3, 64)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
rk AS (SELECT doc_id, row_number() OVER (ORDER BY substr(text, 1, 64), doc_id) AS rn FROM t),
cand AS (SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b
FROM rk a JOIN rk b ON b.rn - a.rn BETWEEN 1 AND 10),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
it AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle GROUP BY 1,2)
SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
FROM it JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.3 ORDER BY 1, 2""")),

    // maximal-marginal-relevance diversified top-5 from the relevance
    // top-50 against query vector 0 (lambda=1/2): the greedy trajectory is
    // deterministic on quantized cosines, so the oracle unrolls all 5
    // selection steps as CTEs
    ("q_mmr", (s, dir) =>
      Similarity.mmrSelect(emb(s, dir), "vec_id", "embedding", 0L, 50, 5)
        .orderBy("pick"),
      Some(mmrSql(0L, 50, 5))),

    // ============ batch R9: densest subgraph, skyline, image near-dup,
    // ============ association / privacy profiling

    // Bahmani et al. greedy-peel densest-subgraph trace: per-round
    // (pre-peel) subgraph stats; peel test 2*d*n <= 3*sum_d is integer-
    // exact, replayed by an unrolled-CTE oracle
    ("q_densest", (s, dir) =>
      GraphAlgorithms.densestSubgraphTrace(sparse(s, dir), rounds = 6)
        .orderBy("round"),
      Some(densestSql(6))),

    // 2-D Pareto frontier over part (minimize retail price, maximize
    // size): bin-pruned order statistic on the Spark side, textbook
    // NOT EXISTS dominance on the oracle side — same set either way
    ("q_skyline", (s, dir) =>
      Analytics.paretoSkyline2D(
          tbl(s, dir, "part").select("p_partkey", "p_retailprice", "p_size"),
          "p_retailprice", "p_size")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_retailprice, p_size FROM part a
WHERE NOT EXISTS (SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
ORDER BY 1""")),

    // image near-duplicates by multi-index Hamming search over perceptual
    // hashes (pigeonhole banding: dist <= 6 < 8 bands forces an exact
    // band match); the oracle recomputes every pHash bit in closed form
    // from the BMP-generating text bytes and scans all pairs
    ("q_phash_pairs", (s, dir) =>
      Multimodal.hammingNearDupPairs(
          Multimodal.perceptualHash(
            Multimodal.fromTextBmp(s, docs(s, dir), "doc_id", "text")).toDF(),
          maxDist = 6, bands = 8)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
p AS (SELECT doc_id, n, text, unnest(generate_series(0, 63)) AS px FROM t),
b AS (SELECT doc_id, px,
ascii(substr(text, CAST((px * 3 + 2) % n AS INT) + 1, 1)) AS vr,
ascii(substr(text, CAST((px * 3 + 1) % n AS INT) + 1, 1)) AS vg,
ascii(substr(text, CAST((px * 3 + 0) % n AS INT) + 1, 1)) AS vb FROM p),
l AS (SELECT doc_id, px, 299 * vr + 587 * vg + 114 * vb AS lum FROM b),
g AS (SELECT doc_id, sum(lum) // 64 AS gmean FROM l GROUP BY 1),
bits AS (SELECT l.doc_id, (7 - (px // 8)) * 8 + (px % 8) AS bit,
CASE WHEN lum > gmean THEN 1 ELSE 0 END AS s FROM l JOIN g ON g.doc_id = l.doc_id),
ph AS (SELECT doc_id, CAST(sum(s * (CASE WHEN bit = 63 THEN -9223372036854775808 ELSE (1::BIGINT << bit) END)) AS BIGINT) AS phash FROM bits GROUP BY 1),
hx AS (SELECT doc_id, phash, lpad(hex(phash), 16, '0') AS h FROM ph),
famp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming FROM hx a JOIN hx b ON a.h = b.h AND a.doc_id < b.doc_id),
reps AS (SELECT h, min(doc_id) AS rid, min(phash) AS p FROM hx GROUP BY 1),
bd AS (SELECT h, p, rid, bb.band, substr(h, bb.band * 2 + 1, 16 - bb.band * 2) || substr(h, 1, bb.band * 2) AS rk FROM reps, (SELECT unnest(generate_series(0, 7)) AS band) bb),
bd2 AS (SELECT h, p, rid, band, rk, substr(rk, 1, 2) AS bv, row_number() OVER (PARTITION BY band, substr(rk, 1, 2) ORDER BY rk, rid) AS rn FROM bd),
rp AS (SELECT DISTINCT least(x.h, y.h) AS ha, greatest(x.h, y.h) AS hb, bit_count(xor(x.p, y.p)) AS hamming
FROM bd2 x JOIN bd2 y ON x.band = y.band AND x.bv = y.bv AND y.rn - x.rn BETWEEN 1 AND 16
WHERE bit_count(xor(x.p, y.p)) <= 6),
crossp AS (SELECT least(fa.doc_id, fb.doc_id) AS id_a, greatest(fa.doc_id, fb.doc_id) AS id_b, rp.hamming
FROM rp JOIN hx fa ON fa.h = rp.ha JOIN hx fb ON fb.h = rp.hb)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM (SELECT * FROM famp UNION ALL SELECT * FROM crossp) ORDER BY 1, 2""")),

    // chi-squared independence test source x lang over documents — the
    // sum(O^2*n/(cx*cy)) - n identity over OBSERVED cells only (zero cells
    // contribute nothing, so no r x c grid), per-cell floored scaled
    // rationals in DECIMAL(38,0) / HUGEINT, and Cramer's V as exact
    // integral ppm via corrected integer sqrt — no raw double anywhere in
    // the output (round 9's only hash flake was this query's double V)
    ("q_chi2", (s, dir) =>
      DataProfile.chiSquaredAssociation(docs(s, dir), "source", "lang"),
      Some("""WITH cells AS (SELECT source AS x, lang AS y, count(*) AS o FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
mx AS (SELECT x, sum(o) AS cx FROM cells GROUP BY 1),
my AS (SELECT y, sum(o) AS cy FROM cells GROUP BY 1),
tot AS (SELECT sum(o) AS n, count(DISTINCT x) AS r, count(DISTINCT y) AS c FROM cells),
terms AS (SELECT (CAST(o AS HUGEINT) * o * n * 1000000) // (CAST(cx AS HUGEINT) * cy) AS tq
  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
chi AS (SELECT CAST(sum(tq) - (SELECT CAST(n AS HUGEINT) * 1000000 FROM tot) AS BIGINT) AS chi2_q FROM terms),
v AS (SELECT n, r, c, (r - 1) * (c - 1) AS dof, chi2_q, n * least(r, c) - n AS vden,
  CAST((CAST(greatest(chi2_q, 0) AS HUGEINT) * 1000000) // greatest(n * least(r, c) - n, 1) AS BIGINT) AS vsq
  FROM chi, tot),
s AS (SELECT *, CAST(floor(sqrt(CAST(vsq AS DOUBLE))) AS BIGINT) AS s0 FROM v)
SELECT CAST(n AS BIGINT) AS n, r, c, dof, chi2_q,
CAST(CASE WHEN vden = 0 THEN 0
     WHEN (s0 + 1) * (s0 + 1) <= vsq THEN s0 + 1
     WHEN s0 * s0 > vsq THEN s0 - 1
     ELSE s0 END AS BIGINT) AS cramers_v_ppm
FROM s""")),

    // k-anonymity / l-diversity audit over customer quasi-identifiers
    // (nation, segment, account-balance band): one grouped agg over the
    // corpus, audit summary over the group table
    ("q_k_anon", (s, dir) =>
      DataProfile.kAnonymityAudit(
          tbl(s, dir, "customer")
            .withColumn("bal_bin", floor(col("c_acctbal") / 1000.0d)),
          Seq("c_nationkey", "c_mktsegment", "bal_bin"),
          "c_acctbal", k = 5, l = 2),
      Some("""WITH g AS (SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000.0) AS bal_bin,
count(*) AS sz, count(DISTINCT c_acctbal) AS ldiv FROM customer GROUP BY 1, 2, 3)
SELECT CAST(sum(sz) AS BIGINT) AS n_rows, count(*) AS n_groups,
CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS risk_groups,
CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS risk_rows,
CAST(min(sz) AS BIGINT) AS min_group,
CAST(sum(CASE WHEN ldiv < 2 THEN 1 ELSE 0 END) AS BIGINT) AS low_diversity_groups
FROM g""")),

    // METIS-style coarsening step: contract the maximal matching, re-
    // aggregate inter-super-node edges with DECIMAL weights — the oracle
    // replays the matching chain then contracts identically
    ("q_coarsen", (s, dir) =>
      GraphAlgorithms.coarsenByMatching(sparse(s, dir), rounds = 6)
        .orderBy("super_a", "super_b"),
      Some(s"""${matchBody(6)},
sup AS (SELECT n.id, least(n.id, coalesce(p.partner, n.id)) AS snode FROM nodes n LEFT JOIN allp p ON p.id = n.id),
wedges AS (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target, o_totalprice AS w FROM orders WHERE o_orderkey % 10 = 0)
SELECT least(a.snode, b.snode) AS super_a, greatest(a.snode, b.snode) AS super_b,
count(*) AS n_merged, CAST(sum(CAST(e.w AS DECIMAL(18,2))) AS DOUBLE) AS total_weight
FROM wedges e JOIN sup a ON a.id = e.source JOIN sup b ON b.id = e.target
WHERE a.snode <> b.snode GROUP BY 1, 2 ORDER BY 1, 2""")),

    // node2vec biased second-order transitions (p=4, q=2 as scaled integer
    // alphas 1/4/2), hub-capped wedge centers, floored-ppm probabilities
    ("q_node2vec", (s, dir) =>
      GraphAlgorithms.node2vecTransitions(sparse(s, dir), hubCap = 4)
        .orderBy("prev", "cur", "next"),
      Some(s"""$G, sy2 AS (SELECT DISTINCT source, target FROM sym WHERE source <> target),
deg AS (SELECT source AS id, count(*) AS d FROM sy2 GROUP BY 1),
cok AS (SELECT id FROM deg WHERE d <= 4),
e1 AS (SELECT source AS prev, target AS cur FROM sy2 WHERE target IN (SELECT id FROM cok)),
w AS (SELECT e1.prev, e1.cur, e2.target AS next,
CASE WHEN e2.target = e1.prev THEN 1 WHEN pn.source IS NOT NULL THEN 4 ELSE 2 END AS w_q
FROM e1 JOIN sy2 e2 ON e2.source = e1.cur
LEFT JOIN sy2 pn ON pn.source = e1.prev AND pn.target = e2.target),
sm AS (SELECT prev, cur, sum(w_q) AS sw FROM w GROUP BY 1, 2)
SELECT w.prev, w.cur, w.next, CAST(w.w_q AS BIGINT) AS w_q,
CAST(w.w_q * 1000000 // sm.sw AS BIGINT) AS prob_ppm
FROM w JOIN sm ON sm.prev = w.prev AND sm.cur = w.cur ORDER BY 1, 2, 3""")),

    // data-quality audit: referential integrity, key uniqueness, null and
    // domain checks as one long-form result — each check a pushed-down
    // narrow scan, unioned
    ("q_dq_checks", (s, dir) => {
      val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem")
      def chk(name: String, d: DataFrame): DataFrame =
        d.agg(count(lit(1)).as("n_bad")).select(lit(name).as("check_name"), col("n_bad"))
      chk("customer_dup_key",
          c.groupBy("c_custkey").agg(count(lit(1)).as("n")).filter(col("n") > 1))
        .union(chk("lineitem_missing_order",
          li.join(o.select(col("o_orderkey").as("__ok")),
            col("l_orderkey") === col("__ok"), "left_anti")))
        .union(chk("orders_missing_customer",
          o.join(c.select(col("c_custkey").as("__ck")),
            col("o_custkey") === col("__ck"), "left_anti")))
        .union( // the two scalar checks fuse into ONE orders scan
          o.agg(sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("neg"),
              sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nul"))
            .selectExpr("stack(2, 'orders_negative_total', neg, 'orders_null_custkey', nul) AS (check_name, n_bad)"))
        .orderBy("check_name")
    },
      Some("""SELECT 'customer_dup_key' AS check_name, CAST((SELECT count(*) FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)) AS BIGINT) AS n_bad
UNION ALL SELECT 'lineitem_missing_order', (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
UNION ALL SELECT 'orders_missing_customer', (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL SELECT 'orders_negative_total', (SELECT count(*) FROM orders WHERE o_totalprice < 0)
UNION ALL SELECT 'orders_null_custkey', (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
ORDER BY 1""")),

    // greedy maximum-coverage document selection (Nemhauser et al. 1978):
    // the k-step submodular greedy trajectory, every step replayed by the
    // unrolled oracle (argmax tie-break = min doc id)
    ("q_max_coverage", (s, dir) =>
      // trigram coverage units: the synthetic vocabulary is small enough
      // that one document covers every unigram, which would end the greedy
      // after a single pick
      Curation.maxCoverageSelect(docs(s, dir), "doc_id", "text",
        k = 5, shingleLen = 3)
        .orderBy("pick"),
      Some(maxCovSql(5))),

    // temporal train/embargo/test split (the purged-with-embargo split of
    // financial ML, de Prado 2018): boundaries at 70% / 75% of the exact
    // nanosecond time range, all integer arithmetic — the temporal
    // counterpart of the hash/cluster leakage splits
    ("q_temporal_split", (s, dir) => {
      val ev = tbl(s, dir, "events")
      val t = ev.select(tsNanos(ev).as("tn"))
      val b = t.agg(min("tn").as("lo"), max("tn").as("hi"))
      t.crossJoin(broadcast(b))
        .withColumn("split",
          when(col("tn") < col("lo") + expr("(hi - lo) * 7 div 10"), "train")
            .when(col("tn") < col("lo") + expr("(hi - lo) * 3 div 4"), "embargo")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          min("tn").as("min_tn"), max("tn").as("max_tn"))
        .orderBy("split")
    },
      Some("""WITH t AS (SELECT epoch_ns(ts) AS tn FROM events),
b AS (SELECT min(tn) AS lo, max(tn) AS hi FROM t),
s AS (SELECT tn, CASE WHEN tn < lo + (hi - lo) * 7 // 10 THEN 'train'
WHEN tn < lo + (hi - lo) * 3 // 4 THEN 'embargo' ELSE 'test' END AS split FROM t, b)
SELECT split, count(*) AS n_events, CAST(min(tn) AS BIGINT) AS min_tn,
CAST(max(tn) AS BIGINT) AS max_tn FROM s GROUP BY 1 ORDER BY 1""")),

    // cell-scoped embedding near-dup: sqrt(n) KMV-seeded cells, exact
    // in-cell verification — the sub-quadratic (n^1.5 by construction)
    // sibling of q_embed_neardup's sign-LSH channel; the oracle replays
    // seed choice, assignment argmax, and verification exactly
    ("q_cell_neardup", (s, dir) =>
      Similarity.cellScopedNearDupPairs(emb(s, dir), "vec_id", "embedding", 0.4)
        .orderBy("id_a", "id_b"),
      Some(s"""$EMB_U,
nr AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
${cellCtes()},
dots AS (SELECT c.ia, c.ib, sum(x1.x * x2.x) AS d FROM ecand c JOIN u x1 ON x1.vec_id = c.ia JOIN u x2 ON x2.vec_id = c.ib AND x2.i = x1.i GROUP BY 1, 2)
SELECT ia AS id_a, ib AS id_b,
round(CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))), 6) AS sim
FROM dots JOIN nr na ON na.vec_id = ia JOIN nr nb ON nb.vec_id = ib
WHERE CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.4
ORDER BY 1, 2""")),

    // recall audit for the cell-scoped channel: found / exact pairs at
    // cosine >= 0.4 — the embedding analogue of q_blocking_recall, keeping
    // the n^1.5 channel's recall tradeoff measured and gated rather than
    // asserted. Denominator is the ANCHORED exact pair set
    // (cosineNearDupPairsAnchored: O(anchors * n)), so the audit itself
    // can never be the scale-killer it is guarding against
    ("q_cell_recall", (s, dir) => {
      // two agg consumers (denominator + found) — materialize once
      val exact = Similarity.cosineNearDupPairsAnchored(emb(s, dir), "vec_id",
        "embedding", 0.4, AnchorCap).select("id_a", "id_b")
        .localCheckpointCapped()
      val cell = Similarity.cellScopedNearDupPairs(emb(s, dir), "vec_id",
        "embedding", 0.4).select("id_a", "id_b")
      val found = exact.join(cell, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select(col("n_exact"), col("n_found"),
          when(col("n_exact") > 0, expr("n_found * 1000000 div n_exact"))
            .otherwise(0L).as("recall_ppm"))
    },
      Some(s"""${EMB_U.replace("WITH u AS", "WITH u AS MATERIALIZED")},
nr AS MATERIALIZED (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
$ANCHORED_NEARDUP_CTES,
${cellCtes()},
cdots AS (SELECT c.ia, c.ib, sum(x1.x * x2.x) AS d FROM ecand c JOIN u x1 ON x1.vec_id = c.ia JOIN u x2 ON x2.vec_id = c.ib AND x2.i = x1.i GROUP BY 1, 2),
cp AS (SELECT ia, ib FROM cdots JOIN nr na ON na.vec_id = ia JOIN nr nb ON nb.vec_id = ib
WHERE CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.4),
fnd AS MATERIALIZED (SELECT ex.ia, ex.ib FROM ex JOIN cp ON cp.ia = ex.ia AND cp.ib = ex.ib)
SELECT (SELECT count(*) FROM ex) AS n_exact, (SELECT count(*) FROM fnd) AS n_found,
CASE WHEN (SELECT count(*) FROM ex) > 0 THEN (SELECT count(*) FROM fnd) * 1000000 // (SELECT count(*) FROM ex) ELSE 0 END AS recall_ppm""")),

    // DPO/RLHF-style preference-pair assembly: within each near-dup
    // cluster, the best-quality member becomes `chosen` and every other
    // member a `rejected` counterpart with its quality margin — the
    // standard recipe for turning dedup clusters into preference data.
    // Composes the LSH cluster machinery with the keep-best ranking; the
    // pair space is cluster-internal (one row per non-best member), never
    // cross-cluster
    ("q_pref_pairs", (s, dir) => {
      val clusters = Dedup.nearDupClustersFromSignatures(docs(s, dir), "doc_id",
        docSignatures(s, dir), 0.5, 16, 4)
      val quality = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("q"))
      val j = clusters.join(quality, Seq("doc_id"))
      val best = j.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("cluster_rep").orderBy(desc("q"), asc("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("cluster_rep"), col("doc_id").as("chosen_id"),
          col("q").as("qc"))
      j.join(best, Seq("cluster_rep"))
        .filter(col("doc_id") =!= col("chosen_id"))
        .select(col("cluster_rep"), col("chosen_id"),
          col("doc_id").as("rejected_id"), (col("qc") - col("q")).as("margin"))
        .orderBy("cluster_rep", "rejected_id")
    },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2),
b AS (SELECT doc_id AS id, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2),
cand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
pe AS (SELECT c.ia, c.ib, CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS ej
FROM cand c JOIN sig sa ON sa.doc_id = c.ia JOIN sig sb ON sb.doc_id = c.ib AND sb.h = sa.h GROUP BY 1,2),
e AS (SELECT ia, ib FROM pe WHERE ej >= 0.5),
sym2 AS (SELECT ia AS s, ib AS tt FROM e UNION SELECT ib, ia FROM e),
reach(id, r) AS (SELECT doc_id, doc_id FROM documents UNION SELECT reach.id, s2.tt FROM reach JOIN sym2 s2 ON s2.s = reach.r),
cl AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1),
ql AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS q FROM documents),
j AS (SELECT cl.doc_id, cl.cluster_rep, ql.q FROM cl JOIN ql ON ql.doc_id = cl.doc_id),
best AS (SELECT cluster_rep, doc_id AS chosen_id, q AS qc FROM (SELECT cluster_rep, doc_id, q, row_number() OVER (PARTITION BY cluster_rep ORDER BY q DESC, doc_id) AS rn FROM j) WHERE rn = 1)
SELECT j.cluster_rep, best.chosen_id, j.doc_id AS rejected_id, best.qc - j.q AS margin
FROM j JOIN best ON best.cluster_rep = j.cluster_rep
WHERE j.doc_id <> best.chosen_id ORDER BY 1, 3"""))
  )

  /** Unrolled MMR oracle: relevance pool, pool-pairwise quantized cosines,
    * then one CTE per greedy step (max-sim against the selected set,
    * rel - maxsim argmax with id tie-break) — mirrors Similarity.mmrSelect
    * step for step. */
  private def mmrSql(queryId: Long, pool: Int, k: Int): String = {
    val steps = (2 to k).map { i =>
      val p = i - 1
      s"""ms$i AS (SELECT ia AS id, max(sim_q) AS ms FROM pp WHERE ib IN (SELECT id FROM all$p) GROUP BY 1),
sel$i AS MATERIALIZED (SELECT p.id, p.rel_q, $i AS pick FROM pool p JOIN ms$i m ON m.id = p.id
WHERE p.id NOT IN (SELECT id FROM all$p) ORDER BY p.rel_q - m.ms DESC, p.id LIMIT 1),
all$i AS MATERIALIZED (SELECT id, rel_q, pick FROM all$p UNION ALL SELECT id, rel_q, pick FROM sel$i)"""
    }.mkString(",\n")
    s"""$EMB_U,
norms AS MATERIALIZED (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
relx AS (SELECT c.vec_id AS id, sum(c.x * q.x) AS d FROM u c JOIN (SELECT i, x FROM u WHERE vec_id = $queryId) q USING (i) WHERE c.vec_id <> $queryId GROUP BY 1),
rel AS (SELECT relx.id, CAST(floor(CAST(d AS DOUBLE) / (sqrt(CAST(nn AS DOUBLE)) * sqrt(CAST((SELECT nn FROM norms WHERE vec_id = $queryId) AS DOUBLE))) * 1000000) AS BIGINT) AS rel_q FROM relx JOIN norms ON norms.vec_id = relx.id),
pool AS MATERIALIZED (SELECT id, rel_q FROM rel ORDER BY rel_q DESC, id LIMIT $pool),
ppd AS (SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.x * b.x) AS d FROM u a JOIN u b USING (i) WHERE a.vec_id IN (SELECT id FROM pool) AND b.vec_id IN (SELECT id FROM pool) AND a.vec_id <> b.vec_id GROUP BY 1, 2),
pp AS MATERIALIZED (SELECT ia, ib, CAST(floor(CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) * 1000000) AS BIGINT) AS sim_q FROM ppd JOIN norms na ON na.vec_id = ia JOIN norms nb ON nb.vec_id = ib),
sel1 AS (SELECT id, rel_q, 1 AS pick FROM pool ORDER BY rel_q DESC, id LIMIT 1),
all1 AS (SELECT id, rel_q, pick FROM sel1),
$steps
SELECT id, rel_q, CAST(pick AS INT) AS pick FROM all$k ORDER BY pick"""
  }

  /** Unrolled greedy max-coverage oracle: step 1 is the global distinct-
    * token argmax; each later step counts gains over tokens not yet
    * covered and re-argmaxes (ties: min id) — mirrors
    * Curation.maxCoverageSelect step for step; a picked document has no
    * remaining tokens, so it can never win twice.
    */
  private def maxCovSql(k: Int): String = {
    val steps = (2 to k).map { i =>
      val p = i - 1
      s"""rem$i AS MATERIALIZED (SELECT id, tok FROM tok WHERE tok NOT IN (SELECT tok FROM cov$p)),
sel$i AS MATERIALIZED (SELECT id, count(*) AS gain FROM rem$i GROUP BY 1 ORDER BY gain DESC, id LIMIT 1),
cov$i AS MATERIALIZED (SELECT tok FROM cov$p UNION SELECT tok FROM tok WHERE id IN (SELECT id FROM sel$i))"""
    }.mkString(",\n")
    val unions = (1 to k).map(i => s"SELECT $i AS pick, id, gain FROM sel$i")
      .mkString(" UNION ALL ")
    s"""WITH tok AS MATERIALIZED (SELECT DISTINCT doc_id AS id, t AS tok FROM (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS t FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)) WHERE len(t) > 0),
sel1 AS MATERIALIZED (SELECT id, count(*) AS gain FROM tok GROUP BY 1 ORDER BY gain DESC, id LIMIT 1),
cov1 AS MATERIALIZED (SELECT DISTINCT tok FROM tok WHERE id IN (SELECT id FROM sel1)),
$steps
SELECT CAST(pick AS INT) AS pick, id, gain,
CAST(sum(gain) OVER (ORDER BY pick) AS BIGINT) AS covered
FROM ($unions) ORDER BY pick"""
  }

  /** Shared BM25 oracle body: rational-k1/b scoring over the fixed query
    * term set, HUGEINT-exact — mirrors TextAnalysis.bm25TopK term for term. */
  private val BM25_BODY =
    """WITH bm_base AS (SELECT doc_id, len(string_split(text, ' ')) AS dl, string_split(text, ' ') AS l FROM documents),
bm_stats AS (SELECT count(*) AS n_docs, sum(dl) AS sumdl FROM bm_base),
bm_tf AS (SELECT doc_id, dl, tok AS token, count(*) AS tf FROM (SELECT doc_id, dl, unnest(l) AS tok FROM bm_base) WHERE tok IN ('spark', 'merge', 'stream') GROUP BY 1, 2, 3),
bm_df AS (SELECT token, count(*) AS df FROM bm_tf GROUP BY 1),
bm_c AS (SELECT doc_id, (CAST(n_docs * 1000000 // df AS HUGEINT) * tf * 44 * sumdl) // (CAST(20 AS HUGEINT) * sumdl * tf + 6 * sumdl + 18 * dl * n_docs) AS contrib
FROM bm_tf JOIN bm_df USING (token) CROSS JOIN bm_stats),
bm_agg AS (SELECT doc_id, count(*) AS n_hits, sum(contrib) AS score_q FROM bm_c GROUP BY 1)"""

  /** Unrolled weighted-k-core oracle: per round, in-core strengths over the
    * surviving set, then the threshold filter — mirrors
    * GraphAlgorithms.weightedKCore round for round, with the final
    * strengths re-derived within the converged core.
    */
  private def wkcoreSql(thresholdQ: Long, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT source AS id, sum(wq) AS st FROM syw WHERE source IN (SELECT id FROM r${i - 1}) AND target IN (SELECT id FROM r${i - 1}) GROUP BY 1),
r$i AS MATERIALIZED (SELECT id FROM d$i WHERE st >= $thresholdQ)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target, CAST(floor(o_totalprice * 100) AS BIGINT) AS wq FROM orders WHERE o_orderkey % 10 = 0),
syw AS MATERIALIZED (SELECT source, target, sum(wq) AS wq FROM (SELECT source, target, wq FROM se UNION ALL SELECT target, source, wq FROM se) WHERE source <> target GROUP BY 1, 2),
r0 AS MATERIALIZED (SELECT id FROM nodes),
$steps
SELECT source AS id, CAST(sum(wq) AS BIGINT) AS strength_q FROM syw
WHERE source IN (SELECT id FROM r$rounds) AND target IN (SELECT id FROM r$rounds)
GROUP BY 1 ORDER BY 1"""
  }

  /** Unrolled Borůvka oracle: per round, every component's lightest
    * incident inter-component edge by the global tie-break (wq, u, v),
    * then components recomputed as connected components of the accumulated
    * forest (a recursive reach per round — node-level contraction, exactly
    * what GraphAlgorithms.minimumSpanningForest's component-level fixpoint
    * computes). Components at least double in size per round, so `rounds`
    * >= log2(largest tree) replays to convergence; later rounds select
    * nothing and are no-ops. Validated against an independent Kruskal.
    */
  /** Shared ANF oracle body: 8-trial KMV sketches propagated 3 rounds over
    * the symmetrized sparse graph (mirrors
    * `GraphAlgorithms.neighborhoodFunction`); exposes `anf(id, k, kmv_sum)`.
    */
  private val anfSql =
    s"""$G, tr AS (SELECT unnest(generate_series(0, 7)) AS t),
und AS MATERIALIZED (SELECT DISTINCT source, target FROM sym WHERE source <> target),
s0 AS MATERIALIZED (SELECT id, t, CAST(concat('0x', substr(md5(CAST(id AS VARCHAR) || ':' || CAST(t AS VARCHAR)), 1, 8)) AS BIGINT) AS m FROM nodes, tr),
s1 AS MATERIALIZED (SELECT id, t, min(m) AS m FROM (SELECT * FROM s0 UNION ALL SELECT e.source AS id, x.t, x.m FROM und e JOIN s0 x ON x.id = e.target) GROUP BY 1, 2),
s2 AS MATERIALIZED (SELECT id, t, min(m) AS m FROM (SELECT * FROM s1 UNION ALL SELECT e.source AS id, x.t, x.m FROM und e JOIN s1 x ON x.id = e.target) GROUP BY 1, 2),
s3 AS MATERIALIZED (SELECT id, t, min(m) AS m FROM (SELECT * FROM s2 UNION ALL SELECT e.source AS id, x.t, x.m FROM und e JOIN s2 x ON x.id = e.target) GROUP BY 1, 2),
anf AS (
SELECT id, CAST(1 AS BIGINT) AS k, CAST(sum(m) AS BIGINT) AS kmv_sum FROM s1 GROUP BY 1
UNION ALL SELECT id, CAST(2 AS BIGINT), CAST(sum(m) AS BIGINT) FROM s2 GROUP BY 1
UNION ALL SELECT id, CAST(3 AS BIGINT), CAST(sum(m) AS BIGINT) FROM s3 GROUP BY 1)"""

  private def mstSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      val p = i - 1
      s"""e$i AS MATERIALIZED (SELECT c.u, c.v, c.wq, la.lab AS cu, lb.lab AS cv FROM canon c JOIN lab$p la ON la.id = c.u JOIN lab$p lb ON lb.id = c.v WHERE la.lab <> lb.lab),
inc$i AS (SELECT cu AS c, wq, u, v FROM e$i UNION ALL SELECT cv, wq, u, v FROM e$i),
sel$i AS MATERIALIZED (SELECT DISTINCT wq, u, v FROM (SELECT c, wq, u, v, row_number() OVER (PARTITION BY c ORDER BY wq, u, v) AS rn FROM inc$i) WHERE rn = 1),
mst$i AS MATERIALIZED (SELECT u, v, wq FROM mst$p UNION SELECT u, v, wq FROM sel$i),
fsym$i AS (SELECT u AS s, v AS t FROM mst$i UNION SELECT v, u FROM mst$i),
f$i(id, r) AS (SELECT id, id FROM nodes UNION SELECT f$i.id, y.t FROM f$i JOIN fsym$i y ON y.s = f$i.r),
lab$i AS MATERIALIZED (SELECT id, min(r) AS lab FROM f$i GROUP BY 1)"""
    }.mkString(",\n")
    s"""WITH RECURSIVE nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
canon AS MATERIALIZED (SELECT least(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS u,
greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS v,
min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS wq
FROM orders WHERE o_orderkey % 10 = 0 AND o_custkey <> o_orderkey % (SELECT count(*) FROM customer) GROUP BY 1, 2),
mst0 AS (SELECT u, v, wq FROM canon WHERE 1 = 0),
lab0 AS (SELECT id, id AS lab FROM nodes),
$steps
SELECT count(*) AS n_edges, CAST(sum(wq) AS BIGINT) AS total_wq FROM mst$rounds"""
  }

  /** Unrolled WL-refinement oracle: per round, the sorted neighbor-label
    * multiset is string-aggregated and re-hashed — mirrors
    * GraphAlgorithms.wlRefinement round for round (md5 hex labels sort
    * identically in both engines: plain ASCII, binary collation).
    */
  private def wlSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""n$i AS MATERIALIZED (SELECT s.target AS id, string_agg(l.wl, '|' ORDER BY l.wl) AS nbl FROM symd s JOIN l${i - 1} l ON l.id = s.source GROUP BY 1),
l$i AS MATERIALIZED (SELECT l.id, md5(l.wl || ':' || COALESCE(n.nbl, '')) AS wl FROM l${i - 1} l LEFT JOIN n$i n ON n.id = l.id)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
symd AS MATERIALIZED (SELECT DISTINCT source, target FROM (SELECT source, target FROM se UNION ALL SELECT target, source FROM se) WHERE source <> target),
l0 AS MATERIALIZED (SELECT id, '0' AS wl FROM nodes),
$steps
SELECT id, wl FROM l$rounds ORDER BY 1"""
  }

  /** DuckDB mirror of GraphAlgorithms.boundedHitting: quantized ppm
    * absorbing-walk DP over the distinct directed sparse edges, unrolled;
    * every CTE MATERIALIZED (see spectralSql for why).
    */
  private def hittingSql(rounds: Int): String = {
    val tgt = s"%s %% $HIT_TARGET_MOD = 0"
    val steps = (1 to rounds).map { i =>
      s"""m$i AS MATERIALIZED (SELECT e.source AS id, sum(p.p) AS sp FROM de e JOIN p${i - 1} p ON p.id = e.target GROUP BY 1),
p$i AS MATERIALIZED (SELECT n.id, CAST(CASE WHEN ${tgt.format("n.id")} THEN 1000000 ELSE coalesce(m.sp // d.d, 0) END AS BIGINT) AS p
FROM nodes n LEFT JOIN m$i m ON m.id = n.id LEFT JOIN dg d ON d.id = n.id)"""
    }.mkString(",\n")
    // composes the shared $G prelude (same nodes/sedges definitions as
    // graph()/sparse()) instead of restating them, so a change to the
    // shared graph definition cannot decouple this oracle from its query;
    // the target predicate derives from the one HIT_TARGET_MOD constant
    // referenced by both sides
    s"""$G,
de AS MATERIALIZED (SELECT DISTINCT source, target FROM sedges WHERE source <> target),
dg AS MATERIALIZED (SELECT source AS id, count(*) AS d FROM de GROUP BY 1),
p0 AS MATERIALIZED (SELECT id, CAST(CASE WHEN ${tgt.format("id")} THEN 1000000 ELSE 0 END AS BIGINT) AS p FROM nodes),
$steps
SELECT id, p AS hit_ppm FROM p$rounds ORDER BY 1"""
  }

  /** DuckDB mirror of GraphAlgorithms.sortSpectral at fixed iteration count:
    * quantized long-cent weights, decimal-exact matvec, max-renormalization
    * via integral division — every step integer-exact, so the unrolled CTE
    * chain reproduces Spark's scores bit-for-bit.
    */
  private def spectralSql(iters: Int): String = {
    // every CTE is MATERIALIZED: each step references the previous one two
    // or three times, so plain (inlined) CTEs would blow up exponentially
    // in the chain depth — materialization keeps the plan linear
    val steps = (1 to iters).map { i =>
      s"""m$i AS MATERIALIZED (SELECT w.source AS id, sum(w.wq * v.qs) AS ms FROM wsym w JOIN v${i - 1} v ON v.id = w.target GROUP BY 1),
f$i AS MATERIALIZED (SELECT n.id, COALESCE(m.ms, 0) AS ms FROM nodes n LEFT JOIN m$i m ON n.id = m.id),
v$i AS MATERIALIZED (SELECT id, CAST(COALESCE(ms * 1000000 // NULLIF((SELECT max(ms) FROM f$i), 0), 0) AS BIGINT) AS qs FROM f$i)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
sedges AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target, o_totalprice AS weight FROM orders WHERE o_orderkey % 10 = 0),
wsym AS MATERIALIZED (SELECT source, target, CAST(sum(CAST(weight AS DECIMAL(18,2))) * 100 AS BIGINT) AS wq FROM (SELECT source, target, weight FROM sedges UNION ALL SELECT target, source, weight FROM sedges) GROUP BY 1,2),
v0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS qs FROM nodes),
$steps
SELECT n.id, v.qs AS score FROM nodes n JOIN v$iters v ON n.id = v.id ORDER BY 1"""
  }

  /** DuckDB mirror of GraphAlgorithms.pageRank: same quantized-integer
    * iteration, unrolled; every CTE MATERIALIZED (see spectralSql).
    */
  /** Unrolled Luby-MIS oracle: per round, undecided nodes draw the same
    * md5-derived unique key, local minima join the set, their undecided
    * neighbors drop out — mirrors GraphAlgorithms.maximalIndependentSet
    * round for round.
    */
  private def misSql(rounds: Int): String = {
    val stepCtes = (1 to rounds).map { i =>
      s"""ky$i AS MATERIALIZED (SELECT id, md5(CAST(id AS VARCHAR) || ':$i') || '-' || lpad(CAST(id AS VARCHAR), 20, '0') AS k FROM u${i - 1}),
nm$i AS MATERIALIZED (SELECT e.target AS id, min(k.k) AS mnk FROM sy e JOIN ky$i k ON k.id = e.source JOIN u${i - 1} ut ON ut.id = e.target GROUP BY 1),
mi$i AS MATERIALIZED (SELECT k.id FROM ky$i k LEFT JOIN nm$i n ON n.id = k.id WHERE n.mnk IS NULL OR k.k < n.mnk),
mo$i AS MATERIALIZED (SELECT DISTINCT e.target AS id FROM sy e JOIN mi$i m ON m.id = e.source JOIN u${i - 1} ut ON ut.id = e.target WHERE e.target NOT IN (SELECT id FROM mi$i)),
u$i AS MATERIALIZED (SELECT id FROM u${i - 1} WHERE id NOT IN (SELECT id FROM mi$i) AND id NOT IN (SELECT id FROM mo$i))"""
    }.mkString(",\n")
    val unions = (1 to rounds).map(i =>
      s"""SELECT id, 'in' AS status, $i AS decided_round FROM mi$i
UNION ALL SELECT id, 'out', $i FROM mo$i""").mkString("\nUNION ALL ")
    s"""WITH se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
sy AS MATERIALIZED (SELECT DISTINCT source, target FROM (SELECT source, target FROM se UNION ALL SELECT target, source FROM se) WHERE source <> target),
u0 AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
$stepCtes
$unions
UNION ALL SELECT id, 'undecided', CAST(NULL AS INT) FROM u$rounds
ORDER BY 1"""
  }

  /** Unrolled k-truss oracle: each round recomputes triangle support over
    * the surviving canonical edges and peels below-threshold edges —
    * mirrors GraphAlgorithms.kTruss round for round.
    */
  private def kTrussSql(k: Int, rounds: Int): String = {
    val km2 = k - 2
    def triSup(i: String, prev: String) =
      s"""tri$i AS MATERIALIZED (SELECT ab.s AS a, ab.t AS b, bc.t AS c FROM $prev ab JOIN $prev bc ON ab.t = bc.s JOIN $prev ac ON ac.s = ab.s AND ac.t = bc.t),
sup$i AS MATERIALIZED (SELECT s, t, count(*) AS sup FROM (SELECT a AS s, b AS t FROM tri$i UNION ALL SELECT b, c FROM tri$i UNION ALL SELECT a, c FROM tri$i) GROUP BY 1, 2)"""
    val stepCtes = (1 to rounds).map { i =>
      triSup(i.toString, s"ce${i - 1}") + s""",
ce$i AS MATERIALIZED (SELECT e.s, e.t FROM ce${i - 1} e LEFT JOIN sup$i x ON x.s = e.s AND x.t = e.t WHERE COALESCE(x.sup, 0) >= $km2)"""
    }.mkString(",\n")
    s"""WITH se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
ce0 AS MATERIALIZED (SELECT DISTINCT least(source, target) AS s, greatest(source, target) AS t FROM se WHERE source <> target),
$stepCtes,
${triSup("f", s"ce$rounds")}
SELECT e.s, e.t, CAST(COALESCE(x.sup, 0) AS BIGINT) AS support
FROM ce$rounds e LEFT JOIN supf x ON x.s = e.s AND x.t = e.t ORDER BY 1, 2"""
  }

  /** Unrolled weighted-walk oracle: w{i} draws the same md5 value and lands
    * in the neighbor whose cumulative-weight range contains it — mirrors
    * GraphAlgorithms.weightedRandomWalks hop for hop (exactly one cw row
    * matches each draw, so the max() is that row's target).
    */
  private def wwalksSql(steps: Int): String = {
    val stepCtes = (1 to steps).map { i =>
      val r = s"CAST(concat('0x', substr(md5(concat(CAST(w.walk_id AS VARCHAR), ':', '$i')), 1, 8)) AS BIGINT)"
      s"""w$i AS MATERIALIZED (SELECT w.walk_id, COALESCE(max(cw.target), w.cur) AS cur
FROM w${i - 1} w
LEFT JOIN tot ON tot.source = w.cur
LEFT JOIN cw ON cw.source = w.cur AND $r % tot.tot >= cw.c - cw.wq AND $r % tot.tot < cw.c
GROUP BY w.walk_id, w.cur)"""
    }.mkString(",\n")
    val unions = (0 to steps).map(i =>
      s"SELECT walk_id, $i AS step, cur AS node FROM w$i").mkString("\nUNION ALL ")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target, CAST(floor(o_totalprice * 100) AS BIGINT) AS wq FROM orders WHERE o_orderkey % 10 = 0),
sws AS MATERIALIZED (SELECT source, target, sum(wq) AS wq FROM (SELECT source, target, wq FROM se UNION ALL SELECT target, source, wq FROM se) WHERE source <> target GROUP BY 1, 2),
awf AS MATERIALIZED (SELECT source, target, wq FROM sws WHERE wq > 0),
cw AS MATERIALIZED (SELECT source, target, wq, sum(wq) OVER (PARTITION BY source ORDER BY target) AS c FROM awf),
tot AS MATERIALIZED (SELECT source, sum(wq) AS tot FROM awf GROUP BY 1),
w0 AS MATERIALIZED (SELECT id AS walk_id, id AS cur FROM nodes),
$stepCtes
$unions
ORDER BY 1, 2"""
  }

  /** Unrolled HITS oracle: av{i}/hv{i} mirror GraphAlgorithms.hits pass for
    * pass (authority pull, max renorm, hub pull, max renorm — all integral).
    */
  private def hitsSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.target AS id, sum(h.q) AS s FROM de e JOIN hv${i - 1} h ON h.id = e.source GROUP BY 1),
av$i AS MATERIALIZED (SELECT n.id, CAST(COALESCE(ar.s, 0) * 1000000 // (SELECT max(s) FROM ar$i) AS BIGINT) AS q FROM nodes n LEFT JOIN ar$i ar ON ar.id = n.id),
hr$i AS MATERIALIZED (SELECT e.source AS id, sum(a.q) AS s FROM de e JOIN av$i a ON a.id = e.target GROUP BY 1),
hv$i AS MATERIALIZED (SELECT n.id, CAST(COALESCE(hr.s, 0) * 1000000 // (SELECT max(s) FROM hr$i) AS BIGINT) AS q FROM nodes n LEFT JOIN hr$i hr ON hr.id = n.id)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
de AS MATERIALIZED (SELECT DISTINCT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
hv0 AS MATERIALIZED (SELECT id, 1000000 AS q FROM nodes),
$steps
SELECT n.id, h.q AS hub_q, a.q AS auth_q FROM nodes n JOIN hv$iters h ON h.id = n.id JOIN av$iters a ON a.id = n.id ORDER BY 1"""
  }

  /** Unrolled mass-conserving PageRank oracle: pagerankSql plus a per-round
    * dangling-mass sum redistributed as an exact integral per-node share.
    */
  private def prcSql(iters: Int, damping: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""dg$i AS MATERIALIZED (SELECT COALESCE(sum(v.qs), 0) AS dang FROM v${i - 1} v LEFT JOIN od o ON o.source = v.id WHERE o.source IS NULL),
c$i AS MATERIALIZED (SELECT e.target AS id, sum(v.qs // o.od) AS m FROM de e JOIN v${i - 1} v ON v.id = e.source JOIN od o ON o.source = e.source GROUP BY 1),
v$i AS MATERIALIZED (SELECT n.id, CAST((${100 - damping} * (SELECT base FROM params) + $damping * (COALESCE(c.m, 0) + (SELECT dang FROM dg$i) // (SELECT count(*) FROM nodes))) // 100 AS BIGINT) AS qs FROM nodes n LEFT JOIN c$i c ON n.id = c.id)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
de AS MATERIALIZED (SELECT DISTINCT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
od AS MATERIALIZED (SELECT source, count(*) AS od FROM de GROUP BY 1),
params AS MATERIALIZED (SELECT 1000000000000 // count(*) AS base FROM nodes),
v0 AS MATERIALIZED (SELECT id, CAST((SELECT base FROM params) AS BIGINT) AS qs FROM nodes),
$steps
SELECT n.id, v.qs AS prc_q FROM nodes n JOIN v$iters v ON n.id = v.id ORDER BY 1"""
  }

  /** Unrolled Katz-centrality oracle: v{i} = base + (alphaNum * received)
    * DIV alphaDen, mirroring GraphAlgorithms.katzCentrality round for round.
    */
  private def katzSql(iters: Int, alphaNum: Int, alphaDen: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.target AS id, sum(v.qs) AS m FROM de e JOIN v${i - 1} v ON v.id = e.source GROUP BY 1),
v$i AS MATERIALIZED (SELECT n.id, CAST(1000000 + ($alphaNum * COALESCE(c.m, 0)) // $alphaDen AS BIGINT) AS qs FROM nodes n LEFT JOIN c$i c ON n.id = c.id)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
de AS MATERIALIZED (SELECT DISTINCT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
v0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS qs FROM nodes),
$steps
SELECT n.id, v.qs AS katz_q FROM nodes n JOIN v$iters v ON n.id = v.id ORDER BY 1"""
  }

  private def pagerankSql(iters: Int, damping: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.target AS id, sum(v.qs // o.od) AS m FROM de e JOIN v${i - 1} v ON v.id = e.source JOIN od o ON o.source = e.source GROUP BY 1),
v$i AS MATERIALIZED (SELECT n.id, CAST((${100 - damping} * (SELECT base FROM params) + $damping * COALESCE(c.m, 0)) // 100 AS BIGINT) AS qs FROM nodes n LEFT JOIN c$i c ON n.id = c.id)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
de AS MATERIALIZED (SELECT DISTINCT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
od AS MATERIALIZED (SELECT source, count(*) AS od FROM de GROUP BY 1),
params AS MATERIALIZED (SELECT 1000000000000 // count(*) AS base FROM nodes),
v0 AS MATERIALIZED (SELECT id, CAST((SELECT base FROM params) AS BIGINT) AS qs FROM nodes),
$steps
SELECT n.id, v.qs AS pr_q FROM nodes n JOIN v$iters v ON n.id = v.id ORDER BY 1"""
  }

  /** Unrolled deterministic-walk oracle: w{i} moves each walk to the
    * md5(walk ":" i) mod deg neighbor in the target-sorted adjacency;
    * mirrors GraphAlgorithms.randomWalks hop for hop.
    */
  private def walksBody(steps: Int): String = {
    val stepCtes = (1 to steps).map { i =>
      s"""w$i AS MATERIALIZED (SELECT w.walk_id, COALESCE(a.target, w.cur) AS cur
FROM w${i - 1} w
LEFT JOIN dg ON dg.source = w.cur
LEFT JOIN adj a ON a.source = w.cur AND a.nidx = CAST(concat('0x', substr(md5(concat(CAST(w.walk_id AS VARCHAR), ':', '$i')), 1, 8)) AS BIGINT) % dg.deg)"""
    }.mkString(",\n")
    val unions = (0 to steps).map(i =>
      s"SELECT walk_id, $i AS step, cur AS node FROM w$i").mkString("\nUNION ALL ")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
symd AS MATERIALIZED (SELECT DISTINCT source, target FROM (SELECT source, target FROM se UNION ALL SELECT target, source FROM se) WHERE source <> target),
adj AS MATERIALIZED (SELECT source, target, row_number() OVER (PARTITION BY source ORDER BY target) - 1 AS nidx FROM symd),
dg AS MATERIALIZED (SELECT source, count(*) AS deg FROM symd GROUP BY 1),
w0 AS MATERIALIZED (SELECT id AS walk_id, id AS cur FROM nodes),
$stepCtes,
wk AS MATERIALIZED ($unions)"""
  }

  private def walksSql(steps: Int): String =
    s"""${walksBody(steps)}
SELECT walk_id, CAST(step AS INT) AS step, node FROM wk ORDER BY 1, 2"""

  /** Skip-gram context pairs off the replayed walk corpus. */
  private def skipgramSql(steps: Int, window: Int): String =
    s"""${walksBody(steps)}
SELECT a.node AS center, b.node AS context, count(*) AS n
FROM wk a JOIN wk b ON a.walk_id = b.walk_id AND a.step <> b.step
AND abs(a.step - b.step) <= $window AND a.node <> b.node
GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Unrolled weighted-PageRank oracle: contributions are
    * qs * wq DIV wout in HUGEINT (the qs*wq product overflows BIGINT);
    * mirrors GraphAlgorithms.pageRankWeighted round for round.
    */
  private def wprSql(iters: Int, damping: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.target AS id, sum(CAST(v.qs AS HUGEINT) * e.wq // w.wt) AS m FROM we e JOIN v${i - 1} v ON v.id = e.source JOIN wo w ON w.source = e.source GROUP BY 1),
v$i AS MATERIALIZED (SELECT n.id, CAST((${100 - damping} * (SELECT base FROM params) + $damping * COALESCE(c.m, 0)) // 100 AS BIGINT) AS qs FROM nodes n LEFT JOIN c$i c ON n.id = c.id)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
we AS MATERIALIZED (SELECT source, target, sum(wq) AS wq FROM (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target, CAST(floor(o_totalprice * 100) AS BIGINT) AS wq FROM orders WHERE o_orderkey % 10 = 0) GROUP BY 1,2 HAVING sum(wq) > 0),
wo AS MATERIALIZED (SELECT source, sum(wq) AS wt FROM we GROUP BY 1),
params AS MATERIALIZED (SELECT 1000000000000 // count(*) AS base FROM nodes),
v0 AS MATERIALIZED (SELECT id, CAST((SELECT base FROM params) AS BIGINT) AS qs FROM nodes),
$steps
SELECT n.id, v.qs AS wpr_q FROM nodes n JOIN v$iters v ON n.id = v.id ORDER BY 1"""
  }

  /** Unrolled personalized-PageRank oracle: pagerankSql with the uniform
    * base replaced by an all-mass-at-seed teleport vector; mirrors
    * GraphAlgorithms.personalizedPageRank round for round.
    */
  private def pprSql(seed: Long, iters: Int, damping: Int): String = {
    val hold = (100L - damping) * 1000000000000L
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.target AS id, sum(v.qs // o.od) AS m FROM de e JOIN v${i - 1} v ON v.id = e.source JOIN od o ON o.source = e.source GROUP BY 1),
v$i AS MATERIALIZED (SELECT n.id, CAST((CASE WHEN n.id = $seed THEN $hold ELSE 0 END + $damping * COALESCE(c.m, 0)) // 100 AS BIGINT) AS qs FROM nodes n LEFT JOIN c$i c ON n.id = c.id)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
de AS MATERIALIZED (SELECT DISTINCT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
od AS MATERIALIZED (SELECT source, count(*) AS od FROM de GROUP BY 1),
v0 AS MATERIALIZED (SELECT id, CAST(CASE WHEN id = $seed THEN 1000000000000 ELSE 0 END AS BIGINT) AS qs FROM nodes),
$steps
SELECT n.id, v.qs AS ppr_q FROM nodes n JOIN v$iters v ON n.id = v.id ORDER BY 1"""
  }

  /** Unrolled sampled-betweenness oracle: min-distance levels from a
    * bounded recursive BFS, sigma (shortest-path counts) unrolled forward
    * level by level, quantized deltas unrolled backward — mirrors
    * GraphAlgorithms.betweennessSampled exactly.
    */
  private def betweennessSql(k: Int, maxDepth: Int): String = {
    val fwd = (1 to maxDepth).map { d =>
      s"""sg$d AS MATERIALIZED (SELECT m.seed, m.id, sum(p.sigma) AS sigma FROM md m JOIN sy e ON e.target = m.id JOIN sg${d - 1} p ON p.seed = m.seed AND p.id = e.source WHERE m.d = $d GROUP BY 1, 2)"""
    }.mkString(",\n")
    val bwd = (maxDepth - 1 to 0 by -1).map { d =>
      s"""bd$d AS MATERIALIZED (SELECT v.seed, v.id,
COALESCE(sum((v.sigma * (1000000 + w.delta)) // w.sigma), 0) AS delta
FROM sg$d v
LEFT JOIN sy e ON e.source = v.id
LEFT JOIN (SELECT bw.seed, bw.id, bw.delta, sw.sigma FROM bd${d + 1} bw JOIN sg${d + 1} sw ON sw.seed = bw.seed AND sw.id = bw.id) w
  ON w.seed = v.seed AND w.id = e.target
GROUP BY 1, 2)"""
    }.mkString(",\n")
    val allb = (0 to maxDepth).map(d => s"SELECT seed, id, delta FROM bd$d")
      .mkString("\nUNION ALL ")
    s"""$G, sy AS (SELECT DISTINCT source, target FROM sym),
seeds AS (SELECT id FROM nodes ORDER BY id LIMIT $k),
bfs(seed, id, d) AS (
  SELECT id, id, 0 FROM seeds
  UNION
  SELECT b.seed, s.target, b.d + 1 FROM bfs b JOIN sy s ON s.source = b.id WHERE b.d < $maxDepth),
md AS (SELECT seed, id, min(d) AS d FROM bfs GROUP BY 1, 2),
sg0 AS MATERIALIZED (SELECT seed, id, CAST(1 AS HUGEINT) AS sigma FROM md WHERE d = 0),
$fwd,
bd$maxDepth AS MATERIALIZED (SELECT seed, id, CAST(0 AS HUGEINT) AS delta FROM sg$maxDepth),
$bwd,
allb AS ($allb)
SELECT n.id, CAST(COALESCE(sum(ab.delta) FILTER (WHERE ab.id <> ab.seed), 0) AS BIGINT) AS btw_q
FROM nodes n LEFT JOIN allb ab ON ab.id = n.id GROUP BY 1 ORDER BY 1"""
  }

  /** Unrolled multi-seed PPR oracle: identical to `pprSql` with the seed
    * test generalized to a set and per-seed mass/hold = the even split.
    */
  private def pprMultiSql(seeds: Seq[Long], iters: Int, damping: Int): String = {
    val s0 = 1000000000000L / seeds.length
    val hold = (100L - damping) * s0
    val inList = seeds.mkString(", ")
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.target AS id, sum(v.qs // o.od) AS m FROM de e JOIN v${i - 1} v ON v.id = e.source JOIN od o ON o.source = e.source GROUP BY 1),
v$i AS MATERIALIZED (SELECT n.id, CAST((CASE WHEN n.id IN ($inList) THEN $hold ELSE 0 END + $damping * COALESCE(c.m, 0)) // 100 AS BIGINT) AS qs FROM nodes n LEFT JOIN c$i c ON n.id = c.id)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
de AS MATERIALIZED (SELECT DISTINCT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
od AS MATERIALIZED (SELECT source, count(*) AS od FROM de GROUP BY 1),
v0 AS MATERIALIZED (SELECT id, CAST(CASE WHEN id IN ($inList) THEN $s0 ELSE 0 END AS BIGINT) AS qs FROM nodes),
$steps
SELECT n.id, v.qs AS pprm_q FROM nodes n JOIN v$iters v ON n.id = v.id ORDER BY 1"""
  }

  /** Unrolled k-core peeling oracle: r{i} = nodes still alive after round i
    * (degree >= k within the subgraph induced by r{i-1}); mirrors
    * GraphAlgorithms.kCore round for round. MATERIALIZED per CTE or DuckDB
    * re-inlines the chain exponentially.
    */
  /** Unrolled synchronized-Louvain oracle: per round, community strength
    * totals, neighbor-community link counts, quantized gains, and the
    * argmax move — mirrors GraphAlgorithms.louvainMoveRound round for
    * round from singleton communities.
    */
  private def louvainSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val p = r - 1
      s"""st$r AS MATERIALIZED (SELECT l.community, sum(COALESCE(d.k, 0)) AS st FROM lab$p l LEFT JOIN deg d ON d.id = l.id GROUP BY 1),
kuc$r AS MATERIALIZED (SELECT s.source AS id, l.community AS c, count(*) AS kuc FROM symd s JOIN lab$p l ON l.id = s.target GROUP BY 1, 2),
base$r AS MATERIALIZED (SELECT k.id, k.c, k.kuc, o.community AS cown, d.k, sc.st AS stc, so.st AS stown, COALESCE(ko.kuc, 0) AS kuown
FROM kuc$r k JOIN lab$p o ON o.id = k.id JOIN deg d ON d.id = k.id
JOIN st$r sc ON sc.community = k.c JOIN st$r so ON so.community = o.community
LEFT JOIN kuc$r ko ON ko.id = k.id AND ko.c = o.community),
best$r AS MATERIALIZED (SELECT id, c FROM (SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY g DESC, c) AS rn FROM (SELECT id, c, (SELECT m2 FROM m2v) * (kuc - kuown) - k * (stc - (stown - k)) AS g FROM base$r WHERE c <> cown) WHERE g > 0) WHERE rn = 1),
lab$r AS MATERIALIZED (SELECT l.id, CASE WHEN b.c IS NOT NULL AND b.c ${if (r % 2 == 1) "<" else ">"} l.community THEN b.c ELSE l.community END AS community FROM lab$p l LEFT JOIN best$r b ON b.id = l.id)"""
    }.mkString(",\n")
    s"""$G, symd AS MATERIALIZED (SELECT DISTINCT source, target FROM (SELECT source, target FROM sedges UNION ALL SELECT target, source FROM sedges) WHERE source <> target),
deg AS MATERIALIZED (SELECT source AS id, count(*) AS k FROM symd GROUP BY 1),
m2v AS MATERIALIZED (SELECT count(*) AS m2 FROM symd),
lab0 AS MATERIALIZED (SELECT id, id AS community FROM nodes),
$steps
SELECT id, community FROM lab$rounds ORDER BY 1"""
  }

  /** Unrolled greedy-coloring oracle: per layer a misSql-style Luby chain
    * over the still-uncolored set, color = layer of MIS admission; mirrors
    * GraphAlgorithms.greedyColoring layer for layer, round for round.
    */
  private def colorSql(layers: Int, rounds: Int): String = {
    val chains = (1 to layers).map { c =>
      val u0 =
        if (c == 1) s"u${c}_0 AS MATERIALIZED (SELECT c_custkey AS id FROM customer)"
        else s"u${c}_0 AS MATERIALIZED (SELECT id FROM u${c - 1}_0 WHERE id NOT IN (SELECT id FROM col${c - 1}))"
      val inner = (1 to rounds).map { i =>
        val p = s"u${c}_${i - 1}"
        s"""ky${c}_$i AS MATERIALIZED (SELECT id, md5(CAST(id AS VARCHAR) || ':$i') || '-' || lpad(CAST(id AS VARCHAR), 20, '0') AS k FROM $p),
nm${c}_$i AS MATERIALIZED (SELECT e.target AS id, min(k.k) AS mnk FROM sy e JOIN ky${c}_$i k ON k.id = e.source JOIN $p ut ON ut.id = e.target GROUP BY 1),
mi${c}_$i AS MATERIALIZED (SELECT k.id FROM ky${c}_$i k LEFT JOIN nm${c}_$i n ON n.id = k.id WHERE n.mnk IS NULL OR k.k < n.mnk),
mo${c}_$i AS MATERIALIZED (SELECT DISTINCT e.target AS id FROM sy e JOIN mi${c}_$i m ON m.id = e.source JOIN $p ut ON ut.id = e.target WHERE e.target NOT IN (SELECT id FROM mi${c}_$i)),
u${c}_$i AS MATERIALIZED (SELECT id FROM $p WHERE id NOT IN (SELECT id FROM mi${c}_$i) AND id NOT IN (SELECT id FROM mo${c}_$i))"""
      }.mkString(",\n")
      val colUnion = (1 to rounds).map(i => s"SELECT id FROM mi${c}_$i")
        .mkString(" UNION ALL ")
      s"$u0,\n$inner,\ncol$c AS MATERIALIZED ($colUnion)"
    }.mkString(",\n")
    val colorUnion = (1 to layers)
      .map(c => s"SELECT id, $c AS color FROM col$c").mkString("\nUNION ALL ")
    s"""WITH se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
sy AS MATERIALIZED (SELECT DISTINCT source, target FROM (SELECT source, target FROM se UNION ALL SELECT target, source FROM se) WHERE source <> target),
$chains,
allc AS MATERIALIZED ($colorUnion)
SELECT n.c_custkey AS id, CAST(COALESCE(a.color, 0) AS BIGINT) AS color
FROM customer n LEFT JOIN allc a ON a.id = n.c_custkey ORDER BY 1"""
  }

  /** Unrolled core-number oracle: per level k an 8-round peel chain warm-
    * started from level k-1's survivors, then max level per node — mirrors
    * GraphAlgorithms.coreNumbers level for level, round for round.
    */
  private def coreSql(maxK: Int, rounds: Int): String = {
    val chains = (1 to maxK).map { k =>
      val prev = if (k == 1) "r0" else s"r${k - 1}_$rounds"
      (1 to rounds).map { i =>
        val from = if (i == 1) prev else s"r${k}_${i - 1}"
        s"""d${k}_$i AS MATERIALIZED (SELECT source AS id, count(*) AS d FROM sy WHERE source IN (SELECT id FROM $from) AND target IN (SELECT id FROM $from) GROUP BY 1),
r${k}_$i AS MATERIALIZED (SELECT id FROM d${k}_$i WHERE d >= $k)"""
      }.mkString(",\n")
    }.mkString(",\n")
    val unions = (1 to maxK)
      .map(k => s"SELECT id, $k AS k FROM r${k}_$rounds")
      .mkString("\nUNION ALL ")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
sy AS MATERIALIZED (SELECT source, target FROM (SELECT source, target FROM se UNION SELECT target, source FROM se) WHERE source <> target),
r0 AS MATERIALIZED (SELECT id FROM nodes),
$chains,
lv AS MATERIALIZED ($unions),
mx AS (SELECT id, max(k) AS core_number FROM lv GROUP BY 1)
SELECT n.id, CAST(COALESCE(mx.core_number, 0) AS BIGINT) AS core_number
FROM nodes n LEFT JOIN mx ON mx.id = n.id ORDER BY 1"""
  }

  private def kcoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT source AS id, count(*) AS d FROM sy WHERE source IN (SELECT id FROM r${i - 1}) AND target IN (SELECT id FROM r${i - 1}) GROUP BY 1),
r$i AS MATERIALIZED (SELECT id FROM d$i WHERE d >= $k)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
sy AS MATERIALIZED (SELECT source, target FROM (SELECT source, target FROM se UNION SELECT target, source FROM se) WHERE source <> target),
r0 AS MATERIALIZED (SELECT id FROM nodes),
$steps
SELECT source AS id, count(*) AS core_deg FROM sy WHERE source IN (SELECT id FROM r$rounds) AND target IN (SELECT id FROM r$rounds) GROUP BY 1 ORDER BY 1"""
  }

  /** Unrolled densest-subgraph peel oracle: per round, per-node induced
    * degree (0 for isolated survivors), 1-row (n, sum_d) stats, then the
    * integer peel `2*d*n > 3*sum_d` — mirrors
    * GraphAlgorithms.densestSubgraphTrace round for round; the trace row
    * for round i-1 reads s$i (stats BEFORE that round's peel).
    */
  private def densestSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""dd$i AS MATERIALIZED (SELECT source AS id, count(*) AS d FROM sy WHERE source IN (SELECT id FROM r${i - 1}) AND target IN (SELECT id FROM r${i - 1}) GROUP BY 1),
d$i AS MATERIALIZED (SELECT r.id, coalesce(dd.d, 0) AS d FROM r${i - 1} r LEFT JOIN dd$i dd ON dd.id = r.id),
s$i AS MATERIALIZED (SELECT count(*) AS n, coalesce(sum(d), 0) AS sum_d FROM d$i),
r$i AS MATERIALIZED (SELECT d$i.id FROM d$i, s$i WHERE 2 * d$i.d * s$i.n > 3 * s$i.sum_d)"""
    }.mkString(",\n")
    val trace = (1 to rounds).map { i =>
      s"SELECT CAST(${i - 1} AS BIGINT) AS round, CAST(n AS BIGINT) AS n_nodes, CAST(sum_d // 2 AS BIGINT) AS n_edges, CAST(CASE WHEN n > 0 THEN (sum_d * 500000) // n ELSE 0 END AS BIGINT) AS density_ppm FROM s$i"
    }.mkString("\nUNION ALL ")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
sy AS MATERIALIZED (SELECT source, target FROM (SELECT source, target FROM se UNION SELECT target, source FROM se) WHERE source <> target),
r0 AS MATERIALIZED (SELECT id FROM nodes),
$steps
SELECT * FROM ($trace) ORDER BY round"""
  }

  /** Unrolled label-propagation oracle: per round, m{i} counts neighbor
    * labels, p{i} takes the count-desc/label-asc argmax, l{i} applies it
    * (isolated nodes keep their label); mirrors
    * GraphAlgorithms.labelPropagation round for round. Non-recursive
    * prelude (the WITH RECURSIVE sym-dedup pitfall would corrupt counts).
    */
  private def lpaSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""m$i AS MATERIALIZED (SELECT s.target AS id, l.label, count(*) AS c FROM symd s JOIN l${i - 1} l ON l.id = s.source GROUP BY 1,2),
p$i AS MATERIALIZED (SELECT id, label FROM (SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM m$i) WHERE rn = 1),
l$i AS MATERIALIZED (SELECT l.id, COALESCE(p.label, l.label) AS label FROM l${i - 1} l LEFT JOIN p$i p ON p.id = l.id)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
symd AS MATERIALIZED (SELECT DISTINCT source, target FROM (SELECT source, target FROM se UNION ALL SELECT target, source FROM se) WHERE source <> target),
l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes),
$steps
SELECT id, label FROM l$rounds ORDER BY 1"""
  }

  /** Unrolled weighted-LPA oracle: labels pulled by summed edge weight
    * (HUGEINT sums compare only against each other, so typing is moot);
    * mirrors GraphAlgorithms.labelPropagationWeighted round for round.
    */
  private def wlpaSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""m$i AS MATERIALIZED (SELECT s.target AS id, l.label, sum(s.wq) AS ws FROM syw s JOIN l${i - 1} l ON l.id = s.source GROUP BY 1,2),
p$i AS MATERIALIZED (SELECT id, label FROM (SELECT id, label, row_number() OVER (PARTITION BY id ORDER BY ws DESC, label) AS rn FROM m$i) WHERE rn = 1),
l$i AS MATERIALIZED (SELECT l.id, COALESCE(p.label, l.label) AS label FROM l${i - 1} l LEFT JOIN p$i p ON p.id = l.id)"""
    }.mkString(",\n")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target, CAST(floor(o_totalprice * 100) AS BIGINT) AS wq FROM orders WHERE o_orderkey % 10 = 0),
syw AS MATERIALIZED (SELECT source, target, sum(wq) AS wq FROM (SELECT source, target, wq FROM se UNION ALL SELECT target, source, wq FROM se) WHERE source <> target GROUP BY 1, 2 HAVING sum(wq) > 0),
l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes),
$steps
SELECT id, label FROM l$rounds ORDER BY 1"""
  }

  /** Unrolled Bellman-Ford oracle: d{i} = min-relaxation of d{i-1} over the
    * cent-quantized symmetrized sparse edges; mirrors
    * GraphAlgorithms.shortestPaths round for round.
    */
  /** Unrolled weighted-Louvain oracle: louvainSql with strengths in place
    * of degrees (HUGEINT sums/products mirror the engine's DECIMAL(38,0));
    * mirrors GraphAlgorithms.louvainMoveRoundWeighted round for round.
    */
  private def louvainWSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val p = r - 1
      s"""st$r AS MATERIALIZED (SELECT l.community, sum(COALESCE(d.k, 0)) AS st FROM lab$p l LEFT JOIN deg d ON d.id = l.id GROUP BY 1),
kuc$r AS MATERIALIZED (SELECT s.source AS id, l.community AS c, sum(s.wq) AS kuc FROM symw s JOIN lab$p l ON l.id = s.target GROUP BY 1, 2),
base$r AS MATERIALIZED (SELECT k.id, k.c, k.kuc, o.community AS cown, d.k, sc.st AS stc, so.st AS stown, COALESCE(ko.kuc, 0) AS kuown
FROM kuc$r k JOIN lab$p o ON o.id = k.id JOIN deg d ON d.id = k.id
JOIN st$r sc ON sc.community = k.c JOIN st$r so ON so.community = o.community
LEFT JOIN kuc$r ko ON ko.id = k.id AND ko.c = o.community),
best$r AS MATERIALIZED (SELECT id, c FROM (SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY g DESC, c) AS rn FROM (SELECT id, c, (SELECT m2 FROM m2v) * (kuc - kuown) - k * (stc - (stown - k)) AS g FROM base$r WHERE c <> cown) WHERE g > 0) WHERE rn = 1),
lab$r AS MATERIALIZED (SELECT l.id, CASE WHEN b.c IS NOT NULL AND b.c ${if (r % 2 == 1) "<" else ">"} l.community THEN b.c ELSE l.community END AS community FROM lab$p l LEFT JOIN best$r b ON b.id = l.id)"""
    }.mkString(",\n")
    s"""$G, symw AS MATERIALIZED (SELECT source, target, sum(wq) AS wq FROM (
SELECT source, target, CAST(floor(weight * 100) AS BIGINT) AS wq FROM sedges
UNION ALL SELECT target, source, CAST(floor(weight * 100) AS BIGINT) FROM sedges)
WHERE source <> target GROUP BY 1, 2 HAVING sum(wq) > 0),
deg AS MATERIALIZED (SELECT source AS id, sum(wq) AS k FROM symw GROUP BY 1),
m2v AS MATERIALIZED (SELECT sum(wq) AS m2 FROM symw),
lab0 AS MATERIALIZED (SELECT id, id AS community FROM nodes),
$steps
SELECT id, community FROM lab$rounds ORDER BY 1"""
  }

  /** Unrolled Kahn-layering oracle: per round, the nodes with no incoming
    * edges from the remaining set — mirrors
    * GraphAlgorithms.topologicalLayers round for round on the DAG-ified
    * sparse graph (edges oriented low -> high id).
    */
  private def topoSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val p = r - 1
      s"""bl$r AS MATERIALIZED (SELECT DISTINCT target AS id FROM dag WHERE source IN (SELECT id FROM u$p) AND target IN (SELECT id FROM u$p)),
ly$r AS MATERIALIZED (SELECT id, $r AS layer FROM u$p WHERE id NOT IN (SELECT id FROM bl$r)),
u$r AS MATERIALIZED (SELECT id FROM u$p WHERE id NOT IN (SELECT id FROM ly$r))"""
    }.mkString(",\n")
    val unions = (1 to rounds).map(r => s"SELECT id, layer FROM ly$r")
      .mkString(" UNION ALL ")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
dag AS MATERIALIZED (SELECT DISTINCT source, target FROM se WHERE source < target),
u0 AS MATERIALIZED (SELECT id FROM nodes),
$steps,
allly AS MATERIALIZED ($unions)
SELECT n.id, CAST(l.layer AS BIGINT) AS layer FROM nodes n LEFT JOIN allly l ON l.id = n.id ORDER BY 1"""
  }

  /** Unrolled maximal-matching oracle: per round, min-id proposals over the
    * still-unmatched induced graph, mutual pairs matched — mirrors
    * GraphAlgorithms.maximalMatching round for round.
    */
  private def matchBody(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val p = r - 1
      s"""er$r AS MATERIALIZED (SELECT source, target FROM sy WHERE source IN (SELECT id FROM u$p) AND target IN (SELECT id FROM u$p)),
pr$r AS MATERIALIZED (SELECT source AS id, min(target) AS prop FROM er$r GROUP BY 1),
mr$r AS MATERIALIZED (SELECT a.id AS u, b.id AS v FROM pr$r a JOIN pr$r b ON a.prop = b.id AND b.prop = a.id AND a.id < b.id),
pa$r AS MATERIALIZED (SELECT u AS id, v AS partner, $r AS matched_round FROM mr$r UNION ALL SELECT v, u, $r FROM mr$r),
u$r AS MATERIALIZED (SELECT id FROM u$p WHERE id NOT IN (SELECT id FROM pa$r))"""
    }.mkString(",\n")
    val unions = (1 to rounds).map(r => s"SELECT * FROM pa$r")
      .mkString(" UNION ALL ")
    s"""WITH nodes AS MATERIALIZED (SELECT c_custkey AS id FROM customer),
se AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target FROM orders WHERE o_orderkey % 10 = 0),
sy AS MATERIALIZED (SELECT DISTINCT source, target FROM (SELECT source, target FROM se UNION ALL SELECT target, source FROM se) WHERE source <> target),
u0 AS MATERIALIZED (SELECT id FROM nodes),
$steps,
allp AS MATERIALIZED ($unions)"""
  }

  private def matchSql(rounds: Int): String =
    s"""${matchBody(rounds)}
SELECT n.id, p.partner, CAST(p.matched_round AS BIGINT) AS matched_round
FROM nodes n LEFT JOIN allp p ON p.id = n.id ORDER BY 1"""

  /** Vertex-cover oracle: the matching body, endpoints flagged. */
  private def coverSql(rounds: Int): String =
    s"""${matchBody(rounds)}
SELECT n.id, p.id IS NOT NULL AS in_cover
FROM nodes n LEFT JOIN allp p ON p.id = n.id ORDER BY 1"""

  /** Unrolled widest-path oracle: max-min relaxation rounds mirroring
    * GraphAlgorithms.widestPaths (parallel edges keep max weight; the seed
    * carries Long.MaxValue).
    */
  private def wpathSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT id, max(cq) AS cq FROM (
SELECT id, cq FROM c${i - 1}
UNION ALL SELECT e.target AS id, least(c.cq, e.wq) AS cq FROM we e JOIN c${i - 1} c ON c.id = e.source) GROUP BY 1)"""
    }.mkString(",\n")
    s"""WITH swe AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target, CAST(floor(o_totalprice * 100) AS BIGINT) AS wq FROM orders WHERE o_orderkey % 10 = 0),
we AS MATERIALIZED (SELECT source, target, max(wq) AS wq FROM (SELECT source, target, wq FROM swe UNION ALL SELECT target, source, wq FROM swe) GROUP BY 1,2),
c0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS id, CAST(9223372036854775807 AS BIGINT) AS cq),
$steps
SELECT id, cq FROM c$rounds ORDER BY 1"""
  }

  private def ssspSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, min(dq) AS dq FROM (
SELECT id, dq FROM d${i - 1}
UNION ALL SELECT e.target AS id, d.dq + e.wq AS dq FROM we e JOIN d${i - 1} d ON d.id = e.source) GROUP BY 1)"""
    }.mkString(",\n")
    s"""WITH swe AS MATERIALIZED (SELECT o_custkey AS source, o_orderkey % (SELECT count(*) FROM customer) AS target, CAST(floor(o_totalprice * 100) AS BIGINT) AS wq FROM orders WHERE o_orderkey % 10 = 0),
we AS MATERIALIZED (SELECT source, target, min(wq) AS wq FROM (SELECT source, target, wq FROM swe UNION ALL SELECT target, source, wq FROM swe) GROUP BY 1,2),
d0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dq),
$steps
SELECT id, dq FROM d$rounds ORDER BY 1"""
  }

  /** Unrolled power-iteration PC1 oracle: mirrors
    * Similarity.principalComponent round for round — 1e4-quantized dims,
    * N-scaled exact centering, HUGEINT accumulation, and the shifted
    * non-negative integral division for renormalization.
    */
  private def pc1Body(dims: Int, iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""t$i AS MATERIALIZED (SELECT vec_id, sum(xc * q) AS t FROM xc JOIN v${i - 1} USING (i) GROUP BY 1),
y$i AS MATERIALIZED (SELECT i, sum(xc * t) AS y FROM xc JOIN t$i USING (vec_id) GROUP BY 1),
m$i AS MATERIALIZED (SELECT max(abs(y)) AS mx FROM y$i),
v$i AS MATERIALIZED (SELECT i, CASE WHEN mx IS NULL OR mx = 0 THEN CAST(0 AS HUGEINT) ELSE (y + mx) * 1000000 // (2 * mx) - 500000 END AS q FROM y$i, m$i)"""
    }.mkString(",\n")
    s"""WITH u AS MATERIALIZED (SELECT vec_id, s.i, CAST(floor(CAST(embedding[s.i] AS DOUBLE) * 10000) AS BIGINT) AS x FROM embeddings, (SELECT unnest(generate_series(1, $dims)) AS i) s),
n AS (SELECT count(*) AS n FROM embeddings),
sx AS (SELECT i, sum(x) AS sx FROM u GROUP BY 1),
xc AS MATERIALIZED (SELECT vec_id, u.i, CAST((SELECT n FROM n) * x - sx AS HUGEINT) AS xc FROM u JOIN sx ON u.i = sx.i),
v0 AS MATERIALIZED (SELECT i, CAST(1000000 AS HUGEINT) AS q FROM (SELECT unnest(generate_series(1, $dims)) AS i)),
$steps"""
  }

  private def pc1Sql(dims: Int, iters: Int): String =
    s"""${pc1Body(dims, iters)}
SELECT i, CAST(q AS BIGINT) AS pc1_q FROM v$iters ORDER BY 1"""

  /** PC1 projection-score oracle: the fixpoint body plus one final
    * dot + shifted-renormalization step, mirroring principalScores. */
  private def pc1ScoresSql(dims: Int, iters: Int): String =
    s"""${pc1Body(dims, iters)},
tf AS MATERIALIZED (SELECT vec_id, sum(xc * q) AS t FROM xc JOIN v$iters USING (i) GROUP BY 1),
mf AS (SELECT max(abs(t)) AS mt FROM tf)
SELECT vec_id, CAST(CASE WHEN mt IS NULL OR mt = 0 THEN 0 ELSE (t + mt) * 1000000 // (2 * mt) - 500000 END AS BIGINT) AS score_q
FROM tf, mf ORDER BY 1"""

  /** Embedding unnest prelude shared by the similarity oracles. */
  private val EMB_U =
    """WITH u AS (SELECT vec_id, s.i, CAST(floor(CAST(embedding[s.i] AS DOUBLE) * 10000000) AS BIGINT) AS x FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s)"""

  /** Sign-LSH band buckets (16 bands x 4 bits) — mirrors
    * Similarity.signLshBandBuckets bit for bit: band b's bucket packs the
    * signs of embedding dims b*4+1..b*4+4 (1-indexed) as bits 0..3.
    */
  private val LSH_BK =
    """bk AS (SELECT vec_id, b.band, CAST(list_sum(list_transform(generate_series(1, 4), j -> CASE WHEN embedding[b.band * 4 + j] > 0 THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket FROM embeddings, (SELECT unnest(generate_series(0, 15)) AS band) b)"""

  /** LSH_BK plus the per-band deterministic shuffle rank `rkb(vec_id, band,
    * bucket, rk)` — rank within (band, bucket) by (md5('band:id'), id),
    * mirroring Similarity.lshRanked's window ordering exactly (Spark and
    * DuckDB both emit lowercase-hex md5 over the same UTF-8 text).
    */
  private val LSH_RK =
    s"""$LSH_BK,
rkb AS (SELECT vec_id, band, bucket, row_number() OVER (PARTITION BY band, bucket ORDER BY md5(CAST(band AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)), vec_id) AS rk FROM bk)"""

  /** Shared cell-scoped candidate CTEs (requires the `u` prelude and an
    * `nr(vec_id, nn)` norms CTE): ceil(sqrt(n)) KMV seeds, probe-nearest
    * assignment, distinct in-cell pairs as `ecand(ia, ib)` — mirrors
    * Similarity.cellScopedNearDupPairs seed for seed, tie for tie.
    */
  private def cellCtes(probe: Int = Similarity.CellProbe): String =
    s"""cnt AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM embeddings),
sr AS (SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM embeddings),
seeds AS (SELECT vec_id AS sid FROM sr, cnt WHERE rn <= k),
sd AS (SELECT a.vec_id AS id, s.vec_id AS sid, sum(a.x * s.x) AS d FROM u a JOIN u s ON s.i = a.i WHERE s.vec_id IN (SELECT sid FROM seeds) GROUP BY 1, 2),
asgx AS (SELECT id, sid, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(ns.nn AS DOUBLE))) AS csim FROM sd JOIN nr na ON na.vec_id = id JOIN nr ns ON ns.vec_id = sid),
asg AS (SELECT id, sid FROM (SELECT id, sid, row_number() OVER (PARTITION BY id ORDER BY csim DESC, sid) AS rn FROM asgx) WHERE rn <= $probe),
ecand AS (SELECT DISTINCT a.id AS ia, b.id AS ib FROM asg a JOIN asg b ON a.sid = b.sid AND a.id < b.id)"""

  /** BPE training CTE chain: corpus word-frequency table, char-split
    * symbol strings (s0), and per-round pair-count/argmax/replace CTEs
    * (p$i/b$i/s$i for 1..rounds) — mirrors TextAnalysis.bpeMerges round
    * for round, tie for tie. Shared by q_bpe_merges (emits the merge
    * table) and q_bpe_encode (applies b1..bN to per-document symbols), so
    * the training the encode oracle replays can never drift from the
    * gated training oracle.
    */
  private def bpeTrainCtes(rounds: Int): String = {
    val words = """WITH words AS (
  SELECT w AS word, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1),
s0 AS (SELECT freq, ' ' || array_to_string(regexp_split_to_array(word, ''), '  ') || ' ' AS sym FROM words)"""
    def round(i: Int): String = {
      val (p, b, sPrev, sNext) = (s"p$i", s"b$i", s"s${i - 1}", s"s$i")
      s""",
$p AS (
  SELECT arr[i] AS l, arr[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, string_split(trim(sym), '  ') AS arr FROM $sPrev) t,
       UNNEST(generate_series(1, len(t.arr) - 1)) AS u(i)
  GROUP BY 1, 2),
$b AS (SELECT l, r, cnt FROM $p ORDER BY cnt DESC, l, r LIMIT 1),
$sNext AS (SELECT freq, replace(sym,
  ' ' || (SELECT l FROM $b) || '  ' || (SELECT r FROM $b) || ' ',
  ' ' || (SELECT l FROM $b) || (SELECT r FROM $b) || ' ') AS sym FROM $sPrev)"""
    }
    words + (1 to rounds).map(round).mkString
  }

  /** Ensemble dedup channel CTEs (requires the `u` prelude): the cell
    * embedding channel `ep(ia, ib)`, the MinHash text channel
    * `tp(ia, ib)`, and their union `allp(ia, ib)` — shared by
    * q_ensemble_pairs (pair listing) and q_ensemble_channels (the
    * per-channel contribution ledger), so the two oracles can never
    * drift apart.
    */
  private lazy val ENSEMBLE_CTES =
    s"""nr AS (SELECT vec_id, sum(x * x) AS nn FROM u GROUP BY 1),
${cellCtes()},
dots AS (SELECT c.ia, c.ib, sum(x1.x * x2.x) AS d FROM ecand c JOIN u x1 ON x1.vec_id = c.ia JOIN u x2 ON x2.vec_id = c.ib AND x2.i = x1.i GROUP BY 1, 2),
ep AS (SELECT ia, ib FROM dots JOIN nr na ON na.vec_id = ia JOIN nr nb ON nb.vec_id = ib
WHERE CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.4),
t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 0)), i -> array_to_string(list_slice(l, i, i + 2), ' '))) AS shingle FROM t),
xy AS (SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 576460752303423487 AS x, CAST(concat('0x', substr(md5(shingle), 17, 15)) AS BIGINT) % 576460752303423487 AS y FROM sh),
hs AS (SELECT doc_id, unnest(generate_series(0, 15)) AS h, x, y FROM xy),
sig AS (SELECT doc_id, h, min((x + h * y) % 576460752303423487) AS minhash FROM hs GROUP BY 1,2),
sb AS (SELECT doc_id AS id, h // 4 AS band, md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY h)) AS bucket FROM sig GROUP BY 1,2),
tcand AS (SELECT DISTINCT x.id AS ia, y.id AS ib FROM sb x JOIN sb y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
tp AS (SELECT c.ia, c.ib FROM tcand c JOIN sig sa ON sa.doc_id = c.ia JOIN sig sb2 ON sb2.doc_id = c.ib AND sb2.h = sa.h GROUP BY 1,2
HAVING CAST(sum(CASE WHEN sa.minhash = sb2.minhash THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.5),
allp AS (SELECT ia, ib FROM tp UNION SELECT ia, ib FROM ep)"""

  /** Operating point of the q_doc_clusters IVF gate: probe width x cell
    * MEMBERSHIPS per vector. Round 12 ran (nprobe=8, massign=1) and its
    * own audit measured the fixed-probe decline the scaladoc predicted:
    * strong-band recall 71% at sf0.01 (23 cells) fell to 38% at sf0.1
    * (45 cells), because a fixed probe width covers a shrinking fraction
    * of the sqrt(n) cells. The round-13 repair is multi-membership, not a
    * wider probe: every vector joins its `massign` nearest cells, so a
    * neighbor is found when ANY of its cells is probed. The sf0.1 grid
    * (DuckDB mirror, anchored-recall audit): (8,1) 41% strong at 7.9x
    * n^1.5 candidates; (16,1) 63% at 15.9x; (6,3) 73% at 15.6x; (8,3) 80%
    * at 19.8x — memberships buy more recall per candidate than probes.
    * (6,3) is the gate: clears the 600000-ppm strong bar with margin at
    * HALF the candidate cost of the nprobe-only point that matches it,
    * and candidates stay n^1.5-shaped (constant massign^2 * nprobe
    * multiplier), never a probed fraction of n^2.
    */
  private val DocClusterProbe = 6
  private val DocClusterAssign = 3

  /** Anchor budget of the clustering recall audits: the exact-side
    * denominator is computed only for edges touching the deterministic
    * id stratum id % max(1, n div AnchorCap) == 0 (~AnchorCap anchors at
    * any corpus size), so audit cost is O(AnchorCap * n) — linear —
    * instead of the all-pairs n^2 the round-12 audit paid (which blew the
    * driver's oracle budget: the DuckDB side alone ran ~25 min at
    * sf0.01). ~150 anchored edges at the audited SFs keeps the recall
    * estimate's sampling noise near +/-4pp — the full-graph and anchored
    * estimates agree to 3pp at sf0.1 (38.0% vs 41.2% at the round-12
    * point; 78.5% vs 80.2% at the round-13 point).
    */
  private val AnchorCap = 128L

  /** Corpus bound of the exact all-pairs AUDIT queries (q_knn_graph,
    * q_doc_clusters_exact): they run on the deterministic id stratum
    * vec_id % max(1, n div ExactAuditCap) == 0, so the audited corpus is
    * ~ExactAuditCap..2*ExactAuditCap vectors at ANY scale and the n^2
    * scorer's cost is a CONSTANT, never the bank's scale-killer. At
    * sf0.01 (n=500) the modulus is 1 — the audit is the full corpus and
    * round-12 outputs are unchanged there.
    */
  private val ExactAuditCap = 512L

  /** Shared retrieval-eval construction for q_retrieval_metrics and
    * q_hard_negatives — the query-term table, the BM25 per-query top-10,
    * and the tf >= tfMin relevance grades come from ONE definition so the
    * two gated consumers cannot drift (only the positive bar differs: 3
    * for the metrics scorecard, 8 for negative mining).
    */
  private def retrievalEvalInputs(s: SparkSession, dir: String, tfMin: Int)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val qt = Seq((1L, "spark"), (1L, "merge"), (2L, "stream"),
      (2L, "table"), (3L, "customer")).toDF("query_id", "term")
    val d = docs(s, dir)
    val ranked = TextAnalysis.bm25TopKPerQuery(d, "doc_id", "text", qt, 10)
    val rel = d
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .join(broadcast(qt), Seq("term"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("tfsum"))
      .filter(col("tfsum") >= tfMin)
      .select(col("query_id"), col("doc_id"), col("tfsum").as("rel"))
    (ranked, rel)
  }

  /** Bitext-mining operating point (probe width x candidate-side cell
    * memberships), shared by the q_bitext_mine gate and the
    * q_bitext_recall audit (one pair of constants so the audit always
    * measures the gate's actual operating point). Round 12 shipped
    * (nprobe=9, massign=1), chosen on the sf0.01 grid (nprobe 3/6/9/12 ->
    * 43/64/80/93%); its own audit then measured the predicted fixed-probe
    * decline: 80.1% at sf0.01 fell to 61.9% at sf0.1 as the sqrt(n) cells
    * grew. Round 13 applies the clustering gate's multi-membership repair
    * — sf0.1 grid: (9,1) 61.9% at 282k candidates, (12,1) 71.0% at 376k,
    * (9,2) 81.6% at 484k, (6,3) 82.1% at 468k — and ships (6,3):
    * best-per-candidate, consistent with DocClusterProbe/DocClusterAssign,
    * still |queries| * nprobe * massign * cell ~ n^1.5 by construction.
    */
  private val BitextProbe = 6
  private val BitextAssign = 3

  /** IVF mutual-kNN CTE chain (requires the `u` prelude and an
    * `nr(vec_id, nn)` norms CTE): KMV cell assignment to the `massign`
    * nearest cells (mirrors Similarity.kmvCellAssign seed for seed, tie
    * for tie), integer centroids with truncate-toward-zero mean trained
    * over MEMBERSHIPS (mirrors Similarity.multiCandidatePairs+scoreCandidatePairs), `nprobe`
    * nearest cells per query by exact centroid cosine (cell-id
    * tie-break), DISTINCT in-cell candidate pairs, exact scoring, top-`k`
    * with neighbor-id tie-break, mutual semi-join — ends in
    * `me(source, target)` with source < target. Multi-referenced CTEs are
    * MATERIALIZED: DuckDB inlines plain CTEs per reference, which
    * re-derived the whole chain for every consumer and was half of the
    * round-12 oracle blow-up.
    */
  private def ivfMutualCtes(k: Int, nprobe: Int, massign: Int = 1): String =
    s"""cnt AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM embeddings),
sr AS (SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srn FROM embeddings),
seeds AS (SELECT vec_id AS sid FROM sr, cnt WHERE srn <= k),
sd AS MATERIALIZED (SELECT a.vec_id AS id, s.vec_id AS sid, sum(a.x * s.x) AS d FROM u a JOIN u s ON s.i = a.i WHERE s.vec_id IN (SELECT sid FROM seeds) GROUP BY 1, 2),
asgx AS (SELECT id, sid, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(ns.nn AS DOUBLE))) AS csim FROM sd JOIN nr na ON na.vec_id = id JOIN nr ns ON ns.vec_id = sid),
lb AS MATERIALIZED (SELECT id AS vec_id, sid AS cell FROM (SELECT id, sid, row_number() OVER (PARTITION BY id ORDER BY csim DESC, sid) AS arn FROM asgx) WHERE arn <= $massign),
g AS (SELECT lb.cell, u.i, sum(u.x) AS sx, count(*) AS n FROM u JOIN lb USING (vec_id) GROUP BY 1, 2),
cent AS MATERIALIZED (SELECT cell, i, CAST(CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END AS BIGINT) AS cq FROM g),
cnx AS (SELECT cell, sum(cq * cq) AS cn2 FROM cent GROUP BY 1),
qc AS (SELECT u.vec_id, c.cell, sum(u.x * c.cq) AS d FROM u JOIN cent c ON c.i = u.i GROUP BY 1, 2),
psx AS (SELECT qc.vec_id, qc.cell, CAST(d AS DOUBLE) / (sqrt(CAST(nn AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS cs FROM qc JOIN nr ON nr.vec_id = qc.vec_id JOIN cnx ON cnx.cell = qc.cell),
probed AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS pn FROM psx) WHERE pn <= $nprobe),
icand AS MATERIALIZED (SELECT DISTINCT p.vec_id AS qa, c.vec_id AS cb FROM probed p JOIN lb c ON c.cell = p.cell AND c.vec_id <> p.vec_id),
idq AS (SELECT icand.qa, icand.cb, sum(a.x * b.x) AS d FROM icand JOIN u a ON a.vec_id = icand.qa JOIN u b ON b.vec_id = icand.cb AND b.i = a.i GROUP BY 1, 2),
isims AS (SELECT qa, cb, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv FROM idq JOIN nr na ON na.vec_id = qa JOIN nr nb ON nb.vec_id = cb),
irk AS (SELECT qa, cb, row_number() OVER (PARTITION BY qa ORDER BY sv DESC, cb) AS irn FROM isims),
itk AS MATERIALIZED (SELECT qa, cb FROM irk WHERE irn <= $k),
me AS MATERIALIZED (SELECT t.qa AS source, t.cb AS target FROM itk t JOIN itk r ON r.qa = t.cb AND r.cb = t.qa WHERE t.qa < t.cb)"""

  /** Two-level coarse->fine RESIDUAL mutual-kNN CTE chain (requires the
    * `u` prelude and an `nr(vec_id, nn)` norms CTE) — mirrors
    * Similarity.mutualKnnGraphTwoLevel stage for stage so the past-cutover
    * channel is itself oracle-gated (round-15 verdict #3: the shipping
    * branch was exercised only by small-n parity specs and manual Grid
    * runs, never through the gated bank):
    *  - ceil(cbrt(n)) coarse KMV seeds (smallest md5(id || '#c'), id
    *    tie-break), membership to the `mC` nearest by exact quantized
    *    cosine (seed-id tie-break);
    *  - integer coarse centroids over MEMBERSHIPS (truncate-toward-zero
    *    mean — DuckDB's `//` floors, hence the sign CASE);
    *  - per-membership residuals rx = x - cq, per-coarse-cell KMV fine
    *    seeds (smallest md5(id || '@' || cell), ceil(sqrt(cellsize)) of
    *    them), fine membership to the `mF` nearest by residual cosine;
    *  - integer fine centroids in residual space;
    *  - query side: `pC` nearest coarse centroids, then the `pF` best
    *    fine cells ACROSS all probed coarse cells jointly by residual
    *    cosine (ccell, fcell tie-break);
    *  - DISTINCT candidates, exact scoring, top-`k` (neighbor-id
    *    tie-break), mutual semi-join -> me2(source < target, cq at 1e6).
    * Every cosine mirrors the engine's zero-norm-safe form (a zero
    * residual — a singleton cell's member IS its centroid — scores 0).
    */
  private def twoLevelMutualCtes(k: Int, pC: Int, pF: Int, mC: Int,
                                 mF: Int): String =
    s"""c1 AS (SELECT CAST(ceil(cbrt(count(*))) AS BIGINT) AS c FROM embeddings),
csr AS (SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '#c'), vec_id) AS rn FROM embeddings),
cs AS MATERIALIZED (SELECT vec_id AS csid FROM csr, c1 WHERE rn <= c),
cd AS (SELECT a.vec_id AS id, s.vec_id AS csid, sum(a.x * s.x) AS d FROM u a JOIN u s ON s.i = a.i WHERE s.vec_id IN (SELECT csid FROM cs) GROUP BY 1, 2),
cm AS MATERIALIZED (SELECT id, csid AS ccell FROM (SELECT cd.id, cd.csid, row_number() OVER (PARTITION BY cd.id ORDER BY CASE WHEN na.nn = 0 OR ns.nn = 0 THEN 0.0 ELSE CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(ns.nn AS DOUBLE))) END DESC, cd.csid) AS rn FROM cd JOIN nr na ON na.vec_id = cd.id JOIN nr ns ON ns.vec_id = cd.csid) WHERE rn <= $mC),
cg AS (SELECT cm.ccell, u.i, sum(u.x) AS sx, count(*) AS n FROM u JOIN cm ON cm.id = u.vec_id GROUP BY 1, 2),
ccent AS MATERIALIZED (SELECT ccell, i, CAST(CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END AS BIGINT) AS cq FROM cg),
rz AS MATERIALIZED (SELECT cm.id, cm.ccell, u.i, u.x - c.cq AS rx FROM u JOIN cm ON cm.id = u.vec_id JOIN ccent c ON c.ccell = cm.ccell AND c.i = u.i),
rzn AS MATERIALIZED (SELECT id, ccell, sum(rx * rx) AS rnn FROM rz GROUP BY 1, 2),
csz AS (SELECT ccell, count(*) AS cnt FROM cm GROUP BY 1),
fsr AS (SELECT cm.id, cm.ccell, row_number() OVER (PARTITION BY cm.ccell ORDER BY md5(CAST(cm.id AS VARCHAR) || '@' || CAST(cm.ccell AS VARCHAR)), cm.id) AS rn FROM cm),
fs AS MATERIALIZED (SELECT fsr.ccell, fsr.id AS fsid FROM fsr JOIN csz USING (ccell) WHERE rn <= ceil(sqrt(cnt))),
fdot AS (SELECT r.id, r.ccell, f.fsid, sum(r.rx * sr.rx) AS d FROM rz r JOIN fs f ON f.ccell = r.ccell JOIN rz sr ON sr.id = f.fsid AND sr.ccell = r.ccell AND sr.i = r.i GROUP BY 1, 2, 3),
fm AS MATERIALIZED (SELECT id, ccell, fsid AS fcell FROM (SELECT fdot.id, fdot.ccell, fdot.fsid, row_number() OVER (PARTITION BY fdot.id, fdot.ccell ORDER BY CASE WHEN ra.rnn = 0 OR rs.rnn = 0 THEN 0.0 ELSE CAST(d AS DOUBLE) / (sqrt(CAST(ra.rnn AS DOUBLE)) * sqrt(CAST(rs.rnn AS DOUBLE))) END DESC, fdot.fsid) AS rn FROM fdot JOIN rzn ra ON ra.id = fdot.id AND ra.ccell = fdot.ccell JOIN rzn rs ON rs.id = fdot.fsid AND rs.ccell = fdot.ccell) WHERE rn <= $mF),
fg AS (SELECT fm.ccell, fm.fcell, r.i, sum(r.rx) AS sx, count(*) AS n FROM rz r JOIN fm ON fm.id = r.id AND fm.ccell = r.ccell GROUP BY 1, 2, 3),
fcent AS MATERIALIZED (SELECT ccell, fcell, i, CAST(CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END AS BIGINT) AS fq FROM fg),
fcn AS (SELECT ccell, fcell, sum(fq * fq) AS fnn FROM fcent GROUP BY 1, 2),
ccn AS (SELECT ccell, sum(cq * cq) AS cnn FROM ccent GROUP BY 1),
qcd AS (SELECT u.vec_id AS qid, c.ccell, sum(u.x * c.cq) AS d FROM u JOIN ccent c ON c.i = u.i GROUP BY 1, 2),
qp AS MATERIALIZED (SELECT qid, ccell FROM (SELECT qcd.qid, qcd.ccell, row_number() OVER (PARTITION BY qcd.qid ORDER BY CASE WHEN nq.nn = 0 OR cc.cnn = 0 THEN 0.0 ELSE CAST(d AS DOUBLE) / (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(cc.cnn AS DOUBLE))) END DESC, qcd.ccell) AS rn FROM qcd JOIN nr nq ON nq.vec_id = qcd.qid JOIN ccn cc ON cc.ccell = qcd.ccell) WHERE rn <= $pC),
qr AS MATERIALIZED (SELECT qp.qid, qp.ccell, u.i, u.x - c.cq AS rx FROM qp JOIN u ON u.vec_id = qp.qid JOIN ccent c ON c.ccell = qp.ccell AND c.i = u.i),
qrn AS (SELECT qid, ccell, sum(rx * rx) AS rnn FROM qr GROUP BY 1, 2),
qfd AS (SELECT qr.qid, qr.ccell, f.fcell, sum(qr.rx * f.fq) AS d FROM qr JOIN fcent f ON f.ccell = qr.ccell AND f.i = qr.i GROUP BY 1, 2, 3),
qf AS MATERIALIZED (SELECT qid, ccell, fcell FROM (SELECT qfd.qid, qfd.ccell, qfd.fcell, row_number() OVER (PARTITION BY qfd.qid ORDER BY CASE WHEN qa.rnn = 0 OR fb.fnn = 0 THEN 0.0 ELSE CAST(d AS DOUBLE) / (sqrt(CAST(qa.rnn AS DOUBLE)) * sqrt(CAST(fb.fnn AS DOUBLE))) END DESC, qfd.ccell, qfd.fcell) AS rn FROM qfd JOIN qrn qa ON qa.qid = qfd.qid AND qa.ccell = qfd.ccell JOIN fcn fb ON fb.ccell = qfd.ccell AND fb.fcell = qfd.fcell) WHERE rn <= $pF),
tc AS MATERIALIZED (SELECT DISTINCT qf.qid, fm.id AS nid FROM qf JOIN fm ON fm.ccell = qf.ccell AND fm.fcell = qf.fcell WHERE fm.id <> qf.qid),
td AS (SELECT tc.qid, tc.nid, sum(a.x * b.x) AS d FROM tc JOIN u a ON a.vec_id = tc.qid JOIN u b ON b.vec_id = tc.nid AND b.i = a.i GROUP BY 1, 2),
tsx AS (SELECT qid, nid, CASE WHEN na.nn = 0 OR nb.nn = 0 THEN 0.0 ELSE CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) END AS sv FROM td JOIN nr na ON na.vec_id = qid JOIN nr nb ON nb.vec_id = nid),
trk AS (SELECT qid, nid, sv, row_number() OVER (PARTITION BY qid ORDER BY sv DESC, nid) AS rn FROM tsx),
ttk AS MATERIALIZED (SELECT qid, nid, sv FROM trk WHERE rn <= $k),
me2 AS MATERIALIZED (SELECT t.qid AS source, t.nid AS target, CAST(floor(t.sv * 1000000) AS BIGINT) AS cq FROM ttk t JOIN ttk r ON r.qid = t.nid AND r.nid = t.qid WHERE t.qid < t.nid)"""

  /** Unrolled Shiloach–Vishkin (hook + pointer-jump) connected components
    * over a preceding `me(source, target)` edge CTE, ending in
    * `lab(id, cluster)` with cluster = min member id — exactly what
    * GraphAlgorithms.componentLabels emits. This replaces the round-12
    * `WITH RECURSIVE reach` transitive closure, whose row count is
    * sum(component_size^2) and which dominated the clustering oracles
    * (measured: 96 s of q_doc_clusters' 111 s at sf0.01 — the cost that
    * zeroed the driver's CORRECTNESS_r12.json). Each round hooks every
    * node to the min label in its closed neighborhood, then jumps
    * lbl <- lbl(lbl): label-chain depth at least halves per round
    * (geometric), so `rounds` = 20 is exact for any component diameter
    * < ~2^20 — five orders of magnitude above testdata components — at
    * O(V + E) MATERIALIZED rows per round.
    */
  private def svComponentCtes(nodesFrom: String, rounds: Int = 20): String = {
    val head =
      s"""symE AS MATERIALIZED (SELECT source AS a, target AS b FROM me UNION ALL SELECT target AS a, source AS b FROM me),
l0 AS MATERIALIZED (SELECT vec_id AS id, vec_id AS lbl FROM $nodesFrom)"""
    val rs = (1 to rounds).map { i =>
      s""",
h$i AS MATERIALIZED (SELECT p.id, min(least(p.lbl, coalesce(q.lbl, p.lbl))) AS lbl FROM l${i - 1} p LEFT JOIN symE e ON e.a = p.id LEFT JOIN l${i - 1} q ON q.id = e.b GROUP BY 1),
l$i AS MATERIALIZED (SELECT h.id, j.lbl FROM h$i h JOIN h$i j ON j.id = h.lbl)"""
    }.mkString
    s"$head$rs,\nlab AS (SELECT id, lbl AS cluster FROM l$rounds)"
  }

  /** Bounded-corpus prelude of the exact all-pairs audit oracles: `embc`
    * is the vec_id % max(1, n div ExactAuditCap) == 0 stratum of the
    * embeddings table (the whole table whenever n <= ExactAuditCap, so
    * sf0.01 outputs are unchanged from round 12) and `u` unnests it.
    */
  private val EMB_CAPPED_U =
    s"""WITH embc AS MATERIALIZED (SELECT e.* FROM embeddings e, (SELECT greatest(1, count(*) // $ExactAuditCap) AS m FROM embeddings) mm WHERE e.vec_id % mm.m = 0),
u AS MATERIALIZED (SELECT vec_id, s.i, CAST(floor(CAST(embedding[s.i] AS DOUBLE) * 10000000) AS BIGINT) AS x FROM embc, (SELECT unnest(generate_series(1, 64)) AS i) s)"""

  /** Anchored exact near-dup pair CTEs (requires a MATERIALIZED `u`
    * prelude over the FULL embeddings table and an `nr(vec_id, nn)` norms
    * CTE) — mirrors Similarity.cosineNearDupPairsAnchored: every exact
    * cosine >= 0.4 pair with at least one endpoint in the ~AnchorCap id
    * stratum, as `ex(ia < ib)` — the O(anchors * n) recall denominator
    * shared by the q_lsh_recall and q_cell_recall audits.
    */
  private lazy val ANCHORED_NEARDUP_CTES =
    s"""anch AS (SELECT e.vec_id FROM embeddings e, (SELECT greatest(1, count(*) // $AnchorCap) AS m FROM embeddings) mm WHERE e.vec_id % mm.m = 0),
edots AS (SELECT a.vec_id AS qa, b.vec_id AS cb, sum(a.x * b.x) AS d FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id WHERE a.vec_id IN (SELECT vec_id FROM anch) GROUP BY 1, 2),
ex AS MATERIALIZED (SELECT DISTINCT least(qa, cb) AS ia, greatest(qa, cb) AS ib FROM edots JOIN nr na ON na.vec_id = qa JOIN nr nb ON nb.vec_id = cb WHERE CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.4)"""

  /** Anchored exact mutual-kNN edge CTEs (requires a MATERIALIZED `u`
    * prelude over the FULL embeddings table and an `nr(vec_id, nn)` norms
    * CTE) — mirrors Similarity.mutualKnnEdgesAnchored pass for pass:
    * anchors are the id % max(1, n div AnchorCap) == 0 stratum, t1 is the
    * anchors' exact top-`k`, t2 the anchors' neighbors' exact top-`k`,
    * and `xme(ea < eb, cq)` the DISTINCT mutual edges touching an anchor.
    */
  private def anchoredExactCtes(k: Int): String =
    s"""anch AS (SELECT e.vec_id FROM embeddings e, (SELECT greatest(1, count(*) // $AnchorCap) AS m FROM embeddings) mm WHERE e.vec_id % mm.m = 0),
ad1 AS (SELECT a.vec_id AS qa, b.vec_id AS cb, sum(a.x * b.x) AS d FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id WHERE a.vec_id IN (SELECT vec_id FROM anch) GROUP BY 1, 2),
as1 AS (SELECT qa, cb, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv FROM ad1 JOIN nr na ON na.vec_id = qa JOIN nr nb ON nb.vec_id = cb),
t1 AS MATERIALIZED (SELECT qa, cb, sv FROM (SELECT qa, cb, sv, row_number() OVER (PARTITION BY qa ORDER BY sv DESC, cb) AS rn FROM as1) WHERE rn <= $k),
nbrs AS (SELECT DISTINCT cb AS vec_id FROM t1),
ad2 AS (SELECT a.vec_id AS qa, b.vec_id AS cb, sum(a.x * b.x) AS d FROM u a JOIN u b ON a.i = b.i AND a.vec_id <> b.vec_id WHERE a.vec_id IN (SELECT vec_id FROM nbrs) GROUP BY 1, 2),
as2 AS (SELECT qa, cb, CAST(d AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS sv FROM ad2 JOIN nr na ON na.vec_id = qa JOIN nr nb ON nb.vec_id = cb),
t2 AS (SELECT qa, cb, sv FROM (SELECT qa, cb, sv, row_number() OVER (PARTITION BY qa ORDER BY sv DESC, cb) AS rn FROM as2) WHERE rn <= $k),
tall AS (SELECT qa, cb FROM t1 UNION ALL SELECT qa, cb FROM t2),
xme AS MATERIALIZED (SELECT DISTINCT least(t.qa, t.cb) AS ea, greatest(t.qa, t.cb) AS eb, CAST(floor(t.sv * 1000000) AS BIGINT) AS cq FROM t1 t JOIN tall r ON r.qa = t.cb AND r.cb = t.qa)"""

  private val ALL_MARKERS = TextAnalysis.langMarkers.flatMap(_._2)
    .map(m => s"'$m'").mkString(",")

  private val EVENTS_SQL =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type, count(*) AS n_events,
CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value FROM events GROUP BY 1,2 ORDER BY 1,2"""

  private object Counter {
    private val c = new java.util.concurrent.atomic.AtomicInteger(0)
    def next(): Int = c.incrementAndGet()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    // A duplicate name would silently shadow an earlier definition when the
    // tuple list collapses into a Map (it happened: round 8 shipped two dead
    // ROLLUP/CUBE queries). Fail loudly instead.
    val dups = defs.map(_._1).groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names would shadow definitions: ${dups.mkString(", ")}")
    defs.map { case (n, q, _) => n -> q }.toMap
  }

  def oracleSql: Map[String, String] =
    defs.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
