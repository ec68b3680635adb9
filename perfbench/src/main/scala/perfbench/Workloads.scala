package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.{GraphAlgorithms, NetworkFrame, Storage}
import graft.functions.{Dedup, Similarity, TextAnalysis, Tuning}
import graft.multimodal.Multimodal

/** Inputs generated for one seed: the stated input row count and the
  * operations over them.
  */
final case class Prepared(rows: Long, ops: Seq[Op])

/** A benchmark workload. `prepare` writes the seed's inputs under `dir`
  * and returns the operations, which read those files. `timedPasses` is
  * the number of timed passes in each of the untraced and traced series.
  * It is fixed, however fast the passes run, so that both sides of a
  * comparison take their figures over the same passes.
  */
trait Workload {
  def name: String
  def opNames: Seq[String]
  def timedPasses: Int
  def prepare(spark: SparkSession, dir: String, seed: Long): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(GraphFrame, LlmCuration)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** A seeded bijection of 0 until n. */
  def permutation(n: Int, seed: Long): Array[Int] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val p = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }

  /** `rows` in a seeded order: the seed fixes the row order of the files. */
  def shuffled[T](rows: IndexedSeq[T], seed: Long): IndexedSeq[T] =
    permutation(rows.length, seed ^ 0x5DEECE66DL).toIndexedSeq.map(rows)

  def writeOne(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}

/** The graph workload: a fixpoint algorithm on a small sparse graph, where
  * the state is tiny and time goes to the driver and the scheduler, then
  * the frame algebra and bucketed storage on a larger generated frame,
  * whose joins shuffle but whose time, at this size, goes mostly to the
  * fixed cost of each job and file.
  */
object GraphFrame extends Workload {
  val name = "graph_frame"
  val timedPasses = 3
  val opNames: Seq[String] = CustomerGraph.opNames ++ GeneratedFrame.opNames

  def prepare(spark: SparkSession, dir: String, seed: Long): Prepared = {
    val g = CustomerGraph.prepare(spark, s"$dir/graph", seed)
    val f = GeneratedFrame.prepare(spark, s"$dir/frame", seed)
    Prepared(g.rows + f.rows, g.ops ++ f.ops)
  }
}

/** A sparse customer graph, shaped like the cyclic core of the
  * repository's sf0.1 sparse customer graph: one order per customer, each
  * linking a uniform customer to a uniform customer. The base graph is
  * fixed, and its base seed is chosen so that it holds strong components of
  * 3 and 2 nodes among trees that the SCC trim peels: the coloring
  * fixpoint and the backward search run in every call, and their round
  * counts do not depend on the labelling. The seed relabels node ids (a
  * bijection of the same range) and fixes the file row order.
  */
object CustomerGraph {
  val Nodes = 80
  private val BaseSeed = 105L

  val opNames = Seq("GraphAlgorithms.strongComponentLabels")

  def prepare(spark: SparkSession, dir: String, seed: Long): Prepared = {
    import spark.implicits._
    val n = Nodes
    val rng = new SplittableRandom(BaseSeed)
    val orderKeys = Array.tabulate(n)(10 * _)
    val cust = Array.fill(n)(rng.nextInt(n))
    val target = Array.fill(n)(rng.nextInt(n))
    val cents = Array.fill(n)(rng.nextLong(100000L, 50000000L))
    val perm = Workloads.permutation(n, seed)
    val sSrc = cust.map(perm)
    val sDst = target.map(perm)

    val nodesPath = s"$dir/nodes"; val sparsePath = s"$dir/sparse_edges"
    Workloads.writeOne(Workloads.shuffled((0 until n).map(_.toLong), seed).toDF("id"), nodesPath)
    Workloads.writeOne(Workloads.shuffled((0 until n).map(i =>
      (sSrc(i).toLong, sDst(i).toLong, cents(i) / 100.0, orderKeys(i).toLong)), seed)
      .toDF("source", "target", "weight", "edge_id"), sparsePath)

    def graph = NetworkFrame(spark.read.parquet(nodesPath), spark.read.parquet(sparsePath))

    val ops = Seq(
      Op("GraphAlgorithms.strongComponentLabels",
        () => Seq(GraphAlgorithms.strongComponentLabels(graph)),
        { case Seq(out) =>
          val want = Reference.strongComponents(n, sSrc, sDst)
          // a graph of singletons would leave the coloring fixpoint unrun
          // and pass any labelling that puts every node alone
          if (want.groupBy(identity).forall(_._2.length == 1))
            Op.fail("the reference has no strong component larger than one node")
          val got = out.select("id", "component").as[(Long, Long)].collect()
          Op.expect("rows", got.length, n)
          val label = new Array[Int](n)
          got.foreach { case (id, c) => label(id.toInt) = c.toInt }
          if (!Reference.samePartition(want, label))
            Op.fail("strong components differ from Tarjan's")
        }))
    Prepared(2L * n, ops)
  }
}

/** The LLM-curation operations on documents and embeddings shaped like the
  * sf0.1 tables: word texts with language marker words and planted near
  * duplicates, and unit vectors around ten cluster centres. The base
  * corpus is fixed; the seed relabels doc and vector ids (bijections of
  * the same ranges) and fixes the file row order.
  */
object LlmCuration extends Workload {
  val name = "llm_curation"
  // a pass costs less than graph_frame's, and the run budget affords a
  // fourth one, which takes the fastest pass further into the JIT warm-up
  val timedPasses = 4
  val Docs = 400
  val Vectors = 300
  val Dims = 64
  private val BaseSeed = 42L
  private val Words = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "agg", "key", "query", "scan", "batch")
  private val Langs = Seq("en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"), "fr" -> Seq("le", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es"), "zh" -> Seq("的", "是", "在"))

  val opNames = Seq("TextAnalysis.qualityFeatures", "TextAnalysis.langId",
    "Dedup.nearDupClusters", "Similarity.ivfPqSearch",
    "Multimodal.decodePixels")

  def prepare(spark: SparkSession, dir: String, seed: Long): Prepared = {
    import spark.implicits._
    val rng = new SplittableRandom(BaseSeed)
    val texts = new Array[String](Docs)
    val langs = new Array[String](Docs)
    for (d <- 0 until Docs) {
      val (lang, markers) = Langs(if (rng.nextInt(10) < 4) 0 else rng.nextInt(Langs.length))
      langs(d) = lang
      texts(d) =
        if (d > 20 && rng.nextInt(20) == 0) texts(rng.nextInt(d)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(
          if (rng.nextInt(8) == 0) markers(rng.nextInt(markers.length))
          else Words(rng.nextInt(Words.length))).mkString(" ")
    }
    val centres = Array.fill(10, Dims)(rng.nextDouble() * 2 - 1)
    val labels = Array.fill(Vectors)(rng.nextInt(10))
    val vecs = labels.map { l =>
      val v = centres(l).map(_ + (rng.nextDouble() - 0.5))
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val docPerm = Workloads.permutation(Docs, seed)
    val vecPerm = Workloads.permutation(Vectors, seed + 1)

    val docsPath = s"$dir/documents"; val embPath = s"$dir/embeddings"
    Workloads.writeOne(Workloads.shuffled((0 until Docs).map(d =>
      (docPerm(d).toLong, texts(d), langs(d), s"src${d % 20}", texts(d).length.toLong)), seed)
      .toDF("doc_id", "text", "lang", "source", "n_chars"), docsPath)
    Workloads.writeOne(Workloads.shuffled((0 until Vectors).map(v =>
      (vecPerm(v).toLong, vecs(v), labels(v))), seed)
      .toDF("vec_id", "embedding", "label"), embPath)

    // documents are spread over the session's compute parallelism the way
    // the repository's query bank prepares them; embeddings are not
    def docs: DataFrame = {
      val df = spark.read.parquet(docsPath)
      val par = Tuning.spreadPartitions(spark)
      if (df.rdd.getNumPartitions < par) df.repartition(par, col("doc_id")) else df
    }
    def emb: DataFrame = spark.read.parquet(embPath)
    val textById = (0 until Docs).map(d => docPerm(d).toLong -> texts(d)).toMap
    def expectDocIds(out: DataFrame, c: String): Unit = {
      val ids = out.select(c).as[Long].collect()
      Op.expect("rows", ids.length, Docs)
      Op.expect("distinct ids", ids.toSet, textById.keySet)
    }

    val ops = Seq(
      Op("TextAnalysis.qualityFeatures",
        () => Seq(TextAnalysis.qualityFeatures(docs.select("doc_id", "text"), "text")),
        { case Seq(out) =>
          val got = out.select("doc_id", "n_chars").as[(Long, Long)].collect()
          Op.expect("rows", got.length, Docs)
          got.foreach { case (id, c) => Op.expect(s"n_chars of $id", c, textById(id).length.toLong) }
        }),
      Op("TextAnalysis.langId",
        () => Seq(docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))),
        { case Seq(out) =>
          expectDocIds(out, "doc_id")
          val bad = out.filter(!col("lang_pred").isin(("und" +: Langs.map(_._1)): _*)).count()
          Op.expect("unknown languages", bad, 0L)
        }),
      Op("Dedup.nearDupClusters",
        () => Seq(Dedup.nearDupClusters(docs, "doc_id", "text", 0.5, numHashes = 16, bands = 4,
          shingleLen = 3)),
        { case Seq(out) =>
          val rep = out.select(col("doc_id"), col("cluster_rep")).as[(Long, Long)].collect().toMap
          Op.expect("rows", rep.size, Docs)
          rep.foreach { case (id, r) =>
            if (r > id || rep(r) != r) Op.fail(s"doc $id has representative $r, not its cluster minimum")
          }
        }),
      Op("Similarity.ivfPqSearch",
        () => Seq(Similarity.ivfPqSearch(emb, "vec_id", "embedding", "label", m = 8, dims = Dims,
          k = 3, nprobe = 2)),
        { case Seq(out) =>
          val bad = out.filter(col("rank") < 1 || col("rank") > 3).count()
          Op.expect("ranks outside 1..3", bad, 0L)
          if (out.count() == 0L) Op.fail("empty search result")
        }),
      Op("Multimodal.decodePixels",
        () => Seq(Multimodal.decodePixels(Multimodal.fromTextPng(spark, docs, "doc_id", "text")).toDF()),
        { case Seq(out) =>
          expectDocIds(out, "id")
          Op.expect("undecoded images", out.filter(!col("decoded")).count(), 0L)
        }))
    Prepared(Docs.toLong + Vectors, ops)
  }
}

/** A generated customer-like frame for the frame algebra and bucketed
  * storage. Nodes carry a segment (5 values), a nation (25) and
  * a DECIMAL balance; edge sources follow a u^2 law (hubs at low ids),
  * targets are uniform. Every value is a hash of (row, seed), so the seed
  * generates the whole input.
  */
object GeneratedFrame {
  val Nodes = 5000L
  val Edges = 50000L
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Table = "perfbench_frame"

  val opNames = Seq("NetworkFrame.degrees", "Storage.writeBucketed", "Storage.readBucketed.degrees")

  /** Spark's default broadcast threshold (10 MiB) scaled by this frame's
    * share of a 5,000,000-edge frame, so joins pick the strategy they pick
    * at that size: the edge side is too big to broadcast and joins shuffle.
    */
  val BroadcastThreshold: Long = 10L * 1024 * 1024 * Edges / 5000000L

  private def hash(row: String, seed: Long, salt: Long) = xxhash64(col(row), lit(seed), lit(salt))

  /** Edge `e`'s source as the driver computes it: Spark's xxhash64 over
    * (row, seed, salt) is XXH64 chained from seed 42.
    */
  private def source(e: Long, seed: Long): Long = {
    val h = XXH64.hashLong(4L, XXH64.hashLong(seed, XXH64.hashLong(e, 42L)))
    val u = (h >>> 11) * (1.0 / (1L << 53))
    (Nodes * u * u).toLong
  }

  def prepare(spark: SparkSession, dir: String, seed: Long): Prepared = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", BroadcastThreshold)
    val nodesPath = s"$dir/nodes"; val edgesPath = s"$dir/edges"
    def cents(c: Column) = (c.cast("decimal(12,0)") / 100).cast("decimal(12,2)")
    spark.range(Nodes).select(col("id"),
        element_at(typedlit(Segments), (pmod(hash("id", seed, 1), lit(5L)) + 1).cast("int"))
          .as("segment"),
        pmod(hash("id", seed, 2), lit(25L)).cast("int").as("nation"),
        cents(pmod(hash("id", seed, 3), lit(1100000L)) - 100000L).as("balance"))
      .write.mode("overwrite").parquet(nodesPath)
    val u = shiftrightunsigned(hash("id", seed, 4), 11) * lit(1.0 / (1L << 53))
    spark.range(Edges).select(
        floor(lit(Nodes.toDouble) * u * u).cast("long").as("source"),
        pmod(hash("id", seed, 5), lit(Nodes)).as("target"),
        cents(pmod(hash("id", seed, 6), lit(100000L))).as("wd"))
      .write.mode("overwrite").parquet(edgesPath)

    def frame = NetworkFrame(spark.read.parquet(nodesPath), spark.read.parquet(edgesPath))
    lazy val maxOutDegree = {
      val d = new Array[Long](Nodes.toInt)
      (0L until Edges).foreach(e => d(source(e, seed).toInt) += 1)
      d.max
    }
    def checkDegrees(outs: Seq[DataFrame]): Unit = {
      val r = outs.head.agg(count(lit(1)), sum("out_degree"), sum("in_degree"), sum("degree"),
        max("out_degree")).head()
      Op.expect("rows", r.getLong(0), Nodes)
      Op.expect("out-degree sum", r.getLong(1), Edges)
      Op.expect("in-degree sum", r.getLong(2), Edges)
      Op.expect("degree sum", r.getLong(3), 2 * Edges)
      Op.expect("largest out-degree", r.getLong(4), maxOutDegree)
    }

    val ops = Seq(
      Op("NetworkFrame.degrees", () => Seq(frame.degrees()), checkDegrees),
      Op("Storage.writeBucketed",
        () => { Storage.writeBucketed(frame, Table); Nil },
        { _ =>
          val back = Storage.readBucketed(spark, Table)
          val f = frame
          Op.expect("nodes round trip", Digest.of(back.nodes), Digest.of(f.nodes))
          Op.expect("edges round trip", Digest.of(back.edges), Digest.of(f.edges))
        }),
      Op("Storage.readBucketed.degrees",
        () => Seq(Storage.readBucketed(spark, Table).degrees()), checkDegrees))
    Prepared(Nodes + Edges, ops)
  }
}
