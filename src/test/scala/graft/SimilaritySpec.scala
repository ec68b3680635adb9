package graft

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Similarity

/** Similarity-search specs filed by subject: input validation of the
  * IVF-PQ encode pass shared by `pqCodes` and `ivfPqSearch`, the
  * bucket-scoped top-k operators against a plain-Scala reference, and the
  * registration-free `dotLong`.
  */
class SimilaritySpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("pqCodes and ivfPqSearch fail loudly on a null cell id") {
    // a null cell would become a codeword that wins every code tie: codes
    // turn NULL and ADC sums silently drop subspaces
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), Some(0)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f), Some(0)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), Some(1)),
      (4L, Array(0.0f, 0.9f, 0.1f, 0.0f), Some(1)),
      (5L, Array(0.0f, 0.0f, 1.0f, 0.0f), None))
      .toDF("vec_id", "embedding", "label")
    val calls = Seq(
      () => Similarity.pqCodes(df, "vec_id", "embedding", "label", 2, 4).collect(),
      () => Similarity.ivfPqSearch(df, "vec_id", "embedding", "label",
        m = 2, dims = 4, k = 3, nprobe = 2).collect())
    calls.foreach { call =>
      val err = intercept[Exception](call())
      assert(messages(err).contains("null cell id in column 'label'"), messages(err))
    }
  }

  test("pqCodes fails loudly on a vector shorter than dims") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val err = intercept[Exception](
      Similarity.pqCodes(df, "vec_id", "embedding", "label", 2, 4).collect())
    assert(messages(err).contains("shorter than dims = 4"), messages(err))
  }

  /** Plain-Scala mirrors of the quantized cosine: `floor(x * 1e7)` longs,
    * exact integer dots, 0 for a zero norm.
    */
  private def quantized(v: Array[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * Similarity.QuantScale).toLong)
  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => x * y }.sum
  private def cosine(a: Array[Long], b: Array[Long]): Double = {
    val (na, nb) = (dot(a, a), dot(b, b))
    if (na == 0 || nb == 0) 0.0
    else dot(a, b).toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** 40 random 6-dim vectors, ids 40..45 exact copies of ids 0..5 (same
    * cell, same bucket: the sim ties the id tie-break settles) and id 46
    * the zero vector; cell = id % 4.
    */
  private lazy val corpus: Seq[(Long, Array[Float], Int)] = {
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map(i =>
      i -> Array.fill(6)((rnd.nextInt(2001) - 1000) / 1000f))
    val rows = base ++ base.take(6).map { case (i, v) => (i + 40L, v) } :+
      (46L -> Array.fill(6)(0f))
    rows.map { case (i, v) => (i, v, (i % 4).toInt) }
  }

  /** Top-k by (sim desc, neighbor id) among the other rows sharing a key. */
  private def bucketTopKReference(key: ((Long, Array[Float], Int)) => Long,
                                  k: Int): Set[(Long, Long, Long, Int)] =
    corpus.flatMap { case r @ (qid, qv, _) =>
      corpus.filter(c => c._1 != qid && key(c) == key(r))
        .map(c => (-cosine(quantized(qv), quantized(c._2)), c._1))
        .sorted.take(k).zipWithIndex
        .map { case ((_, nid), rank) => (qid, key(r), nid, rank + 1) }
    }.toSet

  private def rows(got: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] =
    got.collect().map(r => (r.getLong(0), r.get(1).toString.toLong,
      r.getLong(2), r.getInt(3))).toSet

  test("lshTopK and ivfTopK equal a plain-Scala top-k within the bucket or cell") {
    val df = corpus.toDF("vec_id", "embedding", "label")
    val bits = 3
    def bucket(r: (Long, Array[Float], Int)): Long =
      (0 until bits).map(j => if (r._2(j) > 0f) 1L << j else 0L).sum
    for (k <- Seq(1, 3)) {
      assert(rows(Similarity.lshTopK(df, "vec_id", "embedding", k, bits)) ==
        bucketTopKReference(bucket, k), s"lshTopK k=$k")
      assert(rows(Similarity.ivfTopK(df, "vec_id", "embedding", "label", k)) ==
        bucketTopKReference(_._3.toLong, k), s"ivfTopK k=$k")
    }
  }

  test("dotLong, cosine and kmeansAssign resolve in a session with no registration") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_long_dot"))
    def frame(s: SparkSession) = s.createDataFrame(corpus.map { case (i, v, c) =>
      (i, v, corpus((i.toInt + 1) % corpus.size)._2, c) })
      .toDF("vec_id", "a", "b", "label")
    def values(s: SparkSession): Seq[Row] = frame(s)
      .select(col("vec_id"),
        Similarity.dotLong(Similarity.quantize(col("a")), Similarity.quantize(col("b"))),
        Similarity.cosine(col("a"), col("b")))
      .orderBy("vec_id").collect().toSeq
    val expected = corpus.map { case (i, v, _) =>
      val w = corpus((i.toInt + 1) % corpus.size)._2
      Row(i, dot(quantized(v), quantized(w)), cosine(quantized(v), quantized(w)))
    }
    assert(values(fresh) == expected)
    assert(values(spark) == expected)
    def assigned(s: SparkSession): Set[Row] =
      Similarity.kmeansAssign(frame(s), "vec_id", "a", "label").collect().toSet
    assert(assigned(fresh) == assigned(spark))
    // the type check is LongDot's own, not an unresolved-function error
    val err = intercept[AnalysisException](fresh.range(1)
      .select(Similarity.dotLong(array(lit(1L)), lit(1))).collect())
    assert(err.getMessage.contains("graft_long_dot expects two ARRAY<BIGINT>"),
      err.getMessage)
  }
}
