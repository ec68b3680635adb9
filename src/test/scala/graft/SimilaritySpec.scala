package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Similarity

/** Similarity-search specs filed by subject: input validation of the
  * IVF-PQ encode pass shared by `pqCodes` and `ivfPqSearch`.
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
}
