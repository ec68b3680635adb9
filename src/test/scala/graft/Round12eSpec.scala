package graft

import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, Md5}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, MinHashArray}

/** Round-12 continuation: the streaming ingest-admission gate and its
  * in-row signature building blocks.
  */
class Round12eSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def fixture = Seq(
    (1L, "the cat sat on the mat and watched the quiet street below"),
    (2L, "spark shuffles partition data across executors before wide aggregations run"),
    (3L, "the cat sat on the mat and watched the quiet street below"), // dup of 1
    (4L, "completely different text about mountains rivers and weather today"),
    (5L, "too short") // < 3 tokens: no trigram shingles
  ).toDF("doc_id", "text")

  test("minhashArray matches minhashSignatures value for value") {
    val arr = fixture.select(col("doc_id"),
        Dedup.minhashArray(col("text"), 16, 3).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id").as("id"), posexplode(col("sig")).as(Seq("p", "va")))
      .select(col("id"), col("p").cast("int").as("h"), col("va"))
    val rows = Dedup.minhashSignatures(fixture, "doc_id", "text", 16, 3)
      .select(col("id"), col("h").cast("int").as("h"),
        col("minhash").as("vb"))
    val joined = arr.join(rows, Seq("id", "h"), "full_outer")
    assert(joined.filter(col("va").isNull || col("vb").isNull ||
      col("va") =!= col("vb")).count() == 0)
    // the short doc produces NULL in-row and no rows in the exploded form
    assert(fixture.select(Dedup.minhashArray(col("text"), 16, 3).as("s"))
      .filter(col("s").isNull).count() == 1)
  }

  test("minhashArray hashes each shingle once") {
    // the one native kernel digests each distinct shingle once; no Md5
    // expression or interpreted higher-order function is left to digest again
    val plan = fixture.select(Dedup.minhashArray(col("text"), 16, 3)).queryExecution.analyzed
    def nodes[T](pf: PartialFunction[Expression, T]) = plan.flatMap(_.expressions.flatMap(_.collect(pf)))
    assert(nodes { case m: MinHashArray => m }.size == 1)
    assert(nodes { case f: HigherOrderFunction => f }.isEmpty)
    assert(nodes { case m: Md5 => m }.isEmpty)
  }

  test("lshBandArray matches lshBucketsFromSignatures digest for digest") {
    val sig = Dedup.minhashSignatures(fixture, "doc_id", "text", 16, 3)
    val a = fixture.select(col("doc_id").as("id"),
        Dedup.minhashArray(col("text"), 16, 3).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"), explode(Dedup.lshBandArray(col("sig"), 16, 4)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val b = Dedup.lshBucketsFromSignatures(sig, 16, 4)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("runAdmissionStream excludes self-pairs when batch and corpus ids overlap") {
    // a re-crawled doc: id 1 is in the corpus AND arrives in the batch —
    // it must not admit against itself (batch gate filters x.id =!= y.id;
    // the stream must agree), but it still matches its true dup (doc 3's
    // text == doc 1's)
    val dir = java.nio.file.Files.createTempDirectory("docstream_overlap")
    val path = s"$dir/documents.parquet"
    fixture.coalesce(1).write.mode("overwrite").parquet(path)
    val corpusSig = Dedup.minhashSignatures(
      fixture.filter(col("doc_id") <= 3), "doc_id", "text", 16, 3)
    val streamed = graft.streaming.DocStream.runAdmissionStream(spark, path,
      "doc_id", "text", col("doc_id") === 1, corpusSig,
      16, 4, 3, 0.5, "admission_overlap_spec")
    val batch = Dedup.dedupAgainstCorpus(fixture.filter(col("doc_id") === 1),
      "doc_id", "text", corpusSig, 16, 4, 3, 0.5)
    assert(streamed.filter(col("new_id") === col("corpus_id")).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // the non-self dup pair (1 -> 3, identical text) survives
    assert(streamed.filter(col("corpus_id") === 3L).count() == 1)
  }

  test("runAdmissionStream equals batch dedupAgainstCorpus") {
    val dir = java.nio.file.Files.createTempDirectory("docstream_fix")
    val path = s"$dir/documents.parquet"
    fixture.coalesce(1).write.mode("overwrite").parquet(path)
    // batch side = doc_id >= 3 (includes the dup-of-1 and the short doc);
    // corpus = docs 1 and 2
    val corpusSig = Dedup.minhashSignatures(
      fixture.filter(col("doc_id") < 3), "doc_id", "text", 16, 3)
    val streamed = graft.streaming.DocStream.runAdmissionStream(spark, path,
      "doc_id", "text", col("doc_id") >= 3, corpusSig,
      16, 4, 3, 0.5, "admission_spec")
    val batch = Dedup.dedupAgainstCorpus(fixture.filter(col("doc_id") >= 3),
      "doc_id", "text", corpusSig, 16, 4, 3, 0.5)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    val rows = streamed.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("new_id") == 3L)
    assert(rows.head.getAs[Long]("corpus_id") == 1L)
    assert(rows.head.getAs[Double]("est_jaccard") == 1.0)
  }
}
