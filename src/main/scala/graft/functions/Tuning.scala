package graft.functions

import org.apache.spark.sql.SparkSession

/** Shared partitioning heuristics for compute-bound (rather than
  * bytes-bound) stages.
  */
object Tuning {

  /** Partition count for spreading a compute-heavy SMALL input across
    * cores. Spark sizes scan splits and AQE-coalesced shuffle partitions
    * by BYTES, so a small-but-expensive derivation (shingling, md5
    * minhashes, vector quantization, array-intersect verification) lands
    * on one task while the rest of the machine idles.
    *
    * The target is deliberately a PER-JVM concurrency bound, not the
    * machine's core count: a round-16 sweep of the shingle+df stage at
    * sf0.1 measured 1 partition = 5.6-7.4 s, 4 = 0.8-1.4 s, 8 = 0.7-1.0 s
    * typical, while 16-32 concurrent allocation-heavy tasks in ONE JVM
    * were bimodal (1-3 s or 10-30 s stalls with idle CPU — threads
    * blocked in the memory subsystem, reproduced on unmodified code, so
    * a pre-existing host pathology that high per-JVM concurrency
    * triggers). Production executors run 4-8 cores per JVM, which is
    * exactly the regime that measured flat-fast; a large input never
    * reaches this code because callers only spread when the scan has
    * fewer partitions than this target. The value is the session's
    * shuffle partitions clamped to [2, 8].
    */
  def spreadPartitions(spark: SparkSession): Int = {
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(2, math.min(shuffle, 8))
  }
}
