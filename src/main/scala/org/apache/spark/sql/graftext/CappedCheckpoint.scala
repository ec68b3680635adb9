package org.apache.spark.sql.graftext

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpointing that keeps Catalyst's size estimates sane across iterative
  * plans.
  *
  * `Dataset.localCheckpoint()` snapshots the data but COPIES the source
  * plan's estimated `sizeInBytes` onto the resulting scan node
  * (`LogicalRDD.fromDataset` forwards `optimizedPlan.stats`). The default
  * size-only stats visitor estimates a join as the PRODUCT of its children's
  * sizes, so in a checkpoint → self-join → checkpoint fixpoint loop (label
  * propagation, pointer doubling, SCC coloring, iterative PageRank …) the
  * estimate's bit-length doubles every round: after r rounds the "size" is a
  * BigInt of ~2^r bits. Nothing overflows — BigInt is arbitrary precision —
  * but planning the (r+1)-th round multiplies those numbers, which is
  * super-linear in bit-length. Around r≈25–30 a single stats visit takes
  * minutes-to-hours of driver CPU inside `BigInteger.multiply`: the job
  * looks hung while the driver grinds arithmetic on a number with millions
  * of digits. Chained fixpoints (e.g. incremental component maintenance
  * seeded from a previous fixpoint's labels) hit this even faster because
  * they START from an already-inflated estimate.
  *
  * The fix: after the eager checkpoint materializes, rebuild the
  * `LogicalRDD` with truthful statistics — the ACTUAL cached block sizes
  * from the block manager when available (better than the estimate ever
  * was: a small checkpointed frame becomes eligible for auto-broadcast on
  * REAL evidence), else the source estimate capped at `Long.MaxValue`.
  * Either way the compounding is broken: no downstream plan ever sees a
  * BigInt wider than ~2×64 bits, so stats estimation stays O(1).
  *
  * Lives under `org.apache.spark.sql` because `LogicalRDD` and
  * `Dataset.ofRows` are `private[sql]` — the standard extension-shim
  * pattern for Spark libraries that need one internal constructor.
  */
object CappedCheckpoint {

  /** `df.localCheckpointCapped()` — drop-in replacement for
    * `df.localCheckpoint()`. */
  implicit class DataFrameCheckpointOps(private val df: DataFrame)
      extends AnyVal {
    def localCheckpointCapped(): DataFrame = localCapped(df)
  }

  /** Free the block-manager storage of a frame produced by
    * `localCheckpointCapped`, once every downstream consumer has
    * materialized (eager checkpoints downstream guarantee that). Safe
    * no-op on frames that are NOT directly a checkpoint scan (e.g. lazy
    * projections over one) — only an exact `LogicalRDD` root is freed, so
    * callers can call this unconditionally in iterative loops. This is
    * what bounds peak storage of multi-level algorithms (Brandes keeps
    * O(depth) level frames alive otherwise).
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  private val Cap = BigInt(Long.MaxValue)

  def localCapped(df: DataFrame): DataFrame = {
    val cdf = df.localCheckpoint().asInstanceOf[classic.Dataset[Row]]
    cdf.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val spark = cdf.sparkSession
        // the eager checkpoint just cached this RDD; its storage footprint
        // is the honest size of the data at this point in the pipeline
        val actual: Option[BigInt] =
          try spark.sparkContext.getRDDStorageInfo
            .find(_.id == lr.rdd.id)
            .map(i => BigInt(i.memSize + i.diskSize).max(1))
          catch { case NonFatal(_) => None }
        val size = actual.getOrElse {
          lr.stats.sizeInBytes.min(Cap).max(1)
        }
        val rebuilt = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          spark, Some(Statistics(sizeInBytes = size)), Some(lr.constraints))
        classic.Dataset.ofRows(spark, rebuilt)
      case _ => cdf
    }
  }
}
