package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One call into the library, named `<Module>.<function>`. `call` makes
  * the call (eager work such as a fixpoint loop happens here) and returns
  * the frames the caller would consume; the benchmark materializes every
  * column of each through the noop sink. `check` validates the outputs
  * against a reference and throws when they are wrong.
  */
final case class Op(name: String, call: () => Seq[DataFrame],
                    check: Seq[DataFrame] => Unit) {
  def module: String = name.takeWhile(_ != '.')
}

object Op {
  /** Materializes every column of `df` and discards it. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def fail(msg: String): Nothing = throw new IllegalStateException(msg)

  def expect[T](what: String, got: T, want: T): Unit =
    if (got != want) fail(s"$what: got $got, want $want")
}

/** Order-independent digest of a frame: row count, the sum of a 64-bit hash
  * of every row, and a hash of the schema. Equal digests mean equal
  * multisets of rows, up to hash collisions.
  */
object Digest {
  def of(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").hashCode
    f"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}:$schema%08x"
  }

  def of(dfs: Seq[DataFrame]): String = dfs.map(of).mkString("+")
}
