package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.StructType

/** The one broadcast-size rule for a join side that grows with the data
  * (a label dim, a word dictionary, a probe set, a drop or version dim):
  * broadcast it iff its rows × its schema's default row width fit
  * [[BudgetBytes]], else leave it to a shuffle join. Vocabulary-bounded
  * and driver-artifact sides (thresholds, centroids, query dims) keep
  * plain `broadcast()` hints.
  *
  * The row count is the cheapest one the engine has: a count the caller
  * already holds (a memoized count, parquet footer rows), else one
  * early-out count of at most `maxRows + 1` rows a partition. */
object Broadcasts {
  /** The executor broadcast ceiling every data-sized side shares: about
    * 1 GiB, e.g. 44M (BIGINT, BIGINT) label rows or 38M short strings. */
  val BudgetBytes: Long = 1L << 30

  /** Bytes one row of `schema` is sized at: Spark's per-type default
    * column sizes plus 8 bytes of row and hash-relation overhead. */
  def rowBytes(schema: StructType): Long = schema.defaultSize + 8L

  /** The most rows of `schema` the budget holds. */
  def maxRows(schema: StructType): Long = BudgetBytes / rowBytes(schema)

  // test seam: every gate inside `forcing` takes the given regime
  private val forced = new scala.util.DynamicVariable[Option[Boolean]](None)
  private[graft] def forcing[T](bcast: Boolean)(body: => T): T =
    forced.withValue(Some(bcast))(body)

  /** Whether `df` may be broadcast, given its row count. `rows` is not
    * evaluated inside [[forcing]]. */
  def fits(df: DataFrame, rows: => Long): Boolean =
    forced.value.getOrElse(rows <= maxRows(df.schema))

  /** Whether `df` may be broadcast, by an early-out count: one job over
    * `df`'s partitions (no shuffle of its own), each stopping one row
    * past the budget (at most 2^27 rows: a row is at least 8 B). */
  def fits(df: DataFrame): Boolean = {
    val cap = (maxRows(df.schema) + 1).toInt
    fits(df, df.select().queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(rows.take(cap).length.toLong))
      .fold(0L)(_ + _))
  }

  /** `df`, hinted for broadcast iff it fits at `rows` rows. */
  def apply(df: DataFrame, rows: => Long): DataFrame =
    if (fits(df, rows)) broadcast(df) else df

  /** `df`, hinted for broadcast iff its early-out count fits. */
  def apply(df: DataFrame): DataFrame = if (fits(df)) broadcast(df) else df
}
