package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.util.SizeEstimator

/** The one bounded driver collect. Every pull of a DataFrame into driver
  * memory names its caps: at most `maxRows + 1` rows are ever fetched, so an
  * over-cap input costs the cap, not the input, and fails loudly instead of
  * exhausting the driver heap. The byte cap is checked against the JVM size
  * estimate of the fetched rows.
  *
  * The fetch is ONE Spark job whatever the input's partitioning (none for
  * an input with no partitions): the input's rows are coalesced to one
  * partition, so the job is a single task that reads the partitions in turn
  * and stops at the cap. A bare collect of `limit(n)` runs Spark's
  * incremental take instead, one job per scale-up step (1, 4, 16…
  * partitions). The single task suits what the callers hand it, a
  * checkpoint or a filter over one; stages before the last shuffle keep
  * their parallelism.
  */
object Driver {
  def collectBounded(df: DataFrame, maxRows: Int, maxBytes: Long, what: String): Array[Row] =
    collectWithin(df, maxRows, maxBytes) match {
      case Right(rows) => rows
      case Left(over) => throw new IllegalStateException(s"$what: $over")
    }

  /** The rows of `df` if they fit both caps, else which cap they broke: the
    * form for callers that have a distributed path to fall back to. */
  def collectWithin(df: DataFrame, maxRows: Int, maxBytes: Long): Either[String, Array[Row]] = {
    val one = df.rdd.coalesce(1)
    val rows = if (one.partitions.isEmpty) Array.empty[Row]
      else one.mapPartitions(_.take(maxRows + 1)).collect()
    lazy val bytes = SizeEstimator.estimate(rows)
    if (rows.length > maxRows)
      Left(s"${rows.length} rows or more, over the driver cap of $maxRows rows")
    else if (bytes > maxBytes)
      Left(s"${rows.length} rows of about $bytes bytes, over the driver cap of $maxBytes bytes")
    else Right(rows)
  }
}
