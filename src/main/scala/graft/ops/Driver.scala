package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.util.SizeEstimator

/** The one bounded driver collect. Every pull of a DataFrame into driver
  * memory names its caps: at most `maxRows + 1` rows are ever fetched, so an
  * over-cap input costs the cap, not the input, and fails loudly instead of
  * exhausting the driver heap. The byte cap is checked against the JVM size
  * estimate of the fetched rows.
  */
object Driver {
  def collectBounded(df: DataFrame, maxRows: Int, maxBytes: Long, what: String): Array[Row] = {
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows)
      throw new IllegalStateException(
        s"$what: ${rows.length} rows or more, over the driver cap of $maxRows rows")
    val bytes = SizeEstimator.estimate(rows)
    if (bytes > maxBytes)
      throw new IllegalStateException(
        s"$what: ${rows.length} rows of about $bytes bytes, over the driver cap of $maxBytes bytes")
    rows
  }
}
