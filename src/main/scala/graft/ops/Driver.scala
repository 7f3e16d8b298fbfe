package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType
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
  * their parallelism. Like Spark's own collect, the task ships its rows as
  * one array of binary rows, decoded to `Row`s on the driver. Shipping the
  * `Row` objects themselves costs a Java serialization per field: on 4
  * local cores a 545,480-row feed took 3.0 s that way and 0.6 s this way,
  * against 0.3 s for a plain parallel collect.
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
    val schema = df.schema
    val one = df.queryExecution.toRdd.coalesce(1)
    val packed = if (one.partitions.isEmpty) Array.empty[Byte]
      else one.mapPartitions(it => Iterator(pack(it.take(maxRows + 1), schema))).collect().head
    val fromRow = ExpressionEncoder(RowEncoder.encoderFor(schema)).resolveAndBind()
      .createDeserializer()
    val rows = unpack(packed, schema.length).map(fromRow)
    lazy val bytes = SizeEstimator.estimate(rows)
    if (rows.length > maxRows)
      Left(s"${rows.length} rows or more, over the driver cap of $maxRows rows")
    else if (bytes > maxBytes)
      Left(s"${rows.length} rows of about $bytes bytes, over the driver cap of $maxBytes bytes")
    else Right(rows)
  }

  /** rows as length-prefixed binary rows */
  private def pack(rows: Iterator[InternalRow], schema: StructType): Array[Byte] = {
    val toUnsafe = UnsafeProjection.create(schema)
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    val buf = new Array[Byte](4096)
    rows.foreach { r =>
      val u = toUnsafe(r)
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, buf)
    }
    out.flush()
    bytes.toByteArray
  }

  private def unpack(packed: Array[Byte], numFields: Int): Array[InternalRow] = {
    val in = new DataInputStream(new ByteArrayInputStream(packed))
    val rows = Array.newBuilder[InternalRow]
    while (in.available() > 0) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      val u = new UnsafeRow(numFields)
      u.pointTo(b, b.length)
      rows += u
    }
    rows.result()
  }
}
