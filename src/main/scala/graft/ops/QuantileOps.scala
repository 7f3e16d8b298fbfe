package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** EXACT order statistics (quantiles) without a global sort — multi-rank
  * histogram-narrowing selection (the classic distributed selection
  * algorithm, adapted to scans).
  *
  * Order: each double maps to its order-preserving 64-bit key (its IEEE
  * bits, the low 63 flipped for negatives), so keys compare as signed
  * longs in `java.util.Arrays.sort` order: −Infinity < negatives < −0.0 <
  * 0.0 < positives < +Infinity < NaN. A bucket at shift s is an aligned
  * block of 2^s consecutive keys (the key with its low s bits cleared):
  * integer arithmetic, with no float width to overflow or underflow.
  *
  * The level loop. A level holds disjoint key ranges, each with its count
  * and the ranks that fall in it (level 0: the whole key space, every
  * rank). ONE aggregate per level returns (count, min key, max key) per
  * bucket of every open range, bucketed one of two ways:
  *   - PULL, when the open ranges together hold at most `collectLimit`
  *     values: shift 0, one bucket per distinct key, so every rank resolves;
  *   - HISTOGRAM otherwise: each range at the smallest shift that spans it
  *     in its share of `buckets` (at least 2 buckets), so a range of more
  *     than one key splits and every level strictly narrows.
  * On the driver each rank walks its range's cumulative counts to its
  * target bucket. A bucket that spans one key (min == max) resolves its
  * ranks without a pull; any other becomes a next-level range on its own
  * [min, max] with only the ranks that fall in it. Quantiles that share a
  * bucket share its scans, and the level count depends on the data, not on
  * how many quantiles are asked.
  *
  * Job budget: one aggregate per level, two Spark jobs under adaptive
  * execution (its map stage, then the pull of its output). A next-level
  * range lies inside one aligned bucket, so each level lowers its shift by
  * at least log2 of its share: at most about 64 / log2(buckets / ranges)
  * + 2 levels; 600,000 lineitem prices at the defaults take 3. Each level's
  * rows reach the driver through one `Driver.collectBounded` on the
  * aggregate's output, capped at `collectLimit` rows for a pull and
  * `buckets` rows (or 2 per range) for a histogram. The exchange carries
  * per-task partial counts, never the data.
  *
  * Determinism: the k-th smallest VALUE of a multiset is unique regardless
  * of tie order, and every step here (key ranges, counts, min/max) is
  * order-insensitive — so the result is exact and identical under any
  * partitioning, which makes it SQL-oracle-able (DuckDB: row_number over
  * ORDER BY v, pick rank k).
  */
object QuantileOps {

  /** an open key range [lo, hi] holding n values, and the (q, rank within
    * the range)s that fall in it */
  private case class Span(lo: Long, hi: Long, n: Long, ranks: Seq[(Double, Long)])

  /** (q, value) for each requested quantile of `df.valueCol` (nulls
    * ignored), where value is the exact floor(q*(n-1))-th smallest
    * (0-indexed discrete quantile, no interpolation). */
  def exactQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
                     buckets: Int = 8192,
                     collectLimit: Int = 1 << 16): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"exactQuantiles: quantiles must be in [0,1], got $qs")
    val bits = ColumnBridge.column(StaticInvoke(classOf[java.lang.Double], LongType,
      "doubleToLongBits", Seq(ColumnBridge.expression(col("v")))))
    val keys = df.select(col(valueCol).cast("double").as("v")).filter(col("v").isNotNull)
      .select(bits.bitwiseXOR(shiftright(bits, 63).bitwiseAND(lit(Long.MaxValue))).as("k"))
    val found = scala.collection.mutable.Map.empty[Double, Double]
    // level 0 spans every key; its count, and so every rank, is known only
    // after its histogram
    var open = Seq(Span(Long.MinValue, Long.MaxValue, Long.MaxValue, Nil))
    var level = 0
    while (open.nonEmpty) {
      val total = open.map(_.n).sum
      val pull = total <= collectLimit
      val share = math.max(2, buckets / open.size)
      def shift(s: Span) = if (pull) 0
        else (0 to 63).find(i => BigInt(s.hi >> i) - BigInt(s.lo >> i) < share).get
      def bucket(s: Span) = greatest(col("k").bitwiseAND(lit(-1L << shift(s))), lit(s.lo))
      def in(s: Span) = col("k").between(s.lo, s.hi)
      val b = open.tail.foldLeft(when(in(open.head), bucket(open.head)))(
        (c, s) => c.when(in(s), bucket(s)))
      val cap = if (pull) total else share.toLong * open.size
      val hist = Driver.collectBounded(
        keys.select(b.as("b"), col("k")).filter(col("b").isNotNull)
          .groupBy("b").agg(count(lit(1)), min("k"), max("k")).drop("b"),
        cap.toInt, cap * 256L + (1L << 16), s"exactQuantiles level $level ${if (pull) "pull" else "histogram"}")
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
      if (level == 0) {
        val n = hist.map(_._1).sum
        require(n > 0, s"exactQuantiles: no non-null values in $valueCol")
        open = Seq(open.head.copy(n = n,
          ranks = qs.distinct.map(q => q -> math.floor(q * (n - 1).toDouble).toLong)))
      }
      open = open.flatMap { s =>
        val rows = hist.filter { case (_, lo, _) => s.lo <= lo && lo <= s.hi }
        val before = rows.scanLeft(0L)(_ + _._1)
        s.ranks.groupBy { case (_, r) => before.lastIndexWhere(_ <= r) }.toSeq.flatMap {
          case (i, rs) =>
            val (c, lo, hi) = rows(i)
            if (lo == hi) { rs.foreach { case (q, _) => found(q) = toDouble(lo) }; None }
            else Some(Span(lo, hi, c, rs.map { case (q, r) => q -> (r - before(i)) }))
        }
      }
      level += 1
    }
    df.sparkSession.createDataFrame(qs.sorted.map(q => Row(q, found(q))).asJava,
      StructType(Seq(StructField("q", DoubleType, nullable = false),
                     StructField("value", DoubleType, nullable = false))))
  }

  /** the double whose order key is k (the key map is its own inverse) */
  private def toDouble(k: Long): Double =
    java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & Long.MaxValue))
}
