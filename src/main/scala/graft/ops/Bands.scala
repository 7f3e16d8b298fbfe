package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded pair join, the candidate stage of the positional band
  * families (minhash bands, simhash quarters, sign-LSH tables). Each side
  * is a frame with its equal-length band keys; each side posexplodes its
  * keys into (band, key) rows, the sides equi-join on (band, key), and
  * `cond` is the caller's pair condition (`id1 < id2` for a self-join,
  * `q_id != vec_id` for a probe). A pair that agrees on several bands meets
  * at each of them; the OWNER conjunct keeps it only at the FIRST band on
  * which the two key lists agree, so no dedup shuffle follows.
  *
  * Contract: every pair of input rows that meets `cond` and agrees on some
  * band comes out exactly once, with `band` its first agreeing band
  * (0-based). Agreement is `=`, the join key's equality, so a null key
  * never agrees: a null band neither joins nor owns a pair. Output: `band`,
  * the left columns, the right columns (the sides' names must differ).
  */
object Bands {
  def pairs(left: (DataFrame, Seq[Column]), right: (DataFrame, Seq[Column]),
            cond: Column): DataFrame = {
    val bands = left._2.length
    require(bands > 0 && right._2.length == bands, "banded pair join: unequal key counts")
    // outer: no inferred `size(keys) > 0` filter, which would be pushed below
    // the key projection and compute the keys twice (keys are never empty)
    def side(s: (DataFrame, Seq[Column]), keys: String) =
      s._1.select(col("*"), array(s._2: _*).as(keys))
        .select(col("*"), posexplode_outer(col(keys)).as(Seq("band", "_band_key")))
    // CASE takes the first true branch and skips a null one
    val agree = (0 until bands).map(b => col("_keys_l")(b) === col("_keys_r")(b))
    val first = (1 until bands).foldLeft(when(agree(0), 0))((c, b) => c.when(agree(b), b))
    side(left, "_keys_l").join(side(right, "_keys_r"), Seq("band", "_band_key"))
      .filter(cond && first === col("band"))
      .drop("_band_key", "_keys_l", "_keys_r")
  }
}
