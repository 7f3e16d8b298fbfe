package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.SampleOps
import graft.text.TextOps

/** Session-7 operators: exact-quota stratified sampling, BPE apply-side
  * encoding, and the MinHash-LSH dedup-quality evaluation harness. */
class SampleEvalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("stratifiedQuota matches the row_number window spec; small strata kept whole") {
    val df = (0L until 200L).map(i => (if (i % 3 == 0) "a" else "b", i)).toDF("g", "id")
    val got = SampleOps.stratifiedQuota(df, Seq("g"), col("id"), quota = 10)
    val skey = pmod(col("id") * lit(2654435761L) + lit(12345L), lit(2147483648L))
    val ref = df.withColumn("skey", skey)
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy("skey", "id")))
      .filter(col("rn") <= 10).select("g", "skey", "id")
    assert(got.count() === 20)
    assert(got.exceptAll(ref).count() === 0 && ref.exceptAll(got).count() === 0)
    val small = Seq(("s", 1L), ("s", 2L)).toDF("g", "id")
    assert(SampleOps.stratifiedQuota(small, Seq("g"), col("id"), 10).count() === 2)
  }

  test("bpeEncode: token stream re-joins to the vocab segmentation, counts add up") {
    val docs = Seq((1L, "aa ab aa"), (2L, "ab")).toDF("doc_id", "text")
    val (_, vocab) = TextOps.bpeTrain(docs, nMerges = 2)
    val seg = vocab.select("word", "toks").as[(String, String)].collect().toMap
    val nsy = vocab.select("word", "n_syms").as[(String, Int)].collect().toMap
    val enc = TextOps.bpeEncode(docs, vocab).orderBy("doc_id").collect()
    assert(enc(0).getAs[String]("toks_str") ===
      Seq("aa", "ab", "aa").map(seg).mkString(" "))
    assert(enc(0).getAs[Long]("n_words") === 3L)
    assert(enc(0).getAs[Long]("n_tokens") ===
      Seq("aa", "ab", "aa").map(nsy(_).toLong).sum)
    assert(enc(1).getAs[String]("toks_str") === seg("ab"))
  }

  test("minHashLshEval: confusion identities; an identical pair is truth AND candidate") {
    val base = (0L until 40L)
      .map(i => (i, s"t${i}a t${i}b t${i}c t${i}d t${i}e t${i}f"))
    val docs = base.toDF("doc_id", "text")
      .unionByName(Seq((100L, base(5)._2)).toDF("doc_id", "text"))
    val r = TextOps.minHashLshEval(docs).head()
    val Seq(nt, nc, tp, fn, fp) = (0 to 4).map(r.getLong)
    assert(tp + fn === nt)
    assert(tp + fp === nc)
    assert(nt === 1L && tp === 1L && fn === 0L) // exact dup: every band agrees
  }
}
