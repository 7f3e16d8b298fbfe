package graft

import org.scalatest.funsuite.AnyFunSuite

/** Global scale-hygiene gate over the ENTIRE registered query surface: no
  * query may physically plan a CartesianProduct or BroadcastNestedLoopJoin —
  * the two join shapes that cannot survive a 100× scale-up — except the two
  * documented brute-force baselines, where an all-pairs scan against a tiny
  * BROADCAST side is the point:
  *   - q_emb_topk: exact ANN ground truth (corpus × broadcast query set);
  *   - q_emb_pq_topk: the ADC scan (8-byte codes × broadcast per-query
  *     lookup tables) — all-pairs over codes IS the PQ algorithm, and the
  *     big side contributes 8 bytes/row;
  *   - q_doc_hybrid_rrf: its vector leg IS the q_emb_topk baseline
  *     (documented in SimOps.hybridRrf: lshTopK/ivfTopK swap in at scale
  *     with the same output shape, leaving the fusion untouched);
  *   - q_emb_hard_negatives: the same exact-ground-truth scan with the
  *     self-pair exclusion replaced by the label-difference test
  *     (documented in SimOps.hardNegatives: ANN candidate generation with
  *     over-fetch + the same label filter swaps in at corpus scale);
  *   - q_zone_way_length: segments × the BROADCAST zone-rectangle table —
  *     the zone decomposition is bounded by construction (same contract as
  *     the broadcast-PIP polygons), so the NLJ probe is O(|rects|) per
  *     segment and the corpus side streams; an equi-key would have to
  *     invent covering cells for a table of a few dozen rows.
  * Any new operator that accidentally plans a cartesian (e.g. a join whose
  * equi-key got lost in a refactor) fails here before it ships.
  */
class PlanHygieneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val allPairsByDesign =
    // q_emb_ivf_recall's TRUTH side is the documented brute-force baseline
    // (that is the point of a recall audit) — the IVF side under audit is
    // the bucketed path
    Set("q_emb_topk", "q_emb_pq_topk", "q_doc_hybrid_rrf",
      "q_emb_hard_negatives", "q_emb_ivf_recall", "q_zone_way_length",
      // q_emb_matryoshka: BOTH legs are the documented brute-force baseline
      // (truncation audit — exact answers are the point)
      "q_emb_matryoshka",
      // q_graph_triangles: its 5-NN FEED is the q_emb_topk baseline (the
      // LSH/IVF kNN graph swaps in at scale with the same pair shape); the
      // operator under test (degree-oriented triangle join) is equi-joins
      // only, and its three 1-row metric aggregates cross-join by design
      "q_graph_triangles",
      // q_emb_knn_classify: same documented brute-force kNN FEED as
      // q_emb_topk/q_graph_triangles (LSH/IVF swap in at scale); the
      // vote itself is an equi-join + bounded argmax
      "q_emb_knn_classify")

  /** The golden-replay queries read the reference's county outputs, which
    * may be absent; this gate checks plan shape, not data, so it plans them
    * over a one-feature FeatureCollection per county file they read. */
  private def withGoldenFixture[A](body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("golden-fixture")
    for ((county, nodeId) <- Seq("Alpine_County" -> "101", "San_Francisco" -> "\"Geom\""))
      java.nio.file.Files.writeString(dir.resolve(s"intersections_$county.json"),
        s"""{"type":"FeatureCollection","features":[{"type":"Feature",
           |"geometry":{"type":"Point","coordinates":[-119.8,38.6]},
           |"properties":{"streets":["A Street","B Street"],"nodeId":$nodeId,
           |"wayIds":[1,2],"cityName":"Unincorporated"}}]}""".stripMargin)
    val prev = sys.props.get("graft.golden.dir")
    sys.props("graft.golden.dir") = dir.toString
    try body
    finally {
      prev match {
        case Some(v) => sys.props("graft.golden.dir") = v
        case None    => sys.props -= "graft.golden.dir"
      }
      java.nio.file.Files.list(dir).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(dir)
    }
  }

  test("no registered query plans a cartesian or nested-loop join (whitelist: brute-force baselines)") {
    val offenders = withGoldenFixture {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (n, _) => allPairsByDesign(n) }
        .flatMap { case (name, fn) =>
          val plan = fn(spark, sf).queryExecution.executedPlan.toString
          val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(plan.contains)
          if (bad.isEmpty) None else Some(s"$name -> ${bad.mkString(",")}")
        }
    }
    assert(offenders.isEmpty, s"scale-hostile join shapes:\n${offenders.mkString("\n")}")
  }

  test("the whitelisted baselines DO broadcast their small side (not the corpus)") {
    for (n <- allPairsByDesign) {
      val plan = SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"), s"$n: expected the documented all-pairs scan")
      assert(plan.contains("BroadcastExchange"), s"$n: the query side must be the broadcast side")
    }
  }
}
