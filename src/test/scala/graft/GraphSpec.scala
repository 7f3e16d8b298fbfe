package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.GraphOps

/** connectedComponents vs an in-JVM union-find reference, on adversarial
  * shapes (long chain — the case that kills label propagation —, cycles,
  * stars, deterministic random graphs). */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id canonical root
    val keys = parent.keys.toSeq
    keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val got = GraphOps.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFind(edges)
    assert(got === want)
  }

  test("long chain (128 nodes) — O(log n) rounds, exact components") {
    check((0L until 127L).map(i => (i, i + 1)))
  }

  test("cycles, stars, self-loops, duplicate and reversed edges") {
    val cycle = (0L until 10L).map(i => (i, (i + 1) % 10))
    val star = (100L until 110L).map(i => (150L, i))
    val junk = Seq((7L, 7L), (1L, 0L), (0L, 1L)) // self-loop + dup + reversed
    check(cycle ++ star ++ junk)
  }

  test("deterministic random graph matches union-find") {
    val edges = (0 until 400).map { i =>
      val a = (i * 48271L + 11L) % 200L
      val b = (i * 69621L + 7L) % 200L
      (a, b)
    }.filter(e => e._1 != e._2)
    check(edges)
  }

  test("dedupClusters: exactly one survivor per component, the min id") {
    val pairs = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("id1", "id2")
    val rows = GraphOps.dedupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.toSet === Set(
      (3L, 3L, true), (5L, 3L, false), (9L, 3L, false),
      (20L, 20L, true), (21L, 20L, false)))
  }

  test("small-graph driver closure ≡ distributed star rounds, long and string ids") {
    def withSmallMax[T](n: Int)(body: => T): T = {
      val key = "spark.graft.cc.smallGraphEdges"
      val prev = spark.conf.get(key, "131072")
      spark.conf.set(key, n.toString)
      try body finally spark.conf.set(key, prev)
    }
    val edges = (0 until 500).map { i =>
      ((i * 48271L + 11L) % 180L, (i * 69621L + 7L) % 180L)
    }.filter(e => e._1 != e._2)
    val df = edges.toDF("src", "dst")
    val fast = withSmallMax(131072) {
      GraphOps.connectedComponents(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val star = withSmallMax(0) { // 0 disables the driver path entirely
      GraphOps.connectedComponents(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(fast === star)
    assert(fast === unionFind(edges))
    // string ids: min label must follow Spark's UTF8 binary order both ways
    val sdf = edges.map { case (a, b) => (f"n$a%03d", f"n$b%03d") }.toDF("src", "dst")
    val sFast = withSmallMax(131072) {
      GraphOps.connectedComponents(sdf).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    val sStar = withSmallMax(0) {
      GraphOps.connectedComponents(sdf).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(sFast === sStar)
    // a probe that comes back over-threshold must route to the star path
    val big = withSmallMax(3) {
      GraphOps.connectedComponents(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(big === fast)
  }

  test("small-graph probe: over the broadcast byte budget the star loop runs, same labels") {
    val edges = (0 until 300).map(i => ((i * 7919L) % 90L, (i * 104729L + 3L) % 90L))
      .filter(e => e._1 != e._2)
    val df = edges.toDF("src", "dst")
    def labels() = GraphOps.connectedComponents(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var fast = Map.empty[Long, Long]
    val fastJobs = JobCounter.jobs(spark) { fast = labels() }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1") // one byte: no edge set fits
    var star = Map.empty[Long, Long]
    val starJobs = try JobCounter.jobs(spark) { star = labels() }
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(fast === unionFind(edges))
    assert(star === fast)
    assert(starJobs > fastJobs, s"star loop $starJobs jobs, driver path $fastJobs")
  }

  test("no driver-side graph state: plan has no collect of edges") {
    // structural property: the DISTRIBUTED path (small-graph closure
    // disabled) runs a 2k-node graph without materializing nodes on the
    // driver beyond the 2-long checksum
    val key = "spark.graft.cc.smallGraphEdges"
    val prev = spark.conf.get(key, "131072")
    spark.conf.set(key, "0")
    try {
      val edges = (0L until 2000L).map(i => (i, i / 3)).toDF("src", "dst")
      val out = GraphOps.connectedComponents(edges)
      assert(out.filter(col("component") =!= 0L).count() === 0) // all reach node 0
    } finally spark.conf.set(key, prev)
  }

  // ---- PageRank ----

  /** in-JVM reference of the exact integer recurrence. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
                          scale: Long): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = scale * 15L / 100L
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val sums = edges.groupBy(_._2).view.mapValues(
        _.map(e => r(e._1) / outdeg(e._1)).sum).toMap
      r = nodes.map(v => v -> (base + 85L * sums.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  test("pageRank matches the in-JVM integer reference on a hub-and-chain graph") {
    // hub 0 pointed at by 50 leaves; chain 100..120; a dangling sink 999
    val edges: Seq[(Long, Long)] =
      (1L to 50L).flatMap(i => Seq((i, 0L), (0L, i))) ++
      (100L until 120L).map(i => (i, i + 1)) ++ Seq((120L, 999L))
    val got = GraphOps.pageRank(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = refPageRank(edges, iters = 5, scale = 1000000L)
    assert(got == want,
      s"diff=${want.keySet.filter(k => got.get(k) != want.get(k)).take(5)}")
    // sanity on the shape: the hub outranks every leaf
    assert((1L to 50L).forall(i => got(0L) > got(i)))
  }

  // ---- triangle census ----

  private def triMap(edges: Seq[(Long, Long)]): Map[String, Long] =
    GraphOps.triangleStats(edges.toDF("a", "b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** in-JVM brute force: canonical a<b edges, triangle {x<y<z} counted at
    * its (x,y) edge via common neighbors z > y. */
  private def refTriangles(edges: Seq[(Long, Long)]): Map[String, Long] = {
    val und = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val tris = und.map { case (a, b) =>
      (adj(a) & adj(b)).count(_ > b).toLong
    }.sum
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    Map("n_nodes" -> adj.size.toLong, "n_edges" -> und.size.toLong,
      "n_wedges" -> wedges, "n_triangles" -> tris,
      "clustering_ppb" -> (if (wedges == 0) 0L else 3L * tris * 1000000000L / wedges))
  }

  test("labelPropagation matches the in-JVM synchronous reference; two cliques converge separately") {
    def sym(e: Seq[(Long, Long)]): Seq[(Long, Long)] = e ++ e.map(_.swap)
    // in-JVM synchronous reference with the identical argmax
    def ref(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val nodes = edges.flatMap(t => Seq(t._1, t._2)).distinct
      var lab = nodes.map(n => n -> n).toMap
      for (_ <- 1 to rounds) {
        lab = nodes.map { n =>
          val cnt = adj.getOrElse(n, Nil).map(lab).groupBy(identity)
            .view.mapValues(_.size).toSeq
          n -> (if (cnt.isEmpty) lab(n)
                else cnt.minBy { case (l, c) => (-c, l) }._1)
        }.toMap
      }
      lab
    }
    // two triangles {1,2,3} and {10,11,12} joined by the weak bridge 3-10:
    // after 3 rounds each triangle holds its own min label
    val tri = sym(Seq((1L,2L),(2L,3L),(1L,3L),(10L,11L),(11L,12L),(10L,12L),(3L,10L)))
    val got = GraphOps.labelPropagation(tri.toDF("src", "dst"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ref(tri, 3))
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(10L) === got(11L) && got(11L) === got(12L))
    // deterministic random graph parity at several round counts
    val rnd = (0 until 120).map { i =>
      val a = (i * 37L) % 29; val b = (i * 53L + 7) % 29
      (math.min(a, b), math.max(a, b))
    }.filter(t => t._1 != t._2).distinct
    val se = sym(rnd)
    for (r <- Seq(1, 2, 4)) {
      val g = GraphOps.labelPropagation(se.toDF("src", "dst"), rounds = r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(g === ref(se, r), s"rounds=$r")
    }
  }

  test("triangleStats: K4 is fully transitive (clustering exactly 1e9 ppb)") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(triMap(k4) === Map("n_nodes" -> 4L, "n_edges" -> 6L,
      "n_wedges" -> 12L, "n_triangles" -> 4L, "clustering_ppb" -> 1000000000L))
  }

  test("triangleStats: path graph has wedges but zero triangles") {
    val path = (0L until 9L).map(i => (i, i + 1))
    assert(triMap(path) === Map("n_nodes" -> 10L, "n_edges" -> 9L,
      "n_wedges" -> 8L, "n_triangles" -> 0L, "clustering_ppb" -> 0L))
  }

  test("triangleStats: canonicalizes duplicates, reversals, self-loops") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L))
    assert(triMap(messy) === Map("n_nodes" -> 3L, "n_edges" -> 3L,
      "n_wedges" -> 3L, "n_triangles" -> 1L, "clustering_ppb" -> 1000000000L))
  }

  test("triangleStats matches the in-JVM brute force on a deterministic random graph") {
    val edges = (0 until 600).map { i =>
      ((i * 48271L + 11L) % 150L, (i * 69621L + 7L) % 150L)
    }.filter(e => e._1 != e._2)
    assert(triMap(edges) === refTriangles(edges))
  }

  test("pageRank is partition-invariant (integer arithmetic, exact equality)") {
    val edges = (0L until 3000L).map(i => (i, (i * 48271 + 11) % 997))
      .toDF("src", "dst")
    val a = GraphOps.pageRank(edges.repartition(1), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.pageRank(edges.repartition(32), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }
}
