package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components — the missing stage of the dedup
  * pipeline: near-dup PAIRS (MinHash-LSH / SimHash / embedding buckets) →
  * duplicate CLUSTERS → one survivor per cluster.
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii, "Connected Components in MapReduce and
  * Beyond", SoCC'14 — public). Each round is two shuffle-by-node passes;
  * converges in O(log n) rounds on any graph (vs O(diameter) for plain
  * min-label propagation, which dies on long chains). In the star loop no
  * graph state touches the driver: per round it sees only a (count,
  * xor-of-hash) checksum, so the loop scales with the cluster, not the
  * driver heap. Only a small graph comes to the driver, as one bounded
  * collect of its deduped edges (the fast path below).
  *
  * Edge invariant maintained throughout: (a, b) with a > b ("child" →
  * smaller "parent"), dedup'd. At convergence the edge set is a star forest
  * (every child points at its component's minimum id).
  */
object GraphOps {

  /** (id, component) for every node appearing in `edges`, component = the
    * minimum node id of the connected component. Accepts any orderable id
    * type; self-loops ignored. */
  def connectedComponents(edges: DataFrame, src: String = "src", dst: String = "dst",
                          maxIter: Int = 50): DataFrame = {
    val nodes = edges.select(col(src).as("id"))
      .union(edges.select(col(dst).as("id"))).distinct()
    var e = edges
      .select(greatest(col(src), col(dst)).as("a"), least(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    // SMALL-GRAPH FAST PATH (broadcast-join spirit, guide §3.1): when the
    // DEDUPED edge set fits the budget Spark grants a broadcast relation
    // (spark.sql.autoBroadcastJoinThreshold bytes, and at most
    // spark.graft.cc.smallGraphEdges edges), close the components in one
    // bounded driver union-find instead of paying 2 shuffle jobs per star
    // round. The probe is one bounded collect of the checkpoint (it never
    // re-executes the upstream pair join); an over-cap graph costs the cap
    // and takes the distributed loop. Labels are identical by construction:
    // component = min member id under Spark's own ordering (mirrored exactly
    // for the supported integral/UTF8-string id types; any other type routes
    // to the distributed loop). With broadcasts disabled (threshold ≤ 0)
    // only the edge cap applies.
    val smallMax = e.sparkSession.conf
      .get("spark.graft.cc.smallGraphEdges", "131072").toInt
    val driverOrd = driverOrdering(e.schema.head.dataType)
    if (smallMax > 0 && driverOrd.isDefined) {
      val threshold = e.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf.autoBroadcastJoinThreshold
      Driver.collectWithin(e, smallMax, if (threshold > 0) threshold else Long.MaxValue) match {
        case Right(probe) =>
          val mapping = driverComponents(e.sparkSession, probe, e.schema, driverOrd.get)
          return nodes.join(broadcast(mapping), Seq("id"), "left")
            .select(col("id"), coalesce(col("component"), col("id")).as("component"))
        case Left(_) =>
      }
    }
    var sig = signature(e)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // eager checkpoint + separate signature job: the lazy-fused variant
      // (checkpoint materialized by the signature action) was A/B-measured
      // ~0.3 s SLOWER per CC query — AQE converts the lazy plan stage by
      // stage at checkpoint-call time and still pays a final-stage job
      val next = star(star(e, large = true), large = false)
        .localCheckpoint(true)
      val nextSig = signature(next)
      converged = nextSig == sig
      e = next; sig = nextSig; it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // star forest: children map to their root; roots and isolated originals
    // map to themselves
    val mapping = e.select(col("a").as("id"), col("b").as("component"))
    nodes.join(mapping, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** driver-side ordering that mirrors Spark's `min`/`least` for the id
    * types the CC consumers use: integral numerics and strings (UTF8String
    * compares unsigned UTF-8 bytes — NOT Java String order for
    * supplementary chars, so it is UTF8String's binaryCompare). Any other
    * type returns None and the caller keeps the distributed path. */
  private def driverOrdering(dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some(Ordering.by((v: Any) => v.asInstanceOf[Number].longValue))
      case StringType =>
        def utf8(v: Any) = org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])
        Some((x: Any, y: Any) => utf8(x).binaryCompare(utf8(y)))
      case _ => None
    }
  }

  /** bounded driver closure: union-find over ≤ smallMax canonical edges,
    * then component label = min member id per root (same total order as the
    * distributed star rounds' min aggregates). Returns the (id, component)
    * mapping as a broadcastable DataFrame. */
  private def driverComponents(spark: SparkSession,
                               edgeRows: Array[org.apache.spark.sql.Row],
                               edgeSchema: org.apache.spark.sql.types.StructType,
                               ord: Ordering[Any]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val ids = edgeRows.flatMap(r => Seq(r.get(0), r.get(1))).distinct
    val (index, uf) = (ids.zipWithIndex.toMap, new UnionFind)
    edgeRows.foreach(r => uf.union(index(r.get(0)), index(r.get(1))))
    val out = ids.indices.groupBy(uf.find).values.flatMap { members =>
      val component = members.map(ids).min(ord)
      members.map(i => org.apache.spark.sql.Row(ids(i), component))
    }
    spark.createDataFrame(java.util.Arrays.asList(out.toSeq: _*), StructType(
      Seq("id", "component").map(StructField(_, edgeSchema.head.dataType, nullable = false))))
  }

  /** One star round. Both emit (node → m) edges where m is the minimum of
    * the center's closed neighborhood: large-star relinks the STRICTLY
    * GREATER neighbors of each center, small-star relinks the ≤ ones plus
    * the center itself. Child > parent holds for every emitted edge, so the
    * canonical form needs no re-normalization. */
  private def star(e: DataFrame, large: Boolean): DataFrame = {
    val nbrs = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v"))) // both directions
    // closed-neighborhood min per center: one partial-aggregated shuffle;
    // join back on the same key reuses the exchange
    val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    val joined = nbrs.join(mins, Seq("u"))
    val out =
      if (large)
        joined.filter(col("v") > col("u"))
          .select(col("v").as("a"), col("m").as("b"))
      else
        joined.filter(col("v") <= col("u"))
          .select(col("v").as("a"), col("m").as("b"))
          .union(mins.select(col("u").as("a"), col("m").as("b")))
    // dedup after EVERY star: min-aggregates are duplicate-insensitive, but
    // a dense component (an ε-clique in DBSCAN) makes the undeduped
    // large-star output quadratic in component size — measured +2 s on
    // q_raster_polygonize when this distinct was deferred to once per round
    out.filter(col("a") =!= col("b")).distinct()
  }

  /** order-insensitive edge-set fingerprint: (count, xor of row hashes) —
    * two longs to the driver per round, nothing else. */
  private def signature(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Dedup survivor selection: pairs → clusters → per-cluster keeper (the
    * minimum id). Returns (doc_id, component, is_survivor). */
  def dedupClusters(pairs: DataFrame, id1: String = "id1", id2: String = "id2"): DataFrame =
    connectedComponents(pairs, id1, id2)
      .withColumn("is_survivor", col("id") === col("component"))

  /** PageRank (Brin, Page, WWW'98 — public) over directed edges (src, dst),
    * in SCALED INTEGER arithmetic so the result is bit-identical under any
    * partitioning AND independently recomputable in SQL:
    *
    *   r_0(v)   = scale                    (micro-units, scale = 1e6)
    *   r_t+1(v) = floor(0.15·scale)
    *            + floor(85 · Σ_{u→v} floor(r_t(u)/outdeg(u)) / 100)
    *
    * Floating-point PageRank sums contributions in shuffle arrival order —
    * non-deterministic across runs and engines; here every op is integer
    * (div truncates, sum of longs is exactly commutative), so the fixed-
    * iteration result is a CLOSED FORM any engine reproduces exactly.
    * Dangling mass is dropped (the standard no-redistribution variant).
    *
    * Scale shape: `iters` rounds, each = one equi-join of the 16-byte/node
    * rank state against edges on src (both sides co-partitionable on the
    * same key; AQE handles hub skew) + one partially-aggregated groupBy on
    * dst. Edges and degrees are checkpointed once and reused; a
    * localCheckpoint every 4th round bounds plan depth, and the returned
    * frame carries up to 3 lazy rounds that each action recomputes.
    * Nothing graph-sized ever reaches the driver. Overflow headroom:
    * total mass ≤ |V|·scale, so scale=1e6 is safe to ~9e12 nodes.
    */
  def pageRank(edges: DataFrame, src: String = "src", dst: String = "dst",
               iters: Int = 5, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale > 0)
    val e0 = edges.select(col(src).as("src"), col(dst).as("dst"))
      .localCheckpoint(true)
    val nodes = e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct().localCheckpoint(true)
    // outdeg is STATIC across rounds: fold it into the edge list once at
    // init (same checkpoint count) so each round pays ONE join+exchange
    // instead of two (guide §2.4 — don't re-shuffle a round-invariant) —
    // identical contributions, outdeg per src is simply pre-attached
    val e = e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
      .localCheckpoint(true)
    val base = scale * 15L / 100L
    var rank = nodes.select(col("id"), lit(scale).as("r"))
    for (i <- 1 to iters) {
      val contribs = e.join(rank.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("r div outdeg").as("c"))
      val sums = contribs.groupBy("id").agg(sum(col("c")).as("s"))
      rank = nodes.join(sums, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
      // rank feeds exactly ONE consumer per round (the next round's join),
      // so nothing recomputes without a barrier: small fixed iteration
      // counts run as ONE lazy plan (one action, no per-round driver
      // barrier); a checkpoint every 4th round bounds plan depth for deep
      // callers (unlike boundedDistances, whose state fans out 2× per round
      // and MUST materialize)
      if (i % 4 == 0 && i < iters) rank = rank.localCheckpoint(true)
    }
    rank.select(col("id"), col("r").as("rank_micro"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara, Phys. Rev. E
    * 2007 — public): `rounds` rounds of "adopt the most frequent label
    * among your NEIGHBORS, ties to the smallest label" from the identity
    * labeling — the classic near-linear community-detection heuristic.
    * Determinism: the (count DESC, label ASC) argmax is a total order per
    * node, and updates are SYNCHRONOUS (all nodes read the previous round's
    * labels), so a fixed-round unrolled SQL oracle matches bit-for-bit —
    * unlike the asynchronous variant, which is schedule-dependent by
    * construction. Nodes without neighbors keep their own label.
    *
    * Scale shape: each round is ONE edge-keyed join (only (id, lbl) pairs
    * shuffle, never adjacency payloads) + one (node, lbl)-keyed count with
    * map-side combine + one node-keyed struct-min aggregate over (−count,
    * lbl), also map-side combined; k rounds = k shuffles independent of
    * graph size. The rounds run lazily as one plan, with a localCheckpoint
    * every 4th round to bound plan depth (pageRank pattern): the returned
    * frame carries up to 3 un-checkpointed rounds, which a caller running
    * several actions on it recomputes per action.
    *
    * Input: symmetric edge list (src, dst). Output: (id, lbl). */
  def labelPropagation(edges: DataFrame, rounds: Int,
      src: String = "src", dst: String = "dst"): DataFrame = {
    require(rounds >= 1)
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint(true)
    var lab = nodes.select(col("id"), col("id").as("lbl"))
    for (i <- 1 to rounds) {
      val neigh = e.join(lab.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // (count DESC, label ASC) argmax as a map-side-combinable struct-min
      // ((−c, lbl) lexicographic): same total order as the old row_number
      // window ((id, lbl) is unique so no ties), one partial aggregate
      // instead of an exchange + per-id sort (guide §2.3)
      val upd = neigh
        .select(col("id"), struct((-col("c")).as("nc"), col("lbl")).as("s"))
        .groupBy(col("id")).agg(min(col("s")).as("m"))
        .select(col("id"), col("m.lbl").as("lbl"))
      lab = nodes.join(upd.withColumnRenamed("lbl", "new_lbl"), Seq("id"), "left")
        .select(col("id"), coalesce(col("new_lbl"), col("id")).as("lbl"))
      // lab feeds one consumer per round — lazy rounds, pageRank pattern
      if (i % 4 == 0 && i < rounds) lab = lab.localCheckpoint(true)
    }
    lab
  }

  /** Bounded-hop single-source(-set) shortest paths: `hops` rounds of
    * Bellman-Ford relaxation from the `sources` node set over integer edge
    * weights — the routing primitive ("everything reachable within k legs,
    * and how far") done the only way that scales: dist_{i+1}(v) =
    * min(dist_i(v), min over edges (u,v) of dist_i(u) + w(u,v)).
    *
    * Exact by construction: after k rounds every node holds the true
    * min-weight over ≤k-hop paths (nonneg weights), an integer — so a DuckDB
    * oracle unrolling the identical recurrence matches bit-for-bit.
    *
    * Scale shape: each round is one equi-join of the frontier-so-far with
    * the edge list on the source node plus one min-aggregate — only
    * (id, dist) pairs shuffle, never adjacency payloads; k rounds = k
    * shuffles, independent of graph size. `localCheckpoint` truncates the
    * per-round lineage exactly as pageRank does (k-deep join trees otherwise
    * re-execute the whole prefix at every action). Nodes not reached within
    * k hops are absent from the output (no sentinel infinities to carry).
    *
    * Input: edges (src, dst, `w` — nonnegative long), sources (id).
    * Output: (id, dist) for every node within `hops` of a source. */
  def boundedDistances(edges: DataFrame, sources: DataFrame, hops: Int,
      src: String = "src", dst: String = "dst", w: String = "w"): DataFrame = {
    require(hops >= 1, "hops must be >= 1")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"), col(w).as("w"))
      .localCheckpoint(true)
    var dist = sources.select(col("id"), lit(0L).as("dist"))
    for (_ <- 1 to hops) {
      val relaxed = dist.join(e, dist("id") === e("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
    }
    dist
  }

  /** Bounded-hop shortest-path TREE — `boundedDistances` plus a
    * deterministic PREDECESSOR per node, so routes are reconstructible by
    * walking pred links driver-free (a navigation/service-area layer needs
    * the tree, not just the distances). Tie-break contract: per node the
    * kept (dist, pred) pair is the lexicographic minimum — equal-distance
    * paths resolve to the smallest predecessor id, and sources carry
    * pred = −1 (sorts before every real id, and no relaxation can tie a
    * source's dist 0 under positive weights). That total order makes the
    * tree engine/partitioning-invariant and lets a DuckDB oracle unroll the
    * identical argmin recurrence (ROW_NUMBER over dist, pred).
    *
    * Scale shape: identical to boundedDistances — k rounds of one
    * frontier×edges equi-join + one struct-min aggregate; only
    * (id, dist, pred) triples shuffle.
    *
    * Input: edges (src, dst, w ≥ 1 long), sources (id).
    * Output: (id, dist, pred) for every node within `hops` of a source. */
  def boundedPaths(edges: DataFrame, sources: DataFrame, hops: Int,
      src: String = "src", dst: String = "dst", w: String = "w"): DataFrame = {
    require(hops >= 1, "hops must be >= 1")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"), col(w).as("w"))
      .localCheckpoint(true)
    var st = sources.select(col("id"), lit(0L).as("dist"),
      lit(-1L).as("pred"))
    for (_ <- 1 to hops) {
      val relaxed = st.join(e, st("id") === e("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"),
          col("src").as("pred"))
      st = st.unionByName(relaxed)
        .groupBy(col("id"))
        .agg(min(struct(col("dist"), col("pred"))).as("m"))
        .select(col("id"), col("m.dist").as("dist"), col("m.pred").as("pred"))
        .localCheckpoint(true)
    }
    st
  }

  /** Triangle census of an undirected graph: exact triangle count, wedge
    * count, and global clustering coefficient (3·T/wedges, exact ppb
    * integer). The structural diagnostic of a similarity graph — a
    * near-dup/kNN graph whose triangles are dense is cluster-shaped, one
    * whose triangles are rare is chain/star-shaped, and transitivity is
    * the number that says which.
    *
    * Algorithm: degree orientation (Schank & Wagner 2005; MapReduce form
    * Suri & Vassilvitskii, WWW'11 — both public). Orient every edge from
    * its lower (degree, id) endpoint to the higher; the result is a DAG
    * in which each triangle appears as EXACTLY one path s→m→t closed by
    * s→t, so T = |E₁ ⋈ E₂ ⋈ E₃| with two plain equi-joins and no dedup.
    * The orientation bounds every out-degree by O(√m), so the wedge join
    * fans out O(m^{3/2}) total — the classic bound — instead of Σd² of a
    * naive neighbor join on raw edges; hub vertices (the skew killer at
    * 100 TB) become join TARGETS, never join sources. Only (long, long)
    * pairs ever shuffle; nothing touches the driver.
    *
    * Input: any pair list (directed, undirected, or with duplicates —
    * canonicalized and dedup'd here); self-loops dropped. Output: long
    * format (metric, value) — n_nodes, n_edges, n_wedges, n_triangles,
    * clustering_ppb. */
  def triangleStats(pairs: DataFrame, c1: String = "a", c2: String = "b"): DataFrame = {
    val und = pairs
      .select(least(col(c1), col(c2)).as("a"), greatest(col(c1), col(c2)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // a < b by construction, so (deg,id)-lexicographic orientation is:
    // src = a unless deg(b) < deg(a)
    val ori = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("s"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("t"))
      .localCheckpoint(true)
    val tris = ori.select(col("s").as("x"), col("t").as("y"))
      .join(ori.select(col("s").as("y"), col("t").as("z")), "y")
      .join(ori.select(col("s").as("x"), col("t").as("z")), Seq("x", "z"))
    deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) DIV 2")).as("n_wedges"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tris.agg(count(lit(1)).as("n_triangles")))
      .select(expr(
        """stack(5,
          |  'clustering_ppb', CASE WHEN n_wedges = 0 THEN 0L
          |                         ELSE (3L * n_triangles * 1000000000L) DIV n_wedges END,
          |  'n_edges', n_edges,
          |  'n_nodes', n_nodes,
          |  'n_triangles', n_triangles,
          |  'n_wedges', n_wedges) AS (metric, value)""".stripMargin))
  }
}

/** Union-find over the ids 0, 1, 2, … (an id not seen yet is its own
  * root), with path halving: the driver closure above, and polygonize's
  * band pass and seams. */
private[ops] final class UnionFind {
  private val parent = scala.collection.mutable.ArrayBuffer[Int]()
  def find(x: Int): Int = {
    while (parent.size <= x) parent += parent.size
    var i = x
    while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
    i
  }
  def union(i: Int, j: Int): Unit = parent(find(i)) = find(j)
}
