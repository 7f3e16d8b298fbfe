package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exprs.fns

/** Similarity search over the `embeddings` table (vec_id, embedding
  * array<float>, label): brute-force cosine top-k baseline + an LSH-bucketed
  * approximate variant for the 100 TB scale path.
  */
object SimOps {

  /** the candidate ranking key: cosine(q_emb, embedding) as nano-units */
  private val cos9 = round(fns.cosine_sim(col("q_emb"), col("embedding")) * lit(1e9), 0).cast("long")

  /** the k best candidates per query by (cos9 DESC, vec_id ASC), with the
    * nano-rounded cosine back as a double named `cos` */
  private def ranked(cand: DataFrame, k: Int, cos: String = "cos_sim"): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos9").desc, col("vec_id"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id").as("neighbor"),
        (col("cos9").cast("double") / lit(1e9)).as(cos))
  }

  /** brute-force cosine top-k: queries (small, broadcast) × corpus.
    * Ranking key is round(cos*1e9) desc then vec_id asc so ordering is
    * engine-reproducible. */
  def bruteForceTopK(embeddings: DataFrame, queryPred: org.apache.spark.sql.Column,
                     k: Int): DataFrame = {
    val emb = graft.ops.Par.spread(embeddings, col("vec_id"))
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = broadcast(q).join(emb, col("q_id") =!= col("vec_id"))
      .withColumn("cos9", cos9)
    ranked(cand, k)
  }

  /** Exact k-NN PAIR graph over the whole corpus: (a = query id, b =
    * neighbor id), every vector a query. Candidate generation is the
    * documented brute-force baseline (all-pairs vs broadcast — the LSH/IVF
    * bucketed kNN swaps in at corpus scale with the same output shape),
    * but the rank cut is the k-bounded native TopKAgg instead of a
    * row_number window: map-side combine discards non-contenders BEFORE
    * the exchange, so the shuffle carries ≤ k rows per (query, task) and
    * the full-candidate sort disappears. Tie order (cos9 DESC, vec_id ASC)
    * is identical to the window form, so the graph is engine-reproducible. */
  def knnGraph(embeddings: DataFrame, k: Int): DataFrame = {
    val emb = graft.ops.Par.spread(embeddings, col("vec_id"))
    val q = emb
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = broadcast(q).join(emb, col("q_id") =!= col("vec_id"))
      .select(col("q_id"),
        cos9.as("cos9"),
        col("vec_id"))
    cand.groupBy("q_id")
      .agg(graft.exprs.topk.topk_agg(col("cos9"), col("vec_id"), k).as("top"))
      .select(col("q_id").as("a"), explode(col("top.tag")).as("b"))
  }

  /** Embedding L2-norm audit — the normalization gate of an embedding
    * pipeline (cosine and inner-product retrieval agree ONLY on unit
    * vectors; a mixed-norm corpus silently breaks IP indexes): per-vector
    * norm9 = round(sqrt(Σx²)·1e9) with the sum accumulated in array
    * order — the same sequential-double convention the proven cos9
    * parity rests on — histogrammed into centi-buckets (norm9 DIV 1e7),
    * plus the unit-vector count at |norm9 − 1e9| ≤ tol. Map-side only;
    * one bucket-keyed combinable count. */
  def normAudit(spark: SparkSession, embeddings: DataFrame,
                tolNano: Long = 1000000L): DataFrame = {
    val norm9 = round(
      sqrt(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
        * lit(1e9), 0).cast("long")
    embeddings.select(norm9.as("norm9"))
      .withColumn("bucket", expr("norm9 div 10000000"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("norm9")).as("min_norm9"), max(col("norm9")).as("max_norm9"),
        sum(when(abs(col("norm9") - lit(1000000000L)) <= tolNano, 1L)
          .otherwise(0L)).as("n_unit"))
  }

  /** kNN majority-vote label classification (Fix & Hodges 1951 / Cover &
    * Hart 1967 — public): predict each vector's label from its k nearest
    * neighbors' labels, ties to the smallest label — the weak-supervision /
    * label-propagation / label-noise-audit primitive of an embedding
    * pipeline (a vector whose neighbors outvote its own label is a
    * mislabeling candidate). The candidate feed is the DOCUMENTED
    * brute-force baseline (PlanHygieneSpec whitelist — the LSH/IVF paths
    * swap in at scale with the same (q_id, neighbor) pair shape); the cut
    * is the k-bounded native TopKAgg (map-side combine discards
    * non-contenders before the exchange), labels ride a vec_id equi-join,
    * and the vote is a per-query argmax over ≤k rows.
    *
    * Output: (q_id, true_label, pred_label, votes, correct). */
  def knnClassify(spark: SparkSession, embeddings: DataFrame, k: Int): DataFrame = {
    val emb = graft.ops.Par.spread(embeddings, col("vec_id"))
    val q = emb.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("label").as("true_label"))
    val top = broadcast(q).join(emb, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("true_label"),
        cos9.as("cos9"),
        col("vec_id"))
      .groupBy("q_id", "true_label")
      .agg(graft.exprs.topk.topk_agg(col("cos9"), col("vec_id"), k).as("top"))
      .select(col("q_id"), col("true_label"), explode(col("top.tag")).as("vec_id"))
    val voted = top
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("votes").desc, col("label"))
    voted.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("true_label"), col("label").as("pred_label"),
        col("votes"), (col("label") === col("true_label")).as("correct"))
  }

  /** Matryoshka truncation recall audit (Kusupati et al., NeurIPS 2022 —
    * public): how much top-k quality survives when the index stores only
    * the first `dims` of each embedding? MRL-trained models front-load
    * information so prefixes stay usable — this audit MEASURES that for a
    * given corpus instead of assuming it, exactly like the IVF recall
    * audit measures the probe. Truth = brute-force top-k on the full
    * vectors; candidate = the same search on the `dims`-prefix; output =
    * per-query hit count + exact recall in milli.
    *
    * Scale shape: both legs are the DOCUMENTED brute-force baseline
    * (PlanHygieneSpec whitelist — an audit wants exact answers); the
    * confusion join is pairs-only. At deployment scale the truncated leg
    * is the one that becomes an ANN index — the audit's verdict says with
    * how much recall. */
  def matryoshkaRecall(embeddings: DataFrame,
      queryPred: org.apache.spark.sql.Column, k: Int, dims: Int): DataFrame = {
    val truth = bruteForceTopK(embeddings, queryPred, k)
      .select(col("q_id"), col("neighbor"))
    val trunc = bruteForceTopK(
        embeddings.select(col("vec_id"),
          slice(col("embedding"), 1, dims).as("embedding")),
        queryPred, k)
      .select(col("q_id").as("t_qid"), col("neighbor").as("t_nbr"))
    truth
      .join(trunc,
        col("q_id") === col("t_qid") && col("neighbor") === col("t_nbr"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("t_nbr")).as("hits"))
      .select(col("q_id"), col("hits"),
        expr(s"(hits * 1000) DIV $k").as("recall_milli"))
  }

  /** Caption–image ALIGNMENT filter — the CLIP-score curation gate of the
    * public image–text pipelines (LAION's cosine threshold, Schuhmann et
    * al. 2021; DataComp's primary filtering baseline, Gadre et al. 2023):
    * each pair carries an image-modality and a text-modality embedding
    * (vec_id 2k ↔ 2k+1 here), the pair's alignment is their cosine, and
    * pairs below the threshold (nano-rounded, the engine-reproducible cos9
    * convention) are flagged for drop.
    *
    * Scale shape: alignment is the CHEAPEST stage of the curation funnel
    * and the one that discards the most data, so it must be O(n) — this is
    * a same-key equi-join of the two modality projections (one narrow
    * shuffle, co-partitionable with the at-rest layout) + a map-side
    * codegen'd dot product. Never a similarity search. */
  def captionAlignment(embeddings: DataFrame, thresholdNano: Long): DataFrame = {
    val img = embeddings.filter(col("vec_id") % 2 === 0)
      .select(expr("vec_id DIV 2").as("pair_id"), col("embedding").as("img_emb"))
    val cap = embeddings.filter(col("vec_id") % 2 === 1)
      .select(expr("(vec_id - 1) DIV 2").as("pair_id"), col("embedding").as("cap_emb"))
    img.join(cap, Seq("pair_id"))
      .withColumn("cos9",
        round(fns.cosine_sim(col("img_emb"), col("cap_emb")) * lit(1e9), 0).cast("long"))
      .select(col("pair_id"),
        (col("cos9").cast("double") / lit(1e9)).as("cos_sim"),
        (col("cos9") >= thresholdNano).as("keep"))
  }

  /** deterministic pseudo-random hyperplanes for sign-LSH (splitmix64 per
    * (table, plane, dim), mapped to [-1, 1)). */
  def hyperplanesFor(table: Int, nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p0 =>
      val p = table * 1000 + p0
      Array.tabulate(dim) { d =>
        var z = p.toLong * 0x9e3779b97f4a7c15L + d.toLong * 0xbf58476d1ce4e5b9L + 0x1234567L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^= (z >>> 31)
        (z & 0xffffffffL).toDouble / 2147483648.0 - 1.0
      }
    }

  /** the sign-LSH bucket key of `emb` in each of `tables` plane sets: the
    * nPlanes sign bits of dot(embedding, plane); 0 for a null embedding. */
  private[graft] def lshKeys(emb: Column, nPlanes: Int, tables: Int, dim: Int): Seq[Column] =
    (0 until tables).map(t =>
      coalesce(fns.lsh_sign_bits(emb, hyperplanesFor(t, nPlanes, dim)), lit(0L)))

  /** Multi-table sign-LSH ANN: `tables` independent plane sets of `nPlanes`
    * bits each; candidates = union over tables of same-bucket rows (the
    * standard LSH recall amplifier: P(hit) = 1-(1-p^k)^T). Scale path: the
    * BROADCAST query set probes the corpus in one banded pair join on
    * (table, bucket), each (query, vector) pair kept at its first shared
    * table — no all-pairs product, no dedup shuffle.
    * Approximate — recall measured in tests against bruteForceTopK. */
  def lshTopK(embeddings: DataFrame, queryPred: org.apache.spark.sql.Column,
              k: Int, nPlanes: Int = 4, tables: Int = 8, dim: Int = 64): DataFrame = {
    val emb = graft.ops.Par.spread(embeddings, col("vec_id"))
    val q = emb.filter(queryPred).select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = graft.ops.Bands.pairs(
      (broadcast(q), lshKeys(col("q_emb"), nPlanes, tables, dim)),
      (emb.select(col("vec_id"), col("embedding")), lshKeys(col("embedding"), nPlanes, tables, dim)),
      col("q_id") =!= col("vec_id"))
      .withColumn("cos9", cos9)
    ranked(cand, k)
  }

  /** IVF (inverted-file) ANN — the classic coarse-quantizer scale path
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * IVF part): every corpus vector is assigned to its nearest of `nlist`
    * centroids (the inverted list) in one map-side pass; a query probes only
    * its `nprobe` nearest lists and ranks those candidates by exact cosine.
    *
    * Centroids here are deterministic seeds (the vectors with
    * vec_id < nlist) rather than k-means iterates, so the assignment is
    * reproducible in plain SQL and the whole operator is exact-oracle-able;
    * swapping in trained centroids changes recall, not the plan. The
    * quantizer is collected to the driver by construction — at 100 TB it is
    * a small offline-trained artifact (kB–MB), never data-sized, so this is
    * the correct scale shape, not a data collect. Candidate generation is an
    * equi-join on list_id; with the corpus partitioned/bucketed by list_id
    * at rest, a query touches ~nprobe/nlist of the data and the join is
    * co-located. Ties (equal rounded cosine) break to the smallest centroid
    * id in both engines. */
  /** deterministic seed centroids (vec_id < nlist): the coarse quantizer
    * SHARED by ivfTopK and semDedup — a bounded (kB-sized) driver artifact,
    * never data-sized; k-means-trained centroids swap in without plan
    * changes. */
  private[sim] def seedCentroids(embeddings: DataFrame, nlist: Int): Array[(Long, Array[Float])] =
    graft.ops.Driver.collectBounded(embeddings.filter(col("vec_id") < nlist)
        .select(col("vec_id"), col("embedding")), nlist, 1L << 26, "seed vectors")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  private[sim] def centCos9(e: org.apache.spark.sql.Column, ce: Array[Float]): org.apache.spark.sql.Column =
    round(fns.cosine_sim(e, lit(ce)) * lit(1e9), 0).cast("long")

  /** argmax centroid as struct(c9, ncid): max picks the highest cos9, ties
    * break to the SMALLEST cid via the negated id — the one quantizer
    * convention every consumer must share. */
  private[sim] def bestCentroid(e: org.apache.spark.sql.Column,
                                cents: Array[(Long, Array[Float])]): org.apache.spark.sql.Column =
    array_max(array(cents.toIndexedSeq.map { case (cid, ce) =>
      struct(centCos9(e, ce).as("c9"), lit(-cid).as("ncid"))
    }: _*))

  def ivfTopK(embeddings: DataFrame, queryPred: org.apache.spark.sql.Column,
              k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val cents = seedCentroids(embeddings, nlist)
    val emb = graft.ops.Par.spread(embeddings, col("vec_id"))
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .withColumn("list_id", -bestCentroid(col("embedding"), cents).getField("ncid"))
    val qs = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probeW = Window.partitionBy("q_id")
      .orderBy(col("sc.c9").desc, col("sc.cid"))
    val probes = qs
      .select(col("q_id"), col("q_emb"), explode(array(cents.toIndexedSeq.map { case (cid, ce) =>
        struct(centCos9(col("q_emb"), ce).as("c9"), lit(cid).as("cid"))
      }: _*)).as("sc"))
      .withColumn("prk", row_number().over(probeW))
      .filter(col("prk") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("sc.cid").as("p_list"))
    val cand = broadcast(probes)
      .join(assigned, col("p_list") === col("list_id") && col("q_id") =!= col("vec_id"))
      .withColumn("cos9", cos9)
    ranked(cand, k)
  }

  /** deterministic PQ codebooks: subvectors of the first nCentroids corpus
    * vectors (same seed convention as ivfTopK — reproducible and
    * exact-oracle-able; k-means-trained books swap in without plan changes).
    * Shape: books(subspace)(codeword)(component). */
  def pqBooks(embeddings: DataFrame, m: Int, nCentroids: Int, dim: Int): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val seeds = seedCentroids(embeddings, nCentroids).map(_._2)
    Array.tabulate(m)(j => seeds.map(s => s.slice(j * dsub, (j + 1) * dsub)))
  }

  /** PQ codebook TRAINING: per-subspace Lloyd (k-means) iterations over a
    * deterministic sample (vec_id-ascending — at 100 TB the standard
    * offline sample, kB-MB artifact; training is driver-side by design,
    * like any model artifact, never data-sized). Deterministic: seed
    * centroids are the first k sample subvectors, ties assign to the
    * smallest centroid id, an emptied cluster keeps its old codeword. */
  def pqTrainBooks(embeddings: DataFrame, m: Int, k: Int, dim: Int,
                   iters: Int = 5, sampleN: Int = 2048): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    // a raw collect on purpose: Spark runs this orderBy, limit and collect as
    // a TakeOrderedAndProject merged on the driver with no exchange, where
    // Driver.collectBounded's toRdd would plan a single-partition exchange
    val sample = embeddings.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    Array.tabulate(m) { j =>
      val pts = sample.map(s => s.slice(j * dsub, (j + 1) * dsub).map(_.toDouble))
      var cents = pts.take(k).map(_.clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Int](k)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var d = 0.0; var t = 0
            while (t < dsub) { val x = p(t) - cents(c)(t); d += x * x; t += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var t = 0
          while (t < dsub) { sums(best)(t) += p(t); t += 1 }
        }
        cents = Array.tabulate(k)(c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c)))
      }
      cents.map(_.map(_.toFloat))
    }
  }

  /** Product-quantization ANN (Jégou et al., PAMI 2011): the corpus is
    * stored as m SMALL INTS per vector (here m=8 over 64 float dims: 8 B of
    * payload instead of 256 B — the 100 TB memory story); a query
    * precomputes one m×k dot table and scoring any corpus vector is m table
    * lookups (asymmetric distance computation). The ADC scan reads only
    * (vec_id, codes); the top `rerankFactor·k` ADC candidates per query are
    * then re-ranked by EXACT cosine — the standard short-list re-rank
    * (Jégou et al., "Searching in one billion vectors", ICASSP 2011) — so
    * full-float embeddings are fetched for a per-query constant number of
    * rows, never the corpus. rerankFactor = 0 disables re-rank (pure ADC
    * ranking, weaker recall, zero float reads). Approximate: recall vs
    * bruteForceTopK measured in tests; exact for vectors that coincide with
    * codebook seeds (zero reconstruction error). */
  def pqTopK(embeddings: DataFrame, queryPred: org.apache.spark.sql.Column,
             k: Int, m: Int = 8, nCentroids: Int = 32, dim: Int = 64,
             trainIters: Int = 5, rerankFactor: Int = 8): DataFrame = {
    val books =
      if (trainIters > 0) pqTrainBooks(embeddings, m, nCentroids, dim, trainIters)
      else pqBooks(embeddings, m, nCentroids, dim)
    // offline encode pass: at rest this is the stored table (id, m bytes)
    val emb = graft.ops.Par.spread(embeddings, col("vec_id"))
    val codes = emb.select(col("vec_id"),
      fns.pq_encode(col("embedding"), books).as("codes"))
    val qs = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"),
        fns.pq_dot_table(col("embedding"), books).as("qtab"))
    val cand = broadcast(qs).join(codes, col("q_id") =!= col("vec_id"))
      .withColumn("cos9", fns.pq_adc_cos9(col("qtab"), col("codes"), books))
    if (rerankFactor <= 0) ranked(cand, k, "cos_pq")
    else {
      val w = Window.partitionBy("q_id").orderBy(col("cos9").desc, col("vec_id"))
      val short = cand.withColumn("prk", row_number().over(w))
        .filter(col("prk") <= k * rerankFactor)
        .select("q_id", "vec_id")
      val qe = emb.filter(queryPred)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val exact = short
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .join(broadcast(qe), Seq("q_id"))
        .withColumn("cos9", cos9)
      ranked(exact, k)
    }
  }

  /** Embedding-cosine near-duplicate pairs via MULTI-TABLE sign-LSH buckets.
    * Single-table recall at cos θ is p^k with p = 1−θ/π (round 1 shipped one
    * table: recall ≈ 0.43 at cos 0.95 — near-dups were silently dropped);
    * T independent tables amplify to 1−(1−p^k)^T ≈ 0.9997 at cos 0.9 with
    * k=8, T=16. Scale shape: candidate generation is one banded pair join
    * on (table, bucket) over NARROW (id, buckets) rows, each pair kept at its
    * first shared table; embeddings join back per id for
    * exact cosine verification (pairs ≪ n²), so precision is exact and only
    * recall is probabilistic. Identical embeddings collapse into one bucket —
    * bucket size is bounded by the near-dup cluster size, which dedup use
    * cases keep small; a salting pass (graft.ops.Skew) is the escape hatch
    * for pathological clusters. */
  def cosineNearDupPairs(embeddings: DataFrame, cosMin: Double,
                         nPlanes: Int = 8, tables: Int = 16, dim: Int = 64): DataFrame = {
    val emb = graft.ops.Par.spread(embeddings, col("vec_id"))
    def side(id: String, e: String) = (emb.select(col("vec_id").as(id), col("embedding").as(e)),
      lshKeys(col(e), nPlanes, tables, dim))
    val pairs = graft.ops.Bands.pairs(side("id1", "e1"), side("id2", "e2"), col("id1") < col("id2"))
      .select("id1", "id2")
    val e1 = emb.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val e2 = emb.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    pairs.join(e1, Seq("id1")).join(e2, Seq("id2"))
      .withColumn("cos", fns.cosine_sim(col("e1"), col("e2")))
      .filter(col("cos") >= cosMin)
      .select("id1", "id2", "cos")
  }

  /** Hybrid text+vector retrieval with reciprocal-rank fusion (Cormack,
    * Clarke, Büttcher SIGIR'09 — the standard hybrid-search combiner):
    * each held-out query doc (doc_id % qMod == 0) is ranked against the
    * corpus BOTH by BM25 over its text and by embedding cosine, and the two
    * rankings fuse as rrf = Σ 1/(60 + rank) — here in exact integer
    * micro-units (floor(1e9/(60+rk))) so the fused ordering is
    * engine-reproducible and partitioning-invariant.
    *
    * Scale shape: the query set broadcasts in both legs (BM25's qt join and
    * bruteForceTopK's query side), each leg keeps only (q_id, doc_id, rank)
    * — kPer rows per query — and the fusion joins those two narrow lists.
    * The vector leg is the brute-force baseline; at corpus scale swap in
    * lshTopK/ivfTopK (same output shape) without touching the fusion. */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame, qMod: Long,
                kPer: Int = 20, k: Int = 10): DataFrame = {
    import graft.text.TextOps
    val queries = docs.filter(col("doc_id") % qMod === 0)
      .select(col("doc_id").as("q_id"), col("text").as("q_text"))
    // kPer+1 then drop the self-hit: the remainder is exactly the top-kPer
    // excluding self (removing one element never reorders the rest)
    val textAll = TextOps.bm25TopK(docs, queries, kPer + 1)
      .filter(col("doc_id") =!= col("q_id"))
    val wt = Window.partitionBy("q_id").orderBy(col("score9").desc, col("doc_id"))
    val txt = textAll.withColumn("rk_t", row_number().over(wt))
      .filter(col("rk_t") <= kPer)
      .select(col("q_id"), col("doc_id"), col("rk_t"))
    val vec = bruteForceTopK(embeddings, col("vec_id") % qMod === 0, kPer)
      .select(col("q_id"), col("neighbor").as("doc_id"), col("rk").as("rk_v"))
    val fused = txt.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf9",
        coalesce(expr("1000000000 DIV (60 + rk_t)"), lit(0L)) +
        coalesce(expr("1000000000 DIV (60 + rk_v)"), lit(0L)))
    val wf = Window.partitionBy("q_id").orderBy(col("rrf9").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(wf)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("doc_id"), col("rrf9"),
        col("rk_t"), col("rk_v"))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540 —
    * the embedding-space dedup pass used on LAION/web-scale corpora):
    * cluster the corpus with a coarse quantizer, compute pairwise cosine
    * ONLY within each cluster, connect pairs above `cosMin` into duplicate
    * groups, and keep ONE example per group — per the paper's policy, the
    * example with the LOWEST cosine to its cluster centroid (the most
    * atypical representative survives; ties break to the smallest vec_id).
    *
    * Scale shape: the cluster assignment is the ivfTopK map-side pass
    * (centroids are a kB-sized driver artifact — deterministic seeds here so
    * the whole operator is exact-oracle-able; k-means-trained centroids swap
    * in without plan changes). The quadratic step is bounded to Σ|cluster|²
    * by the equi-join on list_id — the paper's exact trick for making n²
    * dedup tractable at 10^9+ rows (nlist scales with corpus so clusters
    * stay task-sized; a hot cluster falls back to graft.ops.Skew salting).
    * Duplicate groups close transitively via the O(log n) large/small-star
    * connected-components rounds, never a driver-side graph. */
  def semDedup(embeddings: DataFrame, nlist: Int, cosMin: Double): DataFrame = {
    import graft.ops.GraphOps
    val cents = seedCentroids(embeddings, nlist)
    // the shared quantizer convention (bestCentroid) gives the argmax list
    // AND its cosine in one array_max — clusters here ARE the IVF layout
    val assigned = graft.ops.Par.spread(embeddings, col("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .withColumn("best", bestCentroid(col("embedding"), cents))
      .select(col("vec_id"), col("embedding"),
        (-col("best.ncid")).as("list_id"), col("best.c9").as("cent_cos9"))
    val cosMin9 = math.round(cosMin * 1e9)
    val l = assigned.select(col("list_id"), col("vec_id").as("id1"), col("embedding").as("e1"))
    val rr = assigned.select(col("list_id"), col("vec_id").as("id2"), col("embedding").as("e2"))
    val edges = l.join(rr, Seq("list_id")).filter(col("id1") < col("id2"))
      .filter(round(fns.cosine_sim(col("e1"), col("e2")) * lit(1e9), 0).cast("long") >= cosMin9)
      .select("id1", "id2")
    val comps = GraphOps.connectedComponents(edges, "id1", "id2")
      .withColumnRenamed("id", "vec_id")
    val withComp = assigned.join(comps, Seq("vec_id"), "left")
      .withColumn("component", coalesce(col("component"), col("vec_id")))
    val w = Window.partitionBy("component").orderBy(col("cent_cos9"), col("vec_id"))
    withComp.withColumn("keep", row_number().over(w) === 1)
      .select("vec_id", "list_id", "component", "cent_cos9", "keep")
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * k nearest vectors whose label DIFFERS from the anchor's — the
    * highest-similarity wrong answers, the pairs a contrastive loss learns
    * most from (public recipe: DPR, Karpukhin et al. 2020; SimCLR-family
    * batch mining).
    *
    * Scale shape: identical to bruteForceTopK — the anchor set broadcasts,
    * the corpus streams map-side (one codegen'd cosine per (anchor, row),
    * no shuffle of the corpus), a q_id-keyed window keeps k rows per
    * anchor. The label test rides the same broadcast join's condition, so
    * same-label rows are dropped before the cosine is computed. At corpus
    * scale swap the candidate generator for ivfTopK/lshTopK with an
    * over-fetch and keep the same label filter + re-rank.
    *
    * cos9 (nano-rounded integer cosine) ordering with neighbor-id
    * tie-break keeps the ranking deterministic and oracle-matchable. */
  def hardNegatives(embeddings: DataFrame, anchorPred: org.apache.spark.sql.Column,
                    k: Int): DataFrame = {
    val emb = graft.ops.Par.spread(embeddings, col("vec_id"))
    val anchors = emb.filter(anchorPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val cand = broadcast(anchors).join(emb, col("label") =!= col("q_label"))
      .withColumn("cos9", cos9)
    val w = Window.partitionBy("q_id").orderBy(col("cos9").desc, col("vec_id"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("q_label"), col("rk"),
        col("vec_id").as("neighbor"), col("label").as("neighbor_label"),
        (col("cos9").cast("double") / lit(1e9)).as("cos_sim"))
  }
}
