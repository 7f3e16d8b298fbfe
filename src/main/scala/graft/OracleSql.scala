package graft

/** DuckDB oracle SQL for SparkEntry.queries. Two styles:
  *  - MIRRORS: same arithmetic as the Spark plan, expressed in DuckDB SQL
  *    (IEEE double ops are bit-identical when the formula is identical).
  *  - CLOSED FORMS: independently-derived expected output of the pipeline on
  *    the deterministic synthetic world (stronger than a re-implementation).
  * DuckDB 1.0 notes: numeric literals default to DECIMAL → every float
  * literal is written ::DOUBLE or with an explicit CAST; generate_series
  * cannot take lateral column args → fixed series + filter.
  */
object OracleSql {

  /** grid params + row/column tables (mirrors Synth.ways geometry). */
  private val gridCte =
    """p AS (SELECT GREATEST(16, LEAST(512, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) AS g FROM orders),
ser AS (SELECT i FROM generate_series(0, 511) t(i)),
rr AS (SELECT i AS r, 37.0::DOUBLE + CAST(i AS DOUBLE) * 0.001::DOUBLE AS lat FROM ser, p WHERE i < p.g),
cc AS (SELECT i AS c,
        CASE WHEN i = 12 THEN -122.0::DOUBLE + 0.0113::DOUBLE
             ELSE -122.0::DOUBLE + CAST(i AS DOUBLE) * 0.001::DOUBLE END AS lon,
        CASE WHEN i IN (2,5) THEN 'Main St' WHEN i IN (11,12) THEN 'Twin'
             ELSE 'V' || i END AS vname
      FROM ser, p WHERE i < p.g)"""

  /** geotagged images (mirrors Synth.images + withGeotag). */
  private val imgCte =
    s"""$gridCte,
imgs AS (
  SELECT 'img' || o_orderkey AS image_id, u, v,
         37.0::DOUBLE + CAST(u AS DOUBLE) * 0.000001::DOUBLE AS lat,
         -122.0::DOUBLE + CAST(v AS DOUBLE) * 0.000001::DOUBLE AS lon
  FROM (
    SELECT o_orderkey,
           CASE WHEN u0 % 500 = 0 THEN u0 + 13 ELSE u0 END AS u,
           CASE WHEN v0 % 500 = 0 THEN v0 + 13 ELSE v0 END AS v
    FROM (
      SELECT o_orderkey,
             ((o_orderkey * 48271 + 11) % 2147483647) % ((p.g - 1) * 1000) AS u0,
             ((o_orderkey * 69621 + 7) % 2147483647) % ((p.g - 1) * 1000) AS v0
      FROM orders, p)))"""

  /** image-way distance join (≤0.0002°): shared by the salted and the
    * adaptive-subdivision skew paths — both must hash-match this rowset. */
  private val imageWayJoinSql =
    s"""WITH $imgCte,
ways2 AS (
  SELECT r AS way_id, 'H' || r AS name, lat AS wlat, NULL::DOUBLE AS wlon, 'h' AS kind FROM rr
  UNION ALL
  SELECT 1000000 + c, vname, NULL::DOUBLE, lon, 'v' FROM cc)
SELECT w.way_id, w.name, COUNT(*) AS n_images
FROM imgs i, ways2 w
WHERE (CASE WHEN w.kind = 'h' THEN ABS(i.lat - w.wlat) ELSE ABS(i.lon - w.wlon) END) <= 0.0002::DOUBLE
GROUP BY w.way_id, w.name ORDER BY w.way_id"""

  /** city bounds in integer microdegrees (mirrors Synth.cityPolys geometry;
    * points never sit on edges, so integer comparison ≡ ray casting). */
  private val cityCase =
    """CASE
  WHEN u BETWEEN s*10//100 + 1 AND s*35//100 AND v BETWEEN s*10//100 + 1 AND s*40//100 THEN 'alpha'
  WHEN u BETWEEN s*40//100 + 1 AND s*70//100 AND v BETWEEN s*50//100 + 1 AND s*90//100 THEN 'beta'
  WHEN (u BETWEEN s*70//100 + 1 AND s*95//100 AND v BETWEEN s*5//100 + 1 AND s*20//100)
    OR (u BETWEEN s*70//100 + 1 AND s*80//100 AND v BETWEEN s*20//100 + 1 AND s*45//100) THEN 'gamma'
  ELSE 'Unincorporated' END"""

  /** polyfill lattice closed form (shared by q_poly_polyfill and the
    * q_cells_uncompact round-trip gate). */
  private lazy val polyfillSql =
    s"""WITH $gridCte,
latt AS (
  SELECT s1.i AS ti, s2.i AS tj, s1.i * 1000 + 500 AS u, s2.i * 1000 + 500 AS v
  FROM ser s1, ser s2),
pf AS (
  SELECT $cityCase AS zone, ti, tj
  FROM latt, (SELECT (g - 1) * 1000 AS s FROM p) sp)
SELECT zone,
  (-122000 + tj + 20000000) * 100000000 + (37000 + ti + 20000000) AS cell
FROM pf WHERE zone <> 'Unincorporated'
ORDER BY zone, cell"""

  /** closed-form expected rows of the topological pipeline (columns:
    * streets, raw, lat, lon, node_id, way_ids). */
  private val topoBody =
    s"""-- A: generic grid crossings (minus junction-consumed (1,1))
  SELECT 'H' || r.r || '/' || c.vname AS streets,
         'H' || r.r || '/' || c.vname AS raw,
         ROUND(r.lat, 6) AS lat, ROUND(c.lon, 6) AS lon,
         CAST(r.r * 1000000 + c.c AS VARCHAR) AS node_id,
         r.r || ',' || (1000000 + c.c) AS way_ids
  FROM rr r, cc c
  WHERE c.c NOT IN (2, 5, 11, 12) AND NOT (r.r = 1 AND c.c = 1)
  UNION ALL
  -- B: Main St duplicate columns (c=2 first, c=5 suffixed _2; (1,2) consumed)
  SELECT 'H' || r.r || '/Main St',
         CASE WHEN c.c = 5 AND r.r <> 1 THEN 'H' || r.r || '/Main St_2'
              ELSE 'H' || r.r || '/Main St' END,
         ROUND(r.lat, 6), ROUND(c.lon, 6),
         CAST(r.r * 1000000 + c.c AS VARCHAR),
         r.r || ',' || (1000000 + c.c)
  FROM rr r, cc c
  WHERE c.c IN (2, 5) AND NOT (r.r = 1 AND c.c = 2)
  UNION ALL
  -- C1: Twin columns at border rows: 2 dead ends -> keep both
  SELECT 'H' || r.r || '/Twin',
         CASE WHEN c.c = 12 THEN 'H' || r.r || '/Twin_2' ELSE 'H' || r.r || '/Twin' END,
         ROUND(r.lat, 6), ROUND(c.lon, 6),
         CAST(r.r * 1000000 + c.c AS VARCHAR),
         r.r || ',' || (1000000 + c.c)
  FROM rr r, cc c, p
  WHERE c.c IN (11, 12) AND r.r IN (0, p.g - 1)
  UNION ALL
  -- C2: Twin columns interior rows: <50 m, no dead ends -> averaged
  SELECT 'H' || r.r || '/Twin', 'H' || r.r || '/Twin',
         ROUND(r.lat, 6),
         ROUND(((-122.0::DOUBLE + 11.0::DOUBLE * 0.001::DOUBLE) + (-122.0::DOUBLE + 0.0113::DOUBLE)) / 2.0::DOUBLE, 6),
         CAST(r.r * 1000000 + 11 AS VARCHAR),
         r.r || ',1000011,1000012'
  FROM rr r, p WHERE r.r > 0 AND r.r < p.g - 1
  UNION ALL
  -- D: JUNCTION circle at (1,1)-(1,2): averaged, fake token removed
  SELECT 'H1/Main St/V1', 'H1/H1/JUNCTION/Main St/V1/V1',
         ROUND(37.0::DOUBLE + 1.0::DOUBLE * 0.001::DOUBLE, 6),
         ROUND(((-122.0::DOUBLE + 1.0::DOUBLE * 0.001::DOUBLE) + (-122.0::DOUBLE + 2.0::DOUBLE * 0.001::DOUBLE)) / 2.0::DOUBLE, 6),
         '1000001', '1,1000001,1000002,6000000'"""

  /** closed-form expected rows of the geometric pipeline. */
  private val geomBody =
    s"""-- crossings with horizontal streets, r = 1..g-1
  SELECT 'H' || r.r || '/I 80;US 50' AS streets,
         'I 80;US 50/H' || r.r AS raw,
         ROUND(r.lat, 6) AS lat,
         ROUND(-122.0::DOUBLE + CAST(r.r AS DOUBLE) * 0.001::DOUBLE - 0.0005::DOUBLE, 6) AS lon,
         'Geom' AS node_id,
         r.r || ',2000000' AS way_ids
  FROM rr r WHERE r.r >= 1
  UNION ALL
  -- crossings with vertical streets, c = 0..g-2
  SELECT 'I 80;US 50/' || c.vname,
         'I 80;US 50/' || c.vname,
         ROUND(CASE WHEN c.c = 12 THEN (-122.0::DOUBLE + 0.0113::DOUBLE) + 159.0005::DOUBLE
                    ELSE 37.0::DOUBLE + CAST(c.c AS DOUBLE) * 0.001::DOUBLE + 0.0005::DOUBLE END, 6),
         ROUND(CASE WHEN c.c = 12 THEN -122.0::DOUBLE + 0.0113::DOUBLE
                    ELSE -122.0::DOUBLE + CAST(c.c AS DOUBLE) * 0.001::DOUBLE END, 6),
         'Geom',
         (1000000 + c.c) || ',2000000'
  FROM cc c, p WHERE c.c <= p.g - 2"""

  /** shared by the batch aggregate and its Structured Streaming replay twin
    * (q_events_tumbling / q_stream_tumbling): one oracle, two engines. */
  private val eventsTumblingSql =
    """SELECT event_type, (epoch_us(ts) // 300000000) * 300 AS window_start_sec,
  COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(value * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS sum_value_micro
FROM events GROUP BY event_type, epoch_us(ts) // 300000000
ORDER BY event_type, window_start_sec"""

  /** shared by batch sessionize and the flatMapGroupsWithState stream twin. */
  private val eventsSessionsSql =
    """WITH e AS (
  SELECT user_id, value, epoch_us(ts) AS ts_us,
    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
  FROM events),
flagged AS (
  SELECT user_id, value, ts_us,
    CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM e),
sess AS (
  SELECT user_id, value, ts_us,
    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
  FROM flagged)
SELECT user_id, sess_id, COUNT(*) AS n_events,
  (MAX(ts_us) - MIN(ts_us)) // 1000000 AS duration_sec,
  CAST(SUM(CAST(FLOOR(value * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS sum_value_micro
FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_id"""

  /** BPE merge training unrolled (mirrors TextOps.bpeTrain): corpus → (word,
    * count) once, then per round k: pair-count CTE over v(k-1), a
    * deterministic argmax (cnt DESC, l, r), and a RECURSIVE greedy
    * leftmost-non-overlap apply — each word's chain advances one position per
    * recursion level, jumping two when the pair matches, landing exactly at
    * pos = len + 1 with the rebuilt symbol list. */
  // NOTE: word[i] indexes by grapheme cluster, Spark's substring by
  // codepoint — identical on the ASCII corpus (bpeTrain's documented
  // charset contract); combining sequences would diverge.
  private val bpeBase =
    """w0 AS MATERIALIZED (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) > 0 GROUP BY w),
v0 AS MATERIALIZED (SELECT word, n, list_transform(range(1, len(word) + 1), i -> word[i]) AS syms FROM w0)"""

  private def bpeRoundCtes(k: Int): String = {
    val p = k - 1
    s"""p$k AS MATERIALIZED (SELECT pr.l AS l, pr.r AS r, CAST(SUM(n) AS BIGINT) AS cnt
  FROM (SELECT n, unnest(CASE WHEN len(syms) >= 2
          THEN list_transform(range(1, len(syms)), i -> {'l': syms[i], 'r': syms[i+1]})
          ELSE [] END) AS pr FROM v$p)
  GROUP BY 1, 2),
b$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
a$k(word, pos, out) AS (
  SELECT word, 1, CAST([] AS VARCHAR[]) FROM v$p
  UNION ALL
  SELECT a.word,
    CASE WHEN a.pos < len(v.syms) AND v.syms[a.pos] = b.l AND v.syms[a.pos+1] = b.r
         THEN a.pos + 2 ELSE a.pos + 1 END,
    CASE WHEN a.pos < len(v.syms) AND v.syms[a.pos] = b.l AND v.syms[a.pos+1] = b.r
         THEN list_append(a.out, b.l || b.r)
         ELSE list_append(a.out, v.syms[a.pos]) END
  FROM a$k a JOIN v$p v USING (word) CROSS JOIN b$k b
  WHERE a.pos <= len(v.syms)),
v$k AS MATERIALIZED (SELECT a.word, v.n, a.out AS syms FROM a$k a JOIN v$p v USING (word)
        WHERE a.pos = len(v.syms) + 1)"""
  }

  private def bpePrefix(n: Int): String =
    "WITH RECURSIVE " + bpeBase + ",\n" + (1 to n).map(bpeRoundCtes).mkString(",\n")

  /** splitmix64 pixel chain (img → dims → px → m1 → m2, threading x/y) for
    * the image-content oracles: rebuilds every lossless image's source
    * pixel words from o_orderkey in HUGEINT mod-2^64 arithmetic (the ≥2^63
    * multipliers via the 32-bit split). `where` filters orders. */
  private def pxChainCtes(where: String): String =
    s"""img AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 48271 + 11) % 2147483647 AS h1,
         (o_orderkey * 69621 + 7) % 2147483647 AS h2
  FROM orders WHERE $where),
dims AS (
  SELECT k, CASE WHEN k % 5 = 1 THEN 'png' ELSE 'bmp' END AS fmt,
         8 + h1 % 8 AS w, 8 + h2 % 8 AS h,
         (h1 * 2147483648 + h2)::HUGEINT AS ph
  FROM img),
xs AS (SELECT i AS x FROM generate_series(0, 15) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, 15) t(i)),
px AS (
  SELECT k, fmt, w, h, x, y,
    (ph + x * 11400714819323198485::HUGEINT
        + y * 13787848793156543929::HUGEINT)
      % 18446744073709551616::HUGEINT AS z0
  FROM dims, xs, ys WHERE x < w AND y < h),
m1 AS (
  SELECT k, fmt, w, h, x, y,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1
  FROM (SELECT k, fmt, w, h, x, y, xor(z0, z0 >> 30) AS x1 FROM px)),
m2 AS (
  SELECT k, fmt, w, h, x, y,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2
  FROM (SELECT k, fmt, w, h, x, y, xor(z1, z1 >> 27) AS x2 FROM m1))"""

  /** shared audit-corpus CTEs: documents + the mutated gray-zone twins
    * (SparkEntry.mutatedTwins mirrored — range(1, m+1) is empty for m = 0,
    * matching the guarded Spark append). Emits dt(doc_id, tk). */
  private val saltedDocsCtes =
    """dt0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sal AS (SELECT doc_id, tk, ((doc_id % 3 + 1) * len(tk)) // 2 AS m
  FROM dt0 WHERE doc_id % 29 = 0),
dt AS (
  SELECT doc_id, tk FROM dt0
  UNION ALL
  SELECT doc_id + 1000000,
    list_concat(tk, list_transform(range(1, m + 1),
      j -> 'q' || doc_id || 'x' || j))
  FROM sal)"""

  /** distinct word-3-gram shingle sets of dt. Emits sh(doc_id, s). */
  private val docShingleCtes =
    """shl AS (
  SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
    ELSE list_transform(range(0, len(tk) - 2),
      i -> array_to_string(list_slice(tk, i + 1, i + 3), ' ')) END AS shs
  FROM dt),
sh AS (SELECT DISTINCT doc_id, unnest(shs) AS s FROM shl)"""

  /** the full minhash candidate stage over sh: FNV-1a 64 per distinct
    * shingle → splitmix mix per permutation → per-doc MIN signature →
    * 4-row band keys → band-equality pairs. Emits cand(id1, id2). */
  private val minhashCandCtes =
    """vocab AS (SELECT DISTINCT s FROM sh),
fnv(s, i, hf) AS (
  SELECT s, 0, 14695981039346656037::HUGEINT FROM vocab
  UNION ALL
  SELECT s, i + 1,
    (xor(hf, ord(substr(s, i + 1, 1))::HUGEINT) * 1099511628211::HUGEINT)
      % 18446744073709551616::HUGEINT
  FROM fnv WHERE i < length(s)),
h0 AS (SELECT s, hf AS h FROM fnv WHERE i = length(s)),
js AS (SELECT i AS j FROM generate_series(0, 31) t(i)),
z0 AS (SELECT s, j,
  (h + 11400714819323198485::HUGEINT * (j + 1)::HUGEINT)
    % 18446744073709551616::HUGEINT AS z
  FROM h0, js),
zm1 AS (
  SELECT s, j,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z
  FROM (SELECT s, j, xor(z, z >> 30) AS x1 FROM z0)),
zm2 AS (
  SELECT s, j,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z
  FROM (SELECT s, j, xor(z, z >> 27) AS x2 FROM zm1)),
mixed AS (SELECT s, j,
  xor(z, z >> 31) % 9223372036854775808::HUGEINT AS m FROM zm2),
sig AS (SELECT sh.doc_id, mx.j, MIN(mx.m) AS mh
  FROM sh JOIN mixed mx ON sh.s = mx.s GROUP BY 1, 2),
bk AS (SELECT doc_id, j // 4 AS band,
  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS key
  FROM sig GROUP BY doc_id, j // 4),
cand AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
  WHERE l.doc_id < r.doc_id)"""

  /** exact shingle-Jaccard ground truth over sh at 2·|∩| ≥ |∪|.
    * Emits truth(id1, id2) (plus sz/inter for the sweep's reuse). */
  private val jaccardTruthCtes =
    """sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truth AS (SELECT i.id1, i.id2
  FROM inter i JOIN sz s1 ON s1.doc_id = i.id1
    JOIN sz s2 ON s2.doc_id = i.id2
  WHERE 2 * i.i >= s1.n + s2.n - i.i)"""

  /** pairs-only confusion tail over truth + cand (each defined upstream). */
  private val confusionTailSql =
    """fo AS (
  SELECT t.id1 IS NOT NULL AS in_t, c.id1 IS NOT NULL AS in_c
  FROM truth t FULL OUTER JOIN cand c ON t.id1 = c.id1 AND t.id2 = c.id2),
agg AS (
  SELECT CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
    CAST(SUM(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
    CAST(SUM(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN in_t AND NOT in_c THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN NOT in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS fp
  FROM fo)
SELECT n_truth, n_cand, tp, fn, fp,
  CASE WHEN n_truth > 0 THEN CAST(tp * 1000 // n_truth AS BIGINT) END AS recall_milli,
  CASE WHEN n_cand > 0 THEN CAST(tp * 1000 // n_cand AS BIGINT) END AS precision_milli
FROM agg"""

  /** brute-force cosine top-5 per query (truth side of the ANN evals). */
  private val embTopkSql =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id % 100 = 0),
cand AS (
  SELECT q.q_id, e.vec_id AS neighbor,
    CAST(ROUND(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) * 1000000000.0::DOUBLE) AS BIGINT) AS cos9
  FROM q, embeddings e WHERE q.q_id <> e.vec_id),
ranked AS (
  SELECT q_id, neighbor, cos9,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, neighbor) AS rk
  FROM cand)
SELECT q_id, rk, neighbor, CAST(cos9 AS DOUBLE) / 1000000000.0::DOUBLE AS cos_sim
FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""

  /** IVF nprobe=4/16 top-5 per query (mirrors SimOps.ivfTopK exactly). */
  private val embIvfSql =
    """WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
  FROM embeddings WHERE vec_id < 16),
emb2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
scored AS (
  SELECT emb2.vec_id, emb2.e, cent.cid,
    ROW_NUMBER() OVER (PARTITION BY emb2.vec_id ORDER BY
      CAST(ROUND(list_cosine_similarity(emb2.e, cent.ce) * 1000000000.0::DOUBLE) AS BIGINT) DESC,
      cent.cid) AS crk
  FROM emb2, cent),
assign AS (SELECT vec_id, e, cid AS list_id FROM scored WHERE crk = 1),
probes AS (
  SELECT vec_id AS q_id, e AS qe, cid AS p_list
  FROM scored WHERE vec_id % 100 = 0 AND crk <= 4),
cand AS (
  SELECT p.q_id, a.vec_id AS neighbor,
    CAST(ROUND(list_cosine_similarity(p.qe, a.e) * 1000000000.0::DOUBLE) AS BIGINT) AS cos9
  FROM probes p JOIN assign a ON a.list_id = p.p_list AND a.vec_id <> p.q_id),
ranked AS (
  SELECT q_id, neighbor, cos9,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, neighbor) AS rk
  FROM cand)
SELECT q_id, rk, neighbor, CAST(cos9 AS DOUBLE) / 1000000000.0::DOUBLE AS cos_sim
FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""

  /** position-weighted pixel digest of one rgb triple whose base flat
    * position is `p` (channel c at p+c contributes (p+c+1)(p+c+7)(v+17)). */
  private def digSum(p: String): String =
    s"""CAST(SUM(($p + 1) * ($p + 7) * (z % 256 + 17)
           + ($p + 2) * ($p + 8) * ((z // 256) % 256 + 17)
           + ($p + 3) * ($p + 9) * ((z // 65536) % 256 + 17)) AS BIGINT)"""

  val all: Map[String, String] = Map(

    // ---- closed form: full topological pipeline on the synthetic grid ----
    "q_topo_intersections" ->
      s"""WITH $gridCte
SELECT * FROM ($topoBody)
ORDER BY streets, raw, node_id""",

    // ---- closed form: geometric (motorway diagonal) intersections --------
    "q_geom_intersections" ->
      s"""WITH $gridCte
SELECT * FROM ($geomBody)
ORDER BY streets, raw, lat, lon""",

    // ---- closed form: full feature set with city assignment (J6 on the
    // intersection output; u/v recovered from the fix6-rounded coords) ------
    "q_feature_city" ->
      s"""WITH $gridCte,
feats AS ($topoBody UNION ALL $geomBody),
withuv AS (
  SELECT streets, raw, lat, lon, node_id,
    CAST(ROUND((lat - 37.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS u,
    CAST(ROUND((lon + 122.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS v
  FROM feats)
SELECT streets, raw, lat, lon, node_id, $cityCase AS city
FROM withuv, (SELECT (g - 1) * 1000 AS s FROM p) sp
ORDER BY streets, raw, node_id, lat, lon""",

    // per-way shared-node counts (north_star parity item): the way→node
    // relation rebuilt closed-form for all six synthetic way families
    // (H rows, V columns, motorway, two links, circle); SUMs cast BIGINT
    // PageRank: the integer recurrence unrolled — pK computed from p{K-1}
    // by the exact formula GraphOps.pageRank runs (floor divs, 85/100
    // scaling); CAST(SUM AS BIGINT) before the multiply keeps DuckDB's
    // HUGEINT widening out of the declared schema.
    "q_graph_pagerank" -> {
      val iterCtes = (1 to 5).map { i =>
        s"""p$i AS (
  SELECT n.id, 150000 + (85 * COALESCE(s.s, 0)) // 100 AS r
  FROM pgnodes n LEFT JOIN (
    SELECT e.dst AS id, CAST(SUM(p.r // d.outdeg) AS BIGINT) AS s
    FROM pge e JOIN p${i - 1} p ON e.src = p.id
      JOIN pgdeg d ON e.src = d.src
    GROUP BY e.dst) s USING (id))"""
      }.mkString(",\n")
      s"""WITH $gridCte,
nw AS (
  SELECT r.i AS way_id, r.i * 1000000 + c.i AS node_id
  FROM ser r, ser c, p WHERE r.i < p.g AND c.i < p.g
  UNION ALL
  SELECT 1000000 + c.i, r.i * 1000000 + c.i
  FROM ser r, ser c, p WHERE r.i < p.g AND c.i < p.g
  UNION ALL
  SELECT 2000000, 900000000000 + k.i FROM ser k, p WHERE k.i < p.g
  UNION ALL SELECT 5000000, 900000000001
  UNION ALL SELECT 5000000, 910000000001
  UNION ALL SELECT 5000001, 910000000001
  UNION ALL SELECT 5000001, 910000000002
  UNION ALL SELECT 6000000, 1000001
  UNION ALL SELECT 6000000, 1000002),
pge AS (
  SELECT DISTINCT a.way_id AS src, b.way_id AS dst
  FROM nw a JOIN nw b USING (node_id) WHERE a.way_id <> b.way_id),
pgnodes AS (SELECT src AS id FROM pge UNION SELECT dst FROM pge),
pgdeg AS (SELECT src, COUNT(*) AS outdeg FROM pge GROUP BY src),
p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM pgnodes),
$iterCtes
SELECT id AS way_id, CAST(r AS BIGINT) AS rank_micro FROM p5 ORDER BY way_id"""
    },

    // label propagation: the same way node-sharing graph, 3 synchronous
    // rounds unrolled, identical (count DESC, label ASC) per-node argmax
    "q_graph_label_prop" -> {
      val roundCtes = (1 to 3).map { i =>
        s"""l$i AS (
  SELECT n.id, COALESCE(b.lbl, n.id) AS lbl
  FROM pgnodes n LEFT JOIN (
    SELECT id, lbl FROM (
      SELECT e.src AS id, l.lbl,
        ROW_NUMBER() OVER (PARTITION BY e.src
          ORDER BY COUNT(*) DESC, l.lbl) AS rn
      FROM pge e JOIN l${i - 1} l ON l.id = e.dst
      GROUP BY e.src, l.lbl)
    WHERE rn = 1) b USING (id))"""
      }.mkString(",\n")
      s"""WITH $gridCte,
nw AS (
  SELECT r.i AS way_id, r.i * 1000000 + c.i AS node_id
  FROM ser r, ser c, p WHERE r.i < p.g AND c.i < p.g
  UNION ALL
  SELECT 1000000 + c.i, r.i * 1000000 + c.i
  FROM ser r, ser c, p WHERE r.i < p.g AND c.i < p.g
  UNION ALL
  SELECT 2000000, 900000000000 + k.i FROM ser k, p WHERE k.i < p.g
  UNION ALL SELECT 5000000, 900000000001
  UNION ALL SELECT 5000000, 910000000001
  UNION ALL SELECT 5000001, 910000000001
  UNION ALL SELECT 5000001, 910000000002
  UNION ALL SELECT 6000000, 1000001
  UNION ALL SELECT 6000000, 1000002),
pge AS (
  SELECT DISTINCT a.way_id AS src, b.way_id AS dst
  FROM nw a JOIN nw b USING (node_id) WHERE a.way_id <> b.way_id),
pgnodes AS (SELECT src AS id FROM pge UNION SELECT dst FROM pge),
l0 AS (SELECT id, id AS lbl FROM pgnodes),
$roundCtes
SELECT id AS way_id, CAST(lbl AS BIGINT) AS lbl FROM l3 ORDER BY way_id"""
    },

    "q_way_shared_nodes" ->
      s"""WITH $gridCte,
nw AS (
  SELECT r.i AS way_id, r.i * 1000000 + c.i AS node_id
  FROM ser r, ser c, p WHERE r.i < p.g AND c.i < p.g
  UNION ALL
  SELECT 1000000 + c.i, r.i * 1000000 + c.i
  FROM ser r, ser c, p WHERE r.i < p.g AND c.i < p.g
  UNION ALL
  SELECT 2000000, 900000000000 + k.i FROM ser k, p WHERE k.i < p.g
  UNION ALL SELECT 5000000, 900000000001
  UNION ALL SELECT 5000000, 910000000001
  UNION ALL SELECT 5000001, 910000000001
  UNION ALL SELECT 5000001, 910000000002
  UNION ALL SELECT 6000000, 1000001
  UNION ALL SELECT 6000000, 1000002),
deg AS (SELECT node_id, COUNT(*) AS n_ways FROM nw GROUP BY node_id)
SELECT w.way_id, COUNT(*) AS n_nodes,
  CAST(SUM(CASE WHEN d.n_ways > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_nodes,
  CAST(SUM(d.n_ways - 1) AS BIGINT) AS sharing_degree
FROM nw w JOIN deg d USING (node_id)
GROUP BY w.way_id ORDER BY w.way_id""",

    // ---- S6/S7: GeoJSON sink -> source round-trip on the feature output ----
    // identical rowset to q_feature_city minus `raw` (not part of the GeoJSON
    // property shape): a lossless jsonl write + read leaves the oracle
    // unchanged, so any precision/escaping loss in the sink or source reds
    "q_geojson_roundtrip" ->
      s"""WITH $gridCte,
feats AS ($topoBody UNION ALL $geomBody),
withuv AS (
  SELECT streets, lat, lon, node_id,
    CAST(ROUND((lat - 37.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS u,
    CAST(ROUND((lon + 122.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS v
  FROM feats)
SELECT streets, lat, lon, node_id, $cityCase AS city
FROM withuv, (SELECT (g - 1) * 1000 AS s FROM p) sp
ORDER BY streets, node_id, lat, lon""",

    // ---- S2: lineage materialize/resume — the second materialize of the
    // same input must SKIP (stage_runs stays 1) and reload bytes that
    // recompute to the same aggregate the oracle derives from orders.
    // Revenue in integer cents: BIGINT SUM is order-insensitive.
    "q_lineage_resume" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
  CAST(SUM(CAST(ROUND(o_totalprice * 100.0::DOUBLE) AS BIGINT)) AS BIGINT) AS revenue_cents,
  1 AS stage_runs
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // ---- P8/A9/F16: UI street filters (substring + regex + city) ----------
    "q_street_filter" ->
      s"""WITH $gridCte,
feats AS ($topoBody UNION ALL $geomBody),
withuv AS (
  SELECT streets, raw, lat, lon, node_id,
    CAST(ROUND((lat - 37.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS u,
    CAST(ROUND((lon + 122.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS v
  FROM feats)
SELECT streets, raw, lat, lon, node_id, $cityCase AS city
FROM withuv, (SELECT (g - 1) * 1000 AS s FROM p) sp
WHERE streets LIKE '%Main St%' AND regexp_matches(streets, 'H1(/|${"$"})')
ORDER BY streets, raw, node_id, lat, lon""",

    // ---- F16: fuzzy pattern table over the feature stream ------------------
    "q_fuzzy_streets" ->
      s"""WITH $gridCte,
feats AS ($topoBody UNION ALL $geomBody),
pats AS (SELECT * FROM (VALUES
  ('Main St', 'Main St|Mian St|Main Street', false),
  ('Twin', 'Twin|Twyn|Twinn', false),
  ('I 80', 'I 80|I80|US 50', false),
  ('V7', 'V7(/|${"$"})', false),
  ('H1', 'H1(/|${"$"})', false),
  ('NOT I 80', 'I 80|I80|US 50', true)
) t(canonical, regex, negate))
SELECT canonical, COUNT(*) AS n_matches
FROM feats JOIN pats
  ON CASE WHEN negate THEN NOT regexp_matches(streets, regex)
          ELSE regexp_matches(streets, regex) END
GROUP BY canonical ORDER BY canonical""",

    // F16 at reference scale: the 470-row generated table. The VALUES block
    // is emitted from the SAME Scala data the Spark query joins
    // (PatternOps.fullPatterns), so both engines evaluate the identical
    // predicate list.
    "q_fuzzy_streets_full" -> {
      val vals = graft.ops.PatternOps.fullPatterns
        .map { case (c, r, n) => s"('$c', '$r', $n)" }
        .mkString(",\n  ")
      s"""WITH $gridCte,
feats AS ($topoBody UNION ALL $geomBody),
pats AS (SELECT * FROM (VALUES
  $vals
) t(canonical, regex, negate))
SELECT canonical, COUNT(*) AS n_matches
FROM feats JOIN pats
  ON CASE WHEN negate THEN NOT regexp_matches(streets, regex)
          ELSE regexp_matches(streets, regex) END
GROUP BY canonical ORDER BY canonical"""
    },

    // ---- county partition dimension (pruned single-county read) ------------
    "q_county_pruned" ->
      s"""WITH $gridCte,
feats AS ($topoBody UNION ALL $geomBody)
SELECT streets, raw, lat, lon, county FROM (
  SELECT streets, raw, lat, lon,
    'c' || (CAST(ROUND((lat - 37.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) * 4 // (sp.s + 1)) AS county
  FROM feats, (SELECT (g - 1) * 1000 AS s FROM p) sp)
WHERE county = 'c1'
ORDER BY streets, raw, lat, lon""",

    // ---- J10/T5: county minus cities anti-join -----------------------------
    "q_unincorporated_anti" ->
      s"""WITH $gridCte,
feats AS ($topoBody UNION ALL $geomBody),
withuv AS (
  SELECT streets, raw, lat, lon, node_id,
    CAST(ROUND((lat - 37.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS u,
    CAST(ROUND((lon + 122.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS v
  FROM feats)
SELECT streets, raw, lat, lon FROM (
  SELECT streets, raw, lat, lon, $cityCase AS city
  FROM withuv, (SELECT (g - 1) * 1000 AS s FROM p) sp)
WHERE city = 'Unincorporated'
ORDER BY streets, raw, lat, lon""",

    // ---- mirror (exact float): geoturf variant — geometric finder with NO
    // coordinate rounding. The crossing segment pair is known in closed form
    // (motorway seg i × street seg j, derived in GeomIntersections scan
    // order); the intersection point mirrors Geom.segSegIntersect's exact
    // parametric arithmetic (t = (ex*d2y - ey*d2x)/denom; lat1 + t*d1y) so
    // IEEE doubles are bit-identical.
    "q_geoturf_variant" ->
      s"""WITH $gridCte,
-- H_r × motorway: motorway seg (r-1, r), street seg (c=r-1, c=r); r=12 hits
-- street seg (12, 13) because column 12 sits at lon -122+0.0113
hx AS (
  SELECT 'I 80;US 50/H' || r.r AS raw, 'H' || r.r || '/I 80;US 50' AS streets,
    (37.0::DOUBLE + CAST(r.r - 1 AS DOUBLE) * 0.001::DOUBLE) + 0.00025::DOUBLE AS lat1,
    (-122.0::DOUBLE + CAST(r.r - 1 AS DOUBLE) * 0.001::DOUBLE) - 0.00025::DOUBLE AS lon1,
    (37.0::DOUBLE + CAST(r.r AS DOUBLE) * 0.001::DOUBLE) + 0.00025::DOUBLE AS lat2,
    (-122.0::DOUBLE + CAST(r.r AS DOUBLE) * 0.001::DOUBLE) - 0.00025::DOUBLE AS lon2,
    r.lat AS lat3, cj1.lon AS lon3,
    r.lat AS lat4, cj2.lon AS lon4
  FROM rr r
  JOIN cc cj1 ON cj1.c = CASE WHEN r.r = 12 THEN 12 ELSE r.r - 1 END
  JOIN cc cj2 ON cj2.c = CASE WHEN r.r = 12 THEN 13 ELSE r.r END
  WHERE r.r >= 1),
-- V_c × motorway: motorway seg (i, i+1) with i=c (i=11 for c=12), street seg
-- (r=i, r=i+1)
vx AS (
  SELECT 'I 80;US 50/' || c.vname AS raw, 'I 80;US 50/' || c.vname AS streets,
    (37.0::DOUBLE + CAST(CASE WHEN c.c = 12 THEN 11 ELSE c.c END AS DOUBLE) * 0.001::DOUBLE) + 0.00025::DOUBLE AS lat1,
    (-122.0::DOUBLE + CAST(CASE WHEN c.c = 12 THEN 11 ELSE c.c END AS DOUBLE) * 0.001::DOUBLE) - 0.00025::DOUBLE AS lon1,
    (37.0::DOUBLE + CAST(CASE WHEN c.c = 12 THEN 12 ELSE c.c + 1 END AS DOUBLE) * 0.001::DOUBLE) + 0.00025::DOUBLE AS lat2,
    (-122.0::DOUBLE + CAST(CASE WHEN c.c = 12 THEN 12 ELSE c.c + 1 END AS DOUBLE) * 0.001::DOUBLE) - 0.00025::DOUBLE AS lon2,
    rj1.lat AS lat3, c.lon AS lon3,
    rj2.lat AS lat4, c.lon AS lon4
  FROM cc c, p
  JOIN rr rj1 ON rj1.r = CASE WHEN c.c = 12 THEN 11 ELSE c.c END
  JOIN rr rj2 ON rj2.r = CASE WHEN c.c = 12 THEN 12 ELSE c.c + 1 END
  WHERE c.c <= p.g - 2),
pts AS (SELECT * FROM hx UNION ALL SELECT * FROM vx)
SELECT
  lat1 + (((lon3 - lon1) * (lat4 - lat3) - (lat3 - lat1) * (lon4 - lon3))
          / ((lon2 - lon1) * (lat4 - lat3) - (lat2 - lat1) * (lon4 - lon3))) * (lat2 - lat1) AS lat,
  lon1 + (((lon3 - lon1) * (lat4 - lat3) - (lat3 - lat1) * (lon4 - lon3))
          / ((lon2 - lon1) * (lat4 - lat3) - (lat2 - lat1) * (lon4 - lon3))) * (lon2 - lon1) AS lon,
  raw, streets, 'Geom' AS "nodeId"
FROM pts ORDER BY streets, raw, lat, lon""",

    // ---- closed form (SF-independent VALUES): X2 linear referencing.
    // Derived INDEPENDENTLY (python: haversine + fix6 walk over the grid
    // geometry, see round-2 notes): segment lengths depend only on latitude,
    // not on grid size, so the 12 rows are constants. +1e6 m walks off the
    // way with no same-named continuation -> NULL (offset.js:157-160).
    "q_offset_walk" ->
      """SELECT * FROM (VALUES
  (3::BIGINT, 3000003::BIGINT, -250.0::DOUBLE, 37.003::DOUBLE, -121.999815::DOUBLE),
  (3::BIGINT, 3000003::BIGINT, -100.0::DOUBLE, 37.003::DOUBLE, -121.998126::DOUBLE),
  (3::BIGINT, 3000003::BIGINT, 0.0::DOUBLE, 37.003::DOUBLE, -121.997::DOUBLE),
  (3::BIGINT, 3000003::BIGINT, 100.0::DOUBLE, 37.003::DOUBLE, -121.995874::DOUBLE),
  (3::BIGINT, 3000003::BIGINT, 250.0::DOUBLE, 37.003::DOUBLE, -121.994185::DOUBLE),
  (3::BIGINT, 3000003::BIGINT, 1000000.0::DOUBLE, NULL::DOUBLE, NULL::DOUBLE),
  (7::BIGINT, 7000003::BIGINT, -250.0::DOUBLE, 37.007::DOUBLE, -121.999815::DOUBLE),
  (7::BIGINT, 7000003::BIGINT, -100.0::DOUBLE, 37.007::DOUBLE, -121.998126::DOUBLE),
  (7::BIGINT, 7000003::BIGINT, 0.0::DOUBLE, 37.007::DOUBLE, -121.997::DOUBLE),
  (7::BIGINT, 7000003::BIGINT, 100.0::DOUBLE, 37.007::DOUBLE, -121.995874::DOUBLE),
  (7::BIGINT, 7000003::BIGINT, 250.0::DOUBLE, 37.007::DOUBLE, -121.994185::DOUBLE),
  (7::BIGINT, 7000003::BIGINT, 1000000.0::DOUBLE, NULL::DOUBLE, NULL::DOUBLE)
) t(way_id, node_id, offset_m, olat, olon)
ORDER BY way_id, node_id, offset_m""",

    // ---- closed form: dead ends ------------------------------------------
    "q_deadends" ->
      s"""WITH $gridCte,
ends AS (
  SELECT r.r * 1000000 + 0 AS node_id, 'H' || r.r AS nm FROM rr r
  UNION ALL
  SELECT r.r * 1000000 + (p.g - 1), 'H' || r.r FROM rr r, p
  UNION ALL
  SELECT 0 * 1000000 + c.c, c.vname FROM cc c
  UNION ALL
  SELECT (p.g - 1) * 1000000 + c.c, c.vname FROM cc c, p
  UNION ALL
  SELECT 900000000000, 'I 80;US 50'
  UNION ALL SELECT 900000000000 + p.g - 1, 'I 80;US 50' FROM p
  UNION ALL SELECT 900000000001, 'I 80;US 50'
  UNION ALL SELECT 910000000002, 'I 80;US 50'
)
SELECT node_id, array_to_string(list_sort(list(nm)), '/') AS dead
FROM ends GROUP BY node_id ORDER BY node_id""",

    // ---- closed form: X1 name propagation + fake names --------------------
    "q_name_propagation" ->
      """SELECT * FROM (
  SELECT 5000000 AS way_id, 'I 80;US 50' AS name, 'link' AS src
  UNION ALL SELECT 5000001, 'I 80;US 50', 'link'
  UNION ALL SELECT 6000000, 'H1/JUNCTION/Main St/V1', 'fake'
) ORDER BY way_id""",

    // ---- mirror: ways per 0.01° cell (A8 bin histogram, skew detector) ----
    "q_bin_stats" ->
      s"""WITH $gridCte,
span AS (SELECT i AS j FROM generate_series(0, 63) t(i)),
-- H way r: single lat cell row, lon cells floor(-122*100)..floor(maxlon*100)
hcells AS (
  SELECT (CAST(FLOOR((-122.0::DOUBLE) * 100.0::DOUBLE) AS BIGINT) + s.j + 20000000::BIGINT) * 100000000::BIGINT
         + CAST(FLOOR(r.lat * 100.0::DOUBLE) AS BIGINT) + 20000000 AS cell
  FROM rr r, span s, p,
       (SELECT CAST(FLOOR((-122.0::DOUBLE + CAST(g - 1 AS DOUBLE) * 0.001::DOUBLE) * 100.0::DOUBLE) AS BIGINT)
               - CAST(FLOOR((-122.0::DOUBLE) * 100.0::DOUBLE) AS BIGINT) AS w FROM p) ws
  WHERE s.j <= ws.w),
vcells AS (
  SELECT (CAST(FLOOR(c.lon * 100.0::DOUBLE) AS BIGINT) + 20000000::BIGINT) * 100000000::BIGINT
         + CAST(FLOOR(37.0::DOUBLE * 100.0::DOUBLE) AS BIGINT) + s.j + 20000000 AS cell
  FROM cc c, span s, p,
       (SELECT CAST(FLOOR((37.0::DOUBLE + CAST(g - 1 AS DOUBLE) * 0.001::DOUBLE) * 100.0::DOUBLE) AS BIGINT)
               - CAST(FLOOR(37.0::DOUBLE * 100.0::DOUBLE) AS BIGINT) AS h FROM p) hs
  WHERE s.j <= hs.h),
mcells AS (
  SELECT (CAST(FLOOR((-122.0::DOUBLE - 0.00025::DOUBLE) * 100.0::DOUBLE) AS BIGINT) + sx.j + 20000000::BIGINT) * 100000000::BIGINT
         + CAST(FLOOR((37.0::DOUBLE + 0.00025::DOUBLE) * 100.0::DOUBLE) AS BIGINT) + sy.j + 20000000 AS cell
  FROM span sx, span sy, p,
       (SELECT CAST(FLOOR((-122.0::DOUBLE + CAST(g - 1 AS DOUBLE) * 0.001::DOUBLE - 0.00025::DOUBLE) * 100.0::DOUBLE) AS BIGINT)
               - CAST(FLOOR((-122.0::DOUBLE - 0.00025::DOUBLE) * 100.0::DOUBLE) AS BIGINT) AS w,
               CAST(FLOOR((37.0::DOUBLE + CAST(g - 1 AS DOUBLE) * 0.001::DOUBLE + 0.00025::DOUBLE) * 100.0::DOUBLE) AS BIGINT)
               - CAST(FLOOR((37.0::DOUBLE + 0.00025::DOUBLE) * 100.0::DOUBLE) AS BIGINT) AS h FROM p) wh
  WHERE sx.j <= wh.w AND sy.j <= wh.h),
-- links and circle each cover exactly one cell
other AS (
  SELECT (-12200 + 20000000::BIGINT) * 100000000::BIGINT + 3700 + 20000000 AS cell
  UNION ALL SELECT (-12200 + 20000000::BIGINT) * 100000000::BIGINT + 3700 + 20000000
  UNION ALL SELECT (-12200 + 20000000::BIGINT) * 100000000::BIGINT + 3700 + 20000000
),
allcells AS (
  SELECT cell FROM hcells UNION ALL SELECT cell FROM vcells
  UNION ALL SELECT cell FROM mcells UNION ALL SELECT cell FROM other)
SELECT cell, COUNT(*) AS n_ways FROM allcells GROUP BY cell
ORDER BY n_ways DESC, cell LIMIT 20""",

    // ---- mirror: slippy tile assignment (z=15) -----------------------------
    // polygon measures: MIRROR — the three city rings rebuilt from the
    // Synth.cityPolys vertex formulas, then the SAME left folds (DuckDB
    // list_reduce ≡ Spark aggregate) over identical per-term arithmetic.
    // DuckDB lists are 1-based: flat 0-based index k is ring[k+1].
    "q_poly_measures" -> {
      def pp(x: Int) = s"(sp.s * $x // 100)"
      def la(u: String) = s"(37.0::DOUBLE + (CAST($u AS DOUBLE) + 0.5) * 1e-6)"
      def lo(v: String) = s"(-122.0::DOUBLE + (CAST($v AS DOUBLE) + 0.5) * 1e-6)"
      def rect(uLo: String, uHi: String, vLo: String, vHi: String) =
        s"[${lo(vLo)}, ${la(uLo)}, ${lo(vHi)}, ${la(uLo)}, ${lo(vHi)}, ${la(uHi)}, ${lo(vLo)}, ${la(uHi)}]"
      val alpha = rect(pp(10), pp(35), pp(10), pp(40))
      val beta = rect(pp(40), pp(70), pp(50), pp(90))
      val gamma = s"""[${lo(pp(5))}, ${la(pp(70))}, ${lo(pp(5))}, ${la(pp(95))},
 ${lo(pp(20))}, ${la(pp(95))}, ${lo(pp(20))}, ${la(pp(80))},
 ${lo(pp(45))}, ${la(pp(80))}, ${lo(pp(45))}, ${la(pp(70))}]"""
      val n = "(len(ring) // 2)"
      val j = s"((i + 1) % $n)"
      s"""WITH p AS (SELECT GREATEST(16, LEAST(512, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) AS g FROM orders),
sp AS (SELECT (g - 1) * 1000 AS s FROM p),
pol(name, ring) AS (
  SELECT 'alpha', $alpha FROM sp
  UNION ALL SELECT 'beta', $beta FROM sp
  UNION ALL SELECT 'gamma', $gamma FROM sp)
SELECT name, len(ring) // 2 AS n_vertices,
  ABS(list_reduce(list_transform(range(0, $n), i ->
    (ring[2*i + 1] - ring[1]) * (ring[2*$j + 2] - ring[2])
  - (ring[2*$j + 1] - ring[1]) * (ring[2*i + 2] - ring[2])),
    (a, t) -> a + t)) * 0.5 AS area_deg2,
  list_reduce(list_transform(range(0, $n), i ->
    SQRT((ring[2*$j + 1] - ring[2*i + 1]) * (ring[2*$j + 1] - ring[2*i + 1])
       + (ring[2*$j + 2] - ring[2*i + 2]) * (ring[2*$j + 2] - ring[2*i + 2]))),
    (a, t) -> a + t) AS perimeter_deg
FROM pol ORDER BY name"""
    },

    // trajectory lengths: same LCG closed-form walk reconstruction as
    // q_traj_map_match (all tracks, no sample); consecutive-point deltas
    // via LAG on the emitted doubles, per-segment round-to-1e-9 BEFORE the
    // sum so the totals are integer sums
    // self-intersections: every µ° point from the LCG closed form, all
    // non-adjacent segment pairs, identical sign-only crossing test
    "q_traj_selfint" -> {
      val m = 2147483647L; val a = 48271L
      val inv = BigInt(a - 1).modInverse(BigInt(m)).toLong
      val powers = (1 to 78)
        .map(j => s"($j,${BigInt(a).modPow(BigInt(j), BigInt(m))})").mkString(",")
      s"""WITH pw(j, apow) AS (VALUES $powers),
keys AS (SELECT o_orderkey AS k, o_orderkey % 2147483648 AS s0 FROM orders
         WHERE o_orderkey % 3 = 0),
deltas AS (
  SELECT k, (j + 1) // 2 AS t, j % 2 = 1 AS is_lat,
    ((apow * s0 + 11 * ((CAST(apow AS HUGEINT) - 1) * $inv % $m)) % $m) % 2001 - 1000 AS d
  FROM keys, pw),
stepd AS (
  SELECT k, t, SUM(CASE WHEN is_lat THEN d ELSE 0 END) AS dl,
         SUM(CASE WHEN NOT is_lat THEN d ELSE 0 END) AS dn
  FROM deltas GROUP BY k, t),
cums AS (
  SELECT k, t,
    SUM(dl) OVER (PARTITION BY k ORDER BY t) AS dlat,
    SUM(dn) OVER (PARTITION BY k ORDER BY t) AS dlon
  FROM stepd),
pts AS (
  SELECT k, 0 AS t, CAST(37000000 + (k % 1000) * 100 AS BIGINT) AS u,
    CAST(-122000000 + (k % 997) * 100 AS BIGINT) AS v
  FROM keys
  UNION ALL
  SELECT k, t, CAST(37000000 + (k % 1000) * 100 + dlat AS BIGINT),
    CAST(-122000000 + (k % 997) * 100 + dlon AS BIGINT)
  FROM cums),
segs AS (
  SELECT p1.k, p1.t AS s, p1.u AS ax, p1.v AS ay, p2.u AS bx, p2.v AS by
  FROM pts p1 JOIN pts p2 ON p2.k = p1.k AND p2.t = p1.t + 1),
prs AS (
  SELECT s1.k,
    CASE WHEN
      sign((s1.bx - s1.ax) * (s2.ay - s1.ay) - (s1.by - s1.ay) * (s2.ax - s1.ax))
      * sign((s1.bx - s1.ax) * (s2.by - s1.ay) - (s1.by - s1.ay) * (s2.bx - s1.ax)) < 0
      AND
      sign((s2.bx - s2.ax) * (s1.ay - s2.ay) - (s2.by - s2.ay) * (s1.ax - s2.ax))
      * sign((s2.bx - s2.ax) * (s1.by - s2.ay) - (s2.by - s2.ay) * (s1.bx - s2.ax)) < 0
    THEN 1 ELSE 0 END AS x
  FROM segs s1 JOIN segs s2 ON s2.k = s1.k AND s2.s >= s1.s + 2)
SELECT k AS track_id, CAST(39 AS BIGINT) AS n_segs,
  CAST(SUM(x) AS BIGINT) AS n_crossings, SUM(x) > 0 AS has_loop
FROM prs GROUP BY k ORDER BY k"""
    },

    // turn statistics: per-step µ° deltas from the LCG power table, turns
    // between consecutive steps, identical dot-product inequalities
    "q_traj_turns" -> {
      val m = 2147483647L; val a = 48271L
      val inv = BigInt(a - 1).modInverse(BigInt(m)).toLong
      val powers = (1 to 78)
        .map(j => s"($j,${BigInt(a).modPow(BigInt(j), BigInt(m))})").mkString(",")
      s"""WITH pw(j, apow) AS (VALUES $powers),
keys AS (SELECT o_orderkey AS k, o_orderkey % 2147483648 AS s0 FROM orders),
deltas AS (
  SELECT k, (j + 1) // 2 AS t, j % 2 = 1 AS is_lat,
    ((apow * s0 + 11 * ((CAST(apow AS HUGEINT) - 1) * $inv % $m)) % $m) % 2001 - 1000 AS d
  FROM keys, pw),
stepd AS (
  SELECT k, t, CAST(SUM(CASE WHEN is_lat THEN d ELSE 0 END) AS BIGINT) AS du,
         CAST(SUM(CASE WHEN NOT is_lat THEN d ELSE 0 END) AS BIGINT) AS dv
  FROM deltas GROUP BY k, t),
turns AS (
  SELECT s1.k, s1.du, s1.dv, s2.du AS du2, s2.dv AS dv2
  FROM stepd s1 JOIN stepd s2 ON s2.k = s1.k AND s2.t = s1.t + 1),
sc AS (
  SELECT k, du * du2 + dv * dv2 AS dot,
    du * du + dv * dv AS a2, du2 * du2 + dv2 * dv2 AS b2
  FROM turns
  WHERE du * du + dv * dv > 0 AND du2 * du2 + dv2 * dv2 > 0)
SELECT k AS track_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(SUM(CASE WHEN dot <= 0 OR 2 * dot * dot <= a2 * b2
            THEN 1 ELSE 0 END) AS BIGINT) AS n_sharp45,
  CAST(SUM(CASE WHEN dot <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sharp90
FROM sc GROUP BY k ORDER BY k"""
    },

    "q_traj_length" -> {
      val m = 2147483647L; val a = 48271L
      val inv = BigInt(a - 1).modInverse(BigInt(m)).toLong
      val powers = (1 to 78)
        .map(j => s"($j,${BigInt(a).modPow(BigInt(j), BigInt(m))})").mkString(",")
      s"""WITH pw(j, apow) AS (VALUES $powers),
keys AS (SELECT o_orderkey AS k, o_orderkey % 2147483648 AS s0 FROM orders),
deltas AS (
  SELECT k, (j + 1) // 2 AS t, j % 2 = 1 AS is_lat,
    ((apow * s0 + 11 * ((CAST(apow AS HUGEINT) - 1) * $inv % $m)) % $m) % 2001 - 1000 AS d
  FROM keys, pw),
stepd AS (
  SELECT k, t, SUM(CASE WHEN is_lat THEN d ELSE 0 END) AS dl,
         SUM(CASE WHEN NOT is_lat THEN d ELSE 0 END) AS dn
  FROM deltas GROUP BY k, t),
cums AS (
  SELECT k, t AS step,
    SUM(dl) OVER (PARTITION BY k ORDER BY t) AS dlat,
    SUM(dn) OVER (PARTITION BY k ORDER BY t) AS dlon
  FROM stepd),
lpts AS (
  SELECT k AS track_id, 0 AS step,
    (37000000 + (k % 1000) * 100) * 1e-6 AS lat,
    (-122000000 + (k % 997) * 100) * 1e-6 AS lon
  FROM keys
  UNION ALL
  SELECT k, step,
    (37000000 + (k % 1000) * 100 + dlat) * 1e-6,
    (-122000000 + (k % 997) * 100 + dlon) * 1e-6
  FROM cums),
segs9 AS (
  SELECT track_id, step,
    CAST(ROUND(SQRT((lat - LAG(lat) OVER w) * (lat - LAG(lat) OVER w) +
                    (lon - LAG(lon) OVER w) * (lon - LAG(lon) OVER w))
         * 1000000000.0::DOUBLE) AS BIGINT) AS s9
  FROM lpts WINDOW w AS (PARTITION BY track_id ORDER BY step))
SELECT track_id, CAST(40 AS INTEGER) AS n_points,
  CAST(SUM(s9) AS BIGINT) AS length9, CAST(MAX(s9) AS BIGINT) AS max_step9
FROM segs9 WHERE s9 IS NOT NULL
GROUP BY track_id ORDER BY track_id"""
    },

    // coverage gap: brute-force NOT EXISTS over the h/v street lines (the
    // Spark side is a buffered-covering cell anti-join; the 150.5 µ°
    // threshold sits between the integer-µ° distances the world produces,
    // so the two distance formulations cannot disagree at the boundary)
    "q_image_coverage_gap" ->
      s"""WITH $imgCte,
cg_ways AS (
  SELECT lat AS wlat, NULL::DOUBLE AS wlon, 'h' AS kind FROM rr
  UNION ALL
  SELECT NULL::DOUBLE, lon, 'v' FROM cc)
SELECT i.image_id, i.u, i.v
FROM imgs i
WHERE NOT EXISTS (
  SELECT 1 FROM cg_ways w
  WHERE (CASE WHEN w.kind = 'h' THEN ABS(i.lat - w.wlat)
              ELSE ABS(i.lon - w.wlon) END) <= 0.0001505::DOUBLE)
ORDER BY i.image_id""",

    // polyfill: lattice-enumerated res-3 cell centers classified by the
    // integer-µ° zone CASE (the Spark side ray-casts the polygon rings;
    // half-µ° edges make the two formulations provably agree)
    "q_poly_polyfill" -> polyfillSql,

    // uncompact(compact(polyfill)) must be row-identical to the polyfill —
    // the SAME lattice oracle gates the round trip
    "q_cells_uncompact" -> polyfillSql,

    // compact: the polyfill lattice grouped by res-2 parent; complete
    // 10×10 blocks promote (HAVING COUNT(*)=100 + anti-join), everything
    // else stays at res 3
    "q_cells_compact" ->
      s"""WITH $gridCte,
latt AS (
  SELECT s1.i AS ti, s2.i AS tj, s1.i * 1000 + 500 AS u, s2.i * 1000 + 500 AS v
  FROM ser s1, ser s2),
pf AS (
  SELECT zone, ti, tj FROM (
    SELECT $cityCase AS zone, ti, tj
    FROM latt, (SELECT (g - 1) * 1000 AS s FROM p) sp)
  WHERE zone <> 'Unincorporated'),
fullp AS (
  SELECT zone, ti // 10 AS tip, tj // 10 AS tjp
  FROM pf GROUP BY zone, ti // 10, tj // 10
  HAVING COUNT(*) = 100),
kept AS (
  SELECT f.zone, 3 AS res,
    (-122000 + f.tj + 20000000) * 100000000 + (37000 + f.ti + 20000000) AS cell
  FROM pf f
  LEFT JOIN fullp fp
    ON f.zone = fp.zone AND f.ti // 10 = fp.tip AND f.tj // 10 = fp.tjp
  WHERE fp.zone IS NULL),
parents AS (
  SELECT zone, 2 AS res,
    (-12200 + tjp + 20000000) * 100000000 + (3700 + tip + 20000000) AS cell
  FROM fullp)
SELECT zone, res, cell FROM kept
UNION ALL SELECT zone, res, cell FROM parents
ORDER BY zone, res, cell""",

    // overlap areas: closed-form rect∩cell lengths in half-µ° (zone edges
    // sit at half-µ°, cell edges at whole-µ°; products are exact quarter-µ°²
    // integers), gamma as the sum of its two interior-disjoint rects — the
    // Spark side must land on the same integers through the double-precision
    // Sutherland–Hodgman + shoelace dag
    "q_poly_cell_overlap" ->
      s"""WITH $gridCte,
latt AS (SELECT s1.i AS ti, s2.i AS tj FROM ser s1, ser s2),
zrects AS (
  SELECT 'alpha' AS zone, s*10//100 AS ulo, s*35//100 AS uhi,
         s*10//100 AS vlo, s*40//100 AS vhi
  FROM (SELECT (g - 1) * 1000 AS s FROM p)
  UNION ALL
  SELECT 'beta', s*40//100, s*70//100, s*50//100, s*90//100
  FROM (SELECT (g - 1) * 1000 AS s FROM p)
  UNION ALL
  SELECT 'gamma', s*70//100, s*95//100, s*5//100, s*20//100
  FROM (SELECT (g - 1) * 1000 AS s FROM p)
  UNION ALL
  SELECT 'gamma', s*70//100, s*80//100, s*20//100, s*45//100
  FROM (SELECT (g - 1) * 1000 AS s FROM p)),
ovl AS (
  SELECT zone,
    (-122000 + tj + 20000000) * 100000000 + (37000 + ti + 20000000) AS cell,
    LEAST(2*(ti+1)*1000, 2*uhi + 1) - GREATEST(2*ti*1000, 2*ulo + 1) AS ou2,
    LEAST(2*(tj+1)*1000, 2*vhi + 1) - GREATEST(2*tj*1000, 2*vlo + 1) AS ov2
  FROM latt, zrects)
SELECT zone, cell, CAST(SUM(ou2 * ov2) AS BIGINT) AS area_q4
FROM ovl WHERE ou2 > 0 AND ov2 > 0
GROUP BY zone, cell ORDER BY zone, cell""",

    // apportionment: the overlap-area matrix composed with integer per-cell
    // image counts (latIdx = 37000 + u//1000 — exact integers; the double
    // floor(lat*1000) cannot disagree because u is never ≡ 0 mod 500)
    "q_zone_apportion" ->
      s"""WITH $imgCte,
latt AS (SELECT s1.i AS ti, s2.i AS tj FROM ser s1, ser s2),
zrects AS (
  SELECT 'alpha' AS zone, s*10//100 AS ulo, s*35//100 AS uhi,
         s*10//100 AS vlo, s*40//100 AS vhi
  FROM (SELECT (g - 1) * 1000 AS s FROM p)
  UNION ALL
  SELECT 'beta', s*40//100, s*70//100, s*50//100, s*90//100
  FROM (SELECT (g - 1) * 1000 AS s FROM p)
  UNION ALL
  SELECT 'gamma', s*70//100, s*95//100, s*5//100, s*20//100
  FROM (SELECT (g - 1) * 1000 AS s FROM p)
  UNION ALL
  SELECT 'gamma', s*70//100, s*80//100, s*20//100, s*45//100
  FROM (SELECT (g - 1) * 1000 AS s FROM p)),
aovl AS (
  SELECT zone,
    (-122000 + tj + 20000000) * 100000000 + (37000 + ti + 20000000) AS cell,
    LEAST(2*(ti+1)*1000, 2*uhi + 1) - GREATEST(2*ti*1000, 2*ulo + 1) AS ou2,
    LEAST(2*(tj+1)*1000, 2*vhi + 1) - GREATEST(2*tj*1000, 2*vlo + 1) AS ov2
  FROM latt, zrects),
wmat AS (
  SELECT zone, cell, CAST(SUM(ou2 * ov2) AS BIGINT) AS area_q4
  FROM aovl WHERE ou2 > 0 AND ov2 > 0 GROUP BY zone, cell),
icounts AS (
  SELECT (-122000 + v // 1000 + 20000000) * 100000000
         + (37000 + u // 1000 + 20000000) AS cell,
         COUNT(*) AS n_pts
  FROM imgs GROUP BY 1)
SELECT w.zone, COUNT(*) AS n_cells,
  CAST(SUM(COALESCE(c.n_pts, 0) * w.area_q4) AS BIGINT) AS apportioned_q4,
  CAST(CAST(SUM(COALESCE(c.n_pts, 0) * w.area_q4) AS BIGINT) * 1000000
       // 4000000 AS BIGINT) AS est_count_micro
FROM wmat w LEFT JOIN icounts c ON w.cell = c.cell
GROUP BY w.zone ORDER BY w.zone""",

    // IDW interpolation: brute-force radius join (the Spark side equi-joins
    // a bounded cell disk); integer weights 1e12÷(1+d²) make every sum
    // exact, HUGEINT intermediates collapse back to BIGINT
    "q_geo_idw" ->
      s"""WITH $imgCte,
iv AS (
  SELECT u, v,
    (((o_orderkey * 48271 + 11) % 2147483647) * 2147483648
      + ((o_orderkey * 69621 + 7) % 2147483647)) % 1000 AS value
  FROM (SELECT o_orderkey,
          CASE WHEN u0 % 500 = 0 THEN u0 + 13 ELSE u0 END AS u,
          CASE WHEN v0 % 500 = 0 THEN v0 + 13 ELSE v0 END AS v
        FROM (SELECT o_orderkey,
                ((o_orderkey * 48271 + 11) % 2147483647) % ((p.g - 1) * 1000) AS u0,
                ((o_orderkey * 69621 + 7) % 2147483647) % ((p.g - 1) * 1000) AS v0
              FROM orders, p))),
iprobes AS (
  SELECT o_orderkey AS probe_id, (o_orderkey % 1000) * 100 AS pu,
         (o_orderkey % 997) * 100 AS pv
  FROM orders WHERE o_orderkey % 251 = 0),
icand AS (
  SELECT pr.probe_id, s.value,
    (s.u - pr.pu) * (s.u - pr.pu) + (s.v - pr.pv) * (s.v - pr.pv) AS d2
  FROM iprobes pr, iv s
  WHERE (s.u - pr.pu) * (s.u - pr.pu) + (s.v - pr.pv) * (s.v - pr.pv) <= 4000000)
SELECT probe_id, COUNT(*) AS n_samples,
  CAST(SUM(1000000000000 // (1 + d2)) AS BIGINT) AS sum_w,
  CAST(SUM(value * (1000000000000 // (1 + d2)))
       // SUM(1000000000000 // (1 + d2)) AS BIGINT) AS idw_val
FROM icand GROUP BY probe_id ORDER BY probe_id""",

    // dwell detection: the q_traj_length LCG machinery rebuilds every walk
    // point, then the identical displacement-round + gaps-and-islands
    // window dag classifies and groups the slow runs
    "q_traj_dwell" -> {
      val m = 2147483647L; val a = 48271L
      val inv = BigInt(a - 1).modInverse(BigInt(m)).toLong
      val powers = (1 to 78)
        .map(j => s"($j,${BigInt(a).modPow(BigInt(j), BigInt(m))})").mkString(",")
      s"""WITH pw(j, apow) AS (VALUES $powers),
keys AS (SELECT o_orderkey AS k, o_orderkey % 2147483648 AS s0 FROM orders),
deltas AS (
  SELECT k, (j + 1) // 2 AS t, j % 2 = 1 AS is_lat,
    ((apow * s0 + 11 * ((CAST(apow AS HUGEINT) - 1) * $inv % $m)) % $m) % 2001 - 1000 AS d
  FROM keys, pw),
stepd AS (
  SELECT k, t, SUM(CASE WHEN is_lat THEN d ELSE 0 END) AS dl,
         SUM(CASE WHEN NOT is_lat THEN d ELSE 0 END) AS dn
  FROM deltas GROUP BY k, t),
cums AS (
  SELECT k, t AS step,
    SUM(dl) OVER (PARTITION BY k ORDER BY t) AS dlat,
    SUM(dn) OVER (PARTITION BY k ORDER BY t) AS dlon
  FROM stepd),
dwpts AS (
  SELECT k AS track_id, 0 AS step,
    (37000000 + (k % 1000) * 100) * 1e-6 AS lat,
    (-122000000 + (k % 997) * 100) * 1e-6 AS lon
  FROM keys
  UNION ALL
  SELECT k, step,
    (37000000 + (k % 1000) * 100 + dlat) * 1e-6,
    (-122000000 + (k % 997) * 100 + dlon) * 1e-6
  FROM cums),
dwdisp AS (
  SELECT track_id, step,
    CAST(ROUND((lat - LAG(lat) OVER w) * 1000000.0::DOUBLE) AS BIGINT) AS dlat,
    CAST(ROUND((lon - LAG(lon) OVER w) * 1000000.0::DOUBLE) AS BIGINT) AS dlon
  FROM dwpts WINDOW w AS (PARTITION BY track_id ORDER BY step)),
dwslow AS (
  SELECT track_id, step, (ABS(dlat) + ABS(dlon)) <= 800 AS slow
  FROM dwdisp WHERE dlat IS NOT NULL),
dwisl AS (
  SELECT track_id, step, slow,
    SUM(CASE WHEN slow THEN 0 ELSE 1 END)
      OVER (PARTITION BY track_id ORDER BY step) AS island
  FROM dwslow)
SELECT track_id, CAST(MIN(step) AS INTEGER) AS start_step,
  CAST(MAX(step) AS INTEGER) AS end_step, COUNT(*) AS n_steps
FROM dwisl WHERE slow GROUP BY track_id, island
HAVING COUNT(*) >= 3
ORDER BY track_id, start_step"""
    },

    // map-matching: CLOSED FORM — the walks are rebuilt from the affine-LCG
    // closed form s_j = a^j·s0 + c·(a^j-1)/(a-1) mod m (powers of a
    // embedded as a VALUES table, modular inverse precomputed), positions
    // from INTEGER-microdegree cumulative sums (exact under any
    // association), nearest way brute-forced over the h/v street lines,
    // runs collapsed with the same lag/cumsum windows. No trace of the kNN
    // ring-expansion engine the Spark side uses.
    // Douglas-Peucker PROMOTED from a regression pin to a TRUE SQL oracle:
    // the recursive split IS expressible — a recursive CTE whose term finds
    // each section's first-maximum interior point via list_transform +
    // list_position(list_max) (first occurrence = the kernel's strict->
    // tie-break) and emits both child sections through a 2-row VALUES join.
    // Distances mirror Geom.pointSegDist op-for-op (sqrt is IEEE correctly
    // rounded, so every comparison is engine-exact); kept points = the
    // union of all section endpoints; sums are left-folded in index order
    // via list_reduce with a 0.0 seed (the Spark aggregate's fold order).
    // Tracks rebuilt from the LCG closed form exactly as q_traj_map_match.
    "q_traj_simplify" -> {
      val m = 2147483647L; val a = 48271L
      val inv = BigInt(a - 1).modInverse(BigInt(m)).toLong
      val powers = (1 to 78)
        .map(j => s"($j,${BigInt(a).modPow(BigInt(j), BigInt(m))})").mkString(",")
      // clamped projection parameter t of point i onto section (a, b)
      val tExpr =
        """LEAST(1.0::DOUBLE, GREATEST(0.0::DOUBLE, ((p.lo[i] - p.lo[r.a+1]) * (p.lo[r.b+1] - p.lo[r.a+1]) + (p.la[i] - p.la[r.a+1]) * (p.la[r.b+1] - p.la[r.a+1])) / ((p.lo[r.b+1] - p.lo[r.a+1]) * (p.lo[r.b+1] - p.lo[r.a+1]) + (p.la[r.b+1] - p.la[r.a+1]) * (p.la[r.b+1] - p.la[r.a+1]))))"""
      def resid(c: String) =
        s"(p.$c[i] - (p.$c[r.a+1] + $tExpr * (p.$c[r.b+1] - p.$c[r.a+1])))"
      val rx = resid("lo"); val ry = resid("la")
      s"""WITH RECURSIVE
pw(j, apow) AS (VALUES $powers),
keys AS (SELECT o_orderkey AS k, o_orderkey % 2147483648 AS s0
         FROM orders WHERE o_orderkey % 97 = 0),
deltas AS (
  SELECT k, (j + 1) // 2 AS t, j % 2 = 1 AS is_lat,
    ((apow * s0 + 11 * ((CAST(apow AS HUGEINT) - 1) * $inv % $m)) % $m) % 2001 - 1000 AS d
  FROM keys, pw),
stepd AS (
  SELECT k, t, SUM(CASE WHEN is_lat THEN d ELSE 0 END) AS dl,
         SUM(CASE WHEN NOT is_lat THEN d ELSE 0 END) AS dn
  FROM deltas GROUP BY k, t),
cums AS (
  SELECT k, t AS step,
    SUM(dl) OVER (PARTITION BY k ORDER BY t) AS dlat,
    SUM(dn) OVER (PARTITION BY k ORDER BY t) AS dlon
  FROM stepd),
pts0 AS (
  SELECT k AS track_id, 0 AS step,
    (37000000 + (k % 1000) * 100) * 1e-6 AS lat,
    (-122000000 + (k % 997) * 100) * 1e-6 AS lon
  FROM keys
  UNION ALL
  SELECT k, step,
    (37000000 + (k % 1000) * 100 + dlat) * 1e-6,
    (-122000000 + (k % 997) * 100 + dlon) * 1e-6
  FROM cums),
ptl AS (
  SELECT track_id, list(lat ORDER BY step) AS la, list(lon ORDER BY step) AS lo
  FROM pts0 GROUP BY track_id),
rec(track_id, a, b) AS (
  SELECT track_id, 0, 39 FROM ptl
  UNION ALL
  SELECT spl.track_id,
    CASE WHEN c.side = 0 THEN spl.a ELSE spl.idx END,
    CASE WHEN c.side = 0 THEN spl.idx ELSE spl.b END
  FROM (
    SELECT dd.track_id, dd.a, dd.b,
      dd.a + list_position(dd.dlist, list_max(dd.dlist)) AS idx,
      list_max(dd.dlist) AS md
    FROM (
      SELECT r.track_id, r.a, r.b,
        CASE WHEN (p.lo[r.b+1] - p.lo[r.a+1]) * (p.lo[r.b+1] - p.lo[r.a+1])
                + (p.la[r.b+1] - p.la[r.a+1]) * (p.la[r.b+1] - p.la[r.a+1]) = 0.0::DOUBLE
        THEN list_transform(range(r.a + 2, r.b + 1), i ->
          sqrt((p.lo[i] - p.lo[r.a+1]) * (p.lo[i] - p.lo[r.a+1])
             + (p.la[i] - p.la[r.a+1]) * (p.la[i] - p.la[r.a+1])))
        ELSE list_transform(range(r.a + 2, r.b + 1), i ->
          sqrt($rx * $rx + $ry * $ry))
        END AS dlist
      FROM rec r JOIN ptl p USING (track_id)
      WHERE r.b - r.a >= 2) dd
    ) spl
  JOIN (VALUES (0), (1)) c(side) ON TRUE
  WHERE spl.md > 0.0002::DOUBLE),
keepi AS (
  SELECT DISTINCT track_id, i FROM (
    SELECT track_id, a AS i FROM rec
    UNION ALL SELECT track_id, b FROM rec)),
klist AS (
  SELECT k.track_id,
    list(p.la[k.i + 1] ORDER BY k.i) AS lats,
    list(p.lo[k.i + 1] ORDER BY k.i) AS lons
  FROM keepi k JOIN ptl p USING (track_id) GROUP BY k.track_id)
SELECT track_id, CAST(40 AS INTEGER) AS n_before,
  CAST(len(lats) AS INTEGER) AS n_after,
  ROUND(list_reduce(list_prepend(0.0::DOUBLE, lats), (x, y) -> x + y), 9) AS lat_sum,
  ROUND(list_reduce(list_prepend(0.0::DOUBLE, lons), (x, y) -> x + y), 9) AS lon_sum
FROM klist ORDER BY track_id"""
    },

    "q_traj_map_match" -> {
      val m = 2147483647L; val a = 48271L
      val inv = BigInt(a - 1).modInverse(BigInt(m)).toLong // 1968059542
      val powers = (1 to 78)
        .map(j => s"($j,${BigInt(a).modPow(BigInt(j), BigInt(m))})").mkString(",")
      s"""WITH $gridCte,
pw(j, apow) AS (VALUES $powers),
keys AS (SELECT o_orderkey AS k, o_orderkey % 2147483648 AS s0
         FROM orders WHERE o_orderkey % 13 = 0),
deltas AS (
  SELECT k, (j + 1) // 2 AS t, j % 2 = 1 AS is_lat,
    ((apow * s0 + 11 * ((CAST(apow AS HUGEINT) - 1) * $inv % $m)) % $m) % 2001 - 1000 AS d
  FROM keys, pw),
stepd AS (
  SELECT k, t, SUM(CASE WHEN is_lat THEN d ELSE 0 END) AS dl,
         SUM(CASE WHEN NOT is_lat THEN d ELSE 0 END) AS dn
  FROM deltas GROUP BY k, t),
cums AS (
  SELECT k, t AS step,
    SUM(dl) OVER (PARTITION BY k ORDER BY t) AS dlat,
    SUM(dn) OVER (PARTITION BY k ORDER BY t) AS dlon
  FROM stepd),
pts0 AS (
  SELECT k AS track_id, 0 AS step,
    (37000000 + (k % 1000) * 100) * 1e-6 AS lat,
    (-122000000 + (k % 997) * 100) * 1e-6 AS lon
  FROM keys
  UNION ALL
  SELECT k, step,
    (37000000 + (k % 1000) * 100 + dlat) * 1e-6,
    (-122000000 + (k % 997) * 100 + dlon) * 1e-6
  FROM cums),
tpts AS (
  SELECT track_id, step,
    LEAST(37.0::DOUBLE + CAST(p.g - 1 AS DOUBLE) * 0.001::DOUBLE,
          GREATEST(37.0::DOUBLE, lat)) AS lat,
    LEAST(-122.0::DOUBLE + CAST(p.g - 1 AS DOUBLE) * 0.001::DOUBLE,
          GREATEST(-122.0::DOUBLE, lon)) AS lon
  FROM pts0, p),
mmways AS (
  SELECT r AS way_id, lat AS wlat, NULL::DOUBLE AS wlon, 'h' AS kind FROM rr
  UNION ALL
  SELECT 1000000 + c, NULL::DOUBLE, lon, 'v' FROM cc),
mmcand AS (
  SELECT t.track_id, t.step, w.way_id,
    CAST(ROUND((CASE WHEN w.kind = 'h' THEN ABS(t.lat - w.wlat)
                     ELSE ABS(t.lon - w.wlon) END)
         * 1000000000.0::DOUBLE) AS BIGINT) AS dist9
  FROM tpts t, mmways w),
mmbest AS (
  SELECT track_id, step, way_id
  FROM mmcand
  QUALIFY ROW_NUMBER() OVER (PARTITION BY track_id, step ORDER BY dist9, way_id) = 1),
mmruns AS (
  SELECT track_id, step, way_id,
    CASE WHEN way_id = LAG(way_id) OVER (PARTITION BY track_id ORDER BY step)
         THEN 0 ELSE 1 END AS flag
  FROM mmbest),
mmseq AS (
  SELECT track_id, step, way_id,
    SUM(flag) OVER (PARTITION BY track_id ORDER BY step
                    ROWS UNBOUNDED PRECEDING) AS seq_idx
  FROM mmruns)
SELECT track_id, CAST(seq_idx AS BIGINT) AS seq_idx, way_id,
  CAST(COUNT(*) AS BIGINT) AS n_points
FROM mmseq GROUP BY track_id, seq_idx, way_id
ORDER BY track_id, seq_idx"""
    },

    // geohash: MIRROR of the closed-form contract — axis quantization
    // (one floor per axis at 2^18/2^17), lon-first bit interleave via a
    // fixed 0..34 series, base-32 via substr; identical IEEE arithmetic
    // the hilbert range scan is row-identical to the plain bbox filter by
    // construction (complete covering ⊇ bbox rows; exact refine) — so the
    // oracle IS the plain bbox filter
    "q_layout_hilbert_scan" ->
      s"""WITH $imgCte
SELECT image_id, lat, lon FROM imgs
WHERE lat >= 37.004::DOUBLE AND lat <= 37.0085::DOUBLE
  AND lon >= -121.997::DOUBLE AND lon <= -121.9912::DOUBLE
ORDER BY image_id""",

    "q_image_geohash" ->
      s"""WITH $imgCte,
axq AS (
  SELECT image_id,
    LEAST(131071, GREATEST(0, CAST(FLOOR((lat + 90.0::DOUBLE) / 180.0::DOUBLE * 131072.0::DOUBLE) AS BIGINT))) AS la,
    LEAST(262143, GREATEST(0, CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 262144.0::DOUBLE) AS BIGINT))) AS lo
  FROM imgs),
ghbits AS (
  SELECT image_id,
    CAST(SUM(CASE WHEN i % 2 = 0 THEN ((lo >> (17 - i // 2)) & 1) << (34 - i)
                  ELSE ((la >> (16 - (i - 1) // 2)) & 1) << (34 - i) END) AS BIGINT) AS gh
  FROM axq, (SELECT i FROM generate_series(0, 34) t(i))
  GROUP BY image_id),
gh7 AS (
  SELECT image_id,
    string_agg(substr('0123456789bcdefghjkmnpqrstuvwxyz',
                      CAST((gh >> (30 - 5 * k)) & 31 AS INTEGER) + 1, 1),
               '' ORDER BY k) AS geohash
  FROM ghbits, (SELECT k FROM generate_series(0, 6) t(k))
  GROUP BY image_id)
SELECT geohash, CAST(COUNT(*) AS BIGINT) AS n
FROM gh7 GROUP BY geohash ORDER BY geohash""",

    "q_image_tiles" ->
      s"""WITH $imgCte
SELECT image_id,
  15 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 32768.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 32768.0::DOUBLE) AS BIGINT)
  AS tile_id
FROM imgs ORDER BY image_id""",

    // quadkey roll-up: same verbatim mercator x/y dag as q_image_tiles,
    // then the base-4 MSB-first interleave as a string_agg, rolled up by
    // the z8 prefix (ancestor containment = string prefix, by construction)
    "q_image_quadkey" ->
      s"""WITH $imgCte,
txy AS (
  SELECT image_id,
    CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 262144.0::DOUBLE) AS BIGINT) AS tx,
    CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 262144.0::DOUBLE) AS BIGINT) AS ty
  FROM imgs),
qk AS (
  SELECT image_id,
    string_agg(substr('0123',
        CAST(((tx >> (18 - i)) % 2) + 2 * ((ty >> (18 - i)) % 2) AS INTEGER) + 1, 1),
      '' ORDER BY i) AS quadkey
  FROM txy, (SELECT i FROM generate_series(1, 18) t(i))
  GROUP BY image_id)
SELECT substr(quadkey, 1, 16) AS qk_prefix, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT quadkey) AS BIGINT) AS n_children
FROM qk GROUP BY 1 ORDER BY qk_prefix""",

    // ---- mirror (integer bounds): image city assignment --------------------
    "q_image_city" ->
      s"""WITH $imgCte
SELECT image_id, $cityCase AS city
FROM imgs, (SELECT (g - 1) * 1000 AS s FROM p) sp
ORDER BY image_id""",

    // geo-privacy scrubbing: the same integer coarsening CASE over the
    // closed-form geotags — in-zone u/v snap to 10000-µdeg cell centers,
    // out-of-zone pass through
    "q_image_geo_scrub" ->
      s"""WITH $imgCte,
sc AS (
  SELECT image_id, u, v, $cityCase AS city
  FROM imgs, (SELECT (g - 1) * 1000 AS s FROM p) sp)
SELECT image_id, city,
  CASE WHEN city <> 'Unincorporated' THEN (u // 10000) * 10000 + 5000
       ELSE u END AS u_out,
  CASE WHEN city <> 'Unincorporated' THEN (v // 10000) * 10000 + 5000
       ELSE v END AS v_out
FROM sc ORDER BY image_id""",

    // same oracle as q_image_city: the cell-indexed distributed-polygon
    // join (the million-polygon scale path) must be row-identical to the
    // broadcast-prepared path
    "q_image_city_indexed" ->
      s"""WITH $imgCte
SELECT image_id, $cityCase AS city
FROM imgs, (SELECT (g - 1) * 1000 AS s FROM p) sp
ORDER BY image_id""",

    // ---- mirror: kNN streets per image (top-2 by rounded distance) ---------
    "q_image_knn" ->
      s"""WITH $imgCte,
ways2 AS (
  SELECT r AS way_id, 'H' || r AS name, lat AS wlat, NULL::DOUBLE AS wlon, 'h' AS kind FROM rr
  UNION ALL
  SELECT 1000000 + c, vname, NULL::DOUBLE, lon, 'v' FROM cc),
cand AS (
  SELECT i.image_id, w.way_id, w.name,
    CAST(ROUND((CASE WHEN w.kind = 'h' THEN ABS(i.lat - w.wlat) ELSE ABS(i.lon - w.wlon) END)
         * 1000000000.0::DOUBLE) AS BIGINT) AS dist9
  FROM imgs i, ways2 w),
ranked AS (
  SELECT image_id, way_id, name,
    ROW_NUMBER() OVER (PARTITION BY image_id ORDER BY dist9, way_id) AS rk
  FROM cand)
SELECT image_id, rk, way_id, name FROM ranked WHERE rk <= 2
ORDER BY image_id, rk""",

    // ---- J7 ring expansion: kNN over SPARSE streets (every 7th line) --------
    // brute force over the sparse way set; ring-1 candidates cannot cover the
    // 0.007° spacing, so a green hash here certifies the expand-until-k loop
    "q_image_knn_expand" ->
      s"""WITH $imgCte,
ways2 AS (
  SELECT r AS way_id, 'H' || r AS name, lat AS wlat, NULL::DOUBLE AS wlon, 'h' AS kind
  FROM rr WHERE r % 7 = 0
  UNION ALL
  SELECT 1000000 + c, vname, NULL::DOUBLE, lon, 'v' FROM cc WHERE c % 7 = 0),
q AS (SELECT * FROM imgs WHERE (u * 31 + v) % 13 = 0),
cand AS (
  SELECT i.image_id, w.way_id, w.name,
    CAST(ROUND((CASE WHEN w.kind = 'h' THEN ABS(i.lat - w.wlat) ELSE ABS(i.lon - w.wlon) END)
         * 1000000000.0::DOUBLE) AS BIGINT) AS dist9
  FROM q i, ways2 w),
ranked AS (
  SELECT image_id, way_id, name,
    ROW_NUMBER() OVER (PARTITION BY image_id ORDER BY dist9, way_id) AS rk
  FROM cand)
SELECT image_id, rk, way_id, name FROM ranked WHERE rk <= 2
ORDER BY image_id, rk""",

    // ---- mirror: image-way cell join within 0.0002° -------------------------
    "q_image_way_join" -> imageWayJoinSql,
    // the ADAPTIVE-SUBDIVISION skew path must produce the identical rowset —
    // same oracle, different physical key space (fine cells in hot regions)
    "q_image_way_join_adaptive" -> imageWayJoinSql,

    // ---- mirror: naive haversine distance join (DistanceJoinRewrite rule) ---
    // the oracle IS the naive theta-join; the engine runs the same predicate
    // but the optimizer rule turns it into a cell-bucketed equi-join
    "q_rule_distance_join" ->
      s"""WITH $imgCte,
lms AS (SELECT image_id AS lm_id, lat AS llat, lon AS llon FROM imgs WHERE (u*31 + v) % 997 = 0)
SELECT i.image_id, l.lm_id
FROM imgs i, lms l
WHERE 2*6371008.8*asin(least(1.0, sqrt(
    sin(radians((l.llat - i.lat)/2))*sin(radians((l.llat - i.lat)/2)) +
    cos(radians(i.lat))*cos(radians(l.llat))*sin(radians((l.llon - i.lon)/2))*sin(radians((l.llon - i.lon)/2))))) <= 150.0::DOUBLE
ORDER BY image_id, lm_id""",

    // ---- mirror: DBSCAN over the geotagged corpus ---------------------------
    // full relational replay of the decomposition: integer-cell candidate
    // join (700 µ° cells ⊇ the 60 m disk at these latitudes: lat halfwidth
    // 540 µ°, lon halfwidth ≤ 680 µ° at lat 37.5) + the identical haversine
    // refine, neighborhood counts, core threshold, recursive-CTE transitive
    // closure for components (min core id), min-cluster border assignment
    "q_geo_dbscan" ->
      s"""WITH RECURSIVE $imgCte,
pts AS (SELECT CAST(substring(image_id, 4) AS BIGINT) AS pid, lat, lon, u, v FROM imgs),
off AS (SELECT a.du, b.dv FROM (VALUES (-1),(0),(1)) a(du), (VALUES (-1),(0),(1)) b(dv)),
prs AS (
  SELECT a.pid AS a_id, b.pid AS b_id
  FROM pts a, off o, pts b
  WHERE b.u // 700 = a.u // 700 + o.du AND b.v // 700 = a.v // 700 + o.dv
    AND 2*6371008.8*asin(least(1.0, sqrt(
      sin(radians((b.lat - a.lat)/2))*sin(radians((b.lat - a.lat)/2)) +
      cos(radians(a.lat))*cos(radians(b.lat))*sin(radians((b.lon - a.lon)/2))*sin(radians((b.lon - a.lon)/2))))) <= 60.0::DOUBLE),
cnt AS (SELECT a_id, COUNT(*) AS n_eps FROM prs GROUP BY a_id),
core AS (SELECT a_id AS id FROM cnt WHERE n_eps >= 4),
ed AS (SELECT p.a_id AS a, p.b_id AS b FROM prs p
       JOIN core c1 ON p.a_id = c1.id JOIN core c2 ON p.b_id = c2.id),
reach(a, b) AS (SELECT a, b FROM ed UNION SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
comp AS (SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a),
bord AS (SELECT p.a_id, MIN(c.cluster) AS nbr_cluster
         FROM prs p JOIN comp c ON p.b_id = c.id WHERE p.a_id <> p.b_id GROUP BY p.a_id)
SELECT cnt.a_id AS pid, cnt.n_eps,
  CASE WHEN comp.cluster IS NOT NULL THEN 'core'
       WHEN bord.nbr_cluster IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
  COALESCE(comp.cluster, bord.nbr_cluster) AS cluster
FROM cnt LEFT JOIN comp ON cnt.a_id = comp.id LEFT JOIN bord ON cnt.a_id = bord.a_id
ORDER BY pid""",

    // quadtree compaction: the same tile arithmetic as q_geo_cap_sample at
    // z16, then three unrolled promote-complete-quads levels
    "q_tiles_compact" ->
      s"""WITH $imgCte,
t16 AS (SELECT DISTINCT
  16 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 65536.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI())
       / 2.0::DOUBLE * 65536.0::DOUBLE) AS BIGINT) AS cell
  FROM imgs),
p16 AS (SELECT cell, (cell // 4503599627370496 - 1) * 4503599627370496
  + ((cell % 4503599627370496) // 67108864 // 2) * 67108864
  + (cell % 67108864) // 2 AS parent FROM t16),
f16 AS (SELECT parent FROM p16 GROUP BY parent HAVING COUNT(*) = 4),
k16 AS (SELECT 16 AS zoom, p.cell FROM p16 p
        LEFT JOIN f16 f ON p.parent = f.parent WHERE f.parent IS NULL),
p15 AS (SELECT parent AS cell, (parent // 4503599627370496 - 1) * 4503599627370496
  + ((parent % 4503599627370496) // 67108864 // 2) * 67108864
  + (parent % 67108864) // 2 AS parent FROM f16),
f15 AS (SELECT parent FROM p15 GROUP BY parent HAVING COUNT(*) = 4),
k15 AS (SELECT 15 AS zoom, p.cell FROM p15 p
        LEFT JOIN f15 f ON p.parent = f.parent WHERE f.parent IS NULL),
p14 AS (SELECT parent AS cell, (parent // 4503599627370496 - 1) * 4503599627370496
  + ((parent % 4503599627370496) // 67108864 // 2) * 67108864
  + (parent % 67108864) // 2 AS parent FROM f15),
f14 AS (SELECT parent FROM p14 GROUP BY parent HAVING COUNT(*) = 4),
k14 AS (SELECT 14 AS zoom, p.cell FROM p14 p
        LEFT JOIN f14 f ON p.parent = f.parent WHERE f.parent IS NULL),
k13 AS (SELECT 13 AS zoom, parent AS cell FROM f14)
SELECT zoom, cell AS tile_id FROM (
  SELECT * FROM k16 UNION ALL SELECT * FROM k15
  UNION ALL SELECT * FROM k14 UNION ALL SELECT * FROM k13)
ORDER BY zoom, tile_id""",

    // cluster hull diameters: the SAME recursive-CTE DBSCAN closed form,
    // then the O(n²) brute-force pairwise max per cluster — the Spark side
    // must land on identical integers through its two-level hull reduction
    "q_cluster_hull_diam" ->
      s"""WITH RECURSIVE $imgCte,
pts AS (SELECT CAST(substring(image_id, 4) AS BIGINT) AS pid, lat, lon, u, v FROM imgs),
off AS (SELECT a.du, b.dv FROM (VALUES (-1),(0),(1)) a(du), (VALUES (-1),(0),(1)) b(dv)),
prs AS (
  SELECT a.pid AS a_id, b.pid AS b_id
  FROM pts a, off o, pts b
  WHERE b.u // 700 = a.u // 700 + o.du AND b.v // 700 = a.v // 700 + o.dv
    AND 2*6371008.8*asin(least(1.0, sqrt(
      sin(radians((b.lat - a.lat)/2))*sin(radians((b.lat - a.lat)/2)) +
      cos(radians(a.lat))*cos(radians(b.lat))*sin(radians((b.lon - a.lon)/2))*sin(radians((b.lon - a.lon)/2))))) <= 60.0::DOUBLE),
cnt AS (SELECT a_id, COUNT(*) AS n_eps FROM prs GROUP BY a_id),
core AS (SELECT a_id AS id FROM cnt WHERE n_eps >= 4),
ed AS (SELECT p.a_id AS a, p.b_id AS b FROM prs p
       JOIN core c1 ON p.a_id = c1.id JOIN core c2 ON p.b_id = c2.id),
reach(a, b) AS (SELECT a, b FROM ed UNION SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
comp AS (SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a),
bord AS (SELECT p.a_id, MIN(c.cluster) AS nbr_cluster
         FROM prs p JOIN comp c ON p.b_id = c.id WHERE p.a_id <> p.b_id GROUP BY p.a_id),
mem AS (
  SELECT cnt.a_id AS pid, COALESCE(comp.cluster, bord.nbr_cluster) AS cluster
  FROM cnt LEFT JOIN comp ON cnt.a_id = comp.id LEFT JOIN bord ON cnt.a_id = bord.a_id
  WHERE COALESCE(comp.cluster, bord.nbr_cluster) IS NOT NULL),
nm AS (SELECT cluster, COUNT(*) AS n_members FROM mem GROUP BY cluster),
dd AS (SELECT m1.cluster,
         MAX((p1.u - p2.u)*(p1.u - p2.u) + (p1.v - p2.v)*(p1.v - p2.v)) AS diam2
       FROM mem m1 JOIN pts p1 ON m1.pid = p1.pid
            JOIN mem m2 ON m2.cluster = m1.cluster
            JOIN pts p2 ON m2.pid = p2.pid
       GROUP BY m1.cluster)
SELECT nm.cluster, nm.n_members, dd.diam2
FROM nm JOIN dd USING (cluster) ORDER BY cluster""",

    // cluster-extent × zone intersection join: the SAME DBSCAN closed form,
    // per-cluster bbox from member MIN/MAX, then all cluster×zone overlaps
    // brute-forced closed-form in half-µ° integers (extent edges whole-µ°,
    // zone edges half-µ°; gamma = its two interior-disjoint rects summed)
    "q_cluster_zone_join" ->
      s"""WITH RECURSIVE $imgCte,
pts AS (SELECT CAST(substring(image_id, 4) AS BIGINT) AS pid, lat, lon, u, v FROM imgs),
off AS (SELECT a.du, b.dv FROM (VALUES (-1),(0),(1)) a(du), (VALUES (-1),(0),(1)) b(dv)),
prs AS (
  SELECT a.pid AS a_id, b.pid AS b_id
  FROM pts a, off o, pts b
  WHERE b.u // 700 = a.u // 700 + o.du AND b.v // 700 = a.v // 700 + o.dv
    AND 2*6371008.8*asin(least(1.0, sqrt(
      sin(radians((b.lat - a.lat)/2))*sin(radians((b.lat - a.lat)/2)) +
      cos(radians(a.lat))*cos(radians(b.lat))*sin(radians((b.lon - a.lon)/2))*sin(radians((b.lon - a.lon)/2))))) <= 60.0::DOUBLE),
cnt AS (SELECT a_id, COUNT(*) AS n_eps FROM prs GROUP BY a_id),
core AS (SELECT a_id AS id FROM cnt WHERE n_eps >= 4),
ed AS (SELECT p.a_id AS a, p.b_id AS b FROM prs p
       JOIN core c1 ON p.a_id = c1.id JOIN core c2 ON p.b_id = c2.id),
reach(a, b) AS (SELECT a, b FROM ed UNION SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
comp AS (SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a),
bord AS (SELECT p.a_id, MIN(c.cluster) AS nbr_cluster
         FROM prs p JOIN comp c ON p.b_id = c.id WHERE p.a_id <> p.b_id GROUP BY p.a_id),
mem AS (
  SELECT cnt.a_id AS pid, COALESCE(comp.cluster, bord.nbr_cluster) AS cluster
  FROM cnt LEFT JOIN comp ON cnt.a_id = comp.id LEFT JOIN bord ON cnt.a_id = bord.a_id
  WHERE COALESCE(comp.cluster, bord.nbr_cluster) IS NOT NULL),
bb AS (SELECT m.cluster, MIN(p.u) AS bulo, MAX(p.u) AS buhi,
              MIN(p.v) AS bvlo, MAX(p.v) AS bvhi
       FROM mem m JOIN pts p ON m.pid = p.pid GROUP BY m.cluster),
jzr AS (
  SELECT 'alpha' AS zone, s*10//100 AS ulo, s*35//100 AS uhi,
         s*10//100 AS vlo, s*40//100 AS vhi
  FROM (SELECT (g - 1) * 1000 AS s FROM p)
  UNION ALL
  SELECT 'beta', s*40//100, s*70//100, s*50//100, s*90//100
  FROM (SELECT (g - 1) * 1000 AS s FROM p)
  UNION ALL
  SELECT 'gamma', s*70//100, s*95//100, s*5//100, s*20//100
  FROM (SELECT (g - 1) * 1000 AS s FROM p)
  UNION ALL
  SELECT 'gamma', s*70//100, s*80//100, s*20//100, s*45//100
  FROM (SELECT (g - 1) * 1000 AS s FROM p)),
jov AS (
  SELECT bb.cluster, jzr.zone,
    GREATEST(0, LEAST(2*bb.buhi, 2*jzr.uhi + 1) - GREATEST(2*bb.bulo, 2*jzr.ulo + 1))
    * GREATEST(0, LEAST(2*bb.bvhi, 2*jzr.vhi + 1) - GREATEST(2*bb.bvlo, 2*jzr.vlo + 1)) AS q4
  FROM bb, jzr)
SELECT cluster, zone, CAST(SUM(q4) AS BIGINT) AS overlap_q4
FROM jov GROUP BY cluster, zone HAVING SUM(q4) > 0
ORDER BY cluster, zone""",

    // ---- mirror: per-tile capped sampling -----------------------------------
    // vector-tile sink: the encoded byte stream re-derived digit by digit —
    // grid vertices → µdeg rounding → cell bucketing → per-run deltas (first
    // vs CELL ORIGIN, then vs previous) → zigzag → 1/2/3-digit base-128
    // varints with continuation bits → position-weighted byte digest
    "q_way_vector_tiles" ->
      s"""WITH $gridCte,
hv AS (
  SELECT r.r AS way_id, c.c AS k, r.lat AS lat, c.lon AS lon FROM rr r, cc c
  UNION ALL
  SELECT 1000000 + c.c, r.r, r.lat, c.lon FROM rr r, cc c),
uv AS (SELECT way_id, k,
  CAST(ROUND((lat - 37.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS u,
  CAST(ROUND((lon + 122.0::DOUBLE) * 1000000.0::DOUBLE) AS BIGINT) AS v
  FROM hv),
cl AS (SELECT *, (u // 5000) * 100000 + (v // 5000) AS cell FROM uv),
dl AS (SELECT cell, way_id, k,
  u - COALESCE(LAG(u) OVER w, (cell // 100000) * 5000) AS du,
  v - COALESCE(LAG(v) OVER w, (cell % 100000) * 5000) AS dv
  FROM cl WINDOW w AS (PARTITION BY cell, way_id ORDER BY k)),
zz0 AS (SELECT cell, way_id, k,
  CASE WHEN du >= 0 THEN 2 * du ELSE -2 * du - 1 END AS zu,
  CASE WHEN dv >= 0 THEN 2 * dv ELSE -2 * dv - 1 END AS zv FROM dl),
zz AS (SELECT cell, way_id, k,
  list_concat(
    CASE WHEN zu < 128 THEN [zu]
         WHEN zu < 16384 THEN [zu % 128 + 128, zu // 128]
         ELSE [zu % 128 + 128, (zu // 128) % 128 + 128, zu // 16384] END,
    CASE WHEN zv < 128 THEN [zv]
         WHEN zv < 16384 THEN [zv % 128 + 128, zv // 128]
         ELSE [zv % 128 + 128, (zv // 128) % 128 + 128, zv // 16384] END) AS bl
  FROM zz0),
off AS (SELECT cell, way_id, k, bl,
  COALESCE(SUM(len(bl)) OVER (PARTITION BY cell, way_id ORDER BY k
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
  FROM zz),
byt AS (SELECT cell, way_id,
  o + unnest(range(0, len(bl))) AS p, unnest(bl) AS b FROM off),
cnts AS (SELECT cell, way_id, CAST(COUNT(*) AS BIGINT) AS n_pts
  FROM cl GROUP BY 1, 2),
dg AS (SELECT cell, way_id, CAST(COUNT(*) AS BIGINT) AS n_bytes,
  CAST(SUM((p + 1) * (p + 7) * (b + 17)) AS BIGINT) AS digest
  FROM byt GROUP BY 1, 2)
SELECT c.cell, c.way_id, c.n_pts, d.n_bytes, d.digest
FROM cnts c JOIN dg d USING (cell, way_id) ORDER BY cell, way_id""",

    // polygon buffer / fringe: per outside image, distance to each zone =
    // MIN of pointSegDist over the closed ring's edges (vertex doubles
    // rebuilt exactly: LAT0/LON0 + (s·P//100 + 0.5)·1e-6), the kernel
    // formula mirrored op-for-op (sqrt is IEEE-exact); nearest zone via the
    // first-poly-wins CASE; dist9 = floor(d·1e9 + 0.5) on both engines
    "q_geo_city_fringe" -> {
      val t = """LEAST(1.0::DOUBLE, GREATEST(0.0::DOUBLE, ((n.lon - e.ax) * (e.bx - e.ax) + (n.lat - e.ay) * (e.by - e.ay)) / ((e.bx - e.ax) * (e.bx - e.ax) + (e.by - e.ay) * (e.by - e.ay))))"""
      s"""WITH $imgCte,
sp AS (SELECT (g - 1) * 1000 AS s FROM p),
uninc AS (
  SELECT image_id, lat, lon FROM imgs, sp
  WHERE ($cityCase) = 'Unincorporated'),
ev(poly, u1, v1, u2, v2) AS (VALUES
  ('alpha',10,10,10,40),('alpha',10,40,35,40),('alpha',35,40,35,10),('alpha',35,10,10,10),
  ('beta',40,50,40,90),('beta',40,90,70,90),('beta',70,90,70,50),('beta',70,50,40,50),
  ('gamma',70,5,95,5),('gamma',95,5,95,20),('gamma',95,20,80,20),
  ('gamma',80,20,80,45),('gamma',80,45,70,45),('gamma',70,45,70,5)),
edges AS (
  SELECT poly,
    -122.0::DOUBLE + (CAST(sp.s * v1 // 100 AS DOUBLE) + 0.5::DOUBLE) * 1e-6 AS ax,
    37.0::DOUBLE + (CAST(sp.s * u1 // 100 AS DOUBLE) + 0.5::DOUBLE) * 1e-6 AS ay,
    -122.0::DOUBLE + (CAST(sp.s * v2 // 100 AS DOUBLE) + 0.5::DOUBLE) * 1e-6 AS bx,
    37.0::DOUBLE + (CAST(sp.s * u2 // 100 AS DOUBLE) + 0.5::DOUBLE) * 1e-6 AS by
  FROM ev, sp),
dists AS (
  SELECT n.image_id, e.poly,
    CASE WHEN (e.bx - e.ax) * (e.bx - e.ax) + (e.by - e.ay) * (e.by - e.ay) = 0.0::DOUBLE
    THEN sqrt((n.lon - e.ax) * (n.lon - e.ax) + (n.lat - e.ay) * (n.lat - e.ay))
    ELSE sqrt(
      (n.lon - (e.ax + $t * (e.bx - e.ax))) * (n.lon - (e.ax + $t * (e.bx - e.ax)))
      + (n.lat - (e.ay + $t * (e.by - e.ay))) * (n.lat - (e.ay + $t * (e.by - e.ay))))
    END AS d
  FROM uninc n, edges e),
pd AS (SELECT image_id, poly, MIN(d) AS d FROM dists GROUP BY 1, 2),
pv AS (SELECT image_id,
    MAX(CASE WHEN poly = 'alpha' THEN d END) AS da,
    MAX(CASE WHEN poly = 'beta' THEN d END) AS db,
    MAX(CASE WHEN poly = 'gamma' THEN d END) AS dg
  FROM pd GROUP BY 1)
SELECT image_id,
  CASE WHEN da <= db AND da <= dg THEN 'alpha'
       WHEN db <= dg THEN 'beta' ELSE 'gamma' END AS fringe_city,
  CAST(FLOOR(LEAST(da, db, dg) * 1000000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS dist9
FROM pv
WHERE LEAST(da, db, dg) <= 0.003::DOUBLE
ORDER BY image_id"""
    },

    // exact-quota stratified sampling: Knuth scramble + per-(city, fmt)
    // ROW_NUMBER cut over the closed-form geotags — the window form is the
    // semantic spec the k-bounded TopKAgg plan must reproduce exactly
    "q_sample_stratified" ->
      s"""WITH p AS (SELECT GREATEST(16, LEAST(512, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) AS g FROM orders),
base AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 48271 + 11) % 2147483647 AS h1,
         (o_orderkey * 69621 + 7) % 2147483647 AS h2
  FROM orders),
geo AS (
  SELECT k,
    CASE WHEN k % 5 = 1 THEN 'png' WHEN k % 5 = 3 THEN 'jpeg'
         ELSE 'bmp' END AS fmt,
    CASE WHEN u0 % 500 = 0 THEN u0 + 13 ELSE u0 END AS u,
    CASE WHEN v0 % 500 = 0 THEN v0 + 13 ELSE v0 END AS v
  FROM (SELECT k, h1 % ((p.g - 1) * 1000) AS u0, h2 % ((p.g - 1) * 1000) AS v0
        FROM base, p)),
strat AS (
  SELECT k, fmt, $cityCase AS city,
    ((k % 2147483648) * 2654435761 + 12345) % 2147483648 AS skey
  FROM geo, (SELECT (g - 1) * 1000 AS s FROM p) sp),
rk AS (SELECT *,
  ROW_NUMBER() OVER (PARTITION BY city, fmt ORDER BY skey, k) AS r
  FROM strat)
SELECT city, fmt, CAST(skey AS BIGINT) AS skey, k AS id
FROM rk WHERE r <= 37 ORDER BY city, fmt, skey""",

    "q_geo_cap_sample" ->
      s"""WITH $imgCte,
pts AS (SELECT CAST(substring(image_id, 4) AS BIGINT) AS pid, lat, lon FROM imgs),
t AS (SELECT pid,
  15 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 32768.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 32768.0::DOUBLE) AS BIGINT)
  AS tile_id,
  ((pid % 2147483648) * 2654435761) % 4294967296 AS priority
  FROM pts),
r AS (SELECT pid, tile_id, priority,
      ROW_NUMBER() OVER (PARTITION BY tile_id ORDER BY priority, pid) AS rk FROM t)
SELECT pid, tile_id, priority, rk FROM r WHERE rk <= 16 ORDER BY pid""",

    // ---- mirror: multi-zoom density pyramid ---------------------------------
    // leaf z15 counts + chained integer parent-arithmetic rollups to z11;
    // SUMs cast back to BIGINT (DuckDB SUM(BIGINT) is HUGEINT)
    "q_geo_tile_pyramid" ->
      s"""WITH $imgCte,
l15 AS (SELECT
  15 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 32768.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 32768.0::DOUBLE) AS BIGINT)
  AS tile_id, COUNT(*) AS n FROM imgs GROUP BY 1),
l14 AS (SELECT 14 * 4503599627370496 + ((tile_id % 4503599627370496) // 67108864 // 2) * 67108864
  + (tile_id % 67108864) // 2 AS tile_id, CAST(SUM(n) AS BIGINT) AS n FROM l15 GROUP BY 1),
l13 AS (SELECT 13 * 4503599627370496 + ((tile_id % 4503599627370496) // 67108864 // 2) * 67108864
  + (tile_id % 67108864) // 2 AS tile_id, CAST(SUM(n) AS BIGINT) AS n FROM l14 GROUP BY 1),
l12 AS (SELECT 12 * 4503599627370496 + ((tile_id % 4503599627370496) // 67108864 // 2) * 67108864
  + (tile_id % 67108864) // 2 AS tile_id, CAST(SUM(n) AS BIGINT) AS n FROM l13 GROUP BY 1),
l11 AS (SELECT 11 * 4503599627370496 + ((tile_id % 4503599627370496) // 67108864 // 2) * 67108864
  + (tile_id % 67108864) // 2 AS tile_id, CAST(SUM(n) AS BIGINT) AS n FROM l12 GROUP BY 1)
SELECT 15 AS zoom, tile_id, n FROM l15
UNION ALL SELECT 14, tile_id, n FROM l14
UNION ALL SELECT 13, tile_id, n FROM l13
UNION ALL SELECT 12, tile_id, n FROM l12
UNION ALL SELECT 11, tile_id, n FROM l11
ORDER BY zoom, tile_id""",

    // vector→raster rasterization, CLOSED FORM: the synthetic streets are
    // axis-aligned grid lines, so each horizontal way covers exactly the
    // res-4 pixel row latI = FLOOR(lat·10^4) across lonI ∈
    // [FLOOR(min_lon·10^4), FLOOR(max_lon·10^4)] (contiguous polyline ⇒
    // every integer in the run), and each vertical way one lonI column
    // across the lat run; crossings count 2 distinct ways. cell id packed
    // as (lonI + 2e7)·1e8 + (latI + 2e7).
    "q_way_raster" ->
      s"""WITH $gridCte,
ser4 AS (SELECT i FROM generate_series(0, 8191) t(i)),
lonb AS (SELECT CAST(FLOOR(MIN(lon) * 10000.0::DOUBLE) AS BIGINT) AS l0,
                CAST(FLOOR(MAX(lon) * 10000.0::DOUBLE) AS BIGINT) AS l1 FROM cc),
latb AS (SELECT CAST(FLOOR(MIN(lat) * 10000.0::DOUBLE) AS BIGINT) AS a0,
                CAST(FLOOR(MAX(lat) * 10000.0::DOUBLE) AS BIGINT) AS a1 FROM rr),
hpix AS (
  SELECT h.r AS way_id,
         CAST(FLOOR(h.lat * 10000.0::DOUBLE) AS BIGINT) AS latI,
         lonb.l0 + s.i AS lonI
  FROM rr h, lonb, ser4 s WHERE lonb.l0 + s.i <= lonb.l1),
vpix AS (
  SELECT 1000000 + v.c AS way_id,
         latb.a0 + s.i AS latI,
         CAST(FLOOR(v.lon * 10000.0::DOUBLE) AS BIGINT) AS lonI
  FROM cc v, latb, ser4 s WHERE latb.a0 + s.i <= latb.a1),
pix AS (SELECT way_id, latI, lonI FROM hpix UNION ALL SELECT way_id, latI, lonI FROM vpix)
SELECT (lonI + 20000000) * 100000000 + (latI + 20000000) AS cell,
       lonI AS lon_idx, latI AS lat_idx,
       CAST(COUNT(DISTINCT way_id) AS BIGINT) AS n_ways
FROM pix GROUP BY lonI, latI
ORDER BY cell""",

    // raster→vector polygonize closed form: the street grid's OFF regions
    // are exactly the rectangles between consecutive street-column pixels ×
    // consecutive street-row pixels (gap ≥ 2 ⇔ at least one OFF pixel);
    // block_id = packed bottom-left OFF pixel (the CC minimum run id, since
    // every run of a rectangular block shares lon_lo and the label packs
    // lon before lat). The Twin anomaly (c=12 at +0.0113) makes widths
    // non-uniform: 2 and 16 around it, 9 elsewhere.
    "q_raster_polygonize" ->
      s"""WITH $gridCte,
cpix AS (SELECT DISTINCT CAST(FLOOR(lon * 10000.0::DOUBLE) AS BIGINT) AS ci FROM cc),
rpix AS (SELECT DISTINCT CAST(FLOOR(lat * 10000.0::DOUBLE) AS BIGINT) AS ri FROM rr),
cgap AS (SELECT ci, LEAD(ci) OVER (ORDER BY ci) AS cn FROM cpix),
rgap AS (SELECT ri, LEAD(ri) OVER (ORDER BY ri) AS rn FROM rpix),
cbl AS (SELECT ci + 1 AS lon_min, cn - 1 AS lon_max FROM cgap
        WHERE cn IS NOT NULL AND cn - ci >= 2),
rbl AS (SELECT ri + 1 AS lat_min, rn - 1 AS lat_max FROM rgap
        WHERE rn IS NOT NULL AND rn - ri >= 2)
SELECT (lon_min + 20000000) * 100000000 + (lat_min + 20000000) AS block_id,
       (lon_max - lon_min + 1) * (lat_max - lat_min + 1) AS n_pixels,
       lat_max - lat_min + 1 AS n_rows,
       lon_min, lon_max, lat_min, lat_max
FROM cbl, rbl ORDER BY block_id""",

    // polygonize capstone: closed-form blocks × closed-form image pixels —
    // per-block image counts by exact integer pixel containment (an image
    // on a street pixel falls between blocks and counts nowhere),
    // zero-image blocks kept at 0
    "q_image_block_density" ->
      s"""WITH $imgCte,
cpix AS (SELECT DISTINCT CAST(FLOOR(lon * 10000.0::DOUBLE) AS BIGINT) AS ci FROM cc),
rpix AS (SELECT DISTINCT CAST(FLOOR(lat * 10000.0::DOUBLE) AS BIGINT) AS ri FROM rr),
cgap AS (SELECT ci, LEAD(ci) OVER (ORDER BY ci) AS cn FROM cpix),
rgap AS (SELECT ri, LEAD(ri) OVER (ORDER BY ri) AS rn FROM rpix),
cbl AS (SELECT ci + 1 AS lon_min, cn - 1 AS lon_max FROM cgap
        WHERE cn IS NOT NULL AND cn - ci >= 2),
rbl AS (SELECT ri + 1 AS lat_min, rn - 1 AS lat_max FROM rgap
        WHERE rn IS NOT NULL AND rn - ri >= 2),
blocks AS (
  SELECT (lon_min + 20000000) * 100000000 + (lat_min + 20000000) AS block_id,
         (lon_max - lon_min + 1) * (lat_max - lat_min + 1) AS n_pixels,
         lon_min, lon_max, lat_min, lat_max
  FROM cbl, rbl),
ip AS (SELECT CAST(FLOOR(lon * 10000.0::DOUBLE) AS BIGINT) AS ilon,
              CAST(FLOOR(lat * 10000.0::DOUBLE) AS BIGINT) AS ilat FROM imgs),
cnt AS (SELECT b.block_id, COUNT(*) AS n_images
        FROM blocks b JOIN ip ON ip.ilon BETWEEN b.lon_min AND b.lon_max
                             AND ip.ilat BETWEEN b.lat_min AND b.lat_max
        GROUP BY b.block_id)
SELECT b.block_id, b.n_pixels, COALESCE(c.n_images, 0) AS n_images
FROM blocks b LEFT JOIN cnt c USING (block_id) ORDER BY b.block_id""",

    // spatially-buffered split: tile hash ((t % 1000003)·2654435761 mod 2^32
    // mod 10 — products < 2^63, exact in both engines), 3×3 dilation of the
    // DISTINCT test-tile set (x wraps at 2^15, y clamped), left join
    "q_geo_spatial_split" ->
      s"""WITH $imgCte,
pts AS (SELECT CAST(SUBSTRING(image_id, 4) AS BIGINT) AS pid,
  15 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 32768.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 32768.0::DOUBLE) AS BIGINT)
  AS tile_id FROM imgs),
tt AS (SELECT DISTINCT tile_id FROM pts
       WHERE ((tile_id % 1000003) * 2654435761) % 4294967296 % 10 = 0),
dil AS (SELECT DISTINCT 15 * 4503599627370496
        + ((((tile_id % 4503599627370496) // 67108864) + dx + 32768) % 32768) * 67108864
        + ((tile_id % 67108864) + dy) AS tile_id
   FROM tt, (VALUES (-1),(0),(1)) dxs(dx), (VALUES (-1),(0),(1)) dys(dy)
   WHERE (tile_id % 67108864) + dy >= 0 AND (tile_id % 67108864) + dy < 32768)
SELECT p.pid, p.tile_id,
  CASE WHEN ((p.tile_id % 1000003) * 2654435761) % 4294967296 % 10 = 0 THEN 'test'
       WHEN d.tile_id IS NOT NULL THEN 'buffer' ELSE 'train' END AS split
FROM pts p LEFT JOIN dil d ON p.tile_id = d.tile_id
ORDER BY p.pid""",

    // aspect bucketing + pixel-budget packing: ladder argmin as a
    // first-true CASE chain (ties → first entry, the same order array_min
    // breaks struct ties), then the pixels-before DIV budget chop
    "q_image_aspect_batches" ->
      """WITH dims AS (
  SELECT o_orderkey AS pid, 'img' || o_orderkey AS image_id,
    8 + ((o_orderkey * 48271 + 11) % 2147483647) % 8 AS w,
    8 + ((o_orderkey * 69621 + 7) % 2147483647) % 8 AS h
  FROM orders),
sc AS (SELECT pid, image_id, CAST(w * h AS BIGINT) AS px,
  abs(w * 1 - h * 1) AS s0, abs(w * 3 - h * 4) AS s1, abs(w * 4 - h * 3) AS s2,
  abs(w * 9 - h * 16) AS s3, abs(w * 16 - h * 9) AS s4 FROM dims),
bk AS (SELECT pid, image_id, px,
  CASE WHEN s0 <= s1 AND s0 <= s2 AND s0 <= s3 AND s0 <= s4 THEN 1
       WHEN s1 <= s2 AND s1 <= s3 AND s1 <= s4 THEN 4
       WHEN s2 <= s3 AND s2 <= s4 THEN 3
       WHEN s3 <= s4 THEN 16 ELSE 9 END AS bucket_w,
  CASE WHEN s0 <= s1 AND s0 <= s2 AND s0 <= s3 AND s0 <= s4 THEN 1
       WHEN s1 <= s2 AND s1 <= s3 AND s1 <= s4 THEN 3
       WHEN s2 <= s3 AND s2 <= s4 THEN 4
       WHEN s3 <= s4 THEN 9 ELSE 16 END AS bucket_h
  FROM sc),
woff AS (SELECT image_id, bucket_w, bucket_h, px,
  CAST(COALESCE(SUM(px) OVER (PARTITION BY bucket_w, bucket_h ORDER BY pid
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_px
  FROM bk)
SELECT image_id, bucket_w, bucket_h, px, offset_px, offset_px // 2048 AS batch_id
FROM woff ORDER BY image_id""",

    // Feistel shuffle unrolled: 3 rounds, m = 2^16; every intermediate is
    // < 2^63 so the integer dag is exact in both engines
    "q_doc_shuffle" ->
      """WITH f0 AS (SELECT doc_id, doc_id // 65536 AS l0, doc_id % 65536 AS r0 FROM documents),
f1 AS (SELECT doc_id, r0 AS l1, (l0 + ((r0 + 40503) * 2654435761) % 65536) % 65536 AS r1 FROM f0),
f2 AS (SELECT doc_id, r1 AS l2, (l1 + ((r1 + 81006) * 2654435761) % 65536) % 65536 AS r2 FROM f1),
f3 AS (SELECT doc_id, r2 AS l3, (l2 + ((r2 + 121509) * 2654435761) % 65536) % 65536 AS r3 FROM f2)
SELECT doc_id, l3 * 65536 + r3 AS perm FROM f3 ORDER BY doc_id""",

    // incremental dedup brute force: batch×corpus plus batch×earlier-batch,
    // best match by (hamming, id); planted '_c'/'_b' twins exercise both legs
    "q_image_incr_dedup" ->
      """WITH base AS (
  SELECT o_orderkey AS k, 'img' || o_orderkey AS image_id,
    ((o_orderkey * 48271 + 11) % 2147483647) * 2147483648
      + ((o_orderkey * 69621 + 7) % 2147483647) AS phash
  FROM orders),
corpus AS (SELECT image_id, phash FROM base WHERE k % 4 <> 0),
batch0 AS (SELECT image_id, phash FROM base WHERE k % 4 = 0),
batch AS (
  SELECT image_id, phash FROM batch0
  UNION ALL SELECT image_id || '_c', xor(phash, 5) FROM corpus WHERE phash % 64 = 0
  UNION ALL SELECT image_id || '_b', xor(phash, 3) FROM batch0 WHERE phash % 64 = 0),
cand AS (
  SELECT b.image_id, c.image_id AS match_id,
    CAST(bit_count(xor(b.phash, c.phash)) AS INTEGER) AS hamming
  FROM batch b JOIN corpus c ON bit_count(xor(b.phash, c.phash)) <= 3
  UNION ALL
  SELECT b.image_id, b2.image_id,
    CAST(bit_count(xor(b.phash, b2.phash)) AS INTEGER)
  FROM batch b JOIN batch b2
    ON b2.image_id < b.image_id AND bit_count(xor(b.phash, b2.phash)) <= 3),
m AS (SELECT image_id, match_id, hamming,
        ROW_NUMBER() OVER (PARTITION BY image_id ORDER BY hamming, match_id) AS rk
      FROM cand)
SELECT b.image_id, m.image_id IS NULL AS keep, m.match_id AS dup_of, m.hamming AS hamming
FROM batch b LEFT JOIN m ON m.image_id = b.image_id AND m.rk = 1
ORDER BY b.image_id""",

    // ---- mirror: global Moran's I over z14 tile counts ----------------------
    // five exact BIGINT sufficient statistics (tiles, ordered 8-neighbor
    // pairs, pairwise/count moments) + the identical double dag, micro-unit
    // rounded — one output row
    "q_geo_moran" ->
      s"""WITH $imgCte,
tiles AS (SELECT
  14 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT)
  AS tile_id, CAST(COUNT(*) AS BIGINT) AS n FROM imgs GROUP BY 1),
off AS (SELECT a.du, b.dv FROM (VALUES (-1),(0),(1)) a(du), (VALUES (-1),(0),(1)) b(dv)
        WHERE NOT (a.du = 0 AND b.dv = 0)),
pa AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS w_pairs,
         CAST(SUM(t.n * nb.n) AS BIGINT) AS p_sum,
         CAST(SUM(t.n) AS BIGINT) AS si_sum
  FROM tiles t, off o, tiles nb
  WHERE nb.tile_id = t.tile_id + o.du * 67108864 + o.dv),
ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tiles, CAST(SUM(n) AS BIGINT) AS s1_sum,
              CAST(SUM(n * n) AS BIGINT) AS s2_sum FROM tiles)
SELECT n_tiles, w_pairs, p_sum, si_sum, s1_sum, s2_sum,
  CASE WHEN n_tiles > 1 AND w_pairs > 0 AND
      CAST(s2_sum AS DOUBLE) - CAST(n_tiles AS DOUBLE)
        * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE))
        * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE)) > 0.0::DOUBLE
    THEN CAST(ROUND(
      (CAST(n_tiles AS DOUBLE) / CAST(w_pairs AS DOUBLE))
      * (CAST(p_sum AS DOUBLE)
         - 2.0::DOUBLE * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE)) * CAST(si_sum AS DOUBLE)
         + CAST(w_pairs AS DOUBLE)
           * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE))
           * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE)))
      / (CAST(s2_sum AS DOUBLE) - CAST(n_tiles AS DOUBLE)
         * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE))
         * (CAST(s1_sum AS DOUBLE)/CAST(n_tiles AS DOUBLE)))
      * 1000000.0::DOUBLE) AS BIGINT)
    ELSE CAST(NULL AS BIGINT) END AS moran_micro
FROM ta CROSS JOIN pa""",

    // ---- mirror: reclassify + region-group -----------------------------------
    // same-class 4-adjacency closed by a recursive CTE; region = min
    // reachable tile id (the CC convention), isolated tiles label themselves
    "q_geo_region_group" ->
      s"""WITH RECURSIVE $imgCte,
tiles AS (SELECT
  14 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT)
  AS tile_id, CAST(COUNT(*) AS BIGINT) AS n FROM imgs GROUP BY 1),
ct AS (SELECT tile_id, n,
  CASE WHEN n < 50 THEN 0 WHEN n < 200 THEN 1 ELSE 2 END AS cls FROM tiles),
off AS (SELECT * FROM (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) t(du, dv)),
ed AS (
  SELECT t.tile_id AS a, nb.tile_id AS b
  FROM ct t, off o, ct nb
  WHERE nb.tile_id = t.tile_id + o.du * 67108864 + o.dv AND nb.cls = t.cls),
reach(a, b) AS (SELECT a, b FROM ed
                UNION SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
comp AS (SELECT a AS tile_id, LEAST(MIN(b), a) AS region FROM reach GROUP BY a)
SELECT t.tile_id, t.n, CAST(t.cls AS INTEGER) AS cls,
  COALESCE(c.region, t.tile_id) AS region_id
FROM ct t LEFT JOIN comp c USING (tile_id) ORDER BY t.tile_id""",

    // ---- mirror: Ripley's K neighbor counts -------------------------------------
    // quadratic brute force (focals × corpus) with a safe |du|,|dv| ≤ maxR
    // bbox prefilter (implied by every d² ≤ r² ≤ maxR²); self excluded by id
    "q_geo_ripley_k" ->
      s"""WITH $imgCte,
f AS (SELECT image_id, u, v FROM imgs
      WHERE CAST(substring(image_id, 4) AS BIGINT) % 50 = 0),
prs AS (
  SELECT (i.u - f.u) * (i.u - f.u) + (i.v - f.v) * (i.v - f.v) AS d2
  FROM f, imgs i
  WHERE i.image_id <> f.image_id
    AND ABS(i.u - f.u) <= 2000 AND ABS(i.v - f.v) <= 2000),
nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM f),
rr2 AS (SELECT * FROM (VALUES (500), (1000), (2000)) t(r)),
rc AS (SELECT r, CAST(COUNT(*) FILTER (WHERE d2 <= CAST(r AS BIGINT) * r) AS BIGINT) AS cnt
       FROM rr2 LEFT JOIN prs ON TRUE GROUP BY r)
SELECT CAST(rc.r AS BIGINT) AS r_micro, nf.c AS n_focals, rc.cnt AS n_neighbors,
  CAST((rc.cnt * 1000) // nf.c AS BIGINT) AS mean_milli
FROM rc CROSS JOIN nf ORDER BY r_micro""",

    // ---- mirror: Epanechnikov kernel density -----------------------------------
    // brute force under the safe bbox prefilter (oracle cost), the same
    // strict d² < R² support and the same Σ(R² − d²) BIGINT weight
    "q_geo_kde" ->
      s"""WITH $imgCte,
f AS (SELECT CAST(substring(image_id, 4) AS BIGINT) AS pid, image_id, u, v
      FROM imgs WHERE CAST(substring(image_id, 4) AS BIGINT) % 50 = 0),
prs AS (
  SELECT f.pid,
    (i.u - f.u) * (i.u - f.u) + (i.v - f.v) * (i.v - f.v) AS d2
  FROM f, imgs i
  WHERE i.image_id <> f.image_id
    AND ABS(i.u - f.u) <= 2000 AND ABS(i.v - f.v) <= 2000),
ag AS (
  SELECT pid,
    CAST(COUNT(*) FILTER (WHERE d2 < 4000000) AS BIGINT) AS n_in_disk,
    CAST(SUM(4000000 - d2) FILTER (WHERE d2 < 4000000) AS BIGINT) AS density
  FROM prs GROUP BY pid)
SELECT f.pid, COALESCE(a.n_in_disk, 0::BIGINT) AS n_in_disk,
  COALESCE(a.density, 0::BIGINT) AS density
FROM f LEFT JOIN ag a ON a.pid = f.pid ORDER BY f.pid""",

    // ---- mirror: bounded nearest-neighbor distance -----------------------------
    // brute force focals × corpus under the same safe bbox prefilter as
    // ripley (oracle cost); disk semantics restored by the d2 <= R² filter,
    // truncated focals keep their row via the LEFT JOIN with min_d2 = −1
    "q_geo_nn" ->
      s"""WITH $imgCte,
f AS (SELECT CAST(substring(image_id, 4) AS BIGINT) AS pid, image_id, u, v
      FROM imgs WHERE CAST(substring(image_id, 4) AS BIGINT) % 50 = 0),
prs AS (
  SELECT f.pid,
    (i.u - f.u) * (i.u - f.u) + (i.v - f.v) * (i.v - f.v) AS d2
  FROM f, imgs i
  WHERE i.image_id <> f.image_id
    AND ABS(i.u - f.u) <= 2000 AND ABS(i.v - f.v) <= 2000),
ag AS (
  SELECT pid,
    CAST(COUNT(*) FILTER (WHERE d2 <= 4000000) AS BIGINT) AS n_in_disk,
    MIN(d2) FILTER (WHERE d2 <= 4000000) AS mind2
  FROM prs GROUP BY pid)
SELECT f.pid, COALESCE(a.n_in_disk, 0::BIGINT) AS n_in_disk,
  CAST(COALESCE(a.mind2, -1) AS BIGINT) AS min_d2,
  CAST(CASE WHEN a.mind2 IS NOT NULL
       THEN FLOOR(SQRT(CAST(a.mind2 AS DOUBLE)))
       ELSE -1 END AS BIGINT) AS min_d_micro
FROM f LEFT JOIN ag a ON a.pid = f.pid ORDER BY f.pid""",

    // ---- mirror: empirical semivariogram ---------------------------------------
    // quadratic brute force (focals × corpus) under the same safe bbox
    // prefilter as ripley; field value = trend (u+v)//10 + nugget h1%257,
    // h1 re-derived from the image id; exact integer γ per lag annulus
    "q_geo_variogram" ->
      s"""WITH $imgCte,
val AS (
  SELECT image_id, u, v,
    (u + v) // 10 +
    ((CAST(substring(image_id, 4) AS BIGINT) * 48271 + 11) % 2147483647) % 257 AS z
  FROM imgs),
f AS (SELECT image_id, u, v, z FROM val
      WHERE CAST(substring(image_id, 4) AS BIGINT) % 50 = 0),
prs AS (
  SELECT (i.u - f.u) * (i.u - f.u) + (i.v - f.v) * (i.v - f.v) AS d2,
         (i.z - f.z) * (i.z - f.z) AS dz2
  FROM f, val i
  WHERE i.image_id <> f.image_id
    AND ABS(i.u - f.u) <= 2000 AND ABS(i.v - f.v) <= 2000),
lg AS (SELECT * FROM (VALUES (0, 500), (500, 1000), (1000, 2000)) t(lo, hi)),
rc AS (SELECT lo, hi,
    CAST(COUNT(*) FILTER (WHERE d2 > CAST(lo AS BIGINT) * lo
                            AND d2 <= CAST(hi AS BIGINT) * hi) AS BIGINT) AS n,
    CAST(COALESCE(SUM(dz2) FILTER (WHERE d2 > CAST(lo AS BIGINT) * lo
                                     AND d2 <= CAST(hi AS BIGINT) * hi), 0) AS BIGINT) AS s
  FROM lg LEFT JOIN prs ON TRUE GROUP BY lo, hi)
SELECT CAST(hi AS BIGINT) AS lag_micro, CAST(lo AS BIGINT) AS lag_lo_micro,
  n AS n_pairs, s AS sse,
  CAST(CASE WHEN n = 0 THEN 0 ELSE (s * 1000) // (2 * n) END AS BIGINT) AS gamma_milli
FROM rc ORDER BY lag_micro""",

    // ---- mirror: directional semivariogram -------------------------------------
    // same brute force with |du|/|dv| sector classification; the combo
    // table keeps empty (lag, dir) cells at zero like Spark's left join
    "q_geo_variogram_aniso" ->
      s"""WITH $imgCte,
val AS (
  SELECT image_id, u, v,
    (u + v) // 10 +
    ((CAST(substring(image_id, 4) AS BIGINT) * 48271 + 11) % 2147483647) % 257 AS z
  FROM imgs),
f AS (SELECT image_id, u, v, z FROM val
      WHERE CAST(substring(image_id, 4) AS BIGINT) % 50 = 0),
prs AS (
  SELECT ABS(i.u - f.u) AS du, ABS(i.v - f.v) AS dv,
         (i.u - f.u) * (i.u - f.u) + (i.v - f.v) * (i.v - f.v) AS d2,
         (i.z - f.z) * (i.z - f.z) AS dz2
  FROM f, val i
  WHERE i.image_id <> f.image_id
    AND ABS(i.u - f.u) <= 2000 AND ABS(i.v - f.v) <= 2000),
cls AS (
  SELECT CASE WHEN d2 > 0 AND d2 <= 1000000 THEN 1000
              WHEN d2 > 1000000 AND d2 <= 4000000 THEN 2000 END AS lag_micro,
    CASE WHEN du >= 2 * dv THEN 'ns'
         WHEN dv >= 2 * du THEN 'ew' ELSE 'diag' END AS dir,
    dz2
  FROM prs),
combos AS (SELECT * FROM (VALUES (1000), (2000)) l(lag_micro),
                         (VALUES ('diag'), ('ew'), ('ns')) d(dir)),
rc AS (
  SELECT lag_micro, dir, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(dz2) AS BIGINT) AS s
  FROM cls WHERE lag_micro IS NOT NULL GROUP BY lag_micro, dir)
SELECT CAST(c.lag_micro AS BIGINT) AS lag_micro, c.dir,
  COALESCE(r.n, 0::BIGINT) AS n_pairs, COALESCE(r.s, 0::BIGINT) AS sse,
  CAST(CASE WHEN COALESCE(r.n, 0) = 0 THEN 0
       ELSE (r.s * 1000) // (2 * r.n) END AS BIGINT) AS gamma_milli
FROM combos c LEFT JOIN rc r ON r.lag_micro = c.lag_micro AND r.dir = c.dir
ORDER BY 1, 2""",

    // ---- mirror: region summary statistics -------------------------------------
    // the region-group closure + a same-class 4-neighbor count; boundary =
    // fewer than 4 same-class neighbors; all integers
    "q_geo_region_stats" ->
      s"""WITH RECURSIVE $imgCte,
tiles AS (SELECT
  14 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT)
  AS tile_id, CAST(COUNT(*) AS BIGINT) AS n FROM imgs GROUP BY 1),
ct AS (SELECT tile_id, n,
  CASE WHEN n < 50 THEN 0 WHEN n < 200 THEN 1 ELSE 2 END AS cls FROM tiles),
off AS (SELECT * FROM (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) t(du, dv)),
ed AS (
  SELECT t.tile_id AS a, nb.tile_id AS b
  FROM ct t, off o, ct nb
  WHERE nb.tile_id = t.tile_id + o.du * 67108864 + o.dv AND nb.cls = t.cls),
reach(a, b) AS (SELECT a, b FROM ed
                UNION SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
comp AS (SELECT a AS tile_id, LEAST(MIN(b), a) AS region FROM reach GROUP BY a),
lbl AS (SELECT t.tile_id, t.n, t.cls, COALESCE(c.region, t.tile_id) AS region_id
        FROM ct t LEFT JOIN comp c USING (tile_id)),
sn AS (SELECT a AS tile_id, CAST(COUNT(*) AS BIGINT) AS n_same FROM ed GROUP BY a)
SELECT l.region_id, CAST(MIN(l.cls) AS INTEGER) AS cls,
  CAST(COUNT(*) AS BIGINT) AS n_tiles, CAST(SUM(l.n) AS BIGINT) AS sum_n,
  CAST(SUM(CASE WHEN COALESCE(s.n_same, 0) < 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary
FROM lbl l LEFT JOIN sn s USING (tile_id)
GROUP BY l.region_id ORDER BY l.region_id""",

    // ---- mirror: focal (3×3) statistics --------------------------------------
    // tile-coverage entropy: the focal tiles CTE + the entropy identity
    // and the same two-step floored ratios
    "q_geo_tile_entropy" ->
      s"""WITH $imgCte,
tiles AS (SELECT
  14 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT)
  AS tile_id, CAST(COUNT(*) AS BIGINT) AS n FROM imgs GROUP BY 1),
ag AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_points,
    CAST(COUNT(*) AS BIGINT) AS n_tiles,
    CAST(SUM(n * CAST(ROUND(LN(CAST(n AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS acc,
    CAST(MAX(n) AS BIGINT) AS max_tile_n
  FROM tiles),
f1 AS (
  SELECT n_points, n_tiles,
    n_points * CAST(ROUND(LN(CAST(n_points AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT) - acc AS ent_num,
    max_tile_n, 1000000 * max_tile_n // n_points AS max_share_ppm
  FROM ag),
f2 AS (SELECT *, ent_num // n_points AS per_point_nano FROM f1)
SELECT n_points, n_tiles, CAST(ent_num AS BIGINT) AS ent_num, max_tile_n,
  CAST(max_share_ppm AS BIGINT) AS max_share_ppm,
  CAST(per_point_nano AS BIGINT) AS per_point_nano,
  CAST(CASE WHEN n_tiles > 1 THEN 1000000 * per_point_nano //
    CAST(ROUND(LN(CAST(n_tiles AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)
  ELSE 0 END AS BIGINT) AS evenness_ppm
FROM f2""",

    "q_geo_focal" ->
      s"""WITH $imgCte,
tiles AS (SELECT
  14 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT)
  AS tile_id, CAST(COUNT(*) AS BIGINT) AS n FROM imgs GROUP BY 1),
off AS (SELECT a.du, b.dv FROM (VALUES (-1),(0),(1)) a(du), (VALUES (-1),(0),(1)) b(dv)),
hood AS (
  SELECT t.tile_id, CAST(COUNT(*) AS BIGINT) AS focal_n,
         CAST(SUM(nb.n) AS BIGINT) AS focal_sum,
         CAST(MIN(nb.n) AS BIGINT) AS focal_min,
         CAST(MAX(nb.n) AS BIGINT) AS focal_max
  FROM tiles t, off o, tiles nb
  WHERE nb.tile_id = t.tile_id + o.du * 67108864 + o.dv
  GROUP BY t.tile_id)
SELECT t.tile_id, t.n, h.focal_n, h.focal_sum, h.focal_min, h.focal_max
FROM tiles t JOIN hood h USING (tile_id) ORDER BY tile_id""",

    // ---- mirror: local Moran's I (LISA) --------------------------------------
    // q_geo_moran's tiles + q_geo_hotspots' offset join, self excluded; the
    // two sign factors and the denominator are exact BIGINTs, the magnitude
    // is the verbatim Spark double dag
    "q_geo_lisa" ->
      s"""WITH $imgCte,
tiles AS (SELECT
  14 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT)
  AS tile_id, CAST(COUNT(*) AS BIGINT) AS n FROM imgs GROUP BY 1),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt, CAST(SUM(n) AS BIGINT) AS sg,
             CAST(SUM(n * n) AS BIGINT) AS s2g FROM tiles),
off AS (SELECT a.du, b.dv FROM (VALUES (-1),(0),(1)) a(du), (VALUES (-1),(0),(1)) b(dv)
        WHERE NOT (a.du = 0 AND b.dv = 0)),
hood AS (
  SELECT t.tile_id, CAST(COUNT(*) AS BIGINT) AS w_i, CAST(SUM(nb.n) AS BIGINT) AS s_i
  FROM tiles t, off o, tiles nb
  WHERE nb.tile_id = t.tile_id + o.du * 67108864 + o.dv
  GROUP BY t.tile_id),
base AS (
  SELECT t.tile_id, t.n,
    CAST(COALESCE(h.w_i, 0) AS BIGINT) AS w_i,
    CAST(COALESCE(h.s_i, 0) AS BIGINT) AS s_i,
    t.n * nt - sg AS f1,
    CAST(COALESCE(h.s_i, 0) AS BIGINT) * nt - CAST(COALESCE(h.w_i, 0) AS BIGINT) * sg AS f2,
    nt, sg, s2g
  FROM tiles t LEFT JOIN hood h USING (tile_id) CROSS JOIN g)
SELECT tile_id, n, w_i, s_i, f1, f2,
  CASE WHEN w_i = 0 OR f1 = 0 OR f2 = 0 THEN 'NA'
       WHEN f1 > 0 AND f2 > 0 THEN 'HH'
       WHEN f1 < 0 AND f2 < 0 THEN 'LL'
       WHEN f1 > 0 THEN 'HL' ELSE 'LH' END AS quadrant,
  CASE WHEN nt > 1 AND nt * s2g - sg * sg > 0
    THEN CAST(ROUND(CAST(f1 AS DOUBLE) * CAST(f2 AS DOUBLE)
      / (CAST(nt AS DOUBLE) * CAST(s2g AS DOUBLE)
         - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
      * 1000000.0::DOUBLE) AS BIGINT)
    ELSE CAST(NULL AS BIGINT) END AS i_micro
FROM base ORDER BY tile_id""",

    // ---- mirror: per-tile canonical representative --------------------------
    "q_tile_rep" ->
      s"""WITH $imgCte,
imp AS (
  SELECT image_id, lat, lon,
    ((CAST(substring(image_id, 4) AS BIGINT) * 48271 + 11) % 2147483647) * 2147483648
    + ((CAST(substring(image_id, 4) AS BIGINT) * 69621 + 7) % 2147483647) AS phash
  FROM imgs),
t AS (SELECT image_id, phash,
  15 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 32768.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 32768.0::DOUBLE) AS BIGINT)
  AS tile_id FROM imp),
r AS (SELECT tile_id, image_id, phash,
      ROW_NUMBER() OVER (PARTITION BY tile_id ORDER BY phash, image_id) AS rk FROM t)
SELECT tile_id, image_id, phash FROM r WHERE rk = 1 ORDER BY tile_id""",

    // ---- mirror: geofence transitions over trajectories ----------------------
    // the q_traj_length LCG walk machinery rebuilds every point in exact
    // integer microdegrees; zone = the integer city CASE; LAG + change filter
    "q_traj_geofence" -> {
      val m = 2147483647L; val a = 48271L
      val inv = BigInt(a - 1).modInverse(BigInt(m)).toLong
      val powers = (1 to 78)
        .map(j => s"($j,${BigInt(a).modPow(BigInt(j), BigInt(m))})").mkString(",")
      s"""WITH $gridCte,
pw(j, apow) AS (VALUES $powers),
keys AS (SELECT o_orderkey AS k, o_orderkey % 2147483648 AS s0 FROM orders),
deltas AS (
  SELECT k, (j + 1) // 2 AS t, j % 2 = 1 AS is_lat,
    ((apow * s0 + 11 * ((CAST(apow AS HUGEINT) - 1) * $inv % $m)) % $m) % 2001 - 1000 AS d
  FROM keys, pw),
stepd AS (
  SELECT k, t, SUM(CASE WHEN is_lat THEN d ELSE 0 END) AS dl,
         SUM(CASE WHEN NOT is_lat THEN d ELSE 0 END) AS dn
  FROM deltas GROUP BY k, t),
cums AS (
  SELECT k, t AS step,
    SUM(dl) OVER (PARTITION BY k ORDER BY t) AS dlat,
    SUM(dn) OVER (PARTITION BY k ORDER BY t) AS dlon
  FROM stepd),
upts AS (
  SELECT k AS track_id, 0 AS step, (k % 1000) * 100 AS u, (k % 997) * 100 AS v FROM keys
  UNION ALL
  SELECT k, step, (k % 1000) * 100 + dlat, (k % 997) * 100 + dlon FROM cums),
zs AS (SELECT track_id, step, $cityCase AS zone
       FROM upts, (SELECT (g - 1) * 1000 AS s FROM p) sp),
tr AS (SELECT track_id, step, zone,
       LAG(zone) OVER (PARTITION BY track_id ORDER BY step) AS prev FROM zs)
SELECT track_id, CAST(step AS INTEGER) AS step, prev AS from_zone, zone AS to_zone
FROM tr WHERE prev IS NOT NULL AND prev <> zone
ORDER BY track_id, step"""
    },

    // ---- mirror: zonal line statistics ---------------------------------------
    // every way segment rebuilt from the synth closed form (grid h/v ways via
    // the proven rr/cc CTEs, diagonal motorway, both links, the circle way),
    // clipped against the half-µ° city rectangles by the verbatim
    // Liang–Barsky dag, summed as per-segment integer nanodegrees
    "q_zone_way_length" ->
      s"""WITH $gridCte,
sp AS (SELECT (g - 1) * 1000 AS s FROM p),
segs AS (
  SELECT rr.lat AS lat1, c1.lon AS lon1, rr.lat AS lat2, c2.lon AS lon2
  FROM rr, cc c1, cc c2 WHERE c2.c = c1.c + 1
  UNION ALL
  SELECT r1.lat, cc.lon, r2.lat, cc.lon
  FROM cc, rr r1, rr r2 WHERE r2.r = r1.r + 1
  UNION ALL
  SELECT (37.0::DOUBLE + CAST(i AS DOUBLE) * 0.001::DOUBLE) + 0.00025::DOUBLE,
         (-122.0::DOUBLE + CAST(i AS DOUBLE) * 0.001::DOUBLE) - 0.00025::DOUBLE,
         (37.0::DOUBLE + CAST(i + 1 AS DOUBLE) * 0.001::DOUBLE) + 0.00025::DOUBLE,
         (-122.0::DOUBLE + CAST(i + 1 AS DOUBLE) * 0.001::DOUBLE) - 0.00025::DOUBLE
  FROM ser, p WHERE i < p.g - 1
  UNION ALL SELECT 37.00125::DOUBLE, -121.99925::DOUBLE, 37.0015::DOUBLE, -121.998::DOUBLE
  UNION ALL SELECT 37.0015::DOUBLE, -121.998::DOUBLE, 37.002::DOUBLE, -121.9975::DOUBLE
  UNION ALL SELECT 37.0::DOUBLE + 0.001::DOUBLE,
                   -122.0::DOUBLE + 1.0::DOUBLE * 0.001::DOUBLE,
                   37.0::DOUBLE + 0.001::DOUBLE,
                   -122.0::DOUBLE + 2.0::DOUBLE * 0.001::DOUBLE),
zr AS (
  SELECT 'alpha' AS zone, s*10//100 AS ulo, s*35//100 AS uhi,
         s*10//100 AS vlo, s*40//100 AS vhi FROM sp
  UNION ALL SELECT 'beta', s*40//100, s*70//100, s*50//100, s*90//100 FROM sp
  UNION ALL SELECT 'gamma', s*70//100, s*95//100, s*5//100, s*20//100 FROM sp
  UNION ALL SELECT 'gamma', s*70//100, s*80//100, s*20//100, s*45//100 FROM sp),
rects AS (SELECT zone,
  37.0::DOUBLE + (CAST(ulo AS DOUBLE) + 0.5::DOUBLE) * 0.000001::DOUBLE AS lat_lo,
  37.0::DOUBLE + (CAST(uhi AS DOUBLE) + 0.5::DOUBLE) * 0.000001::DOUBLE AS lat_hi,
  -122.0::DOUBLE + (CAST(vlo AS DOUBLE) + 0.5::DOUBLE) * 0.000001::DOUBLE AS lon_lo,
  -122.0::DOUBLE + (CAST(vhi AS DOUBLE) + 0.5::DOUBLE) * 0.000001::DOUBLE AS lon_hi
  FROM zr),
clip AS (
  SELECT zone, lat2 - lat1 AS du, lon2 - lon1 AS dv,
         lat1, lon1, lat_lo, lat_hi, lon_lo, lon_hi
  FROM segs JOIN rects
    ON LEAST(lat1, lat2) <= lat_hi AND GREATEST(lat1, lat2) >= lat_lo
   AND LEAST(lon1, lon2) <= lon_hi AND GREATEST(lon1, lon2) >= lon_lo),
tt AS (
  SELECT zone, du, dv,
    GREATEST(0.0::DOUBLE,
      CASE WHEN du > 0.0::DOUBLE THEN (lat_lo - lat1) / du
           WHEN du < 0.0::DOUBLE THEN (lat_hi - lat1) / du
           WHEN lat1 >= lat_lo AND lat1 <= lat_hi THEN 0.0::DOUBLE ELSE 2.0::DOUBLE END,
      CASE WHEN dv > 0.0::DOUBLE THEN (lon_lo - lon1) / dv
           WHEN dv < 0.0::DOUBLE THEN (lon_hi - lon1) / dv
           WHEN lon1 >= lon_lo AND lon1 <= lon_hi THEN 0.0::DOUBLE ELSE 2.0::DOUBLE END) AS t0,
    LEAST(1.0::DOUBLE,
      CASE WHEN du > 0.0::DOUBLE THEN (lat_hi - lat1) / du
           WHEN du < 0.0::DOUBLE THEN (lat_lo - lat1) / du
           ELSE 1.0::DOUBLE END,
      CASE WHEN dv > 0.0::DOUBLE THEN (lon_hi - lon1) / dv
           WHEN dv < 0.0::DOUBLE THEN (lon_lo - lon1) / dv
           ELSE 1.0::DOUBLE END) AS t1
  FROM clip)
SELECT zone, CAST(COUNT(*) AS BIGINT) AS n_segs,
  CAST(SUM(CAST(ROUND((t1 - t0) * SQRT(du * du + dv * dv) * 1000000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS len_nano
FROM tt WHERE t1 > t0 GROUP BY zone ORDER BY zone""",

    // ---- mirror: trajectory Hausdorff similarity -------------------------------
    // sampled tracks rebuilt point-by-point from the LCG closed form (the
    // geofence machinery), LEAD pairing over sampled keys, brute-force
    // max-min of exact squared-µ° distances in both directions
    "q_traj_hausdorff" -> {
      val m = 2147483647L; val a = 48271L
      val inv = BigInt(a - 1).modInverse(BigInt(m)).toLong
      val powers = (1 to 78)
        .map(j => s"($j,${BigInt(a).modPow(BigInt(j), BigInt(m))})").mkString(",")
      s"""WITH pw(j, apow) AS (VALUES $powers),
keys AS (SELECT o_orderkey AS k, o_orderkey % 2147483648 AS s0
         FROM orders WHERE o_orderkey % 50 = 0),
deltas AS (
  SELECT k, (j + 1) // 2 AS t, j % 2 = 1 AS is_lat,
    ((apow * s0 + 11 * ((CAST(apow AS HUGEINT) - 1) * $inv % $m)) % $m) % 2001 - 1000 AS d
  FROM keys, pw),
stepd AS (
  SELECT k, t, SUM(CASE WHEN is_lat THEN d ELSE 0 END) AS dl,
         SUM(CASE WHEN NOT is_lat THEN d ELSE 0 END) AS dn
  FROM deltas GROUP BY k, t),
cums AS (
  SELECT k, t AS step,
    SUM(dl) OVER (PARTITION BY k ORDER BY t) AS dlat,
    SUM(dn) OVER (PARTITION BY k ORDER BY t) AS dlon
  FROM stepd),
upts AS (
  SELECT k, 0 AS step, (k % 1000) * 100 AS u, (k % 997) * 100 AS v FROM keys
  UNION ALL
  SELECT k, step, (k % 1000) * 100 + dlat, (k % 997) * 100 + dlon FROM cums),
prs AS (SELECT track_id, other_id FROM (
  SELECT k AS track_id, LEAD(k) OVER (ORDER BY k) AS other_id FROM keys)
  WHERE other_id IS NOT NULL),
ab AS (
  SELECT p.track_id, p.other_id, a.step AS a_step,
    MIN((a.u - b.u) * (a.u - b.u) + (a.v - b.v) * (a.v - b.v)) AS mind2
  FROM prs p JOIN upts a ON a.k = p.track_id JOIN upts b ON b.k = p.other_id
  GROUP BY 1, 2, 3),
hab AS (SELECT track_id, other_id, CAST(MAX(mind2) AS BIGINT) AS h_ab_sq
        FROM ab GROUP BY 1, 2),
ba AS (
  SELECT p.track_id, p.other_id, b.step AS b_step,
    MIN((a.u - b.u) * (a.u - b.u) + (a.v - b.v) * (a.v - b.v)) AS mind2
  FROM prs p JOIN upts a ON a.k = p.track_id JOIN upts b ON b.k = p.other_id
  GROUP BY 1, 2, 3),
hba AS (SELECT track_id, other_id, CAST(MAX(mind2) AS BIGINT) AS h_ba_sq
        FROM ba GROUP BY 1, 2)
SELECT h1.track_id, h1.other_id, h1.h_ab_sq, h2.h_ba_sq,
  GREATEST(h1.h_ab_sq, h2.h_ba_sq) AS hausdorff_sq
FROM hab h1 JOIN hba h2 USING (track_id, other_id)
ORDER BY track_id"""
    },

    // ---- mirror: origin–destination flow matrix ------------------------------
    // only the track ENDPOINT is needed, so the geofence machinery loses its
    // window: the destination offset is the plain SUM of all 39 per-axis LCG
    // deltas; zones via the same integer cityCase, shares in exact ppm
    "q_traj_od_matrix" -> {
      val m = 2147483647L; val a = 48271L
      val inv = BigInt(a - 1).modInverse(BigInt(m)).toLong
      val powers = (1 to 78)
        .map(j => s"($j,${BigInt(a).modPow(BigInt(j), BigInt(m))})").mkString(",")
      s"""WITH $gridCte,
pw(j, apow) AS (VALUES $powers),
keys AS (SELECT o_orderkey AS k, o_orderkey % 2147483648 AS s0 FROM orders),
deltas AS (
  SELECT k, j % 2 = 1 AS is_lat,
    ((apow * s0 + 11 * ((CAST(apow AS HUGEINT) - 1) * $inv % $m)) % $m) % 2001 - 1000 AS d
  FROM keys, pw),
ends AS (
  SELECT k, SUM(CASE WHEN is_lat THEN d ELSE 0 END) AS dlat,
         SUM(CASE WHEN NOT is_lat THEN d ELSE 0 END) AS dlon
  FROM deltas GROUP BY k),
upts AS (
  SELECT k AS track_id, 0 AS pos, (k % 1000) * 100 AS u, (k % 997) * 100 AS v FROM keys
  UNION ALL
  SELECT k, 1, (k % 1000) * 100 + dlat, (k % 997) * 100 + dlon FROM ends),
zs AS (SELECT track_id, pos, $cityCase AS zone
       FROM upts, (SELECT (g - 1) * 1000 AS s FROM p) sp),
od AS (SELECT o.zone AS from_zone, d.zone AS to_zone
       FROM zs o JOIN zs d USING (track_id) WHERE o.pos = 0 AND d.pos = 1),
fl AS (SELECT from_zone, to_zone, CAST(COUNT(*) AS BIGINT) AS flows
       FROM od GROUP BY 1, 2)
SELECT from_zone, to_zone, flows,
  CAST((flows * 1000000) // SUM(flows) OVER (PARTITION BY from_zone) AS BIGINT) AS share_ppm
FROM fl ORDER BY from_zone, to_zone"""
    },

    // streaming geofence twin: the SAME lag-window truth as q_traj_geofence
    // over the 1/11 replay slice — the streaming state machine must converge
    // to exactly the batch transition rows
    "q_stream_geofence" -> {
      val m = 2147483647L; val a = 48271L
      val inv = BigInt(a - 1).modInverse(BigInt(m)).toLong
      val powers = (1 to 78)
        .map(j => s"($j,${BigInt(a).modPow(BigInt(j), BigInt(m))})").mkString(",")
      s"""WITH $gridCte,
pw(j, apow) AS (VALUES $powers),
keys AS (SELECT o_orderkey AS k, o_orderkey % 2147483648 AS s0
         FROM orders WHERE o_orderkey % 11 = 0),
deltas AS (
  SELECT k, (j + 1) // 2 AS t, j % 2 = 1 AS is_lat,
    ((apow * s0 + 11 * ((CAST(apow AS HUGEINT) - 1) * $inv % $m)) % $m) % 2001 - 1000 AS d
  FROM keys, pw),
stepd AS (
  SELECT k, t, SUM(CASE WHEN is_lat THEN d ELSE 0 END) AS dl,
         SUM(CASE WHEN NOT is_lat THEN d ELSE 0 END) AS dn
  FROM deltas GROUP BY k, t),
cums AS (
  SELECT k, t AS step,
    SUM(dl) OVER (PARTITION BY k ORDER BY t) AS dlat,
    SUM(dn) OVER (PARTITION BY k ORDER BY t) AS dlon
  FROM stepd),
upts AS (
  SELECT k AS track_id, 0 AS step, (k % 1000) * 100 AS u, (k % 997) * 100 AS v FROM keys
  UNION ALL
  SELECT k, step, (k % 1000) * 100 + dlat, (k % 997) * 100 + dlon FROM cums),
zs AS (SELECT track_id, step, $cityCase AS zone
       FROM upts, (SELECT (g - 1) * 1000 AS s FROM p) sp),
tr AS (SELECT track_id, step, zone,
       LAG(zone) OVER (PARTITION BY track_id ORDER BY step) AS prev FROM zs)
SELECT track_id, CAST(step AS INTEGER) AS step, prev AS from_zone, zone AS to_zone
FROM tr WHERE prev IS NOT NULL AND prev <> zone
ORDER BY track_id, step"""
    },

    // ---- mirror: deterministic geo K-means ----------------------------------
    // the Lloyd recurrence unrolled: closed-form grid init c0, per-round
    // (distance, j) row_number argmin assignment, integer-division centroid
    // update with empty-cluster carryover; round 3's assignment + the
    // centroids that produced it are the output
    "q_geo_kmeans" -> {
      val rounds = (1 to 3).map { t =>
        val c = s"c${t - 1}"
        val a = s"""a$t AS (
  SELECT pid, u, v, j, cu, cv FROM (
    SELECT p2.pid, p2.u, p2.v, c.j, c.cu, c.cv,
      ROW_NUMBER() OVER (PARTITION BY p2.pid
        ORDER BY (p2.u - c.cu)*(p2.u - c.cu) + (p2.v - c.cv)*(p2.v - c.cv), c.j) AS rk
    FROM pts p2, $c c) t WHERE rk = 1)"""
        val cNext =
          if (t < 3) s""",
c$t AS (
  SELECT $c.j, COALESCE(s2.cu, $c.cu) AS cu, COALESCE(s2.cv, $c.cv) AS cv
  FROM $c LEFT JOIN (
    SELECT j, CAST(SUM(u) // COUNT(*) AS BIGINT) AS cu,
           CAST(SUM(v) // COUNT(*) AS BIGINT) AS cv FROM a$t GROUP BY j) s2 USING (j))"""
          else ""
        a + cNext
      }.mkString(",\n")
      s"""WITH $imgCte,
pts AS (SELECT CAST(substring(image_id, 4) AS BIGINT) AS pid, u, v FROM imgs),
c0 AS (
  SELECT j, (2 * (j % 4) + 1) * sp.s // 8 AS cu, (2 * (j // 4) + 1) * sp.s // 4 AS cv
  FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) jj(j),
       (SELECT (g - 1) * 1000 AS s FROM p) sp),
$rounds
SELECT pid, CAST(j AS BIGINT) AS cluster, CAST(cu AS BIGINT) AS cu, CAST(cv AS BIGINT) AS cv
FROM a3 ORDER BY pid"""
    },

    // ---- mirror: zonal statistics over decoded imagery ----------------------
    // every lossless image's pixels rebuilt from the splitmix closed form
    // (same HUGEINT machinery as q_image_decode_sample, unsampled), summed
    // per image, city-assigned by the integer-microdegree CASE, aggregated
    // per zone — Spark must DECODE the real BMP/PNG bytes to the same
    // exact channel sums
    "q_geo_zonal_stats" ->
      s"""WITH $gridCte,
img AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 48271 + 11) % 2147483647 AS h1,
         (o_orderkey * 69621 + 7) % 2147483647 AS h2
  FROM orders WHERE o_orderkey % 5 <> 3),
dims AS (
  SELECT k, h1, h2, 8 + h1 % 8 AS w, 8 + h2 % 8 AS h,
         (h1 * 2147483648 + h2)::HUGEINT AS ph
  FROM img),
geo AS (
  SELECT k,
    CASE WHEN u0 % 500 = 0 THEN u0 + 13 ELSE u0 END AS u,
    CASE WHEN v0 % 500 = 0 THEN v0 + 13 ELSE v0 END AS v
  FROM (SELECT k, h1 % ((p.g - 1) * 1000) AS u0, h2 % ((p.g - 1) * 1000) AS v0
        FROM dims, p)),
xs AS (SELECT i AS x FROM generate_series(0, 15) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, 15) t(i)),
px AS (
  SELECT k,
    (ph + x * 11400714819323198485::HUGEINT
        + y * 13787848793156543929::HUGEINT)
      % 18446744073709551616::HUGEINT AS z0
  FROM dims, xs, ys WHERE x < w AND y < h),
m1 AS (
  SELECT k,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1
  FROM (SELECT k, xor(z0, z0 >> 30) AS x1 FROM px)),
m2 AS (
  SELECT k,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2
  FROM (SELECT k, xor(z1, z1 >> 27) AS x2 FROM m1)),
fin AS (SELECT k, xor(z2, z2 >> 31) AS z FROM m2),
sums AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS npx,
    CAST(SUM(z % 256) AS BIGINT) AS pr,
    CAST(SUM((z // 256) % 256) AS BIGINT) AS pg,
    CAST(SUM((z // 65536) % 256) AS BIGINT) AS pb
  FROM fin GROUP BY k),
zoned AS (
  SELECT sm.k, sm.npx, sm.pr, sm.pg, sm.pb, $cityCase AS zone
  FROM sums sm JOIN geo USING (k), (SELECT (g - 1) * 1000 AS s FROM p) sp)
SELECT zone, COUNT(*) AS n_images,
  CAST(SUM(npx) AS BIGINT) AS n_px,
  CAST(SUM(pr) AS BIGINT) AS sum_r,
  CAST(SUM(pg) AS BIGINT) AS sum_g,
  CAST(SUM(pb) AS BIGINT) AS sum_b,
  (CAST(SUM(pr) AS BIGINT) * 1000000) // CAST(SUM(npx) AS BIGINT) AS mean_r_micro,
  (CAST(SUM(pg) AS BIGINT) * 1000000) // CAST(SUM(npx) AS BIGINT) AS mean_g_micro,
  (CAST(SUM(pb) AS BIGINT) * 1000000) // CAST(SUM(npx) AS BIGINT) AS mean_b_micro
FROM zoned GROUP BY zone ORDER BY zone""",

    // ---- mirror: Getis-Ord Gi* hotspots over z14 tile counts ----------------
    // exact BIGINT moments + 9-offset neighbor equi-join on the packed tile
    // id; the z-score double dag is written VERBATIM as in GeoStatsOps (same
    // IEEE op order ⇒ same bits), rounded to integer micro-units
    "q_geo_hotspots" ->
      s"""WITH $imgCte,
tiles AS (SELECT
  14 * 4503599627370496 +
  CAST(FLOOR((lon + 180.0::DOUBLE) / 360.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT) * 67108864 +
  CAST(FLOOR((1.0::DOUBLE - LN(TAN(RADIANS(lat)) + 1.0::DOUBLE / COS(RADIANS(lat))) / PI()) / 2.0::DOUBLE * 16384.0::DOUBLE) AS BIGINT)
  AS tile_id, CAST(COUNT(*) AS BIGINT) AS n FROM imgs GROUP BY 1),
gstats AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt, CAST(SUM(n) AS BIGINT) AS sn,
                CAST(SUM(n * n) AS BIGINT) AS sn2 FROM tiles),
off AS (SELECT a.du, b.dv FROM (VALUES (-1),(0),(1)) a(du), (VALUES (-1),(0),(1)) b(dv)),
hood AS (
  SELECT t.tile_id, CAST(COUNT(*) AS BIGINT) AS w_i, CAST(SUM(nb.n) AS BIGINT) AS s_i
  FROM tiles t, off o, tiles nb
  WHERE nb.tile_id = t.tile_id + o.du * 67108864 + o.dv
  GROUP BY t.tile_id)
SELECT t.tile_id, t.n, h.w_i, h.s_i,
  CASE WHEN nt > 1 AND
      SQRT(GREATEST(0.0::DOUBLE, CAST(sn2 AS DOUBLE)/CAST(nt AS DOUBLE)
        - (CAST(sn AS DOUBLE)/CAST(nt AS DOUBLE))*(CAST(sn AS DOUBLE)/CAST(nt AS DOUBLE))))
      * SQRT((CAST(nt AS DOUBLE)*CAST(w_i AS DOUBLE) - CAST(w_i AS DOUBLE)*CAST(w_i AS DOUBLE))
             /(CAST(nt AS DOUBLE) - 1.0::DOUBLE)) > 0.0::DOUBLE
    THEN CAST(ROUND(
      (CAST(s_i AS DOUBLE) - (CAST(sn AS DOUBLE)/CAST(nt AS DOUBLE))*CAST(w_i AS DOUBLE))
      / (SQRT(GREATEST(0.0::DOUBLE, CAST(sn2 AS DOUBLE)/CAST(nt AS DOUBLE)
          - (CAST(sn AS DOUBLE)/CAST(nt AS DOUBLE))*(CAST(sn AS DOUBLE)/CAST(nt AS DOUBLE))))
         * SQRT((CAST(nt AS DOUBLE)*CAST(w_i AS DOUBLE) - CAST(w_i AS DOUBLE)*CAST(w_i AS DOUBLE))
                /(CAST(nt AS DOUBLE) - 1.0::DOUBLE)))
      * 1000000.0::DOUBLE) AS BIGINT)
    ELSE CAST(NULL AS BIGINT) END AS z_micro
FROM tiles t JOIN hood h USING (tile_id) CROSS JOIN gstats
ORDER BY tile_id""",

    // ---- mirror: bounded-hop shortest paths over the way graph --------------
    // pagerank's closed-form way-adjacency edges + (src+dst)%97+1 weights;
    // the 4-round Bellman-Ford recurrence unrolled d0..d4
    "q_graph_khop_dist" -> {
      val relaxCtes = (1 to 4).map { i =>
        s"""d$i AS (
  SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM (
    SELECT id, dist FROM d${i - 1}
    UNION ALL
    SELECT e.dst AS id, d.dist + e.w AS dist
    FROM d${i - 1} d JOIN pgew e ON d.id = e.src)
  GROUP BY id)"""
      }.mkString(",\n")
      s"""WITH $gridCte,
nw AS (
  SELECT r.i AS way_id, r.i * 1000000 + c.i AS node_id
  FROM ser r, ser c, p WHERE r.i < p.g AND c.i < p.g
  UNION ALL
  SELECT 1000000 + c.i, r.i * 1000000 + c.i
  FROM ser r, ser c, p WHERE r.i < p.g AND c.i < p.g
  UNION ALL
  SELECT 2000000, 900000000000 + k.i FROM ser k, p WHERE k.i < p.g
  UNION ALL SELECT 5000000, 900000000001
  UNION ALL SELECT 5000000, 910000000001
  UNION ALL SELECT 5000001, 910000000001
  UNION ALL SELECT 5000001, 910000000002
  UNION ALL SELECT 6000000, 1000001
  UNION ALL SELECT 6000000, 1000002),
pge AS (
  SELECT DISTINCT a.way_id AS src, b.way_id AS dst
  FROM nw a JOIN nw b USING (node_id) WHERE a.way_id <> b.way_id),
pgew AS (SELECT src, dst, (src + dst) % 97 + 1 AS w FROM pge),
d0 AS (SELECT CAST(id AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
       FROM (VALUES (2000000), (6000000)) s(id)),
$relaxCtes
SELECT id AS way_id, dist FROM d4 ORDER BY way_id"""
    },

    // shortest-path TREE: the khop recurrence with an argmin predecessor —
    // per node each round keeps the lexicographic (dist, pred) minimum
    // (ROW_NUMBER over dist, pred), sources carry pred = −1
    "q_graph_sp_tree" -> {
      val relaxCtes = (1 to 4).map { i =>
        s"""p$i AS (
  SELECT id, dist, pred FROM (
    SELECT id, dist, pred,
      ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, pred) AS rn
    FROM (
      SELECT id, dist, pred FROM p${i - 1}
      UNION ALL
      SELECT e.dst AS id, d.dist + e.w AS dist, d.id AS pred
      FROM p${i - 1} d JOIN pgew e ON d.id = e.src))
  WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH $gridCte,
nw AS (
  SELECT r.i AS way_id, r.i * 1000000 + c.i AS node_id
  FROM ser r, ser c, p WHERE r.i < p.g AND c.i < p.g
  UNION ALL
  SELECT 1000000 + c.i, r.i * 1000000 + c.i
  FROM ser r, ser c, p WHERE r.i < p.g AND c.i < p.g
  UNION ALL
  SELECT 2000000, 900000000000 + k.i FROM ser k, p WHERE k.i < p.g
  UNION ALL SELECT 5000000, 900000000001
  UNION ALL SELECT 5000000, 910000000001
  UNION ALL SELECT 5000001, 910000000001
  UNION ALL SELECT 5000001, 910000000002
  UNION ALL SELECT 6000000, 1000001
  UNION ALL SELECT 6000000, 1000002),
pge AS (
  SELECT DISTINCT a.way_id AS src, b.way_id AS dst
  FROM nw a JOIN nw b USING (node_id) WHERE a.way_id <> b.way_id),
pgew AS (SELECT src, dst, (src + dst) % 97 + 1 AS w FROM pge),
p0 AS (SELECT CAST(id AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist,
              CAST(-1 AS BIGINT) AS pred
       FROM (VALUES (2000000), (6000000)) s(id)),
$relaxCtes
SELECT id AS way_id, dist, pred FROM p4 ORDER BY way_id"""
    },

    // ---- documents ---------------------------------------------------------
    "q_doc_tokens" ->
      """SELECT doc_id,
  len(string_split(text, ' ')) AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS re_tokens,
  length(text) AS n_chars_computed
FROM documents ORDER BY doc_id""",

    "q_doc_quality" ->
      """SELECT doc_id, n_tokens, mean_word_len, stopword_ratio, alpha_ratio,
  CASE WHEN n_tokens >= 10.0::DOUBLE AND stopword_ratio > 0.01::DOUBLE THEN 1.0::DOUBLE
       ELSE stopword_ratio * 50.0::DOUBLE END AS quality
FROM (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
    (CAST(length(text) AS DOUBLE) - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0::DOUBLE))
      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_word_len,
    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and'))) AS DOUBLE)
      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
    CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE)
      / CAST(length(text) AS DOUBLE) AS alpha_ratio
  FROM documents)
ORDER BY doc_id""",

    // normalization: same ASCII-class regexes in both engines ('g' flag —
    // DuckDB regexp_replace is first-match-only without it)
    "q_doc_normalize" ->
      """SELECT doc_id,
  TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text,
  len(string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS n_tokens
FROM documents ORDER BY doc_id""",

    // curation: same normalize regexes as q_doc_normalize; md5 digests agree
    // between engines; the sampling hash is mod-first so the BIGINT product
    // never overflows in either engine.
    "q_doc_curation" ->
      """WITH n2 AS (
  SELECT doc_id, lang, source,
    md5(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS dg,
    len(string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS n_tokens
  FROM documents),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY dg ORDER BY doc_id) AS rn FROM n2)
SELECT doc_id, lang, source, n_tokens,
  ((doc_id % 1000003) * 2654435761) % 1048576 AS bucket
FROM r
WHERE rn = 1 AND n_tokens >= 10
  AND ((doc_id % 1000003) * 2654435761) % 1048576 < 524288
ORDER BY doc_id""",

    // repetition signals: exact integer counts + fractions rounded at 1e-6
    "q_doc_repetition" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
pt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
ta AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
              CAST(MAX(c) AS BIGINT) AS top_tok_n, COUNT(*) AS n_distinct_toks
       FROM pt GROUP BY doc_id),
sh AS (SELECT doc_id,
    CASE WHEN len(ss) < 3 THEN [array_to_string(ss, ' ')]
         ELSE list_transform(range(0, len(ss) - 2),
              i -> array_to_string(list_slice(ss, i + 1, i + 3), ' ')) END AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS ss FROM documents)),
t3 AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n3_total,
              CAST(len(list_distinct(s)) AS BIGINT) AS n3_distinct FROM sh)
SELECT a.doc_id, n_tokens, top_tok_n, n_distinct_toks, n3_total, n3_distinct,
  ROUND(CAST(top_tok_n AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS top_tok_frac,
  ROUND(1.0::DOUBLE - CAST(n3_distinct AS DOUBLE) / CAST(n3_total AS DOUBLE), 6) AS rep3_frac
FROM ta a JOIN t3 USING (doc_id) ORDER BY a.doc_id""",

    // deterministic split: curate's Knuth-hash bucket formula verbatim
    "q_doc_split" ->
      """SELECT doc_id, lang, source,
  ((doc_id % 1000003) * 2654435761) % 100 AS bucket,
  CASE WHEN ((doc_id % 1000003) * 2654435761) % 100 < 10 THEN 'test'
       WHEN ((doc_id % 1000003) * 2654435761) % 100 < 20 THEN 'val'
       ELSE 'train' END AS split
FROM documents ORDER BY doc_id""",

    // decontamination: corpus docs sharing any 3-gram with the benchmark
    // slice (doc_id % 97 = 0); n_hits counts (corpus shingle, bench doc)
    // pairs, n_shingles/n_bench_docs the distinct sides
    "q_doc_decontaminate" ->
      """WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(string_split(text,' ')) < 3
      THEN [array_to_string(string_split(text,' '), ' ')]
      ELSE list_transform(range(0, len(string_split(text,' ')) - 2),
           i -> array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' ')) END) AS s
  FROM documents),
bench AS (SELECT DISTINCT shingle, bench_id FROM
  (SELECT doc_id AS bench_id, unnest(s) AS shingle FROM sh WHERE doc_id % 97 = 0)),
dsh AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id % 97 <> 0),
hits AS (
  SELECT d.doc_id, COUNT(*) AS n_hits, COUNT(DISTINCT d.shingle) AS n_shingles,
         COUNT(DISTINCT b.bench_id) AS n_bench_docs
  FROM dsh d JOIN bench b USING (shingle) GROUP BY d.doc_id)
SELECT c.doc_id,
  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
  CAST(COALESCE(h.n_shingles, 0) AS BIGINT) AS n_shingles,
  CAST(COALESCE(h.n_bench_docs, 0) AS BIGINT) AS n_bench_docs,
  COALESCE(h.n_shingles, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) c
LEFT JOIN hits h USING (doc_id) ORDER BY c.doc_id""",

    // BM25 (Okapi, k1=1.2, b=0.75): expression trees mirror the Spark side
    // op-for-op (same association order), each term contribution rounded to
    // nano-units before the BIGINT sum so both engines add identical
    // integers in any order. LN is the one transcendental in the formula:
    // JVM Math.log and DuckDB's libm log agree on these inputs (verified at
    // both SFs); a 1-ulp divergence would need the true value within 1e-16
    // of a 0.5e-9 rounding boundary to flip a term — if it ever does, the
    // idf can be pre-rounded per TOKEN to micro-units on both sides.
    "q_doc_bm25" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
              CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
qs(q_id, q_text) AS (VALUES (1, 'hash join'), (2, 'spark window agg'),
                            (3, 'slow query scan'), (4, 'vector batch merge')),
qt AS (SELECT DISTINCT q_id, tok FROM
        (SELECT q_id, unnest(string_split(q_text, ' ')) AS tok FROM qs)),
contrib AS (
  SELECT q.q_id, t.doc_id,
    CAST(ROUND(
      LN(1.0::DOUBLE + (st.n - CAST(d.df AS DOUBLE) + 0.5::DOUBLE)
                       / (CAST(d.df AS DOUBLE) + 0.5::DOUBLE))
      * (CAST(t.tf AS DOUBLE)
         / (CAST(t.tf AS DOUBLE)
            + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * CAST(l.dl AS DOUBLE) / st.avgdl)))
      * 1000000000.0::DOUBLE) AS BIGINT) AS term9
  FROM qt q JOIN tf t USING (tok) JOIN dl l USING (doc_id)
       JOIN dfreq d USING (tok), st),
scored AS (SELECT q_id, doc_id, CAST(SUM(term9) AS BIGINT) AS score9
           FROM contrib GROUP BY q_id, doc_id),
ranked AS (SELECT q_id, doc_id, score9,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score9 DESC, doc_id) AS rk
           FROM scored)
SELECT q_id, rk, doc_id, score9 FROM ranked WHERE rk <= 10
ORDER BY q_id, rk""",

    // hybrid text+vector retrieval: the proven bm25 and cosine legs rerun
    // verbatim (queries = held-out docs, self-hits excluded, top-20 each),
    // fused by integer reciprocal rank Σ floor(1e9/(60+rk))
    "q_doc_hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
              CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
qs AS (SELECT doc_id AS q_id, text AS q_text FROM documents WHERE doc_id % 100 = 0),
qt AS (SELECT DISTINCT q_id, tok FROM
        (SELECT q_id, unnest(string_split(q_text, ' ')) AS tok FROM qs)),
contrib AS (
  SELECT q.q_id, t.doc_id,
    CAST(ROUND(
      LN(1.0::DOUBLE + (st.n - CAST(d.df AS DOUBLE) + 0.5::DOUBLE)
                       / (CAST(d.df AS DOUBLE) + 0.5::DOUBLE))
      * (CAST(t.tf AS DOUBLE)
         / (CAST(t.tf AS DOUBLE)
            + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * CAST(l.dl AS DOUBLE) / st.avgdl)))
      * 1000000000.0::DOUBLE) AS BIGINT) AS term9
  FROM qt q JOIN tf t USING (tok) JOIN dl l USING (doc_id)
       JOIN dfreq d USING (tok), st),
scored AS (SELECT q_id, doc_id, CAST(SUM(term9) AS BIGINT) AS score9
           FROM contrib GROUP BY q_id, doc_id),
txtr AS (SELECT q_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score9 DESC, doc_id) AS rk_t
         FROM scored WHERE doc_id <> q_id),
txt AS (SELECT q_id, doc_id, rk_t FROM txtr WHERE rk_t <= 20),
qv AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
       FROM embeddings WHERE vec_id % 100 = 0),
vc AS (
  SELECT q.q_id, e.vec_id AS doc_id,
    CAST(ROUND(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) * 1000000000.0::DOUBLE) AS BIGINT) AS cos9
  FROM qv q, embeddings e WHERE q.q_id <> e.vec_id),
vr AS (SELECT q_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, doc_id) AS rk_v
       FROM vc),
vec AS (SELECT q_id, doc_id, rk_v FROM vr WHERE rk_v <= 20),
fused AS (
  SELECT COALESCE(t.q_id, v.q_id) AS q_id, COALESCE(t.doc_id, v.doc_id) AS doc_id,
    COALESCE(1000000000 // (60 + t.rk_t), 0) + COALESCE(1000000000 // (60 + v.rk_v), 0) AS rrf9,
    t.rk_t AS rk_t, v.rk_v AS rk_v
  FROM txt t FULL OUTER JOIN vec v ON t.q_id = v.q_id AND t.doc_id = v.doc_id),
ranked AS (SELECT q_id, doc_id, rrf9, rk_t, rk_v,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf9 DESC, doc_id) AS rk
           FROM fused)
SELECT q_id, rk, doc_id, rrf9, rk_t, rk_v FROM ranked WHERE rk <= 10
ORDER BY q_id, rk""",

    "q_doc_vocab_topn" ->
      """WITH counts AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
agg AS (SELECT lang, tok, COUNT(*) AS n FROM counts GROUP BY lang, tok),
ranked AS (
  SELECT lang, tok, n,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
  FROM agg)
SELECT lang, rk, tok, n FROM ranked WHERE rk <= 10 ORDER BY lang, rk""",

    // heavy hitters: CLOSED FORM — the exact HAVING query, with no trace of
    // the CMS. The Spark side's sketch+verify construction must land on
    // exactly this rowset (superset candidates, exact re-count); any sketch
    // bug that loses a true heavy hitter or keeps a light token reds here.
    "q_doc_heavy_hitters" ->
      """SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
WHERE tok <> ''
GROUP BY tok HAVING COUNT(*) >= 900
ORDER BY tok""",

    // mixing: same sampling-hash formula as q_doc_curation; copies =
    // floor(w) + (bucket < frac(w)·2^20). Weights chosen with exact binary
    // fractional parts so the threshold is integer-exact in both engines.
    "q_doc_mix" ->
      """WITH w AS (
  SELECT doc_id, source,
    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
                WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25
                ELSE 0.0 END AS wt,
    ((doc_id % 1000003) * 2654435761) % 1048576 AS bucket
  FROM documents),
c AS (
  SELECT doc_id, source,
    CAST(FLOOR(wt) AS BIGINT) +
      CASE WHEN bucket < CAST(ROUND((wt - FLOOR(wt)) * 1048576.0::DOUBLE) AS BIGINT)
           THEN 1 ELSE 0 END AS copies
  FROM w)
SELECT c.doc_id, c.source, s.g AS rep
FROM c JOIN (SELECT unnest(generate_series(0, 9)) AS g) s ON s.g < c.copies
WHERE c.copies > 0
ORDER BY doc_id, rep""",

    "q_doc_langid" ->
      """WITH scores AS (
  SELECT doc_id, lang2, CAST(len(list_filter(string_split(text, ' '), t -> (
      (lang2 = 'de' AND t IN ('der','die','das','und','nicht')) OR
      (lang2 = 'en' AND t IN ('the','a','of','and','is')) OR
      (lang2 = 'es' AND t IN ('el','la','de','que','y')) OR
      (lang2 = 'fr' AND t IN ('le','la','de','et','un')) OR
      (lang2 = 'zh' AND t IN ('的','是','了','在','我'))))) AS INT) AS score
  FROM documents, (SELECT unnest(['de','en','es','fr','zh']) AS lang2)),
ranked AS (
  SELECT doc_id, lang2, score,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang2) AS rk
  FROM scores)
SELECT doc_id, lang2 AS pred_lang, score AS best_score
FROM ranked WHERE rk = 1 ORDER BY doc_id""",

    "q_doc_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS dupes
FROM documents GROUP BY text ORDER BY keep_doc_id""",

    // full-corpus decode-fidelity oracle (promoted from a pin in round 5):
    // the gated surface is exact integer SSE facts the corpus formula
    // determines from first principles — every lossless (bmp/png) decode
    // must be BIT-EXACT vs the splitmix source (n_bitexact_lossless = n,
    // total_sse_lossless = 0), every decode must succeed, every caption
    // must equal its formula, and every row must clear the 40 dB contract
    // via the pure-integer compare 10⁴·sse ≤ 255²·npix (lossless rows at
    // sse = 0 pass trivially; the jpeg row gates the input_hint's
    // documented q=0.95 smooth-gradient ≥40 dB contract). No log10
    // anywhere: a decode regression flips an integer count, never a float.
    "q_image_psnr" ->
      """WITH f AS (
  SELECT CASE WHEN o_orderkey % 5 = 1 THEN 'png'
              WHEN o_orderkey % 5 = 3 THEN 'jpeg'
              ELSE 'bmp' END AS fmt
  FROM orders)
SELECT fmt, COUNT(*) AS n,
  COUNT(*) AS n_decode_ok,
  COUNT(*) AS n_ge_40db,
  CAST(CASE WHEN fmt <> 'jpeg' THEN COUNT(*) ELSE 0 END AS BIGINT) AS n_bitexact_lossless,
  CAST(0 AS BIGINT) AS total_sse_lossless,
  COUNT(*) AS n_caption_ok
FROM f GROUP BY fmt ORDER BY fmt""",

    // independent DECODE oracle: per sampled lossless image, DuckDB
    // rebuilds the splitmix source pixels from o_orderkey (h1/h2 LCGs →
    // phash → per-(x,y) splitmix64 in HUGEINT mod-2^64, ≥2^63 multipliers
    // via 32-bit split) and sums the channels; Spark must decode the real
    // BMP/PNG bytes to the same exact integers.
    // dominant color: the decode_sample splitmix pixel CTEs + 3-bit cube
    // bucketing ((c >> 5) per channel packed r*64+g*8+b) + argmax per image
    // (cnt DESC, bucket ASC)
    "q_image_dominant_color" ->
      """WITH img AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 48271 + 11) % 2147483647 AS h1,
         (o_orderkey * 69621 + 7) % 2147483647 AS h2
  FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 5 <> 3),
dims AS (
  SELECT k, CASE WHEN k % 5 = 1 THEN 'png' ELSE 'bmp' END AS fmt,
         8 + h1 % 8 AS w, 8 + h2 % 8 AS h,
         (h1 * 2147483648 + h2)::HUGEINT AS ph
  FROM img),
xs AS (SELECT i AS x FROM generate_series(0, 15) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, 15) t(i)),
px AS (
  SELECT k, fmt, w, h,
    (ph + x * 11400714819323198485::HUGEINT
        + y * 13787848793156543929::HUGEINT)
      % 18446744073709551616::HUGEINT AS z0
  FROM dims, xs, ys WHERE x < w AND y < h),
m1 AS (
  SELECT k, fmt, w, h,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1
  FROM (SELECT k, fmt, w, h, xor(z0, z0 >> 30) AS x1 FROM px)),
m2 AS (
  SELECT k, fmt, w, h,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2
  FROM (SELECT k, fmt, w, h, xor(z1, z1 >> 27) AS x2 FROM m1)),
fin AS (SELECT k, fmt, w, h, xor(z2, z2 >> 31) AS z FROM m2),
bk AS (
  SELECT k, fmt, w, h,
    (z % 256 // 32) * 64 + ((z // 256) % 256 // 32) * 8
      + ((z // 65536) % 256 // 32) AS bucket
  FROM fin),
bc AS (SELECT k, fmt, w, h, bucket, COUNT(*) AS cnt
       FROM bk GROUP BY k, fmt, w, h, bucket),
rk AS (SELECT k, fmt, w, h, bucket, cnt,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY cnt DESC, bucket) AS rn
       FROM bc)
SELECT 'img' || k AS image_id, fmt, CAST(w * h AS BIGINT) AS n_px,
  CAST(bucket AS BIGINT) AS dom_bucket, CAST(cnt AS BIGINT) AS dom_count
FROM rk WHERE rn = 1 ORDER BY image_id""",

    "q_image_decode_sample" ->
      """WITH img AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 48271 + 11) % 2147483647 AS h1,
         (o_orderkey * 69621 + 7) % 2147483647 AS h2
  FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 5 <> 3),
dims AS (
  SELECT k, CASE WHEN k % 5 = 1 THEN 'png' ELSE 'bmp' END AS fmt,
         8 + h1 % 8 AS w, 8 + h2 % 8 AS h,
         (h1 * 2147483648 + h2)::HUGEINT AS ph
  FROM img),
xs AS (SELECT i AS x FROM generate_series(0, 15) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, 15) t(i)),
px AS (
  SELECT k, fmt, w, h,
    (ph + x * 11400714819323198485::HUGEINT
        + y * 13787848793156543929::HUGEINT)
      % 18446744073709551616::HUGEINT AS z0
  FROM dims, xs, ys WHERE x < w AND y < h),
m1 AS (
  SELECT k, fmt, w, h,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1
  FROM (SELECT k, fmt, w, h, xor(z0, z0 >> 30) AS x1 FROM px)),
m2 AS (
  SELECT k, fmt, w, h,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2
  FROM (SELECT k, fmt, w, h, xor(z1, z1 >> 27) AS x2 FROM m1)),
fin AS (SELECT k, fmt, w, h, xor(z2, z2 >> 31) AS z FROM m2)
SELECT k, fmt, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
  CAST(SUM(z % 256) AS BIGINT) AS sum_r,
  CAST(SUM((z // 256) % 256) AS BIGINT) AS sum_g,
  CAST(SUM((z // 65536) % 256) AS BIGINT) AS sum_b
FROM fin GROUP BY k, fmt, w, h ORDER BY k""",

    // cross-codec exact dedup: DuckDB rebuilds every lossless image's
    // position-weighted pixel digest from o_orderkey (splitmix closed form,
    // channel c at flat position P = (y·w+x)·3+c contributes
    // (P+1)(P+7)(v+17)), plants the k%7 bmp→png re-encodes as second rows
    // with the SAME digest, and groups — Spark must decode the real bytes of
    // BOTH codecs to identical digests for each group to pair up.
    // END-TO-END curation: the q_image_dedup_pixel splitmix/digest CTEs
    // extended with the q_image_quality sums (one GROUP BY produces digest,
    // Σv, Σv²), the integer quality gate, min-per-(digest,w,h) survivor
    // election, the q_image_geo_scrub city CASE + snap, and the
    // q_image_shard_pack window chop over the SCRUBBED coordinates
    "q_image_curation_e2e" ->
      s"""WITH p AS (SELECT GREATEST(16, LEAST(512, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) AS g FROM orders),
img AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 48271 + 11) % 2147483647 AS h1,
         (o_orderkey * 69621 + 7) % 2147483647 AS h2
  FROM orders WHERE o_orderkey % 5 <> 3),
dims AS (
  SELECT k, CASE WHEN k % 5 = 1 THEN 'png' ELSE 'bmp' END AS fmt,
         8 + h1 % 8 AS w, 8 + h2 % 8 AS h,
         (h1 * 2147483648 + h2)::HUGEINT AS ph
  FROM img),
xs AS (SELECT i AS x FROM generate_series(0, 15) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, 15) t(i)),
px AS (
  SELECT k, fmt, w, h, x, y,
    (ph + x * 11400714819323198485::HUGEINT
        + y * 13787848793156543929::HUGEINT)
      % 18446744073709551616::HUGEINT AS z0
  FROM dims, xs, ys WHERE x < w AND y < h),
m1 AS (
  SELECT k, fmt, w, h, x, y,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1
  FROM (SELECT k, fmt, w, h, x, y, xor(z0, z0 >> 30) AS x1 FROM px)),
m2 AS (
  SELECT k, fmt, w, h, x, y,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2
  FROM (SELECT k, fmt, w, h, x, y, xor(z1, z1 >> 27) AS x2 FROM m1)),
fin AS (SELECT k, fmt, w, h, (y * w + x) * 3 AS p0, xor(z2, z2 >> 31) AS z
        FROM m2),
dig AS (
  SELECT k, fmt, w, h,
    CAST(SUM((p0 + 1) * (p0 + 7) * (z % 256 + 17)
           + (p0 + 2) * (p0 + 8) * ((z // 256) % 256 + 17)
           + (p0 + 3) * (p0 + 9) * ((z // 65536) % 256 + 17)) AS BIGINT)
      AS digest,
    SUM(z % 256 + (z // 256) % 256 + (z // 65536) % 256) AS s1,
    SUM((z % 256) * (z % 256) + ((z // 256) % 256) * ((z // 256) % 256)
        + ((z // 65536) % 256) * ((z // 65536) % 256)) AS s2
  FROM fin GROUP BY k, fmt, w, h),
geo AS (
  SELECT k,
    CASE WHEN u0 % 500 = 0 THEN u0 + 13 ELSE u0 END AS u,
    CASE WHEN v0 % 500 = 0 THEN v0 + 13 ELSE v0 END AS v
  FROM (SELECT img.k, h1 % ((p.g - 1) * 1000) AS u0, h2 % ((p.g - 1) * 1000) AS v0
        FROM img, p)),
rws AS (
  SELECT 'img' || k AS image_id, k, w, h, digest, s1, s2 FROM dig
  UNION ALL
  SELECT 'img' || k || '_re', k, w, h, digest, s1, s2 FROM dig
  WHERE k % 7 = 0 AND fmt = 'bmp'),
gated AS (
  SELECT * FROM rws
  WHERE 3 * w * h * s2 - s1 * s1 >= 5400 * (3 * w * h)::HUGEINT * (3 * w * h)),
surv AS (
  SELECT image_id, k, w, h, digest FROM (
    SELECT image_id, k, w, h, digest,
      MIN(image_id) OVER (PARTITION BY digest, w, h) AS keep_id FROM gated)
  WHERE image_id = keep_id),
scr AS (
  SELECT surv.image_id, surv.w, surv.h, surv.digest, geo.u, geo.v,
    $cityCase AS city
  FROM surv JOIN geo USING (k), (SELECT (g - 1) * 1000 AS s FROM p) sp),
sc2 AS (
  SELECT image_id, w, h, digest, city,
    CASE WHEN city <> 'Unincorporated' THEN (u // 10000) * 10000 + 5000
         ELSE u END AS u_out,
    CASE WHEN city <> 'Unincorporated' THEN (v // 10000) * 10000 + 5000
         ELSE v END AS v_out
  FROM scr),
pk AS (
  SELECT *, (u_out // 5000) * 100000 + (v_out // 5000) AS cell,
    CAST(3 * w * h AS BIGINT) AS sz
  FROM sc2),
wo AS (
  SELECT image_id, w, h, digest, city, u_out, v_out, cell,
    CAST(COALESCE(SUM(sz) OVER (PARTITION BY cell ORDER BY image_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_b
  FROM pk)
SELECT image_id, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  digest, city, CAST(u_out AS BIGINT) AS u_out, CAST(v_out AS BIGINT) AS v_out,
  CAST(cell AS BIGINT) AS cell, offset_b // 4096 AS shard, offset_b
FROM wo ORDER BY image_id""",

    // crop dedup: all 4×4 window fingerprints rebuilt from the splitmix
    // closed form with WINDOW-LOCAL position weights (translation
    // invariance is the whole point); the planted crop's pixel (x', y') is
    // the source's (x'+1, y'+1), so its windows are the source's shifted
    // windows; pair counts and the exact (cw−3)(ch−3) containment test
    // replayed verbatim
    "q_image_crop_dups" ->
      (s"""WITH ${pxChainCtes("o_orderkey % 21 = 0 AND o_orderkey % 5 <> 3")},
fin AS (SELECT k, fmt, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2),
imgp AS (
  SELECT 'img' || k AS image_id, w, h, x, y, z FROM fin
  UNION ALL
  SELECT 'img' || k || '_c', w - 2, h - 2, x - 1, y - 1, z
  FROM fin WHERE fmt = 'bmp' AND x BETWEEN 1 AND w - 2 AND y BETWEEN 1 AND h - 2),
dims2 AS (SELECT DISTINCT image_id, w, h FROM imgp),
oxs AS (SELECT i AS o FROM generate_series(0, 15) t(i)),
wins AS (
  SELECT d.image_id, d.w, d.h, ox.o AS ox, oy.o AS oy
  FROM dims2 d, oxs ox, oxs oy
  WHERE ox.o + 4 <= d.w AND oy.o + 4 <= d.h),
fpt AS (
  SELECT wn.image_id, wn.w, wn.h, wn.ox, wn.oy,
    CAST(SUM(
      ((py.o * 4 + px.o) * 3 + 1) * ((py.o * 4 + px.o) * 3 + 7) * (v.z % 256 + 17)
      + ((py.o * 4 + px.o) * 3 + 2) * ((py.o * 4 + px.o) * 3 + 8) * ((v.z // 256) % 256 + 17)
      + ((py.o * 4 + px.o) * 3 + 3) * ((py.o * 4 + px.o) * 3 + 9) * ((v.z // 65536) % 256 + 17))
      AS BIGINT) AS fp
  FROM wins wn
  CROSS JOIN (SELECT i AS o FROM generate_series(0, 3) t(i)) px
  CROSS JOIN (SELECT i AS o FROM generate_series(0, 3) t(i)) py
  JOIN imgp v ON v.image_id = wn.image_id
    AND v.x = wn.ox + px.o AND v.y = wn.oy + py.o
  GROUP BY 1, 2, 3, 4, 5),
fps AS (SELECT DISTINCT image_id, w, h, fp FROM fpt),
prs AS (
  SELECT a.image_id AS id1, b.image_id AS id2, b.w AS w2, b.h AS h2,
    CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.image_id < b.image_id
  GROUP BY 1, 2, 3, 4)
SELECT id1, id2, n_shared, n_shared = (w2 - 3) * (h2 - 3) AS is_crop
FROM prs WHERE n_shared >= 4 ORDER BY id1, id2"""),

    // decode-robustness contract: the oracle ASSERTS the outcome from k
    // arithmetic alone — corrupt classes decode 0, clean classes decode
    // all; any crash, silent garbage "success", or clean-payload rejection
    // on either media path breaks the match
    "q_media_decode_robust" ->
      """WITH icls AS (
  SELECT CASE WHEN o_orderkey % 5 = 1 THEN 'png' ELSE 'bmp' END AS fmt,
    CASE WHEN o_orderkey % 31 = 0 THEN 'trunc'
         WHEN o_orderkey % 37 = 0 THEN 'garble' ELSE 'clean' END AS cls
  FROM orders WHERE o_orderkey % 5 <> 3),
acls AS (
  SELECT 'wav' AS fmt,
    CASE WHEN o_orderkey % 31 = 0 THEN 'trunc'
         WHEN o_orderkey % 37 = 0 THEN 'garble' ELSE 'clean' END AS cls
  FROM orders),
img AS (
  SELECT 'image' AS medium, fmt, cls, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN cls = 'clean' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
  FROM icls GROUP BY 1, 2, 3),
aud AS (
  SELECT 'audio' AS medium, fmt, cls, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN cls = 'clean' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
  FROM acls GROUP BY 1, 2, 3)
SELECT * FROM img UNION ALL SELECT * FROM aud
ORDER BY medium, fmt, cls""",

    // audio features PROMOTED from a pin: the full 15k-clip corpus decode
    // re-derived from first principles — a 1199-row (A^j, T_j) table gives
    // every PCM sample as (A^j·seed + T_j) mod 2^64 >> 48 (signed16); both
    // mod-2^64 products stay under INT128 so no 32-bit splits are needed.
    // rms is EXACT cross-engine: Σv² is an integer < 2^41 (exact in
    // double), sqrt is IEEE correctly rounded, and Math.round(double) is
    // floor(x + 0.5) spelled identically here.
    // silence runs: the PCM chain re-derived per sample, silent samples
    // (|v| < 16384) grouped into maximal runs by the j − ROW_NUMBER
    // gaps-and-islands key; clips with no silent samples keep zero rows
    // via the LEFT JOIN
    "q_audio_silence" ->
      """WITH RECURSIVE
pw(j, aj, tj) AS (
  SELECT 1, 6364136223846793005::HUGEINT, 1442695040888963407::HUGEINT
  UNION ALL
  SELECT j + 1,
    (aj * 6364136223846793005::HUGEINT) % 18446744073709551616::HUGEINT,
    (tj * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
      % 18446744073709551616::HUGEINT
  FROM pw WHERE j < 1199),
clips AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 3 = 0 THEN 16000 ELSE 8000 END AS sr,
    CAST(400 + (o_orderkey * 2654435761) % 800 AS BIGINT) AS n,
    (o_orderkey * 7919 + 17)::HUGEINT AS seed
  FROM orders WHERE o_orderkey % 7 = 0),
smp AS (
  SELECT c.k, c.sr, c.n, p.j,
    ((p.aj * c.seed + p.tj) % 18446744073709551616::HUGEINT)
      // 281474976710656::HUGEINT AS v16
  FROM clips c JOIN pw p ON p.j <= c.n),
sv AS (SELECT k, sr, n, j,
    CASE WHEN v16 >= 32768 THEN v16 - 65536 ELSE v16 END AS v FROM smp),
sil AS (SELECT k, sr, n, j,
    j - ROW_NUMBER() OVER (PARTITION BY k ORDER BY j) AS grp
  FROM sv WHERE ABS(v) < 16384),
rl AS (SELECT k, sr, n, grp, CAST(COUNT(*) AS BIGINT) AS len
  FROM sil GROUP BY k, sr, n, grp),
agg AS (
  SELECT k, CAST(SUM(len) AS BIGINT) AS silent_total,
    CAST(COUNT(*) FILTER (WHERE len >= 4) AS BIGINT) AS n_runs,
    CAST(MAX(len) AS BIGINT) AS longest
  FROM rl GROUP BY k)
SELECT c.k, CAST(c.sr AS INTEGER) AS sample_rate, c.n AS n_samples,
  COALESCE(a.silent_total, 0::BIGINT) AS silent_total,
  COALESCE(a.n_runs, 0::BIGINT) AS n_runs,
  COALESCE(a.longest, 0::BIGINT) AS longest_run
FROM clips c LEFT JOIN agg a ON a.k = c.k ORDER BY c.k""",

    "q_audio_features" ->
      """WITH RECURSIVE
pw(j, aj, tj) AS (
  SELECT 1, 6364136223846793005::HUGEINT, 1442695040888963407::HUGEINT
  UNION ALL
  SELECT j + 1,
    (aj * 6364136223846793005::HUGEINT) % 18446744073709551616::HUGEINT,
    (tj * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
      % 18446744073709551616::HUGEINT
  FROM pw WHERE j < 1199),
clips AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 3 = 0 THEN 16000 ELSE 8000 END AS sr,
    CAST(400 + (o_orderkey * 2654435761) % 800 AS BIGINT) AS n,
    (o_orderkey * 7919 + 17)::HUGEINT AS seed
  FROM orders),
smp AS (
  SELECT c.k, c.sr, c.n,
    ((p.aj * c.seed + p.tj) % 18446744073709551616::HUGEINT)
      // 281474976710656::HUGEINT AS v16
  FROM clips c JOIN pw p ON p.j <= c.n),
sv AS (SELECT k, sr, n,
    CASE WHEN v16 >= 32768 THEN v16 - 65536 ELSE v16 END AS v FROM smp),
per AS (
  SELECT k, sr, n,
    CAST(SUM(v * v) AS BIGINT) AS sumsq,
    CAST(MAX(ABS(v)) AS BIGINT) AS peak
  FROM sv GROUP BY k, sr, n),
feat AS (
  SELECT k, sr, n, n * 1000 // sr AS dur_ms,
    CAST(FLOOR(SQRT(CAST(sumsq AS DOUBLE) / CAST(n AS DOUBLE)) * 1000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS rms_milli,
    peak
  FROM per)
SELECT CAST(sr AS INTEGER) AS sample_rate,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(n) AS BIGINT) AS sum_samples,
  CAST(SUM(dur_ms) AS BIGINT) AS sum_ms,
  CAST(SUM(rms_milli) AS BIGINT) AS sum_rms_milli,
  CAST(SUM(peak) AS BIGINT) AS sum_peak,
  CAST(COUNT(*) AS BIGINT) AS n_ok
FROM feat GROUP BY sr ORDER BY sr""",

    // audio downsample promoted from a pin: the factor-2 slice keeps
    // 0-based even samples = odd j in the power-table indexing; per-clip
    // kept-count and kept-sum re-derived from first principles
    "q_audio_downsample" ->
      """WITH RECURSIVE
pw(j, aj, tj) AS (
  SELECT 1, 6364136223846793005::HUGEINT, 1442695040888963407::HUGEINT
  UNION ALL
  SELECT j + 1,
    (aj * 6364136223846793005::HUGEINT) % 18446744073709551616::HUGEINT,
    (tj * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
      % 18446744073709551616::HUGEINT
  FROM pw WHERE j < 1199),
clips AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 3 = 0 THEN 16000 ELSE 8000 END AS sr,
    CAST(400 + (o_orderkey * 2654435761) % 800 AS BIGINT) AS n,
    (o_orderkey * 7919 + 17)::HUGEINT AS seed
  FROM orders),
smp AS (
  SELECT c.k, c.sr,
    ((p.aj * c.seed + p.tj) % 18446744073709551616::HUGEINT)
      // 281474976710656::HUGEINT AS v16
  FROM clips c JOIN pw p ON p.j <= c.n AND p.j % 2 = 1)
SELECT k, CAST(sr // 2 AS INTEGER) AS sr,
  CAST(COUNT(*) AS INTEGER) AS n_samples,
  CAST(SUM(CASE WHEN v16 >= 32768 THEN v16 - 65536 ELSE v16 END) AS BIGINT)
    AS sample_sum
FROM smp GROUP BY k, sr ORDER BY k""",

    // thumbnails promoted from a pin: thumb pixel (tx,ty) = source splitmix
    // pixel at (tx·w//4, ty·h//4) — the identical integer-div resize map —
    // digested per image with the standard position weights
    "q_image_thumbs" ->
      (s"""WITH ${pxChainCtes("o_orderkey % 5 <> 3")},
fin AS (SELECT k, x, y, xor(z2, z2 >> 31) AS z FROM m2),
txy AS (SELECT a.i AS tx, b.i AS ty
        FROM generate_series(0, 3) a(i), generate_series(0, 3) b(i)),
tpix AS (
  SELECT d.k, d.fmt, t.tx, t.ty, (t.ty * 4 + t.tx) * 3 AS p0, f.z
  FROM dims d JOIN txy t ON TRUE
  JOIN fin f ON f.k = d.k AND f.x = t.tx * d.w // 4 AND f.y = t.ty * d.h // 4)
SELECT k, fmt, CAST(4 AS INTEGER) AS tw, CAST(4 AS INTEGER) AS th,
  ${digSum("p0")} AS digest
FROM tpix GROUP BY k, fmt ORDER BY k"""),

    // sprite-atlas export: atlas digest = empty-canvas constant
    // (17·Σ(P+1)(P+7) over all 64·64·3 positions) + Σ of every member
    // image's splitmix pixels weighted at their BLIT positions
    // P = ((sr·16+y)·64 + sc·16+x)·3 — membership, order, shard chop, and
    // every offset re-derived from o_orderkey alone
    "q_image_atlas" ->
      (s"""WITH p AS (SELECT GREATEST(16, LEAST(512, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) AS g FROM orders),
${pxChainCtes("o_orderkey % 5 <> 3")},
geo AS (
  SELECT k,
    CASE WHEN u0 % 500 = 0 THEN u0 + 13 ELSE u0 END AS u,
    CASE WHEN v0 % 500 = 0 THEN v0 + 13 ELSE v0 END AS v
  FROM (SELECT img.k, h1 % ((p.g - 1) * 1000) AS u0,
               h2 % ((p.g - 1) * 1000) AS v0
        FROM img, p)),
cells AS (
  SELECT k, 'img' || k AS image_id,
    (u // 5000) * 100000 + (v // 5000) AS cell FROM geo),
rn AS (
  SELECT k, cell,
    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY image_id) - 1 AS r
  FROM cells),
slot AS (
  SELECT k, cell, r // 16 AS shard,
    (r % 16) // 4 AS sr, (r % 16) % 4 AS sc FROM rn),
fin AS (SELECT k, x, y, xor(z2, z2 >> 31) AS z FROM m2),
contrib AS (
  SELECT s.cell, s.shard,
    (((s.sr * 16 + f.y) * 64) + (s.sc * 16 + f.x)) * 3 AS p0, f.z
  FROM slot s JOIN fin f USING (k)),
base AS (SELECT CAST(SUM((i + 1) * (i + 7)) * 17 AS BIGINT) AS b
         FROM generate_series(0, 12287) t(i)),
atl AS (
  SELECT cell, shard,
    CAST(SUM((p0 + 1) * (p0 + 7) * (z % 256)
           + (p0 + 2) * (p0 + 8) * ((z // 256) % 256)
           + (p0 + 3) * (p0 + 9) * ((z // 65536) % 256)) AS BIGINT) AS psum
  FROM contrib GROUP BY cell, shard),
cnt AS (SELECT cell, shard, CAST(COUNT(*) AS BIGINT) AS n_imgs
        FROM slot GROUP BY 1, 2)
SELECT c.cell, CAST(c.shard AS BIGINT) AS shard, c.n_imgs,
  a.psum + b.b AS digest
FROM cnt c JOIN atl a USING (cell, shard), base b
ORDER BY cell, shard"""),

    // flip-invariant dedup: all FOUR orbit digests (identity / hflip /
    // vflip / rot180) rebuilt from the splitmix closed form with the flips
    // expressed as position remaps; canonical key = LEAST of the orbit —
    // invariant under the group action, so the planted mirrored '_f' rows
    // re-derive the SAME canon as their sources
    "q_image_dihedral_dedup" ->
      (s"""WITH ${pxChainCtes("o_orderkey % 5 <> 3")},
fin AS (SELECT k, fmt, w, h,
  (y * w + x) * 3 AS pid,
  (y * w + (w - 1 - x)) * 3 AS phf,
  ((h - 1 - y) * w + x) * 3 AS pvf,
  ((h - 1 - y) * w + (w - 1 - x)) * 3 AS pro,
  xor(z2, z2 >> 31) AS z FROM m2),
dig AS (
  SELECT k, fmt, w, h,
    ${digSum("pid")} AS d0,
    ${digSum("phf")} AS d1,
    ${digSum("pvf")} AS d2,
    ${digSum("pro")} AS d3
  FROM fin GROUP BY k, fmt, w, h),
cn AS (SELECT k, fmt, w, h, LEAST(d0, d1, d2, d3) AS canon FROM dig),
rws AS (
  SELECT 'img' || k AS image_id, fmt, w, h, canon FROM cn
  UNION ALL
  SELECT 'img' || k || '_f', 'bmp', w, h, canon FROM cn
  WHERE k % 11 = 0 AND fmt = 'bmp')
SELECT MIN(image_id) AS keep_id, COUNT(*) AS n_copies,
  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  array_to_string(list_sort(list_distinct(list(fmt))), ',') AS fmts,
  canon
FROM rws GROUP BY canon, w, h HAVING COUNT(*) > 1 ORDER BY keep_id"""),

    // cross-modal dup classification: the planted '_re' rows carry the
    // source caption except every second one (k % 14 → ' alt' suffix); the
    // keeper + keeper-caption window is replayed verbatim
    "q_image_crossmodal_dedup" ->
      (s"""WITH ${pxChainCtes("o_orderkey % 5 <> 3")},
fin AS (SELECT k, fmt, w, h, (y * w + x) * 3 AS p0, xor(z2, z2 >> 31) AS z
        FROM m2),
dig AS (
  SELECT k, fmt, w, h, ${digSum("p0")} AS digest
  FROM fin GROUP BY k, fmt, w, h),
rws AS (
  SELECT 'img' || k AS image_id, fmt, w, h, digest,
         'caption ' || k AS caption FROM dig
  UNION ALL
  SELECT 'img' || k || '_re', 'png', w, h, digest,
         CASE WHEN k % 14 = 0 THEN 'caption ' || k || ' alt'
              ELSE 'caption ' || k END
  FROM dig WHERE k % 7 = 0 AND fmt = 'bmp'),
wk AS (
  SELECT image_id, fmt, caption,
    FIRST_VALUE(image_id) OVER (PARTITION BY digest, w, h ORDER BY image_id) AS keep_id,
    FIRST_VALUE(caption) OVER (PARTITION BY digest, w, h ORDER BY image_id) AS keep_caption
  FROM rws)
SELECT keep_id, image_id AS dup_id, fmt,
  caption = keep_caption AS captions_match
FROM wk WHERE image_id <> keep_id ORDER BY dup_id"""),

    "q_image_dedup_pixel" ->
      """WITH img AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 48271 + 11) % 2147483647 AS h1,
         (o_orderkey * 69621 + 7) % 2147483647 AS h2
  FROM orders WHERE o_orderkey % 5 <> 3),
dims AS (
  SELECT k, CASE WHEN k % 5 = 1 THEN 'png' ELSE 'bmp' END AS fmt,
         8 + h1 % 8 AS w, 8 + h2 % 8 AS h,
         (h1 * 2147483648 + h2)::HUGEINT AS ph
  FROM img),
xs AS (SELECT i AS x FROM generate_series(0, 15) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, 15) t(i)),
px AS (
  SELECT k, fmt, w, h, x, y,
    (ph + x * 11400714819323198485::HUGEINT
        + y * 13787848793156543929::HUGEINT)
      % 18446744073709551616::HUGEINT AS z0
  FROM dims, xs, ys WHERE x < w AND y < h),
m1 AS (
  SELECT k, fmt, w, h, x, y,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1
  FROM (SELECT k, fmt, w, h, x, y, xor(z0, z0 >> 30) AS x1 FROM px)),
m2 AS (
  SELECT k, fmt, w, h, x, y,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2
  FROM (SELECT k, fmt, w, h, x, y, xor(z1, z1 >> 27) AS x2 FROM m1)),
fin AS (SELECT k, fmt, w, h, (y * w + x) * 3 AS p0, xor(z2, z2 >> 31) AS z
        FROM m2),
dig AS (
  SELECT k, fmt, w, h,
    CAST(SUM((p0 + 1) * (p0 + 7) * (z % 256 + 17)
           + (p0 + 2) * (p0 + 8) * ((z // 256) % 256 + 17)
           + (p0 + 3) * (p0 + 9) * ((z // 65536) % 256 + 17)) AS BIGINT)
      AS digest
  FROM fin GROUP BY k, fmt, w, h),
rws AS (
  SELECT 'img' || k AS image_id, fmt, w, h, digest FROM dig
  UNION ALL
  SELECT 'img' || k || '_re', 'png', w, h, digest FROM dig
  WHERE k % 7 = 0 AND fmt = 'bmp')
SELECT MIN(image_id) AS keep_id, COUNT(*) AS n_copies,
  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  array_to_string(list_sort(list_distinct(list(fmt))), ',') AS fmts,
  digest
FROM rws GROUP BY digest, w, h HAVING COUNT(*) > 1 ORDER BY keep_id""",

    // image quality gate: Σv and Σv² per sampled lossless image rebuilt
    // from the splitmix closed form; variance numerator and the keep
    // threshold rerun in exact integers
    "q_image_quality" ->
      """WITH img AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 48271 + 11) % 2147483647 AS h1,
         (o_orderkey * 69621 + 7) % 2147483647 AS h2
  FROM orders WHERE o_orderkey % 17 = 0 AND o_orderkey % 5 <> 3),
dims AS (
  SELECT k, CASE WHEN k % 5 = 1 THEN 'png' ELSE 'bmp' END AS fmt,
         8 + h1 % 8 AS w, 8 + h2 % 8 AS h,
         (h1 * 2147483648 + h2)::HUGEINT AS ph
  FROM img),
xs AS (SELECT i AS x FROM generate_series(0, 15) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, 15) t(i)),
px AS (
  SELECT k, fmt, w, h,
    (ph + x * 11400714819323198485::HUGEINT
        + y * 13787848793156543929::HUGEINT)
      % 18446744073709551616::HUGEINT AS z0
  FROM dims, xs, ys WHERE x < w AND y < h),
m1 AS (
  SELECT k, fmt, w, h,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1
  FROM (SELECT k, fmt, w, h, xor(z0, z0 >> 30) AS x1 FROM px)),
m2 AS (
  SELECT k, fmt, w, h,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2
  FROM (SELECT k, fmt, w, h, xor(z1, z1 >> 27) AS x2 FROM m1)),
fin AS (SELECT k, fmt, w, h, xor(z2, z2 >> 31) AS z FROM m2),
sums AS (
  SELECT k, fmt, w, h,
    SUM(z % 256 + (z // 256) % 256 + (z // 65536) % 256) AS s1,
    SUM((z % 256) * (z % 256) + ((z // 256) % 256) * ((z // 256) % 256)
        + ((z // 65536) % 256) * ((z // 65536) % 256)) AS s2
  FROM fin GROUP BY k, fmt, w, h)
SELECT k, fmt, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  CAST(s1 AS BIGINT) AS sum_v,
  CAST(3 * w * h * s2 - s1 * s1 AS BIGINT) AS var_num,
  (3 * w * h * s2 - s1 * s1) >= 5400 * (3 * w * h)::HUGEINT * (3 * w * h) AS keep
FROM sums ORDER BY k""",

    // blur/sharpness: every interior pixel's 3×3 Laplacian on integer gray
    // r+g+b rebuilt from the splitmix closed form (four neighbor self-joins
    // on the (x,y)-threaded pixel chain), reduced to the exact variance
    // numerator and the same integer sharp threshold
    "q_image_sharpness" ->
      s"""WITH ${pxChainCtes("o_orderkey % 13 = 0 AND o_orderkey % 5 <> 3")},
fin AS (SELECT k, fmt, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2),
gray AS (SELECT k, fmt, w, h, x, y,
  z % 256 + (z // 256) % 256 + (z // 65536) % 256 AS g FROM fin),
lap AS (
  SELECT c.k, c.fmt, c.w, c.h, 4*c.g - l.g - r.g - u.g - d.g AS lp
  FROM gray c
  JOIN gray l ON l.k = c.k AND l.y = c.y AND l.x = c.x - 1
  JOIN gray r ON r.k = c.k AND r.y = c.y AND r.x = c.x + 1
  JOIN gray u ON u.k = c.k AND u.x = c.x AND u.y = c.y - 1
  JOIN gray d ON d.k = c.k AND d.x = c.x AND d.y = c.y + 1
  WHERE c.x BETWEEN 1 AND c.w - 2 AND c.y BETWEEN 1 AND c.h - 2),
sums AS (
  SELECT k, fmt, w, h, COUNT(*) AS m, SUM(lp) AS s1, SUM(lp * lp) AS s2
  FROM lap GROUP BY k, fmt, w, h)
SELECT k, fmt, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  CAST(m AS BIGINT) AS m, CAST(s1 AS BIGINT) AS lap_sum,
  CAST(m * s2 - s1 * s1 AS BIGINT) AS lap_var_num,
  (m > 0 AND m * s2 - s1 * s1 >= 320000 * m * m) AS sharp
FROM sums ORDER BY k""",

    // histogram equalization: per-(image, channel) value histograms from
    // the splitmix chain, CDF by window cumulative sum, cdf_min = MIN(cdf)
    // over occupied bins, the same integer-floor LUT, and the equalized
    // position-weighted digest re-derived per pixel
    "q_image_equalize" ->
      s"""WITH ${pxChainCtes("o_orderkey % 19 = 0 AND o_orderkey % 5 <> 3")},
fin AS (SELECT k, fmt, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2),
chan AS (
  SELECT k, fmt, w, h, x, y, cc.c,
    CASE cc.c WHEN 0 THEN z % 256
              WHEN 1 THEN (z // 256) % 256
              ELSE (z // 65536) % 256 END AS v
  FROM fin, (VALUES (0), (1), (2)) cc(c)),
hist AS (
  SELECT k, fmt, w, h, c, v, COUNT(*) AS cnt
  FROM chan GROUP BY k, fmt, w, h, c, v),
cdf AS (
  SELECT k, fmt, w, h, c, v,
    SUM(cnt) OVER (PARTITION BY k, c ORDER BY v) AS cd
  FROM hist),
cmin AS (SELECT k, c, MIN(cd) AS cdmin FROM cdf GROUP BY k, c),
lut AS (
  SELECT cdf.k, cdf.c, cdf.v,
    CASE WHEN cdf.w * cdf.h > cm.cdmin
         THEN ((cdf.cd - cm.cdmin) * 255) // (cdf.w * cdf.h - cm.cdmin)
         ELSE 0 END AS e
  FROM cdf JOIN cmin cm ON cm.k = cdf.k AND cm.c = cdf.c),
eqpx AS (
  SELECT ch.k, ch.fmt, ch.w, ch.h,
    ((ch.y * ch.w + ch.x) * 3 + ch.c)::HUGEINT AS p, l.e
  FROM chan ch JOIN lut l ON l.k = ch.k AND l.c = ch.c AND l.v = ch.v)
SELECT k, fmt, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  CAST(SUM((p + 1) * (p + 7) * (e + 17)) AS BIGINT) AS eq_digest,
  CAST(MIN(e) AS BIGINT) AS min_eq, CAST(MAX(e) AS BIGINT) AS max_eq,
  CAST(SUM(e) AS BIGINT) AS sum_eq
FROM eqpx GROUP BY k, fmt, w, h ORDER BY k""",

    // box downsample: every 2×2 source block re-averaged (integer floor)
    // from the splitmix chain, digest re-derived at downsampled positions
    "q_image_boxdown" ->
      s"""WITH ${pxChainCtes("o_orderkey % 59 = 0 AND o_orderkey % 5 <> 3")},
fin AS (SELECT k, fmt, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2),
chan AS (
  SELECT k, fmt, w, h, x, y, cc.c,
    CASE cc.c WHEN 0 THEN z % 256 WHEN 1 THEN (z // 256) % 256
              ELSE (z // 65536) % 256 END AS v
  FROM fin, (VALUES (0), (1), (2)) cc(c)),
down AS (
  SELECT k, fmt, w, h, w // 2 AS dw, h // 2 AS dh,
    x // 2 AS dx, y // 2 AS dy, c, CAST(SUM(v) // 4 AS BIGINT) AS dv
  FROM chan
  WHERE x < (w // 2) * 2 AND y < (h // 2) * 2
  GROUP BY k, fmt, w, h, x // 2, y // 2, c),
dig AS (
  SELECT k, fmt, w, h, dw, dh,
    CAST((dy * dw + dx) * 3 + c AS BIGINT) AS p, dv
  FROM down WHERE dw > 0 AND dh > 0)
SELECT k, fmt, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  CAST(dw AS INTEGER) AS dw, CAST(dh AS INTEGER) AS dh,
  CAST(SUM((p + 1) * (p + 7) * (dv + 17)) AS BIGINT) AS down_digest,
  CAST(SUM(dv) AS BIGINT) AS sum_down
FROM dig GROUP BY k, fmt, w, h, dw, dh ORDER BY k""",

    // aspect histogram: dims from the closed form, gcd-reduced, ppm shares
    "q_image_aspect_hist" ->
      """WITH img AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 48271 + 11) % 2147483647 AS h1,
         (o_orderkey * 69621 + 7) % 2147483647 AS h2
  FROM orders),
dims AS (SELECT CAST(8 + h1 % 8 AS INTEGER) AS w,
                CAST(8 + h2 % 8 AS INTEGER) AS h FROM img),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM dims),
red AS (SELECT CAST(w // gcd(w, h) AS INTEGER) AS rw,
               CAST(h // gcd(w, h) AS INTEGER) AS rh FROM dims)
SELECT rw, rh, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(1000000 * COUNT(*) // t AS BIGINT) AS share_ppm
FROM red, tot GROUP BY rw, rh, t ORDER BY rw, rh""",

    // RLE: the byte stream in scan order from the splitmix chain, runs via
    // LAG IS DISTINCT FROM
    "q_image_rle" ->
      s"""WITH ${pxChainCtes("o_orderkey % 53 = 0 AND o_orderkey % 5 <> 3")},
fin AS (SELECT k, fmt, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2),
bts AS (
  SELECT k, fmt, w, h, CAST((y * w + x) * 3 + cc.c AS BIGINT) AS p,
    CASE cc.c WHEN 0 THEN z % 256 WHEN 1 THEN (z // 256) % 256
              ELSE (z // 65536) % 256 END AS v
  FROM fin, (VALUES (0), (1), (2)) cc(c)),
runs AS (
  SELECT k, fmt, w, h,
    CASE WHEN LAG(v) OVER (PARTITION BY k ORDER BY p) IS DISTINCT FROM v
         THEN 1 ELSE 0 END AS new_run
  FROM bts)
SELECT k, fmt, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  CAST(COUNT(*) AS BIGINT) AS n_bytes, CAST(SUM(new_run) AS BIGINT) AS n_runs,
  CAST(1000000 * 2 * SUM(new_run) // COUNT(*) AS BIGINT) AS ratio_ppm,
  1000000 * 2 * SUM(new_run) // COUNT(*) < 1985000 AS compressible
FROM runs GROUP BY k, fmt, w, h ORDER BY k""",

    // Otsu threshold: gray histogram from the splitmix chain, class moments
    // by window cumulative sums, the same division-free integer score
    // A² DIV (n0·n1) and (score DESC, t ASC) argmax
    "q_image_otsu" ->
      s"""WITH ${pxChainCtes("o_orderkey % 23 = 0 AND o_orderkey % 5 <> 3")},
fin AS (SELECT k, fmt, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2),
gray AS (SELECT k, fmt, w, h,
  z % 256 + (z // 256) % 256 + (z // 65536) % 256 AS g FROM fin),
hist AS (SELECT k, fmt, w, h, g, COUNT(*) AS cnt
  FROM gray GROUP BY k, fmt, w, h, g),
cum AS (
  SELECT k, fmt, w, h, g,
    SUM(cnt) OVER (PARTITION BY k ORDER BY g) AS n0,
    SUM(g * cnt) OVER (PARTITION BY k ORDER BY g) AS s0,
    SUM(cnt) OVER (PARTITION BY k) AS n,
    SUM(g * cnt) OVER (PARTITION BY k) AS s
  FROM hist),
sc AS (
  SELECT k, fmt, w, h, g AS t, n0, n - n0 AS n1,
    s0 * (n - n0) - (s - s0) * n0 AS a
  FROM cum WHERE n - n0 > 0),
best AS (
  SELECT k, fmt, w, h, t, n0, n1, (a * a) // (n0 * n1) AS score_q,
    ROW_NUMBER() OVER (PARTITION BY k
      ORDER BY (a * a) // (n0 * n1) DESC, t) AS rn
  FROM sc)
SELECT k, fmt, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  CAST(t AS BIGINT) AS t_star, CAST(score_q AS BIGINT) AS score_q,
  CAST(n0 AS BIGINT) AS n_bg, CAST(n1 AS BIGINT) AS n_fg
FROM best WHERE rn = 1 ORDER BY k""",

    // Sobel: every interior pixel's gx/gy rebuilt from the splitmix chain
    // via eight neighbor self-joins, identical integer orientation buckets
    "q_image_sobel" ->
      s"""WITH ${pxChainCtes("o_orderkey % 43 = 0 AND o_orderkey % 5 <> 3")},
fin AS (SELECT k, fmt, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2),
gray AS (SELECT k, fmt, w, h, x, y,
  z % 256 + (z // 256) % 256 + (z // 65536) % 256 AS g FROM fin),
grad AS (
  SELECT c.k, c.fmt, c.w, c.h,
    (tr.g + 2*r.g + br.g) - (tl.g + 2*l.g + bl.g) AS gx,
    (bl.g + 2*b.g + br.g) - (tl.g + 2*t.g + tr.g) AS gy
  FROM gray c
  JOIN gray tl ON tl.k = c.k AND tl.x = c.x - 1 AND tl.y = c.y - 1
  JOIN gray t  ON t.k  = c.k AND t.x  = c.x     AND t.y  = c.y - 1
  JOIN gray tr ON tr.k = c.k AND tr.x = c.x + 1 AND tr.y = c.y - 1
  JOIN gray l  ON l.k  = c.k AND l.x  = c.x - 1 AND l.y  = c.y
  JOIN gray r  ON r.k  = c.k AND r.x  = c.x + 1 AND r.y  = c.y
  JOIN gray bl ON bl.k = c.k AND bl.x = c.x - 1 AND bl.y = c.y + 1
  JOIN gray b  ON b.k  = c.k AND b.x  = c.x     AND b.y  = c.y + 1
  JOIN gray br ON br.k = c.k AND br.x = c.x + 1 AND br.y = c.y + 1
  WHERE c.x BETWEEN 1 AND c.w - 2 AND c.y BETWEEN 1 AND c.h - 2)
SELECT k, fmt, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  CAST(COUNT(*) AS BIGINT) AS m,
  CAST(COUNT(*) FILTER (WHERE gx*gx + gy*gy >= 1500000) AS BIGINT) AS n_edge,
  CAST(SUM(ABS(gx)) AS BIGINT) AS sum_abs_gx,
  CAST(SUM(ABS(gy)) AS BIGINT) AS sum_abs_gy,
  CAST(COUNT(*) FILTER (WHERE gx*gx + gy*gy >= 1500000
    AND ABS(gx) >= 2*ABS(gy)) AS BIGINT) AS h_cnt,
  CAST(COUNT(*) FILTER (WHERE gx*gx + gy*gy >= 1500000
    AND ABS(gx) < 2*ABS(gy) AND ABS(gy) >= 2*ABS(gx)) AS BIGINT) AS v_cnt,
  CAST(COUNT(*) FILTER (WHERE gx*gx + gy*gy >= 1500000
    AND ABS(gx) < 2*ABS(gy) AND ABS(gy) < 2*ABS(gx) AND gx*gy > 0) AS BIGINT) AS d1_cnt,
  CAST(COUNT(*) FILTER (WHERE gx*gx + gy*gy >= 1500000
    AND ABS(gx) < 2*ABS(gy) AND ABS(gy) < 2*ABS(gx) AND gx*gy <= 0) AS BIGINT) AS d2_cnt
FROM grad GROUP BY k, fmt, w, h ORDER BY k""",

    // gray-histogram Shannon entropy: the exact BIGINT identity
    // n·ln9(n) − Σ cnt·ln9(cnt) under the nano-LN convention, and the
    // floored ppm-of-max ratio
    "q_image_entropy" ->
      s"""WITH ${pxChainCtes("o_orderkey % 41 = 0 AND o_orderkey % 5 <> 3")},
fin AS (SELECT k, fmt, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2),
gray AS (SELECT k, fmt, w, h,
  z % 256 + (z // 256) % 256 + (z // 65536) % 256 AS g FROM fin),
hist AS (SELECT k, fmt, w, h, g, COUNT(*) AS cnt
  FROM gray GROUP BY k, fmt, w, h, g),
agg AS (
  SELECT k, fmt, w, h,
    CAST(SUM(cnt) AS BIGINT) AS n,
    CAST(COUNT(*) AS BIGINT) AS n_bins,
    CAST(SUM(cnt * CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS acc
  FROM hist GROUP BY k, fmt, w, h),
fin2 AS (
  SELECT k, fmt, w, h, n, n_bins,
    n * CAST(ROUND(LN(CAST(n AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT) - acc AS ent_num,
    n * CAST(ROUND(LN(CAST(n AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT) AS maxent
  FROM agg)
SELECT k, fmt, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  n AS n_px, n_bins, CAST(ent_num AS BIGINT) AS ent_num,
  CAST(CASE WHEN n > 1 THEN (1000000 * ent_num) // maxent ELSE 0 END AS BIGINT) AS ratio_ppm
FROM fin2 ORDER BY k""",

    // palette: distinct packed colors + (cnt DESC, color ASC) argmax over
    // both variants (posterized twin = v & 0x80 ≡ (v // 128) * 128)
    "q_image_palette" ->
      s"""WITH ${pxChainCtes("o_orderkey % 67 = 0 AND o_orderkey % 5 <> 3")},
chan3 AS (
  SELECT k, w, h,
    z % 256 AS r, (z // 256) % 256 AS g, (z // 65536) % 256 AS b
  FROM (SELECT k, w, h, xor(z2, z2 >> 31) AS z FROM m2)),
allpx AS (
  SELECT k, FALSE AS pz, w, h, r * 65536 + g * 256 + b AS c FROM chan3
  UNION ALL
  SELECT k, TRUE, w, h,
    (r // 128) * 128 * 65536 + (g // 128) * 128 * 256 + (b // 128) * 128
  FROM chan3 WHERE k % 3 = 0),
cc AS (SELECT k, pz, w, h, c, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM allpx GROUP BY k, pz, w, h, c),
tp AS (
  SELECT k, pz, w, h, c, cnt,
    ROW_NUMBER() OVER (PARTITION BY k, pz ORDER BY cnt DESC, c) AS rn,
    COUNT(*) OVER (PARTITION BY k, pz) AS n_colors,
    SUM(cnt) OVER (PARTITION BY k, pz) AS n
  FROM cc)
SELECT k, pz, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  CAST(n_colors AS BIGINT) AS n_colors, CAST(c AS BIGINT) AS top_color,
  CAST(1000000 * cnt // n AS BIGINT) AS top_share_ppm,
  n_colors <= 48 AS limited_palette
FROM tp WHERE rn = 1 ORDER BY k, pz""",

    // channel correlation: both variants' channels from the splitmix chain
    // (gray twin = (r+g+b) DIV 3 everywhere), identical integer Pearson
    // numerators and the exact r=g=b count
    "q_image_channel_corr" ->
      s"""WITH ${pxChainCtes("o_orderkey % 61 = 0 AND o_orderkey % 5 <> 3")},
chan3 AS (
  SELECT k, w, h,
    z % 256 AS r, (z // 256) % 256 AS g, (z // 65536) % 256 AS b
  FROM (SELECT k, w, h, xor(z2, z2 >> 31) AS z FROM m2)),
allpx AS (
  SELECT k, FALSE AS gs, w, h, r, g, b FROM chan3
  UNION ALL
  SELECT k, TRUE, w, h, (r + g + b) // 3, (r + g + b) // 3, (r + g + b) // 3
  FROM chan3 WHERE k % 3 = 0),
ag AS (
  SELECT k, gs, w, h, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN r = g AND g = b THEN 1 ELSE 0 END) AS BIGINT) AS n_eq,
    CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(g) AS BIGINT) AS sg,
    CAST(SUM(r * g) AS BIGINT) AS srg, CAST(SUM(r * r) AS BIGINT) AS sr2,
    CAST(SUM(g * g) AS BIGINT) AS sg2
  FROM allpx GROUP BY k, gs, w, h)
SELECT k, gs, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  n AS n_px, n_eq,
  CAST(n * srg - sr * sg AS BIGINT) AS cov_num,
  CAST(n * sr2 - sr * sr AS BIGINT) AS varr_num,
  CAST(n * sg2 - sg * sg AS BIGINT) AS varg_num,
  n_eq = n AS grayscale
FROM ag ORDER BY k, gs""",

    // letterbox: both variants' pixels rebuilt (zero border rows + shifted
    // splitmix rows), per-line uniformity = channel-wise MIN=MAX, the
    // identical first/last-non-uniform arithmetic
    "q_image_letterbox" ->
      s"""WITH ${pxChainCtes(
        "o_orderkey % 13 = 0 AND o_orderkey % 5 <> 1 AND o_orderkey % 5 <> 3")},
chan AS (
  SELECT k, w, h, x, y,
    z % 256 AS r, (z // 256) % 256 AS g, (z // 65536) % 256 AS b
  FROM (SELECT k, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2)),
dims2 AS (SELECT DISTINCT k, w, h FROM chan WHERE k % 3 = 0),
allpx AS (
  SELECT k, FALSE AS lb, w, h, x, y, r, g, b FROM chan
  UNION ALL
  SELECT k, TRUE, w, h + 4, x, y + 2, r, g, b FROM chan WHERE k % 3 = 0
  UNION ALL
  SELECT d.k, TRUE, d.w, d.h + 4, xs.x, t.j, 0, 0, 0
  FROM dims2 d, xs, (VALUES (0), (1)) t(j) WHERE xs.x < d.w
  UNION ALL
  SELECT d.k, TRUE, d.w, d.h + 4, xs.x, d.h + 2 + t.j, 0, 0, 0
  FROM dims2 d, xs, (VALUES (0), (1)) t(j) WHERE xs.x < d.w),
rw AS (
  SELECT k, lb, w, h, y,
    (MIN(r) = MAX(r) AND MIN(g) = MAX(g) AND MIN(b) = MAX(b)) AS uni
  FROM allpx GROUP BY k, lb, w, h, y),
cl AS (
  SELECT k, lb, w, h, x,
    (MIN(r) = MAX(r) AND MIN(g) = MAX(g) AND MIN(b) = MAX(b)) AS uni
  FROM allpx GROUP BY k, lb, w, h, x),
ra AS (
  SELECT k, lb, w, h,
    COALESCE(MIN(y) FILTER (WHERE NOT uni), h) AS top,
    COALESCE(h - 1 - MAX(y) FILTER (WHERE NOT uni), h) AS bottom
  FROM rw GROUP BY k, lb, w, h),
ca AS (
  SELECT k, lb, w, h,
    COALESCE(MIN(x) FILTER (WHERE NOT uni), w) AS lft,
    COALESCE(w - 1 - MAX(x) FILTER (WHERE NOT uni), w) AS rgt
  FROM cl GROUP BY k, lb, w, h)
SELECT ra.k, ra.lb, CAST(ra.w AS INTEGER) AS w, CAST(ra.h AS INTEGER) AS h,
  CAST(ra.top AS BIGINT) AS top_rows, CAST(ra.bottom AS BIGINT) AS bottom_rows,
  CAST(ca.lft AS BIGINT) AS left_cols, CAST(ca.rgt AS BIGINT) AS right_cols,
  (ra.top + ra.bottom + ca.lft + ca.rgt > 0) AS boxed
FROM ra JOIN ca ON ca.k = ra.k AND ca.lb = ra.lb
ORDER BY ra.k, ra.lb""",

    // augmentation digests: the same splitmix rebuild, with hflip/rot180
    // expressed as a position REMAP (p0 recomputed from mirrored x/y) —
    // Spark physically rearranges decoded bytes, DuckDB re-weights the
    // closed-form pixels; both must land on the same integer.
    "q_image_augment" ->
      """WITH img AS (
  SELECT o_orderkey AS k,
         (o_orderkey * 48271 + 11) % 2147483647 AS h1,
         (o_orderkey * 69621 + 7) % 2147483647 AS h2
  FROM orders WHERE o_orderkey % 29 = 0 AND o_orderkey % 5 <> 3),
dims AS (
  SELECT k, CASE WHEN k % 5 = 1 THEN 'png' ELSE 'bmp' END AS fmt,
         8 + h1 % 8 AS w, 8 + h2 % 8 AS h,
         (h1 * 2147483648 + h2)::HUGEINT AS ph
  FROM img),
xs AS (SELECT i AS x FROM generate_series(0, 15) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, 15) t(i)),
px AS (
  SELECT k, fmt, w, h, x, y,
    (ph + x * 11400714819323198485::HUGEINT
        + y * 13787848793156543929::HUGEINT)
      % 18446744073709551616::HUGEINT AS z0
  FROM dims, xs, ys WHERE x < w AND y < h),
m1 AS (
  SELECT k, fmt, w, h, x, y,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1
  FROM (SELECT k, fmt, w, h, x, y, xor(z0, z0 >> 30) AS x1 FROM px)),
m2 AS (
  SELECT k, fmt, w, h, x, y,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2
  FROM (SELECT k, fmt, w, h, x, y, xor(z1, z1 >> 27) AS x2 FROM m1)),
fin AS (SELECT k, fmt, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2),
augs AS (SELECT 'hflip' AS aug UNION ALL SELECT 'rot180'),
terms AS (
  SELECT k, fmt, w, h, aug,
    CASE WHEN aug = 'hflip' THEN (y * w + (w - 1 - x)) * 3
         ELSE ((h - 1 - y) * w + (w - 1 - x)) * 3 END AS p0,
    z
  FROM fin, augs)
SELECT k, fmt, aug, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  CAST(SUM((p0 + 1) * (p0 + 7) * (z % 256 + 17)
         + (p0 + 2) * (p0 + 8) * ((z // 256) % 256 + 17)
         + (p0 + 3) * (p0 + 9) * ((z // 65536) % 256 + 17)) AS BIGINT)
    AS digest
FROM terms GROUP BY k, fmt, aug, w, h ORDER BY k, aug""",

    // shard manifest: the identical chop + mod-budget offsets over
    // closed-form geotags, with record lengths re-derived from the BMP
    // size formula (Spark uses length(bytes) — the match pins them equal)
    "q_image_shard_manifest" ->
      s"""WITH $gridCte,
geo AS (
  SELECT k, h1, h2,
    CASE WHEN u0 % 500 = 0 THEN u0 + 13 ELSE u0 END AS u,
    CASE WHEN v0 % 500 = 0 THEN v0 + 13 ELSE v0 END AS v
  FROM (
    SELECT o_orderkey AS k,
           (o_orderkey * 48271 + 11) % 2147483647 AS h1,
           (o_orderkey * 69621 + 7) % 2147483647 AS h2,
           ((o_orderkey * 48271 + 11) % 2147483647) % ((p.g - 1) * 1000) AS u0,
           ((o_orderkey * 69621 + 7) % 2147483647) % ((p.g - 1) * 1000) AS v0
    FROM orders, p)
  WHERE k % 5 NOT IN (1, 3)),
cells AS (
  SELECT k, (u // 5000) * 100000 + (v // 5000) AS cell,
         54 + ((3 * (8 + h1 % 8) + 3) // 4 * 4) * (8 + h2 % 8) AS len
  FROM geo),
c AS (
  SELECT k, cell, len,
    SUM(len) OVER (PARTITION BY cell ORDER BY k
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cells)
SELECT k, CAST(cell AS BIGINT) AS cell,
  CAST((cum - len) // 4096 AS BIGINT) AS shard,
  CAST((cum - len) % 4096 AS BIGINT) AS "offset",
  CAST(len AS BIGINT) AS len
FROM c ORDER BY k""",

    // spatially-local shard packing: the identical integer window chop
    // (cum-before DIV budget within 5000-µdeg cells) rerun over the
    // closed-form geotags and dims — weight is the decoded size w·h·3.
    "q_image_shard_pack" ->
      s"""WITH $gridCte,
geo AS (
  SELECT k, h1, h2,
    CASE WHEN u0 % 500 = 0 THEN u0 + 13 ELSE u0 END AS u,
    CASE WHEN v0 % 500 = 0 THEN v0 + 13 ELSE v0 END AS v
  FROM (
    SELECT o_orderkey AS k,
           (o_orderkey * 48271 + 11) % 2147483647 AS h1,
           (o_orderkey * 69621 + 7) % 2147483647 AS h2,
           ((o_orderkey * 48271 + 11) % 2147483647) % ((p.g - 1) * 1000) AS u0,
           ((o_orderkey * 69621 + 7) % 2147483647) % ((p.g - 1) * 1000) AS v0
    FROM orders, p)),
cells AS (
  SELECT k, (u // 5000) * 100000 + (v // 5000) AS cell,
         (8 + h1 % 8) * (8 + h2 % 8) * 3 AS sz
  FROM geo),
c AS (
  SELECT k, cell, sz,
    SUM(sz) OVER (PARTITION BY cell ORDER BY k
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cells)
SELECT CAST(cell AS BIGINT) AS cell,
  CAST((cum - sz) // 4096 AS BIGINT) AS shard,
  COUNT(*) AS n_images, CAST(SUM(sz) AS BIGINT) AS px_bytes,
  MIN(k) AS first_k, MAX(k) AS last_k
FROM c GROUP BY cell, shard ORDER BY cell, shard""",

    // fixed-window token chunking: list_slice mirrors Spark's slice (both
    // 1-based, both clamp); fixed 0..63 series + filter stands in for the
    // lateral generate_series DuckDB 1.0 lacks
    "q_doc_chunks" ->
      """WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents),
ids AS (SELECT i FROM generate_series(0, 63) s(i))
SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
  array_to_string(list_slice(toks, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text,
  CAST(LEAST(32, n - i * 24) AS INTEGER) AS n_tokens
FROM t, ids
WHERE i <= GREATEST(0, (n - 8 - 1) // 24)
ORDER BY doc_id, chunk_id""",

    // sequence packing: the same Knuth-hash bucket + per-bucket cumulative
    // token sum + integer chop, rerun verbatim (all nonneg integer DIV/MOD)
    "q_doc_pack" ->
      """WITH t AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    ((doc_id % 1000003) * 2654435761) % 8 AS bucket
  FROM documents),
c AS (
  SELECT doc_id, bucket, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM t)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, n_tokens,
  CAST(bucket * 4294967296 + (cum - n_tokens) // 64 AS BIGINT) AS seq_first,
  CAST(bucket * 4294967296 + (cum - 1) // 64 AS BIGINT) AS seq_last,
  CAST((cum - n_tokens) % 64 AS BIGINT) AS seq_offset
FROM c ORDER BY doc_id""",

    // PII/link redaction: same three RE2-safe regexes in the same order;
    // DuckDB needs the 'g' flag (default replaces first match only)
    "q_doc_redact" ->
      """WITH pii AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
         THEN text || ' http://ex.com/p/' || doc_id::VARCHAR ||
              '?q=12345678 a' || doc_id::VARCHAR ||
              '@mail.example.org tel 98765432109'
         ELSE text END AS text
  FROM documents),
red AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g'),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]+', '<EMAIL>', 'g'),
      '[0-9]{7,}', '<NUM>', 'g') AS redacted
  FROM pii)
SELECT doc_id, redacted,
  CAST(len(string_split_regex(redacted, '<URL>|<EMAIL>|<NUM>')) - 1 AS INTEGER)
    AS n_redactions
FROM red ORDER BY doc_id""",

    // first-principles video-frame oracle: sampled frame indices (every
    // 2nd of 6 + k%7 frames), per-frame splitmix pixel sums recomputed
    // from o_orderkey — same HUGEINT machinery as q_image_decode_sample
    // with phash = k*131071 + frame_idx
    // scene cuts: both frames of every consecutive pair rebuilt from the
    // splitmix chain (ph = k·131071 + f), diffed per (x, y, channel)
    "q_video_scene_cut" ->
      """WITH vid AS (
  SELECT o_orderkey AS k, 8 + o_orderkey % 5 AS w, 9 + o_orderkey % 3 AS h,
         6 + o_orderkey % 7 AS n_frames
  FROM orders WHERE o_orderkey % 199 = 0),
fr AS (SELECT i AS f FROM generate_series(0, 12) t(i)),
frames AS (
  SELECT k, w, h, f, (k * 131071 + f)::HUGEINT AS ph
  FROM vid, fr WHERE f < n_frames),
xs AS (SELECT i AS x FROM generate_series(0, 12) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, 11) t(i)),
px AS (
  SELECT k, f, w, h, x, y,
    (ph + x * 11400714819323198485::HUGEINT
        + y * 13787848793156543929::HUGEINT)
      % 18446744073709551616::HUGEINT AS z0
  FROM frames, xs, ys WHERE x < w AND y < h),
m1 AS (
  SELECT k, f, w, h, x, y,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1
  FROM (SELECT k, f, w, h, x, y, xor(z0, z0 >> 30) AS x1 FROM px)),
m2 AS (
  SELECT k, f, w, h, x, y,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2
  FROM (SELECT k, f, w, h, x, y, xor(z1, z1 >> 27) AS x2 FROM m1)),
ch AS (
  SELECT k, f, w, h, x, y,
    z % 256 AS r, (z // 256) % 256 AS g, (z // 65536) % 256 AS b
  FROM (SELECT k, f, w, h, x, y, xor(z2, z2 >> 31) AS z FROM m2)),
pairs AS (
  SELECT a.k, a.f, a.w, a.h,
    CAST(SUM(ABS(a.r - b.r) + ABS(a.g - b.g) + ABS(a.b - b.b)) AS BIGINT) AS sad
  FROM ch a JOIN ch b ON b.k = a.k AND b.f = a.f + 1
    AND b.x = a.x AND b.y = a.y
  GROUP BY a.k, a.f, a.w, a.h)
SELECT k, CAST(f AS INTEGER) AS f1, CAST(f + 1 AS INTEGER) AS f2,
  CAST(w * h AS BIGINT) AS n_px, sad,
  CAST(sad * 1000 // (3 * w * h) AS BIGINT) AS sad_milli_px,
  sad * 1000 // (3 * w * h) >= 85000 AS cut
FROM pairs ORDER BY k, f1""",

    "q_video_frames" ->
      """WITH vid AS (
  SELECT o_orderkey AS k, 8 + o_orderkey % 5 AS w, 9 + o_orderkey % 3 AS h,
         6 + o_orderkey % 7 AS n_frames
  FROM orders WHERE o_orderkey % 199 = 0),
fr AS (SELECT i AS f FROM generate_series(0, 12) t(i)),
frames AS (
  SELECT k, w, h, f,
         (k * 131071 + f)::HUGEINT AS ph -- always in [0, 2^63): no wrap needed
  FROM vid, fr WHERE f < n_frames AND f % 2 = 0),
xs AS (SELECT i AS x FROM generate_series(0, 12) t(i)),
ys AS (SELECT i AS y FROM generate_series(0, 11) t(i)),
px AS (
  SELECT k, f, w, h,
    (ph + x * 11400714819323198485::HUGEINT
        + y * 13787848793156543929::HUGEINT)
      % 18446744073709551616::HUGEINT AS z0
  FROM frames, xs, ys WHERE x < w AND y < h),
m1 AS (
  SELECT k, f, w, h,
    ((x1 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
     + (((x1 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1
  FROM (SELECT k, f, w, h, xor(z0, z0 >> 30) AS x1 FROM px)),
m2 AS (
  SELECT k, f, w, h,
    ((x2 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
     + (((x2 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
       * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2
  FROM (SELECT k, f, w, h, xor(z1, z1 >> 27) AS x2 FROM m1)),
fin AS (SELECT k, f, w, h, xor(z2, z2 >> 31) AS z FROM m2)
SELECT k, CAST(f AS INTEGER) AS frame_idx,
  CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
  CAST(SUM(z % 256) AS BIGINT) AS sum_r,
  CAST(SUM((z // 256) % 256) AS BIGINT) AS sum_g,
  CAST(SUM((z // 65536) % 256) AS BIGINT) AS sum_b
FROM fin GROUP BY k, f, w, h ORDER BY k, frame_idx""",

    // independent audio DECODE oracle: DuckDB replays the synthesis LCG
    // from o_orderkey (multiplier < 2^63 fits INT128 without splitting)
    // and aggregates the signed-16-bit samples; Spark must RIFF-parse the
    // real WAV payload to identical exact integers.
    "q_audio_decode_sample" ->
      """WITH RECURSIVE
clip AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 3 = 0 THEN 16000 ELSE 8000 END AS sample_rate,
         400 + (o_orderkey * 2654435761) % 800 AS n_samples,
         (o_orderkey * 7919 + 17)::HUGEINT AS seed
  FROM orders WHERE o_orderkey % 97 = 0),
lcg(k, i, s) AS (
  SELECT k, 0, seed % 18446744073709551616::HUGEINT FROM clip
  UNION ALL
  SELECT l.k, l.i + 1,
         (l.s * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
           % 18446744073709551616::HUGEINT
  FROM lcg l JOIN clip c ON l.k = c.k WHERE l.i < c.n_samples),
smp AS (
  SELECT k,
         CASE WHEN (s >> 48) >= 32768::HUGEINT
              THEN ((s >> 48) - 65536::HUGEINT)::BIGINT
              ELSE (s >> 48)::BIGINT END AS v
  FROM lcg WHERE i > 0)
SELECT c.k, CAST(c.sample_rate AS INTEGER) AS sample_rate,
  1 AS channels,
  CAST(c.n_samples AS INTEGER) AS n_samples,
  CAST(SUM(s.v) AS BIGINT) AS sample_sum,
  CAST(SUM(s.v * s.v) AS BIGINT) AS sample_sumsq
FROM clip c JOIN smp s ON c.k = s.k
GROUP BY c.k, c.sample_rate, c.n_samples ORDER BY c.k""",

    // SimHash near-dup pairs, FULLY recomputed in SQL (promoted from a
    // regression pin): FNV-1a 64 per token via a recursive CTE over the
    // (tiny) vocabulary's ASCII bytes in unsigned [0,2^64) HUGEINT
    // arithmetic, per-bit majority vote with token multiplicity, 4×16-bit
    // band blocking, then hamming = bit_count(xor) over the signed ids —
    // the exact banded-candidate semantics of TextOps.simHashPairs.
    // dedup-QA harness, BOTH sides re-derived from first principles:
    // candidate side = FNV-1a 64 per distinct shingle (recursive CTE) →
    // splitmix mix per permutation j (the ≥2^63 multipliers via the 32-bit
    // split) → per-doc MIN = signature → 4-row band keys → band-equality
    // pairs; truth side = brute-force exact Jaccard with the threshold as
    // the integer comparison 2·|∩| ≥ |∪|. The confusion counts are the
    // integer-exact audit of the banding filter's real miss rate.
    "q_doc_minhash_eval" ->
      (s"""WITH RECURSIVE
$saltedDocsCtes,
$docShingleCtes,
$minhashCandCtes,
$jaccardTruthCtes,
$confusionTailSql"""),

    // the recall curve: the q_doc_minhash_eval chain with the truth side
    // kept as exact (|∩|, |∪|) integers and re-thresholded per sweep row
    // (1000·|∩| ≥ t·|∪|); LEFT JOIN from the threshold table so empty
    // buckets still emit a zero row exactly like Spark's global aggregate
    "q_doc_minhash_sweep" ->
      (s"""WITH RECURSIVE
$saltedDocsCtes,
$docShingleCtes,
$minhashCandCtes,
$jaccardTruthCtes,
jp AS (SELECT i.id1, i.id2, i.i AS i, s1.n + s2.n - i.i AS u
  FROM inter i JOIN sz s1 ON s1.doc_id = i.id1
    JOIN sz s2 ON s2.doc_id = i.id2
  WHERE 1000 * i.i >= 400 * (s1.n + s2.n - i.i)),
jc AS (SELECT jp.*, c.id1 IS NOT NULL AS in_c
  FROM jp LEFT JOIN cand c ON c.id1 = jp.id1 AND c.id2 = jp.id2),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
ts(t) AS (VALUES (400), (500), (600), (700)),
ag AS (
  SELECT ts.t, CAST(COUNT(jc.id1) AS BIGINT) AS n_truth,
    CAST(COALESCE(SUM(CASE WHEN jc.in_c THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp
  FROM ts LEFT JOIN jc ON 1000 * jc.i >= ts.t * jc.u
  GROUP BY ts.t)
SELECT CAST(ag.t AS BIGINT) AS t_milli, ag.n_truth, nc.n_cand, ag.tp,
  ag.n_truth - ag.tp AS fn, nc.n_cand - ag.tp AS fp,
  CASE WHEN ag.n_truth > 0 THEN CAST(ag.tp * 1000 // ag.n_truth AS BIGINT) END AS recall_milli,
  CASE WHEN nc.n_cand > 0 THEN CAST(ag.tp * 1000 // nc.n_cand AS BIGINT) END AS precision_milli
FROM ag, nc ORDER BY t_milli"""),

    // the simhash audit: the SAME planted gray-zone corpus AND the SAME
    // shingle-Jaccard ground truth as q_doc_minhash_eval (so the two
    // candidate stages are directly comparable); the full simhash chain
    // (FNV-1a → multiplicity-weighted bit votes → 4×16 banding →
    // hamming ≤ 12) re-derived over the planted corpus, pairs-only confusion
    "q_doc_simhash_eval" ->
      (s"""WITH RECURSIVE
$saltedDocsCtes,
svocab AS (SELECT DISTINCT unnest(tk) AS tok FROM dt),
sfnv(tok, i, h) AS (
  SELECT tok, 0, 14695981039346656037::HUGEINT FROM svocab
  UNION ALL
  SELECT tok, i + 1,
    (xor(h, ord(substr(tok, i + 1, 1))::HUGEINT) * 1099511628211::HUGEINT)
      % 18446744073709551616::HUGEINT
  FROM sfnv WHERE i < length(tok)),
tokhash AS (SELECT tok, h AS hu FROM sfnv WHERE i = length(tok)),
toks AS (SELECT doc_id, unnest(tk) AS tok FROM dt),
bits AS (
  SELECT t.doc_id, b.b,
         SUM(CASE WHEN (th.hu >> b.b) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
  FROM toks t
  JOIN tokhash th ON t.tok = th.tok
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) b
  GROUP BY t.doc_id, b.b),
sim AS (
  SELECT doc_id,
         SUM(CASE WHEN cnt > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS su
  FROM bits GROUP BY doc_id),
sims AS (
  SELECT doc_id, su,
         CASE WHEN su >= 9223372036854775808::HUGEINT
              THEN (su - 18446744073709551616::HUGEINT)::BIGINT
              ELSE su::BIGINT END AS s
  FROM sim),
banded AS (
  SELECT doc_id, s, b.band, ((su >> (16 * b.band)) % 65536)::BIGINT AS bucket
  FROM sims CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b),
spairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2, l.s AS s1, r.s AS s2
  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
  WHERE l.doc_id < r.doc_id),
cand AS (SELECT id1, id2 FROM spairs WHERE bit_count(xor(s1, s2)) <= 12),
$docShingleCtes,
$jaccardTruthCtes,
$confusionTailSql"""),

    "q_doc_simhash" ->
      """WITH RECURSIVE
vocab AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok FROM documents),
fnv(tok, i, h) AS (
  SELECT tok, 0, 14695981039346656037::HUGEINT FROM vocab
  UNION ALL
  SELECT tok, i + 1,
    (xor(h, ord(substr(tok, i + 1, 1))::HUGEINT) * 1099511628211::HUGEINT)
      % 18446744073709551616::HUGEINT
  FROM fnv WHERE i < length(tok)
),
tokhash AS (SELECT tok, h AS hu FROM fnv WHERE i = length(tok)),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
bits AS (
  SELECT t.doc_id, b.b,
         SUM(CASE WHEN (th.hu >> b.b) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
  FROM toks t
  JOIN tokhash th ON t.tok = th.tok
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) b
  GROUP BY t.doc_id, b.b
),
sim AS (
  SELECT doc_id,
         SUM(CASE WHEN cnt > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS su
  FROM bits GROUP BY doc_id
),
sims AS (
  SELECT doc_id, su,
         CASE WHEN su >= 9223372036854775808::HUGEINT
              THEN (su - 18446744073709551616::HUGEINT)::BIGINT
              ELSE su::BIGINT END AS s
  FROM sim
),
banded AS (
  SELECT doc_id, s, b.band, ((su >> (16 * b.band)) % 65536)::BIGINT AS bucket
  FROM sims CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
),
pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2, l.s AS s1, r.s AS s2
  FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
  WHERE l.doc_id < r.doc_id
)
SELECT id1, id2, bit_count(xor(s1, s2))::INTEGER AS hamming
FROM pairs
WHERE bit_count(xor(s1, s2)) <= 12
ORDER BY id1, id2""",

    // winnowing rolling-hash fingerprint, FULLY recomputed in SQL (promoted
    // from a regression pin): base-1000000007 rolling polynomial hash over
    // each document's ASCII bytes (window 16) with 64-bit wraparound in
    // unsigned HUGEINT, splitmix-style finalizer per window position (the
    // >=2^63 constants multiplied via 32-bit split to stay inside INT128),
    // minimum tracked per doc — the exact RollingMinHash arithmetic. Docs
    // shorter than the window (none at the driver SFs) would drop out and
    // fail the row-count compare loudly rather than silently pass.
    // corpus-bigram-LM perplexity: add-one-smoothed ln((cb+1)/(cu+V)) per
    // adjacent token pair, nano-rounded BEFORE the per-doc sum (BM25's
    // determinism recipe); keep is the exact integer comparison
    // Σlp9 ≥ −3400000000·n_pairs
    // TF-IDF keywords: tf per (doc, term), df per term, idf9 = nano-rounded
    // LN(N/df) (the bigram-ppl convention), score9 = tf·idf9 BIGINT, top-3
    // per doc by (score9 DESC, term)
    "q_doc_tfidf" ->
      """WITH tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
sc AS (
  SELECT t.doc_id, t.term, t.tf,
    t.tf * CAST(ROUND(LN(nd.n / CAST(d.df AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT) AS score9
  FROM tf t JOIN dfreq d USING (term), nd),
rk AS (
  SELECT doc_id, term, tf, score9,
    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score9 DESC, term) AS BIGINT) AS rk
  FROM sc)
SELECT doc_id, rk, term, tf, score9 FROM rk WHERE rk <= 3
ORDER BY doc_id, rk""",

    // Zipf fit: same vocab ranking, same per-integer micro-LN sums, the
    // exact-rational slope numerator/denominator
    "q_doc_zipf" ->
      """WITH freq AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w),
rk AS (
  SELECT f, CAST(ROW_NUMBER() OVER (ORDER BY f DESC, w) AS BIGINT) AS r
  FROM freq),
xy AS (
  SELECT CAST(ROUND(LN(CAST(r AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS x,
    CAST(ROUND(LN(CAST(f AS DOUBLE)) * 1000000.0::DOUBLE) AS BIGINT) AS y
  FROM rk WHERE r <= 40),
ag AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks, CAST(SUM(x) AS BIGINT) AS sum_x,
    CAST(SUM(y) AS BIGINT) AS sum_y, CAST(SUM(x * y) AS BIGINT) AS sum_xy,
    CAST(SUM(x * x) AS BIGINT) AS sum_x2
  FROM xy)
SELECT n_ranks, sum_x, sum_y, sum_xy, sum_x2,
  CAST(n_ranks * sum_xy - sum_x * sum_y AS BIGINT) AS slope_num,
  CAST(n_ranks * sum_x2 - sum_x * sum_x AS BIGINT) AS slope_den
FROM ag""",

    // winnowing: k-grams + FNV-1a-by-recursive-CTE over the distinct-gram
    // vocab, 63-bit mask so hash ORDER matches Spark's signed longs, the
    // identical per-window (h ASC, pos DESC) argmin, distinct selections
    "q_doc_winnow" ->
      """WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
  WHERE len(string_split(text, ' ')) >= 6),
g0 AS (
  SELECT doc_id, unnest(range(0, len(tk) - 2)) AS pos, tk,
    CAST(len(tk) - 2 AS BIGINT) AS n_grams
  FROM toks),
g2 AS (
  SELECT doc_id, pos, n_grams,
    array_to_string(tk[pos + 1 : pos + 3], ' ') AS gram
  FROM g0),
vocab AS (SELECT DISTINCT gram AS s FROM g2),
fnv(s, i, hf) AS (
  SELECT s, 0, 14695981039346656037::HUGEINT FROM vocab
  UNION ALL
  SELECT s, i + 1,
    (xor(hf, ord(substr(s, i + 1, 1))::HUGEINT) * 1099511628211::HUGEINT)
      % 18446744073709551616::HUGEINT
  FROM fnv WHERE i < length(s)),
h0 AS (SELECT s, CAST(hf % 9223372036854775808::HUGEINT AS BIGINT) AS h
  FROM fnv WHERE i = length(s)),
hg AS (
  SELECT g2.doc_id, g2.pos, g2.n_grams, h0.h
  FROM g2 JOIN h0 ON h0.s = g2.gram),
win AS (
  SELECT doc_id, pos, h,
    unnest(range(GREATEST(0, pos - 3), LEAST(pos, n_grams - 4) + 1)) AS w
  FROM hg),
sel AS (
  SELECT doc_id, pos, h,
    ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY h, pos DESC) AS rn
  FROM win)
SELECT DISTINCT doc_id, CAST(pos AS INTEGER) AS pos, h
FROM sel WHERE rn = 1 ORDER BY doc_id, pos""",

    // PMI collocations: bigram/unigram counts re-derived, every LN factor
    // nano-rounded SEPARATELY on its integer count, combined in BIGINT,
    // same (pmi9 DESC, w1, w2) top-50 cut
    "q_doc_pmi" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
    unnest(list_transform(range(1, len(tk)), i -> tk[i+1])) AS w2
  FROM toks WHERE len(tk) >= 2),
uni AS (SELECT w, COUNT(*) AS cu
  FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
totals AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS n_tok,
  CAST(SUM(len(tk) - 1) AS BIGINT) AS n_big FROM toks),
bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
  FROM pairs GROUP BY w1, w2),
sc AS (
  SELECT b.w1, b.w2, b.cb,
    CAST(u1.cu AS BIGINT) AS c1, CAST(u2.cu AS BIGINT) AS c2,
    CAST(ROUND(LN(CAST(b.cb AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)
    + 2 * CAST(ROUND(LN(CAST(t.n_tok AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)
    - CAST(ROUND(LN(CAST(t.n_big AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)
    - CAST(ROUND(LN(CAST(u1.cu AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)
    - CAST(ROUND(LN(CAST(u2.cu AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT) AS pmi9
  FROM bi b JOIN uni u1 ON u1.w = b.w1 JOIN uni u2 ON u2.w = b.w2, totals t
  WHERE b.cb >= 5)
SELECT w1, w2, cb, c1, c2, pmi9 FROM sc
ORDER BY pmi9 DESC, w1, w2 LIMIT 50""",

    // per-source KL drift: the same per-factor nano-LN combination over
    // (source, w) / corpus-marginal / source-marginal counts
    "q_doc_kl_drift" ->
      """WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS csw
  FROM tok GROUP BY source, w),
cw AS (SELECT w, CAST(SUM(csw) AS BIGINT) AS cwv FROM sw GROUP BY w),
ns AS (SELECT source, CAST(SUM(csw) AS BIGINT) AS nsv FROM sw GROUP BY source),
nt AS (SELECT CAST(SUM(nsv) AS BIGINT) AS n FROM ns),
terms AS (
  SELECT s.source, s.csw,
    s.csw * (
      CAST(ROUND(LN(CAST(s.csw AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)
      - CAST(ROUND(LN(CAST(n2.nsv AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)
      - CAST(ROUND(LN(CAST(c.cwv AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)
      + CAST(ROUND(LN(CAST(t.n AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)) AS term9,
    n2.nsv
  FROM sw s JOIN cw c USING (w) JOIN ns n2 USING (source), nt t)
SELECT source, CAST(MIN(nsv) AS BIGINT) AS n_tokens,
  CAST(COUNT(*) AS BIGINT) AS n_terms,
  CAST(SUM(term9) AS BIGINT) AS kl_num,
  CAST(SUM(term9) // MIN(nsv) AS BIGINT) AS kl_per_tok_nano
FROM terms GROUP BY source ORDER BY source""",

    // Heaps-law vocabulary growth: the same max_doc·i DIV 10 checkpoints,
    // cumulative tokens/docs by checkpoint cross join, cumulative vocab by
    // first-occurrence (MIN doc_id) inversion
    "q_doc_heaps" ->
      """WITH toks AS (
  SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
  FROM documents),
mx AS (SELECT MAX(doc_id) AS m FROM documents),
cps AS (SELECT CAST(i AS BIGINT) AS i, (mx.m * i) // 10 AS cp
  FROM generate_series(1, 10) t(i), mx),
fs AS (SELECT term, MIN(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
  GROUP BY term),
tokcum AS (
  SELECT c.i, c.cp, CAST(COUNT(*) AS BIGINT) AS docs_cum,
    CAST(SUM(t.n_tokens) AS BIGINT) AS tokens_cum
  FROM cps c JOIN toks t ON t.doc_id <= c.cp GROUP BY c.i, c.cp),
voccum AS (
  SELECT c.i, c.cp, CAST(COUNT(*) AS BIGINT) AS vocab_cum
  FROM cps c JOIN fs f ON f.first_doc <= c.cp GROUP BY c.i, c.cp)
SELECT t.i, t.cp, t.docs_cum, t.tokens_cum, v.vocab_cum
FROM tokcum t JOIN voccum v ON v.i = t.i AND v.cp = t.cp
ORDER BY t.i""",

    "q_doc_bigram_ppl" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
pairs AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
    unnest(list_transform(range(1, len(tk)), i -> tk[i+1])) AS w2
  FROM toks WHERE len(tk) >= 2),
uni AS (SELECT w1, COUNT(*) AS cu FROM (SELECT unnest(tk) AS w1 FROM toks) GROUP BY w1),
v AS (SELECT COUNT(*) AS vocab FROM uni),
bi AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY w1, w2),
sc AS (
  SELECT p.doc_id,
    CAST(ROUND(LN(CAST(b.cb + 1 AS DOUBLE) / CAST(u.cu + v.vocab AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT) AS lp9
  FROM pairs p JOIN bi b USING (w1, w2) JOIN uni u USING (w1), v),
per AS (SELECT doc_id, COUNT(*) AS n_pairs, CAST(SUM(lp9) AS BIGINT) AS lp9_total FROM sc GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
  CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
  CAST(COALESCE(p.lp9_total, 0) AS BIGINT) AS lp9_total,
  COALESCE(p.lp9_total, 0) >= -3400000000 * COALESCE(p.n_pairs, 0) AS keep
FROM toks t LEFT JOIN per p USING (doc_id) ORDER BY t.doc_id""",

    // BPE merge training re-learned end-to-end in DuckDB: 6 unrolled rounds
    // of pair-count → deterministic argmax → recursive greedy apply; the
    // merges surface pins the learned rules + their corpus-weighted counts
    "q_doc_bpe_merges" ->
      (bpePrefix(6) + "\nSELECT * FROM (" +
        (1 to 6).map(k =>
          s"SELECT $k AS rk, l AS lhs, r AS rhs, l || r AS merged, cnt AS pair_count FROM b$k")
          .mkString("\nUNION ALL\n") +
        ") ORDER BY rk"),

    // the final segmentation of every vocabulary word after all 6 merges —
    // any divergence in any round's argmax or any greedy application flips
    // at least one toks string
    "q_doc_bpe_vocab" ->
      (bpePrefix(6) +
        """
SELECT word, n, CAST(len(syms) AS INTEGER) AS n_syms,
  array_to_string(syms, ' ') AS toks
FROM v6 ORDER BY word"""),

    // BPE apply: v6 (every word's final segmentation, itself re-learned
    // from scratch) joined back onto the corpus word stream in position
    // order — each doc's full token string is re-derived end to end
    "q_doc_bpe_encode" ->
      (bpePrefix(6) + """,
dw AS (
  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS wpos, unnest(tk) AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
enc AS (
  SELECT d.doc_id, d.wpos, v.syms
  FROM (SELECT * FROM dw WHERE len(word) > 0) d JOIN v6 v USING (word))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(len(syms)) AS BIGINT) AS n_tokens,
  string_agg(array_to_string(syms, ' '), ' ' ORDER BY wpos) AS toks_str
FROM enc GROUP BY doc_id ORDER BY doc_id"""),

    // duplicated token-8-gram spans: occurrence counting over exact gram
    // strings, then per-doc interval union — same-length intervals sorted by
    // start add LEAST(8, start - prev_start) each (LAG default start-8 makes
    // the first occurrence contribute the full 8)
    "q_doc_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
occ AS (
  SELECT doc_id,
    unnest(range(0, greatest(len(tk) - 7, 0))) AS start,
    unnest(list_transform(range(0, greatest(len(tk) - 7, 0)),
      i -> array_to_string(list_slice(tk, i + 1, i + 8), ' '))) AS gram
  FROM toks),
dup AS (
  SELECT doc_id, start, COUNT(*) OVER (PARTITION BY gram) AS cnt
  FROM occ),
nc AS (
  SELECT doc_id, start,
    LEAST(8, start - COALESCE(LAG(start) OVER (PARTITION BY doc_id ORDER BY start), start - 8)) AS newly
  FROM dup WHERE cnt >= 2),
per AS (
  SELECT doc_id, COUNT(*) AS dup_starts, SUM(newly) AS covered
  FROM nc GROUP BY doc_id)
SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
  CAST(COALESCE(p.dup_starts, 0) AS BIGINT) AS dup_starts,
  CAST(COALESCE(p.covered, 0) AS BIGINT) AS covered,
  COALESCE(p.covered, 0) * 2 >= len(t.tk) AS mostly_dup
FROM toks t LEFT JOIN per p USING (doc_id) ORDER BY t.doc_id""",

    "q_doc_fingerprints" ->
      """WITH RECURSIVE
pw(i, p) AS (
  SELECT 0, 1::HUGEINT
  UNION ALL
  SELECT i + 1, (p * 1000000007::HUGEINT) % 18446744073709551616::HUGEINT
  FROM pw WHERE i < 15
),
roll(doc_id, i, h, best) AS (
  SELECT doc_id, 0, 0::HUGEINT, NULL::HUGEINT FROM documents WHERE length(text) >= 16
  UNION ALL
  SELECT doc_id, i, h,
         CASE WHEN i < 16 THEN NULL
              WHEN best IS NULL THEN m
              ELSE least(best, m) END
  FROM (
    SELECT doc_id, i, h, best,
           (SELECT (xor(z3, z3 >> 31)) % 9223372036854775808::HUGEINT
            FROM (SELECT ((x3 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
                          + (((x3 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT)
                            * 4294967296::HUGEINT)
                         % 18446744073709551616::HUGEINT AS z3
                  FROM (SELECT xor(z2, z2 >> 27) AS x3
                        FROM (SELECT ((x2 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
                                      + (((x2 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT)
                                        * 4294967296::HUGEINT)
                                     % 18446744073709551616::HUGEINT AS z2
                              FROM (SELECT xor(z1, z1 >> 30) AS x2
                                    FROM (SELECT (h + 11400714819323198485::HUGEINT)
                                                 % 18446744073709551616::HUGEINT AS z1)))))) AS m
    FROM (
      SELECT r.doc_id, r.i + 1 AS i,
             CASE WHEN r.i < 16 THEN
               (r.h * 1000000007::HUGEINT
                + ord(substr(d.text, r.i + 1, 1))::HUGEINT)
               % 18446744073709551616::HUGEINT
             ELSE
               (((r.h + 18446744073709551616::HUGEINT
                  - (ord(substr(d.text, r.i - 15, 1))::HUGEINT
                     * (SELECT p FROM pw WHERE i = 15))
                    % 18446744073709551616::HUGEINT)
                 % 18446744073709551616::HUGEINT) * 1000000007::HUGEINT
                + ord(substr(d.text, r.i + 1, 1))::HUGEINT)
               % 18446744073709551616::HUGEINT
             END AS h,
             r.best
      FROM roll r JOIN documents d USING (doc_id)
      WHERE r.i < length(d.text)
    )
  )
)
SELECT r.doc_id,
       CASE WHEN r.best >= 9223372036854775808::HUGEINT
            THEN (r.best - 18446744073709551616::HUGEINT)::BIGINT
            ELSE r.best::BIGINT END AS fingerprint
FROM roll r JOIN documents d USING (doc_id)
WHERE r.i = length(d.text)
ORDER BY r.doc_id""",

    "q_doc_jaccard_pairs" ->
      """WITH sh AS (
  SELECT lang, source, doc_id,
    list_distinct(CASE WHEN len(string_split(text,' ')) < 3
      THEN [array_to_string(string_split(text,' '), ' ')]
      ELSE list_transform(range(0, len(string_split(text,' ')) - 2),
           i -> array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' ')) END) AS s
  FROM documents)
SELECT a.doc_id AS id1, b.doc_id AS id2,
  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.05::DOUBLE
ORDER BY id1, id2""",

    // asymmetric containment pairs: brute-force over the same (lang, source)
    // scope — C = |∩|/min sizes with the ≤4× bounded-growth class filter,
    // mirroring the Spark dag (double division + ROUND 6)
    "q_doc_containment" ->
      """WITH sh AS (
  SELECT lang, source, doc_id,
    list_distinct(CASE WHEN len(string_split(text,' ')) < 3
      THEN [array_to_string(string_split(text,' '), ' ')]
      ELSE list_transform(range(0, len(string_split(text,' ')) - 2),
           i -> array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' ')) END) AS s
  FROM documents)
SELECT a.doc_id AS id1, b.doc_id AS id2,
  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
  CAST(LEAST(len(a.s), len(b.s)) AS BIGINT) AS n_small,
  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / CAST(LEAST(len(a.s), len(b.s)) AS DOUBLE), 6) AS containment
FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / CAST(LEAST(len(a.s), len(b.s)) AS DOUBLE) >= 0.5::DOUBLE
  AND CAST(GREATEST(len(a.s), len(b.s)) AS DOUBLE)
      <= CAST(LEAST(len(a.s), len(b.s)) AS DOUBLE) * 4.0::DOUBLE
ORDER BY id1, id2""",

    // MinHash-LSH near-dup pairs vs brute-force ground truth: the LSH output
    // is exact-Jaccard-verified, so precision is 1 by construction; this
    // oracle additionally gates recall = 1 on the (fixed) testdata — every
    // all-pairs exact-Jaccard >= 0.2 pair must be surfaced by the banded
    // candidate generation (b=8, r=4).
    "q_doc_minhash_lsh" ->
      """WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(string_split(text,' ')) < 3
      THEN [array_to_string(string_split(text,' '), ' ')]
      ELSE list_transform(range(0, len(string_split(text,' ')) - 2),
           i -> array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' ')) END) AS s
  FROM documents)
SELECT a.doc_id AS id1, b.doc_id AS id2,
  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.2::DOUBLE
ORDER BY id1, id2""",

    // incremental dedup: same corpus/batch/plant construction, brute-force
    // candidate scopes (batch×corpus + batch-internal smaller-id-wins) with
    // the identical integer Jaccard and (jac DESC, id ASC) best match
    "q_doc_incr_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
corpus AS (SELECT doc_id, text FROM base WHERE doc_id % 4 <> 0),
batch AS (
  SELECT doc_id, text FROM base WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 1000000,
    array_to_string(list_slice(string_split(text, ' '), 1,
      len(string_split(text, ' ')) - 2), ' ')
  FROM base WHERE doc_id % 4 <> 0 AND doc_id % 20 = 10
  UNION ALL
  SELECT doc_id + 2000000,
    array_to_string(list_slice(string_split(text, ' '), 1,
      len(string_split(text, ' ')) - 2), ' ')
  FROM base WHERE doc_id % 40 = 0),
shc AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(string_split(text,' ')) < 3
      THEN [array_to_string(string_split(text,' '), ' ')]
      ELSE list_transform(range(0, len(string_split(text,' ')) - 2),
           i -> array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' ')) END) AS s
  FROM corpus),
shb AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(string_split(text,' ')) < 3
      THEN [array_to_string(string_split(text,' '), ' ')]
      ELSE list_transform(range(0, len(string_split(text,' ')) - 2),
           i -> array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' ')) END) AS s
  FROM batch),
cand AS (
  SELECT b.doc_id, c.doc_id AS match_id,
    1000 * len(list_intersect(b.s, c.s))
      // len(list_distinct(list_concat(b.s, c.s))) AS jac_milli
  FROM shb b, shc c
  UNION ALL
  SELECT b2.doc_id, b1.doc_id,
    1000 * len(list_intersect(b2.s, b1.s))
      // len(list_distinct(list_concat(b2.s, b1.s)))
  FROM shb b1 JOIN shb b2 ON b1.doc_id < b2.doc_id),
best AS (
  SELECT doc_id, match_id, jac_milli,
    ROW_NUMBER() OVER (PARTITION BY doc_id
      ORDER BY jac_milli DESC, match_id) AS rn
  FROM cand WHERE jac_milli >= 200)
SELECT b.doc_id, s.doc_id IS NULL AS keep, s.match_id AS dup_of,
  s.jac_milli
FROM batch b LEFT JOIN (SELECT * FROM best WHERE rn = 1) s USING (doc_id)
ORDER BY b.doc_id""",

    // ---- mirror: dedup clusters (connected components over exact pairs) ----
    // transitive closure via recursive CTE — an algorithm entirely different
    // from the engine's large/small-star rounds, same fixpoint
    "q_doc_dedup_components" ->
      """WITH RECURSIVE sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(string_split(text,' ')) < 3
      THEN [array_to_string(string_split(text,' '), ' ')]
      ELSE list_transform(range(0, len(string_split(text,' ')) - 2),
           i -> array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' ')) END) AS s
  FROM documents),
pr AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.2::DOUBLE),
ed AS (SELECT id1 AS a, id2 AS b FROM pr UNION SELECT id2, id1 FROM pr
       UNION SELECT id1, id1 FROM pr UNION SELECT id2, id2 FROM pr),
reach(a, b) AS (SELECT a, b FROM ed UNION SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
SELECT doc_id, component, doc_id = component AS is_survivor FROM comp ORDER BY doc_id""",

    // ---- embeddings --------------------------------------------------------
    // hard negatives: the q_emb_topk construction with the self-exclusion
    // replaced by a label-difference test
    "q_emb_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, label AS q_label,
           CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id % 100 = 0),
cand AS (
  SELECT q.q_id, q.q_label, e.vec_id AS neighbor, e.label AS neighbor_label,
    CAST(ROUND(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) * 1000000000.0::DOUBLE) AS BIGINT) AS cos9
  FROM q, embeddings e WHERE e.label <> q.q_label),
ranked AS (
  SELECT q_id, q_label, neighbor, neighbor_label, cos9,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, neighbor) AS rk
  FROM cand)
SELECT q_id, q_label, rk, neighbor, neighbor_label,
  CAST(cos9 AS DOUBLE) / 1000000000.0::DOUBLE AS cos_sim
FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""",

    // norm audit: the same in-order double accumulation (list_aggregate
    // folds left-to-right like Spark's aggregate), nano-rounded
    "q_emb_norm_audit" ->
      """WITH n AS (
  SELECT CAST(ROUND(SQRT(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) * 1000000000.0::DOUBLE) AS BIGINT) AS norm9
  FROM embeddings)
SELECT norm9 // 10000000 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(MIN(norm9) AS BIGINT) AS min_norm9, CAST(MAX(norm9) AS BIGINT) AS max_norm9,
  CAST(SUM(CASE WHEN ABS(norm9 - 1000000000) <= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_unit
FROM n GROUP BY 1 ORDER BY 1""",

    "q_emb_topk" -> embTopkSql,

    // kNN label classification: the embTopkSql candidate derivation with
    // neighbor labels, the identical (cos9 DESC, neighbor) cut and the
    // (votes DESC, label ASC) majority argmax
    "q_emb_knn_classify" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe,
           label AS true_label FROM embeddings),
cand AS (
  SELECT q.q_id, q.true_label, e.vec_id AS neighbor, e.label,
    CAST(ROUND(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) * 1000000000.0::DOUBLE) AS BIGINT) AS cos9
  FROM q, embeddings e WHERE q.q_id <> e.vec_id),
knn AS (
  SELECT q_id, true_label, label FROM (
    SELECT q_id, true_label, label,
      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, neighbor) AS rk
    FROM cand) WHERE rk <= 5),
vt AS (SELECT q_id, true_label, label, CAST(COUNT(*) AS BIGINT) AS votes
  FROM knn GROUP BY q_id, true_label, label),
sel AS (SELECT q_id, true_label, label, votes,
  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS rn
  FROM vt)
SELECT q_id, true_label, label AS pred_label, votes,
  label = true_label AS correct
FROM sel WHERE rn = 1 ORDER BY q_id""",

    // triangle census of the exact 5-NN graph: the embTopkSql derivation
    // with every vector as a query, canonicalized to undirected a<b edges;
    // triangles counted on the canonical list directly (each {x<y<z} found
    // exactly once as (x,y)⋈(y,z)⋈(x,z)); wedges = Σ d(d−1)//2; clustering
    // = 3T·1e9 // wedges — all BIGINT, no floats anywhere past cos9
    "q_graph_triangles" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings),
cand AS (
  SELECT q.q_id, e.vec_id AS neighbor,
    CAST(ROUND(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) * 1000000000.0::DOUBLE) AS BIGINT) AS cos9
  FROM q, embeddings e WHERE q.q_id <> e.vec_id),
knn AS (
  SELECT q_id, neighbor FROM (
    SELECT q_id, neighbor,
      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, neighbor) AS rk
    FROM cand) WHERE rk <= 5),
und AS (
  SELECT DISTINCT LEAST(q_id, neighbor) AS a, GREATEST(q_id, neighbor) AS b
  FROM knn),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t
  FROM und e1 JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
agg AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
    (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
    (SELECT t FROM tri) AS n_triangles)
SELECT metric, value FROM (
  SELECT 'clustering_ppb' AS metric,
    CAST(CASE WHEN n_wedges = 0 THEN 0
              ELSE (3 * n_triangles * 1000000000) // n_wedges END AS BIGINT) AS value
  FROM agg
  UNION ALL SELECT 'n_edges', n_edges FROM agg
  UNION ALL SELECT 'n_nodes', n_nodes FROM agg
  UNION ALL SELECT 'n_triangles', n_triangles FROM agg
  UNION ALL SELECT 'n_wedges', n_wedges FROM agg)
ORDER BY metric""",

    // Matryoshka truncation recall: the embTopkSql body twice — once on the
    // full vectors (truth), once on the 16-dim prefix (list_slice) — and a
    // pairs-only confusion LEFT JOIN; exact milli recall by integer //
    "q_emb_matryoshka" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id % 100 = 0),
cand AS (
  SELECT q.q_id, e.vec_id AS neighbor,
    CAST(ROUND(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) * 1000000000.0::DOUBLE) AS BIGINT) AS cos9
  FROM q, embeddings e WHERE q.q_id <> e.vec_id),
truth AS (
  SELECT q_id, neighbor FROM (
    SELECT q_id, neighbor,
      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, neighbor) AS rk
    FROM cand) WHERE rk <= 5),
qt AS (SELECT vec_id AS q_id, list_slice(CAST(embedding AS DOUBLE[]), 1, 16) AS qe
       FROM embeddings WHERE vec_id % 100 = 0),
candt AS (
  SELECT q.q_id, e.vec_id AS neighbor,
    CAST(ROUND(list_cosine_similarity(q.qe, list_slice(CAST(e.embedding AS DOUBLE[]), 1, 16)) * 1000000000.0::DOUBLE) AS BIGINT) AS cos9
  FROM qt q, embeddings e WHERE q.q_id <> e.vec_id),
trunc AS (
  SELECT q_id, neighbor FROM (
    SELECT q_id, neighbor,
      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, neighbor) AS rk
    FROM candt) WHERE rk <= 5)
SELECT t.q_id, CAST(COUNT(x.neighbor) AS BIGINT) AS hits,
  (CAST(COUNT(x.neighbor) AS BIGINT) * 1000) // 5 AS recall_milli
FROM truth t LEFT JOIN trunc x ON t.q_id = x.q_id AND t.neighbor = x.neighbor
GROUP BY t.q_id ORDER BY t.q_id""",

    // caption–image alignment: pair join on vec_id 2k ↔ 2k+1, nano-rounded
    // cosine (the q_emb_topk-proven list_cosine_similarity parity), keep at
    // cos9 >= 0
    "q_emb_align" ->
      """WITH img AS (SELECT vec_id // 2 AS pair_id, CAST(embedding AS DOUBLE[]) AS ie
         FROM embeddings WHERE vec_id % 2 = 0),
cap AS (SELECT (vec_id - 1) // 2 AS pair_id, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings WHERE vec_id % 2 = 1),
sc AS (SELECT i.pair_id,
         CAST(ROUND(list_cosine_similarity(i.ie, c.ce) * 1000000000.0::DOUBLE) AS BIGINT) AS cos9
       FROM img i JOIN cap c USING (pair_id))
SELECT pair_id, CAST(cos9 AS DOUBLE) / 1000000000.0::DOUBLE AS cos_sim, cos9 >= 0 AS keep
FROM sc ORDER BY pair_id""",

    // ANN recall harness: per query, how many of the brute-force top-5 the
    // IVF nprobe=4/16 probe actually surfaced — the recall audit every ANN
    // deployment ships. Both sides are the EXISTING proven oracle bodies
    // composed as subqueries; the confusion join is pairs-only.
    "q_emb_ivf_recall" ->
      s"""WITH tr AS ($embTopkSql),
ap AS ($embIvfSql)
SELECT t.q_id,
  CAST(SUM(CASE WHEN a.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
  CAST(5 AS BIGINT) AS k
FROM tr t LEFT JOIN ap a ON a.q_id = t.q_id AND a.neighbor = t.neighbor
GROUP BY t.q_id ORDER BY t.q_id""",

    // IVF: deterministic seed centroids (vec_id < 16), every vector assigned
    // to its argmax-cos9 centroid (ties → smallest cid), queries probe their
    // top-4 lists; exact cosine rank over probed candidates. Mirrors
    // SimOps.ivfTopK exactly (same cos9 rounding + tie-breaks).
    "q_emb_ivf_topk" -> embIvfSql,

    // multi-table sign-LSH ANN replayed end-to-end (pin → TRUE oracle,
    // round-4 session 6): the 8×4×64 hyperplane table is rebuilt from the
    // splitmix64 recipe in HUGEINT (the q_doc_fingerprints 32-bit-split
    // multiply machinery), each dot product is the SAME left-to-right fold
    // Spark's aggregate() runs (list_reduce over a d-ordered product list —
    // IEEE-identical association), sign bits pack into (table, bucket)
    // keys, and candidates = distinct same-bucket pairs ranked by cos9.
    "q_emb_lsh_topk" ->
      """WITH pl0 AS (
  SELECT t, p, d,
    ((t*1000 + p)::HUGEINT * 11400714819323198485::HUGEINT
     + d::HUGEINT * 13787848793156543929::HUGEINT + 19088743::HUGEINT)
    % 18446744073709551616::HUGEINT AS z0
  FROM range(0,8) tt(t), range(0,4) pp(p), range(0,64) dd(d)),
pl1 AS (SELECT t, p, d, xor(z0, z0 >> 30) AS x2 FROM pl0),
pl2 AS (SELECT t, p, d,
  ((x2 % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT
   + (((x2 >> 32) * 484763065::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT)
  % 18446744073709551616::HUGEINT AS z2 FROM pl1),
pl3 AS (SELECT t, p, d, xor(z2, z2 >> 27) AS x3 FROM pl2),
pl4 AS (SELECT t, p, d,
  ((x3 % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT
   + (((x3 >> 32) * 321982955::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT)
  % 18446744073709551616::HUGEINT AS z3 FROM pl3),
pl AS (SELECT t, p, d,
  CAST(xor(z3, z3 >> 31) % 4294967296::HUGEINT AS DOUBLE) / 2147483648.0::DOUBLE - 1.0::DOUBLE AS v
  FROM pl4),
emb2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
dots AS (
  SELECT emb2.vec_id, pl.t AS tbl, pl.p,
    list_reduce(list(emb2.e[pl.d + 1] * pl.v ORDER BY pl.d), (a, b) -> a + b) AS dot
  FROM emb2, pl GROUP BY emb2.vec_id, pl.t, pl.p),
bkt AS (SELECT vec_id, tbl,
  CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id, tbl),
qb AS (SELECT vec_id AS q_id, tbl, bucket FROM bkt WHERE vec_id % 100 = 0),
cand AS (SELECT DISTINCT qb.q_id, b.vec_id
         FROM qb JOIN bkt b ON b.tbl = qb.tbl AND b.bucket = qb.bucket AND b.vec_id <> qb.q_id),
sc AS (SELECT c.q_id, c.vec_id AS neighbor,
  CAST(ROUND(list_cosine_similarity(q.e, e2.e) * 1000000000.0::DOUBLE) AS BIGINT) AS cos9
  FROM cand c JOIN emb2 q ON q.vec_id = c.q_id JOIN emb2 e2 ON e2.vec_id = c.vec_id),
ranked AS (SELECT q_id, neighbor, cos9,
  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos9 DESC, neighbor) AS rk FROM sc)
SELECT q_id, rk, neighbor, CAST(cos9 AS DOUBLE) / 1000000000.0::DOUBLE AS cos_sim
FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""",

    // brute-force near-dup ground truth over base ∪ planted twins (the query
    // plants a twin per vec_id%50==0 with element 1 halved — exact in float
    // and double, so CAST(embedding[1] AS DOUBLE)*0.5 equals the Spark float).
    // Gates LSH recall = 1: every all-pairs cosine >= 0.9 must be surfaced.
    "q_emb_near_dups" ->
      """WITH emb2 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000,
    list_concat([CAST(embedding[1] AS DOUBLE) * 0.5::DOUBLE], CAST(embedding[2:] AS DOUBLE[]))
  FROM embeddings WHERE vec_id % 50 = 0)
SELECT a.vec_id AS id1, b.vec_id AS id2,
  ROUND(list_cosine_similarity(a.e, b.e), 6) AS cos
FROM emb2 a JOIN emb2 b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.e, b.e) >= 0.9::DOUBLE
ORDER BY id1, id2""",

    // SemDeDup replayed verbatim: the q_emb_near_dups planted-twin corpus,
    // the IVF seed-centroid assignment (argmax cos9, ties → smallest cid),
    // within-cluster pairs at cos9 >= 9e8, recursive-CTE duplicate closure,
    // and the keeper window (lowest centroid-cos9, then vec_id)
    "q_emb_semdedup" ->
      """WITH RECURSIVE emb2 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000,
    list_concat([CAST(embedding[1] AS DOUBLE) * 0.5::DOUBLE], CAST(embedding[2:] AS DOUBLE[]))
  FROM embeddings WHERE vec_id % 50 = 0),
cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
         FROM embeddings WHERE vec_id < 16),
scored AS (
  SELECT emb2.vec_id, emb2.e, cent.cid,
    CAST(ROUND(list_cosine_similarity(emb2.e, cent.ce) * 1000000000.0::DOUBLE) AS BIGINT) AS c9,
    ROW_NUMBER() OVER (PARTITION BY emb2.vec_id ORDER BY
      CAST(ROUND(list_cosine_similarity(emb2.e, cent.ce) * 1000000000.0::DOUBLE) AS BIGINT) DESC,
      cent.cid) AS crk
  FROM emb2, cent),
assign AS (SELECT vec_id, e, cid AS list_id, c9 AS cent_cos9 FROM scored WHERE crk = 1),
pr AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM assign a JOIN assign b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE CAST(ROUND(list_cosine_similarity(a.e, b.e) * 1000000000.0::DOUBLE) AS BIGINT)
        >= 900000000),
ed AS (SELECT id1 AS a, id2 AS b FROM pr UNION SELECT id2, id1 FROM pr
       UNION SELECT id1, id1 FROM pr UNION SELECT id2, id2 FROM pr),
reach(a, b) AS (SELECT a, b FROM ed
                UNION SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
comp AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a),
assigned2 AS (
  SELECT s.vec_id, s.list_id, s.cent_cos9,
    COALESCE(c.component, s.vec_id) AS component
  FROM assign s LEFT JOIN comp c USING (vec_id)),
ranked AS (
  SELECT vec_id, list_id, component, cent_cos9,
    ROW_NUMBER() OVER (PARTITION BY component ORDER BY cent_cos9, vec_id) AS krk
  FROM assigned2)
SELECT vec_id, list_id, component, cent_cos9, krk = 1 AS keep
FROM ranked ORDER BY vec_id""",

    // image phash near-dups: brute-force hamming over base ∪ planted twins
    // (phash formula mirrored from Synth.images; twin = xor 5, hamming 2)
    "q_image_phash_dups" ->
      """WITH base AS (
  SELECT 'img' || o_orderkey AS image_id,
    ((o_orderkey * 48271 + 11) % 2147483647) * 2147483648
      + ((o_orderkey * 69621 + 7) % 2147483647) AS phash
  FROM orders),
all_imgs AS (
  SELECT image_id, phash FROM base
  UNION ALL
  SELECT image_id || '_d', xor(phash, 5) FROM base WHERE phash % 64 = 0)
SELECT a.image_id AS id1, b.image_id AS id2,
  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM all_imgs a JOIN all_imgs b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
ORDER BY id1, id2""",

    // optimizer-rule twin: the naive theta-join rewritten by
    // HammingJoinRewrite must equal the brute-force pair set — same oracle
    // construction as q_image_phash_dups
    "q_rule_hamming_join" ->
      """WITH base AS (
  SELECT 'img' || o_orderkey AS image_id,
    ((o_orderkey * 48271 + 11) % 2147483647) * 2147483648
      + ((o_orderkey * 69621 + 7) % 2147483647) AS phash
  FROM orders),
all_imgs AS (
  SELECT image_id, phash FROM base
  UNION ALL
  SELECT image_id || '_d', xor(phash, 5) FROM base WHERE phash % 64 = 0)
SELECT a.image_id AS id1, b.image_id AS id2,
  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM all_imgs a JOIN all_imgs b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
ORDER BY id1, id2""",

    // optimizer-rule range join: the naive point-in-interval (BETWEEN)
    // theta-join rewritten by RangeJoinRewrite must equal this brute-force
    // join; promo windows are the same integer arithmetic over orders keys
    "q_rule_range_join" ->
      """WITH iv AS (
  SELECT o_orderkey,
    1704067200000000 + ((o_orderkey * 40503) % 2592000) * 1000000 AS s,
    1704067200000000 + ((o_orderkey * 40503) % 2592000) * 1000000
      + (300 + (o_orderkey % 97) * 60) * 1000000 AS e
  FROM orders)
SELECT iv.o_orderkey, COUNT(*) AS n_events,
  CAST(SUM(ev.event_id) AS BIGINT) AS sum_eid
FROM iv JOIN events ev
  ON epoch_us(ev.ts) >= iv.s AND epoch_us(ev.ts) <= iv.e
GROUP BY iv.o_orderkey
ORDER BY iv.o_orderkey""",

    // interval-overlap twin: brute-force sA<=eB AND sB<=eA over the same
    // promo windows × per-event activity windows
    "q_events_interval_join" ->
      """WITH iv AS (
  SELECT o_orderkey,
    1704067200000000 + ((o_orderkey * 40503) % 2592000) * 1000000 AS s,
    1704067200000000 + ((o_orderkey * 40503) % 2592000) * 1000000
      + (300 + (o_orderkey % 97) * 60) * 1000000 AS e
  FROM orders),
aw AS (
  SELECT event_id, epoch_us(ts) AS s2,
    epoch_us(ts) + (60 + event_id % 540) * 1000000 AS e2
  FROM events)
SELECT iv.o_orderkey, COUNT(*) AS n_overlaps,
  CAST(SUM(aw.event_id) AS BIGINT) AS sum_eid
FROM iv JOIN aw ON iv.s <= aw.e2 AND aw.s2 <= iv.e
GROUP BY iv.o_orderkey
ORDER BY iv.o_orderkey""",

    // phash components: the brute-force ≤3-hamming pair graph closed with a
    // recursive CTE (same construction as q_doc_dedup_components) —
    // component = min image_id, survivor = the minimum itself
    "q_image_phash_components" ->
      """WITH RECURSIVE base AS (
  SELECT 'img' || o_orderkey AS image_id,
    ((o_orderkey * 48271 + 11) % 2147483647) * 2147483648
      + ((o_orderkey * 69621 + 7) % 2147483647) AS phash
  FROM orders),
all_imgs AS (
  SELECT image_id, phash FROM base
  UNION ALL
  SELECT image_id || '_d', xor(phash, 5) FROM base WHERE phash % 64 = 0),
pr AS (
  SELECT a.image_id AS id1, b.image_id AS id2
  FROM all_imgs a JOIN all_imgs b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
ed AS (SELECT id1 AS a, id2 AS b FROM pr UNION SELECT id2, id1 FROM pr
       UNION SELECT id1, id1 FROM pr UNION SELECT id2, id2 FROM pr),
reach(a, b) AS (SELECT a, b FROM ed
                UNION SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
comp AS (SELECT a AS image_id, min(b) AS component FROM reach GROUP BY a)
SELECT image_id, component, image_id = component AS is_survivor
FROM comp ORDER BY image_id""",

    // ---- events ------------------------------------------------------------
    // value is summed as integer micro-units (floor(value*1e6) is the same
    // double op in both engines; BIGINT SUM is order-insensitive, unlike
    // double SUM under Spark's partial aggregation). Every SUM is wrapped in
    // CAST(... AS BIGINT): DuckDB widens SUM(BIGINT) to HUGEINT (int128),
    // Spark emits BIGINT, and the driver's hash is type-sensitive.
    "q_events_tumbling" -> eventsTumblingSql,

    // the STREAMING twin replays the same events through Structured
    // Streaming (MemoryStream → tumblingCounts) and must land on the exact
    // same oracle rows as the batch aggregate — one oracle, two engines
    "q_stream_tumbling" -> eventsTumblingSql,

    // streaming windowed top-k twin: the batch ROW_NUMBER cut over the same
    // micro-exact values and the TopKAgg total order (v DESC, tag ASC)
    "q_stream_topk" ->
      """SELECT window_start_sec, rk, user_id, value_micro FROM (
  SELECT (epoch_us(ts) // 300000000) * 300 AS window_start_sec,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY epoch_us(ts) // 300000000
      ORDER BY CAST(FLOOR(value * 1000000.0::DOUBLE) AS BIGINT) DESC, user_id) AS BIGINT) AS rk,
    user_id,
    CAST(FLOOR(value * 1000000.0::DOUBLE) AS BIGINT) AS value_micro
  FROM events)
WHERE rk <= 3 ORDER BY window_start_sec, rk""",

    // sliding-window stream twin: Spark assigns event ts to windows starting
    // at (⌊ts/slide⌋ − i)·slide for i ∈ {0,1} (window=600s, slide=300s) —
    // replayed as a 2-offset cross join over the same micro-exact values
    "q_stream_sliding" ->
      """SELECT event_type,
  ((epoch_us(ts) // 300000000) - i) * 300 AS window_start_sec,
  COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(value * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS sum_value_micro
FROM events, (VALUES (0), (1)) t(i)
GROUP BY event_type, ((epoch_us(ts) // 300000000) - i) * 300
ORDER BY event_type, window_start_sec""",

    "q_events_sessions" -> eventsSessionsSql,

    // streaming flatMapGroupsWithState sessionization vs the same
    // window-function closed form the batch twin is gated on
    "q_stream_sessions" -> eventsSessionsSql,

    // funnel: MIRROR — chained per-user first-occurrence frontiers with
    // strict-after joins; min() + strict `>` make it tie-insensitive
    // Markov transition matrix: the same LEAD over (ts µs, event_id) per
    // user, counts per (from, to), exact ppm row normalization
    "q_events_markov" ->
      """WITH tr AS (
  SELECT event_type AS f,
    LEAD(event_type) OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS t
  FROM events),
c AS (
  SELECT f AS from_type, t AS to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM tr WHERE t IS NOT NULL GROUP BY f, t),
tt AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY from_type)
SELECT c.from_type, c.to_type, c.n,
  CAST((c.n * 1000000) // tt.tot AS BIGINT) AS p_ppm
FROM c JOIN tt USING (from_type) ORDER BY from_type, to_type""",

    // inter-arrival: identical per-user lag gaps in integer micros
    "q_events_interarrival" ->
      """WITH g AS (
  SELECT user_id,
    epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      ORDER BY epoch_us(ts), event_id) AS gap
  FROM events)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
  CAST(MIN(gap) AS BIGINT) AS min_gap_us,
  CAST(MAX(gap) AS BIGINT) AS max_gap_us,
  CAST(SUM(gap) AS BIGINT) AS sum_gap_us,
  CAST(SUM(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_session_breaks
FROM g WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id""",

    // spend Gini: identical ranked-totals rational
    "q_events_gini" ->
      """WITH t AS (
  SELECT user_id,
    CAST(SUM(CAST(FLOOR(value * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY user_id),
r AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x, user_id) AS BIGINT) AS i
  FROM t),
ag AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
    CAST(SUM(x) AS BIGINT) AS total_micro, CAST(SUM(i * x) AS BIGINT) AS ix
  FROM r)
SELECT n_users, total_micro,
  CAST(2 * ix - (n_users + 1) * total_micro AS BIGINT) AS gini_num,
  CAST(n_users * total_micro AS BIGINT) AS gini_den,
  CAST(1000 * (2 * ix - (n_users + 1) * total_micro)
    // (n_users * total_micro) AS BIGINT) AS gini_milli
FROM ag""",

    // behavioral entropy: identical per-user identity and threshold
    "q_events_entropy" ->
      """WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type),
ag AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
    CAST(COUNT(*) AS BIGINT) AS n_types,
    CAST(SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS acc
  FROM c GROUP BY user_id)
SELECT user_id, n_events, n_types,
  CAST(n_events * CAST(ROUND(LN(CAST(n_events AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT) - acc AS BIGINT) AS ent_num,
  n_events * CAST(ROUND(LN(CAST(n_events AS DOUBLE)) * 1000000000.0::DOUBLE) AS BIGINT) - acc
    >= 1580000000 * n_events AS balanced
FROM ag ORDER BY user_id""",

    // lag cross-correlation: identical zero-filled grid and exact sums
    "q_events_lag_corr" ->
      """WITH b AS (
  SELECT epoch_us(ts) // 600000000 AS bucket, event_type FROM events),
rng AS (SELECT MIN(bucket) AS b0, MAX(bucket) AS b1 FROM b),
grid AS (SELECT unnest(range(b0, b1 + 1)) AS bucket FROM rng),
xs AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS xc FROM b
  WHERE event_type = 'view' GROUP BY bucket),
ys AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS yc FROM b
  WHERE event_type = 'purchase' GROUP BY bucket),
ser AS (
  SELECT g.bucket, COALESCE(x.xc, 0) AS x, COALESCE(y.yc, 0) AS y
  FROM grid g LEFT JOIN xs x USING (bucket) LEFT JOIN ys y USING (bucket)),
lg AS (SELECT unnest([0, 1, 2, 3]) AS lag),
ag AS (
  SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(SUM(a.x) AS BIGINT) AS sum_x, CAST(SUM(bb.y) AS BIGINT) AS sum_y,
    CAST(SUM(a.x * bb.y) AS BIGINT) AS sum_xy,
    CAST(SUM(a.x * a.x) AS BIGINT) AS sum_x2,
    CAST(SUM(bb.y * bb.y) AS BIGINT) AS sum_y2
  FROM lg l JOIN ser a ON TRUE JOIN ser bb ON bb.bucket = a.bucket + l.lag
  GROUP BY l.lag)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs, sum_x, sum_y, sum_xy,
  CAST(n_pairs * sum_xy - sum_x * sum_y AS BIGINT) AS cov_num,
  CAST(n_pairs * sum_x2 - sum_x * sum_x AS BIGINT) AS varx_num,
  CAST(n_pairs * sum_y2 - sum_y * sum_y AS BIGINT) AS vary_num
FROM ag ORDER BY lag""",

    // A/B chi-square: identical 2×2 cells and exact rational
    "q_events_ab_chi2" ->
      """WITH conv AS (
  SELECT user_id, user_id % 2 AS bucket,
    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 1000000.0::DOUBLE) AS BIGINT)
                  ELSE 0 END) >= 600000000 THEN 1 ELSE 0 END AS cv
  FROM events GROUP BY user_id),
cells AS (
  SELECT
    CAST(SUM(CASE WHEN bucket = 0 AND cv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN bucket = 0 AND cv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN bucket = 1 AND cv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN bucket = 1 AND cv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM conv)
SELECT a + b + c + d AS n_users, a, b, c, d,
  CAST((a + b + c + d) * (a * d - b * c) * (a * d - b * c) AS BIGINT) AS chi2_num,
  CAST((a + b) * (c + d) * (a + c) * (b + d) AS BIGINT) AS chi2_den,
  1000 * ((a + b + c + d) * (a * d - b * c) * (a * d - b * c))
    >= 3841 * ((a + b) * (c + d) * (a + c) * (b + d)) AS significant_05
FROM cells""",

    // z-score outliers: identical integer inequality on milli values
    "q_events_zscore" ->
      """WITH ev AS (
  SELECT user_id, CAST(FLOOR(value * 1000.0::DOUBLE) AS BIGINT) AS x
  FROM events),
st AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s1,
    CAST(SUM(x * x) AS BIGINT) AS s2
  FROM ev GROUP BY user_id),
fl AS (
  SELECT e.user_id, s.n, s.s1, s.n * s.s2 - s.s1 * s.s1 AS var_num,
    s.n * e.x - s.s1 AS dev
  FROM ev e JOIN st s USING (user_id))
SELECT user_id, MIN(n) AS n_events, MIN(s1) AS sum_milli,
  CAST(MIN(var_num) AS BIGINT) AS var_num,
  CAST(SUM(CASE WHEN 4 * dev * dev >= 9 * var_num AND dev <> 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM fl GROUP BY user_id ORDER BY user_id""",

    // CUSUM: the identical per-user serial recurrence replayed by a
    // recursive CTE over (ts_us, event_id)-ranked rows, integer micros
    // end to end (target 60e6, threshold 400e6)
    "q_events_cusum" ->
      """WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
    CAST(FLOOR(value * 1000000.0::DOUBLE) AS BIGINT) AS v6,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS rn
  FROM events),
rec AS (
  SELECT user_id, rn, ts_us,
    CASE WHEN GREATEST(0::BIGINT, v6 - 60000000) >= 400000000
         THEN 0::BIGINT ELSE GREATEST(0::BIGINT, v6 - 60000000) END AS s,
    CASE WHEN GREATEST(0::BIGINT, v6 - 60000000) >= 400000000
         THEN 1::BIGINT ELSE 0::BIGINT END AS n_alarms,
    CASE WHEN GREATEST(0::BIGINT, v6 - 60000000) >= 400000000
         THEN ts_us ELSE -1::BIGINT END AS first_ts,
    GREATEST(0::BIGINT, v6 - 60000000) AS peak
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.ts_us,
    CASE WHEN GREATEST(0::BIGINT, r.s + e.v6 - 60000000) >= 400000000
         THEN 0::BIGINT ELSE GREATEST(0::BIGINT, r.s + e.v6 - 60000000) END,
    r.n_alarms + CASE WHEN GREATEST(0::BIGINT, r.s + e.v6 - 60000000) >= 400000000
         THEN 1::BIGINT ELSE 0::BIGINT END,
    CASE WHEN r.first_ts < 0 AND GREATEST(0::BIGINT, r.s + e.v6 - 60000000) >= 400000000
         THEN e.ts_us ELSE r.first_ts END,
    GREATEST(r.peak, GREATEST(0::BIGINT, r.s + e.v6 - 60000000))
  FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1),
fin AS (SELECT user_id, MAX(rn) AS mx FROM rec GROUP BY user_id)
SELECT r.user_id, CAST(f.mx AS BIGINT) AS n_events, r.n_alarms,
  r.first_ts AS first_alarm_ts, r.peak AS peak_s
FROM rec r JOIN fin f ON f.user_id = r.user_id AND r.rn = f.mx
ORDER BY r.user_id""",

    // streaming CUSUM: the identical recurrence, emitting ONE ROW PER
    // ALARM (step ≥ h) with its running alarm index and the pre-reset s
    "q_stream_cusum" ->
      """WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
    CAST(FLOOR(value * 1000000.0::DOUBLE) AS BIGINT) AS v6,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS rn
  FROM events),
rec AS (
  SELECT user_id, rn, ts_us,
    GREATEST(0::BIGINT, v6 - 60000000) AS step,
    CASE WHEN GREATEST(0::BIGINT, v6 - 60000000) >= 400000000
         THEN 0::BIGINT ELSE GREATEST(0::BIGINT, v6 - 60000000) END AS s,
    CASE WHEN GREATEST(0::BIGINT, v6 - 60000000) >= 400000000
         THEN 1::BIGINT ELSE 0::BIGINT END AS n_alarms
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.ts_us,
    GREATEST(0::BIGINT, r.s + e.v6 - 60000000),
    CASE WHEN GREATEST(0::BIGINT, r.s + e.v6 - 60000000) >= 400000000
         THEN 0::BIGINT ELSE GREATEST(0::BIGINT, r.s + e.v6 - 60000000) END,
    r.n_alarms + CASE WHEN GREATEST(0::BIGINT, r.s + e.v6 - 60000000) >= 400000000
         THEN 1::BIGINT ELSE 0::BIGINT END
  FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
SELECT user_id, n_alarms AS alarm_idx, ts_us,
  CAST(step AS BIGINT) AS s_at_alarm
FROM rec WHERE step >= 400000000 ORDER BY user_id, alarm_idx""",

    "q_events_funnel" ->
      """WITH f1 AS (
  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'signup' GROUP BY user_id),
f2 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN f1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > f1.t GROUP BY e.user_id),
f3 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN f2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > f2.t GROUP BY e.user_id),
f4 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN f3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > f3.t GROUP BY e.user_id)
SELECT * FROM (
  SELECT 1 AS stage, 'signup' AS event_type, CAST(COUNT(*) AS BIGINT) AS n_users FROM f1
  UNION ALL
  SELECT 2, 'view', CAST(COUNT(*) AS BIGINT) FROM f2
  UNION ALL
  SELECT 3, 'click', CAST(COUNT(*) AS BIGINT) FROM f3
  UNION ALL
  SELECT 4, 'purchase', CAST(COUNT(*) AS BIGINT) FROM f4)
ORDER BY stage""",

    // retention: MIRROR — integer epoch-week cohorts, distinct activity
    "q_events_retention" ->
      """WITH ev AS (
  SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
coh AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id),
act AS (
  SELECT DISTINCT c.cohort_week, e.week - c.cohort_week AS week_offset, e.user_id
  FROM ev e JOIN coh c USING (user_id))
SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_users
FROM act GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset""",

    // as-of join: Spark runs the union-merge window form; the oracle is
    // DuckDB's NATIVE ASOF LEFT JOIN — an independent implementation of the
    // same inclusive at-or-before semantics. The right side is collapsed
    // per (user_id, ts_us) with max(event_id) in both engines so ties are
    // deterministic.
    "q_events_asof" ->
      """WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
v AS (
  SELECT user_id, ts_us, CAST(MAX(event_id) AS BIGINT) AS right_id,
    CAST(MAX(CAST(FLOOR(value * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT) AS right_value_micro
  FROM ev WHERE event_type = 'view' GROUP BY user_id, ts_us),
p AS (
  SELECT user_id, ts_us, event_id FROM ev WHERE event_type = 'purchase')
SELECT p.user_id, p.event_id AS left_id, p.ts_us AS left_ts_us,
  v.right_id, v.ts_us AS right_ts_us, v.right_value_micro
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
ORDER BY p.user_id, left_ts_us, left_id""",

    // streaming exact-dedup twin: survivor truth is the window minimum per
    // md5 digest (same digest formula both engines, like q_doc_curation);
    // every 7th doc re-emitted under doc_id+1e6 so duplicates exist
    "q_stream_dedup" ->
      """WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0)
SELECT doc_id, md5(text) AS digest,
  doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_first
FROM docs2 ORDER BY doc_id""",

    // stream-stream interval join twin: the batch interval join over the
    // same deterministically-derived ping/caption feeds
    "q_stream_join" ->
      s"""WITH $imgCte,
sliced AS (
  SELECT * FROM imgs WHERE CAST(SUBSTRING(image_id, 4) AS BIGINT) % 11 = 0),
pings AS (
  SELECT image_id, lat, lon, 1767225600 + (u % 240) AS ping_sec FROM sliced),
caps AS (
  SELECT image_id, 'c' || image_id AS caption,
    1767225600 + (u % 240) + (v % 360) - 180 AS cap_sec
  FROM sliced WHERE v % 3 = 0)
SELECT p.image_id, p.lat, p.lon, CAST(p.ping_sec AS BIGINT) AS ping_sec,
  CAST(c.cap_sec AS BIGINT) AS cap_sec, c.caption
FROM pings p JOIN caps c ON p.image_id = c.image_id
  AND c.cap_sec BETWEEN p.ping_sec - 120 AND p.ping_sec + 120
ORDER BY p.image_id, cap_sec""",

    // LEFT OUTER stream twin: the inner rows plus one null-padded row per
    // unmatched ping whose join horizon (ping_sec + 120) lies strictly
    // below the global watermark = LEAST(max ping ts, max cap ts) − 120;
    // younger unmatched pings stay pending in state and never emit in the
    // bounded replay — the oracle applies the identical cutoff
    "q_stream_left_join" ->
      s"""WITH $imgCte,
sliced AS (
  SELECT * FROM imgs WHERE CAST(SUBSTRING(image_id, 4) AS BIGINT) % 11 = 0),
pings AS (
  SELECT image_id, lat, lon, 1767225600 + (u % 3600) AS ping_sec FROM sliced),
caps AS (
  SELECT image_id, 'c' || image_id AS caption,
    1767225600 + (u % 3600) + (v % 360) - 180 AS cap_sec
  FROM sliced WHERE v % 3 = 0),
wm AS (SELECT LEAST((SELECT MAX(ping_sec) FROM pings),
                    (SELECT MAX(cap_sec) FROM caps)) - 120 AS w)
SELECT p.image_id, p.lat, p.lon, CAST(p.ping_sec AS BIGINT) AS ping_sec,
  CAST(c.cap_sec AS BIGINT) AS cap_sec, c.caption
FROM pings p JOIN caps c ON p.image_id = c.image_id
  AND c.cap_sec BETWEEN p.ping_sec - 120 AND p.ping_sec + 120
UNION ALL
SELECT p.image_id, p.lat, p.lon, CAST(p.ping_sec AS BIGINT),
  CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
FROM pings p, wm
WHERE p.ping_sec + 120 < wm.w
  AND NOT EXISTS (
    SELECT 1 FROM caps c WHERE c.image_id = p.image_id
      AND c.cap_sec BETWEEN p.ping_sec - 120 AND p.ping_sec + 120)
ORDER BY image_id, cap_sec""",

    // exact discrete quantiles: CLOSED FORM by rank — row_number over the
    // sorted column picks the floor(q*(n-1))-th value (0-indexed). The
    // value at a fixed rank is unique regardless of tie order, so this is
    // deterministic; the Spark side must land on it through the
    // histogram-narrowing path with zero knowledge shared.
    "q_quantiles_exact" ->
      """WITH t AS (SELECT l_extendedprice AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
n AS (SELECT COUNT(*) AS c FROM t),
r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS rn FROM t),
qs AS (SELECT * FROM (VALUES (0.25::DOUBLE),(0.5::DOUBLE),(0.75::DOUBLE),(0.9::DOUBLE),(0.99::DOUBLE)) AS x(q))
SELECT qs.q AS q, r.v AS value
FROM qs, n, r
WHERE r.rn = CAST(FLOOR(qs.q * CAST(n.c - 1 AS DOUBLE)) AS BIGINT)
ORDER BY qs.q""",

    // ---- relational anchors -------------------------------------------------
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
  ROUND(SUM(l_extendedprice * (1.0::DOUBLE - l_discount)), 4) AS revenue,
  COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",

    // Q5 anchor: revenue floored to integer micros BEFORE the sum in both
    // engines, so the grouped total is exact regardless of join/partition
    // order
    "q5_local_supplier" ->
      """SELECT n_name,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0::DOUBLE - l_discount) * 1e6) AS BIGINT)) AS BIGINT)
    AS revenue_micro,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue_micro DESC, n_name""",

    "q_join_topn" ->
      """WITH rev AS (
  SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS revenue, COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT c.c_custkey, c.c_name, r.revenue, r.n_orders,
    ROW_NUMBER() OVER (ORDER BY r.revenue DESC, c.c_custkey) AS rk
  FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey)
SELECT c_custkey, c_name, revenue, n_orders, rk
FROM ranked WHERE rk <= 20 ORDER BY rk""",

    // the k-bounded aggregate must equal the window form exactly (total
    // order: cents DESC, orderkey ASC)
    "q_topk_agg" ->
      """WITH c AS (
  SELECT o_orderpriority, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY cents DESC, o_orderkey) AS rk
  FROM c)
SELECT o_orderpriority, CAST(rk AS BIGINT) AS rk, o_orderkey, cents
FROM r WHERE rk <= 3 ORDER BY o_orderpriority, rk""",

    // the bloom-pruned join is row-identical to the plain join by
    // construction (no false negatives; the exact join removes false
    // positives) — so the oracle IS the plain join
    "q_join_bloom_prune" ->
      """SELECT l.l_returnflag,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F'
GROUP BY l.l_returnflag ORDER BY l.l_returnflag"""
  )
}
