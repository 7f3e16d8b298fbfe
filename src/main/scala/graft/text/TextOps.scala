package graft.text

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exprs.fns
import graft.ops.Bands

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline surface (builder brief): exact dedup,
  * MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard, language ID,
  * quality scoring, token counting, rolling-hash fingerprinting.
  * Everything oracle-checkable is built from mirrored-SQL-able primitives;
  * the hash-based ops (minhash/simhash/fingerprint) are unit-tested against
  * brute force instead.
  */
object TextOps {

  def tokensCol(text: Column): Column = split(text, " ")

  /** whitespace token count + a BPE-ish regex token count
    * (letters / digits / single other). */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
        .as("re_tokens"),
      length(col("text")).as("n_chars_computed"))

  /** canonical text normalization — the standard pre-pass before exact/near
    * dedup (case-fold, strip non-alphanumerics, collapse whitespace): two
    * byte-different crawls of the same page normalize to equal keys. Pure
    * per-row expressions (codegen'd, no shuffle); only ASCII-class regexes so
    * Java (Spark) and RE2 (DuckDB oracle) agree exactly. */
  def normalize(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    docs.select(
      col("doc_id"),
      norm.as("norm_text"),
      size(split(norm, " ")).as("n_tokens"))
  }

  /** quality scoring: mean word length, stopword ratio, alpha ratio,
    * composite score. Deterministic arithmetic (mirrored in oracle SQL). */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val stop = size(filter(toks, t => t.isin("the", "a", "of", "and"))).cast("double")
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      ((length(col("text")).cast("double") - (nTok - lit(1.0))) / nTok).as("mean_word_len"),
      (stop / nTok).as("stopword_ratio"),
      (size(regexp_extract_all(col("text"), lit("[a-zA-Z]"), lit(0))).cast("double") /
        length(col("text")).cast("double")).as("alpha_ratio"))
      .withColumn("quality",
        when(col("n_tokens") >= 10 && col("stopword_ratio") > 0.01, lit(1.0))
          .otherwise(col("stopword_ratio") * lit(50.0)))
  }

  /** n-gram-overlap language ID: per-language marker-token hit counts,
    * argmax with alphabetical tie-break. Marker lists are fixed (public
    * stopword heuristics). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "de", "et", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langId(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val scored = langMarkers.foldLeft(docs.select(col("doc_id"), toks.as("toks"))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang",
          size(filter(col("toks"), t => t.isin(markers.map(m => m: Any): _*))))
    }
    // argmax by (score desc, lang asc)
    val structs = array(langMarkers.map { case (lang, _) =>
      struct((-col(s"score_$lang")).as("neg"), lit(lang).as("lang"))
    }: _*)
    scored.select(col("doc_id"),
      element_at(array_sort(structs), 1).getField("lang").as("pred_lang"),
      element_at(array_sort(structs), 1).getField("neg").as("neg_best"))
      .select(col("doc_id"), col("pred_lang"), (-col("neg_best")).as("best_score"))
  }

  /** exact dedup: groupBy a 64-bit hash of the text, so the shuffle carries an
    * 8-byte key instead of the document payload (at 100 TB the payload is the
    * whole table). Collision risk is the standard n²/2^65 birthday bound
    * (~3e-7 at 10^9 docs); a paranoid caller can re-verify groups with a
    * second independent hash or byte-compare within the (tiny) dupe groups.
    */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(xxhash64(col("text")).as("text_h"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dupes"))
      .select(col("keep_doc_id"), col("dupes"))

  /** deterministic sampling bucket in [0, buckets): Knuth multiplicative
    * hash, mod-first so the product never exceeds ~2.7e15 (BIGINT-safe in
    * every engine — the same formula runs verbatim in the DuckDB oracle).
    * Reproducible by construction: re-running the pipeline, or running it on
    * a different cluster, selects the SAME sample — the property a training
    * corpus needs that rand()-sampling can't give. Map-side only, no
    * shuffle, no state. */
  def sampleBucket(key: Column, buckets: Int = 1 << 20): Column =
    pmod(pmod(key, lit(1000003L)) * lit(2654435761L), lit(buckets.toLong))

  /** vocabulary heavy-hitters: top-N tokens per language by exact count
    * (ties → lexicographically smaller token, engine-reproducible). Shape:
    * one partial-aggregated groupBy (token counts) + a per-language top-N
    * window over the ALREADY-AGGREGATED rows — the window input is
    * |vocabulary|, not |corpus|, so the rank never sees raw tokens. */
  def vocabTopN(docs: DataFrame, n: Int): DataFrame = {
    val counts = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tok"))
    counts.withColumn("rk", row_number().over(w)).filter(col("rk") <= n)
      .select("lang", "rk", "tok", "n")
  }

  /** SOURCE MIXING — the training-data mixture primitive: each source gets
    * a target weight w ≥ 0; every document is emitted floor(w) times, plus
    * one more copy iff its deterministic sample bucket falls under the
    * fractional remainder — so a source at w=1.5 is upsampled 1.5×, at
    * w=0.25 downsampled to a quarter, and the realized mixture converges to
    * the target weights with zero randomness: the same corpus mixes
    * identically on every run and cluster (epoch seeds go in `rep`).
    * Map-side only (a per-row `sequence` explode, no shuffle, no state);
    * weights whose fractional part is an exact binary fraction (.5, .25,
    * .75…) make the bucket threshold exact in every engine. */
  def mixSources(docs: DataFrame, weights: Map[String, Double],
                 buckets: Int = 1 << 20): DataFrame = {
    val wCol = weights.foldLeft(lit(0.0)) { case (acc, (s, w)) =>
      when(col("source") === s, lit(w)).otherwise(acc)
    }
    val whole = floor(wCol).cast("long")
    val fracThresh = round((wCol - floor(wCol)) * buckets, 0).cast("long")
    val copies = whole +
      when(sampleBucket(col("doc_id"), buckets) < fracThresh, 1L).otherwise(0L)
    docs.withColumn("copies", copies).filter(col("copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("copies") - 1)).as("rep"))
  }

  /** END-TO-END CURATION PIPELINE — the canonical training-data pass:
    * normalize → exact-dedup (survivor = min doc_id per normalized text) →
    * quality gate (min token count) → deterministic hash sample.
    *
    * Scale shape: normalization and hashing are map-side expressions; the
    * single shuffle keys on md5(norm_text) — a 32-char digest, chosen over
    * xxhash64 because DuckDB computes the identical digest, so the whole
    * pipeline (not just its pieces) is SQL-oracle-able — and the row payload
    * entering the shuffle is (doc_id, lang, source, n_tokens): the document
    * text never travels. Sampling filters BEFORE any later join/agg a caller
    * adds, so downstream stages see only rate·N rows. */
  def curate(docs: DataFrame, minTokens: Int = 10,
             sampleNum: Int = 1 << 19, buckets: Int = 1 << 20): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val narrow = docs.select(
      col("doc_id"), col("lang"), col("source"),
      md5(norm).as("dg"), size(split(norm, " ")).as("n_tokens"))
    val w = Window.partitionBy("dg").orderBy("doc_id")
    narrow.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("n_tokens") >= minTokens)
      .withColumn("bucket", sampleBucket(col("doc_id"), buckets))
      .filter(col("bucket") < sampleNum)
      .select("doc_id", "lang", "source", "n_tokens", "bucket")
  }

  /** word-3-gram shingles. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** MinHash+LSH near-dup candidate pairs, verified by exact shingle
    * Jaccard. k minhashes in b bands of r rows (k = b*r): docs sharing any
    * band bucket become candidates — the standard Broder/LSH construction.
    * Scale shape: one banded pair join (`Bands.pairs`) on each band's
    * 32-bit slice hash, each pair kept at its first shared band, so no
    * all-pairs product and no dedup shuffle; the verify joins the shingle
    * sets back in by id for just the candidates.
    */
  def minHashLshPairs(docs: DataFrame, bands: Int = 8, rows: Int = 4,
                      jaccardMin: Double = 0.5): DataFrame = {
    val sig = signed(docs, bands * rows)
    val buckets = minhashBuckets(_: Column, bands, rows)
    // the band join runs on NARROW rows (id, band keys), never shingle arrays
    val pairs = Bands.pairs(bandSide(sig, "id1", buckets), bandSide(sig, "id2", buckets),
      col("id1") < col("id2"))
    val sh1 = sig.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val sh2 = sig.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    pairs.select("id1", "id2").join(sh1, Seq("id1")).join(sh2, Seq("id2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") >= jaccardMin)
      .select("id1", "id2", "jaccard")
  }

  /** (doc_id, sh, sig): the shingles and k-minhash signature of each doc,
    * materialized once for the band join's two sides and the verify */
  private def signed(docs: DataFrame, k: Int): DataFrame =
    graft.ops.Par.spread(docs, col("doc_id"))
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .withColumn("sig", fns.minhash_sig(col("sh"), k))
      .localCheckpoint(true)

  /** a minhash band join side: `sigs`' doc ids as `id`, keyed by `keys` */
  private def bandSide(sigs: DataFrame, id: String, keys: Column => Seq[Column]) =
    (sigs.select(col("doc_id").as(id), col("sig").as(s"${id}_sig")), keys(col(s"${id}_sig")))

  /** band b's key: the 32-bit hash of sig's b-th `rows`-long slice, seed b */
  private[graft] def minhashBuckets(sig: Column, bands: Int, rows: Int): Seq[Column] =
    (0 until bands).map(b => hash(slice(sig, b * rows + 1, rows), lit(b)))

  /** band b's key: the b-th `rows`-long slice of `sig` as comma-joined
    * decimals, so key equality is slice equality (no hash collisions) */
  private[graft] def minhashSlices(sig: Column, bands: Int, rows: Int): Seq[Column] =
    (0 until bands).map(b => concat_ws(",", slice(sig, b * rows + 1, rows).cast("array<string>")))

  /** the four 16-bit quarters of a 64-bit simhash, low quarter first */
  private[graft] def simhashQuarters(sim: Column): Seq[Column] =
    (0 until 4).map(b => shiftright(sim, b * 16).bitwiseAND(lit(0xffffL)))

  /** INCREMENTAL (daily-ingest) text dedup — the text twin of
    * `ImageOps.incrementalPhashDedup`: a new batch probes the AT-REST
    * (band, bucket) minhash index of the standing corpus plus its own
    * batch-internal pairs; corpus × corpus is never re-paired — the shape
    * that makes daily dedup O(batch·index-probe) instead of O(corpus²) at
    * 100 TB. Both probes are banded pair joins (`Bands.pairs`), so each
    * candidate comes out once. Candidates verify by EXACT integer Jaccard
    * (jac_milli = 1000·|∩| DIV |∪| ≥ tMilli); each batch doc keeps its best
    * match by the (jac_milli DESC, match_id ASC) total order (min-struct on
    * the complement — map-side combinable, and blind to repeated rows).
    * Batch-internal duplicates credit the SMALLER doc_id as the original.
    *
    * Output per batch doc: (doc_id, keep, dup_of, jac_milli). */
  def incrementalTextDedup(corpus: DataFrame, batch: DataFrame,
                           bands: Int = 8, rows: Int = 4,
                           tMilli: Long = 200L): DataFrame = {
    val sc0 = signed(corpus, bands * rows); val sb0 = signed(batch, bands * rows)
    val buckets = minhashBuckets(_: Column, bands, rows)
    val vsCorpus = Bands.pairs(bandSide(sb0, "doc_id", buckets),
      bandSide(sc0, "match_id", buckets), lit(true))
      .select(col("doc_id"), col("match_id"))
    val internal = Bands.pairs(bandSide(sb0, "id1", buckets), bandSide(sb0, "id2", buckets),
      col("id1") < col("id2"))
      .select(col("id2").as("doc_id"), col("id1").as("match_id"))
    val allSh = sc0.select(col("doc_id").as("match_id"), col("sh").as("msh"))
      .unionByName(sb0.select(col("doc_id").as("match_id"), col("sh").as("msh")))
    val verified = vsCorpus.unionByName(internal)
      .join(sb0.select(col("doc_id"), col("sh")), Seq("doc_id"))
      .join(allSh, Seq("match_id"))
      .withColumn("jac_milli", expr(
        "1000 * size(array_intersect(sh, msh)) div size(array_union(sh, msh))"))
      .filter(col("jac_milli") >= tMilli)
      .groupBy(col("doc_id"))
      .agg(min(struct((lit(1000L) - col("jac_milli")).as("nj"),
        col("match_id"))).as("m"))
    batch.select(col("doc_id")).join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"), col("m").isNull.as("keep"),
        col("m.match_id").as("dup_of"),
        when(col("m").isNull, lit(null).cast("long"))
          .otherwise(lit(1000L) - col("m.nj")).as("jac_milli"))
  }

  /** SimHash near-dup pairs: 64-bit simhash over tokens, 4×16-bit band
    * blocking (any equal quarter → candidate; a banded pair join keeps
    * each pair at its first equal quarter), verified by Hamming ≤ maxHam.
    * The banding is complete only for maxHam < 4, on purpose: the oracle
    * mirrors the same candidate set.
    */
  def simHashPairs(docs: DataFrame, maxHam: Int = 8): DataFrame = {
    val sh = graft.ops.Par.spread(docs, col("doc_id")).select(col("doc_id"),
      fns.simhash64(split(col("text"), " ")).as("sim"))
    def side(id: String, sim: String) =
      (sh.select(col("doc_id").as(id), col("sim").as(sim)), simhashQuarters(col(sim)))
    Bands.pairs(side("id1", "s1"), side("id2", "s2"), col("id1") < col("id2"))
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHam)
      .select("id1", "id2", "hamming")
  }

  // `sh` is SORTED (binary string order): downstream consumers only
  // explode/count it, and sorting once per doc lets the pair verify run as
  // a linear merge (fns.sorted_inter_count) instead of a per-pair hash set
  private def shingled(docs: DataFrame): DataFrame =
    graft.ops.Par.spread(docs, col("doc_id"))
      .select(col("lang"), col("source"), col("doc_id"),
        sort_array(array_distinct(shingles(col("text")))).as("sh"))
      .withColumn("nsh", size(col("sh")))

  /** PPJoin-style prefix-filtered candidate pairs (Chaudhuri/Ganti/Kaushik
    * ICDE 2006 SSJoin; Xiao/Wang/Lin/Yu WWW 2008 PPJoin — public
    * constructions): a pair with Jaccard ≥ t MUST share a shingle inside the
    * first |x|−⌈t·|x|⌉+1 shingles of EACH doc under one global canonical
    * order. Ordering ascending by document frequency puts hot shingles at
    * the END of every doc's list, so a stop-shingle shared by d docs drives
    * candidate pairs only for docs whose remaining shingles are too few to
    * fill the prefix without it — bounding the d² fan-out the plain inverted
    * index pays on exactly the shingles that are most common (the 100 TB
    * failure mode). df ties break on the shingle string, so the order (and
    * the candidate set) is deterministic under any partitioning.
    * The prefix is no positional band family, so the candidates keep one
    * dedup instead of `Bands.pairs`: an owner test (first common prefix
    * shingle) needs each doc's whole prefix on every posting row, and at
    * t = 0.05 the prefix is nearly the whole doc (nsh − ⌈0.05·nsh⌉ + 1
    * shingles), O(P²) rows per doc of prefix length P. */
  def prefixCandidates(docs: DataFrame, jaccardMin: Double): DataFrame =
    prefixCandidatesOf(shingled(docs), jaccardMin)

  private def prefixCandidatesOf(d: DataFrame, t: Double): DataFrame = {
    val inv = d.select(col("lang"), col("source"), col("doc_id"), col("nsh"),
      explode(col("sh")).as("shingle"))
    val dfreq = inv.groupBy(col("lang"), col("source"), col("shingle"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("lang"), col("source"), col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    // materialized once (localCheckpoint): both legs of the self-join below
    // would otherwise re-execute the df join + window; prefix postings are
    // the SMALL end of the data (≤ full postings × prefix fraction)
    val prefix = inv.join(dfreq, Seq("lang", "source", "shingle"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("nsh") - ceil(col("nsh") * lit(t)) + lit(1))
      .select(col("lang"), col("source"), col("shingle"), col("doc_id"), col("nsh"))
      .localCheckpoint(true)
    val l = prefix.select(col("lang"), col("source"), col("shingle"),
      col("doc_id").as("id1"), col("nsh").as("n1"))
    val r = prefix.select(col("lang"), col("source"), col("shingle"),
      col("doc_id").as("id2"), col("nsh").as("n2"))
    // PPJoin LENGTH filter (exact): J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A∪B| with
    // |A∩B| ≤ min, |A∪B| ≥ max ⟹ min ≥ t·max — so pruning
    // min < t·max·(1−1e−12) can only drop pairs below the threshold (the
    // 1e−12 slack over-keeps borderline float cases; verify re-filters).
    // Cuts the candidate set BEFORE the dedup shuffle and the verify joins.
    l.join(r, Seq("lang", "source", "shingle"))
      .filter(col("id1") < col("id2") &&
        least(col("n1"), col("n2")).cast("double") >=
          greatest(col("n1"), col("n2")).cast("double") * lit(t * (1 - 1e-12)))
      .select("lang", "source", "id1", "id2").dropDuplicates()
  }

  /** the PPJoin candidates of `sets` at Jaccard threshold t, each with both
    * docs' sorted shingles (sh1, sh2), sizes (n1, n2) and exact |∩| (inter) */
  private def prefixIntersections(sets: DataFrame, t: Double): DataFrame = {
    // the verify stage is CPU-dense on tiny rows (a per-pair set merge over
    // (id, id) pairs): AQE coalesces its input by BYTES and was measured
    // pinning ~9 CPU-s of verify onto 2 tasks — pin the stage width with an
    // explicit repartition (narrow pair rows; no payload shuffled)
    val cand = prefixCandidatesOf(sets, t)
      .repartition(sets.sparkSession.sparkContext.defaultParallelism,
        col("id1"), col("id2"))
    def side(i: Int) = sets.select(col("lang"), col("source"), col("doc_id").as(s"id$i"),
      col("sh").as(s"sh$i"), col("nsh").as(s"n$i"))
    cand
      .join(side(1), Seq("lang", "source", "id1"))
      .join(side(2), Seq("lang", "source", "id2"))
      // sh is sorted (shingled/globalShingleSets contract): linear-merge
      // count instead of array_intersect's per-pair hash set — same exact
      // integer |∩|, ~10× less CPU on the candidate-pair hot path
      .withColumn("inter", fns.sorted_inter_count(col("sh1"), col("sh2")))
  }

  /** Asymmetric CONTAINMENT near-dup pairs — the crawl-snapshot/page-update
    * detector Jaccard misses: C(A,B) = |A∩B| / min(|A|,|B|) is high when one
    * doc is (mostly) embedded in the other even though their Jaccard is
    * diluted by the larger doc's extra content (a page and its 3× expansion
    * have C ≈ 1 but J ≈ 1/3). Broder's containment sketch problem (1997 —
    * public) restricted to the practical bounded-growth class.
    *
    * Completeness contract: pairs with size ratio max/min ≤ `growthMax` and
    * C ≥ cMin satisfy J = |∩|/|∪| ≥ |∩|/(|A|+|B|) ≥ cMin/(1+growthMax), so
    * the PPJoin prefix filter at THAT Jaccard threshold is complete for the
    * class (the theorem applies to every surviving pair); unbounded-growth
    * containment (a tweet inside Wikipedia) is out of contract — detecting
    * it needs the dup-SPAN operator (TextOps.dupSpans), not a set measure.
    *
    * Scale shape: same as ngramJaccardPairs — one shingle materialization,
    * prefix postings bound hot-shingle fan-out, exact verify joins only the
    * candidate pairs. Output: (id1, id2, inter, n_small, containment).
    */
  def containmentPairs(docs: DataFrame, cMin: Double,
                       growthMax: Double = 4.0): DataFrame = {
    require(cMin > 0.0 && cMin <= 1.0, s"cMin out of range: $cMin")
    require(growthMax >= 1.0, s"growthMax must be >= 1: $growthMax")
    val sets = shingled(docs).localCheckpoint(true)
    prefixIntersections(sets, cMin / (1.0 + growthMax))
      .withColumn("n_small", least(col("n1"), col("n2")).cast("long"))
      .withColumn("containment",
        col("inter").cast("double") / col("n_small").cast("double"))
      .filter(col("containment") >= cMin &&
        greatest(col("n1"), col("n2")).cast("double") <=
          col("n_small").cast("double") * growthMax)
      .select(col("id1"), col("id2"), col("inter"), col("n_small"),
        round(col("containment"), 6).as("containment"))
  }

  /** exact n-gram Jaccard similarity for pairs within (lang, source) groups:
    * PPJoin prefix-filtered candidate generation (prefixCandidates — the
    * hot-shingle-bounded scale shape; round-1's quadratic within-group
    * self-join was 313.9 s at sf0.1, the plain inverted index 6.8 s, and the
    * prefix filter removes that plan's remaining d²-per-hot-shingle term),
    * then exact verification: the two full shingle sets join back for just
    * the candidate pairs and |A∩B| / (|A|+|B|−|A∩B|) is computed on the
    * same integers as the quadratic oracle SQL — identical rowset by the
    * prefix-filter theorem (no true pair can be filtered).
    */
  def ngramJaccardPairs(docs: DataFrame, jaccardMin: Double): DataFrame = {
    // shingling (transform + array_distinct over every token window) is the
    // dominant per-pass cost and this operator is multi-pass by nature
    // (inverted index, df table, both verify sides) — materialize the
    // shingled form ONCE; every downstream pass reads it instead of
    // re-deriving shingles from text (measured 10 s → ~5 s at sf0.1).
    // The checkpoint lives HERE, not inside jaccardPairsDetailed: the audit
    // entry points pass globalShingleSets output that is already
    // materialized, and a second checkpoint would write the shingled corpus
    // twice per audit query.
    jaccardPairsOf(shingled(docs).localCheckpoint(true), jaccardMin)
  }

  private def jaccardPairsOf(sets: DataFrame, jaccardMin: Double): DataFrame =
    jaccardPairsDetailed(sets, jaccardMin)
      .select("lang", "source", "id1", "id2", "jaccard")

  /** the same pairs carrying the EXACT integer |∩| and |∪| alongside the
    * double ratio — the threshold-sweep audit compares on the integers.
    *
    * CONTRACT: `sets` must already be materialized (every caller passes a
    * localCheckpointed frame — globalShingleSets or ngramJaccardPairs's own
    * checkpoint). It is read by four passes below (inverted index, df
    * table, both verify legs); checkpointing AGAIN here would materialize
    * the shingled corpus twice per audit query. */
  private def jaccardPairsDetailed(sets: DataFrame, jaccardMin: Double): DataFrame = {
    require(jaccardMin > 0.0, "prefix-filtered form requires a positive threshold")
    prefixIntersections(sets, jaccardMin)
      .withColumn("uni", col("n1") + col("n2") - col("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= jaccardMin)
      .select("lang", "source", "id1", "id2", "inter", "uni", "jaccard")
  }

  /** Dedup-QUALITY EVALUATION harness: how good is the MinHash-LSH
    * CANDIDATE stage against exact-Jaccard ground truth? Every production
    * dedup pipeline ships with exactly this audit — banding is a
    * probabilistic filter (P[candidate | J] = 1 − (1 − J^rows)^bands, ≈0.40
    * at J = 0.5 for 8×4), so unlike the recall-gated planted-pair tests
    * this measures the REAL miss rate on the corpus's own near-dup
    * distribution.
    *
    * Truth = exact-Jaccard pairs at the threshold via the PPJoin
    * prefix-filtered path (complete by the prefix-filter theorem), scoped
    * GLOBALLY — cross-source near-dups are precisely what the candidate
    * stage must surface. Candidates = band-slice EQUALITY on the minhash
    * signature (not Spark's 32-bit hash() buckets, whose collisions could
    * add engine-specific candidates the oracle cannot see). Both pair sets
    * are narrow (id, id) rows; the full-outer confusion join touches pairs,
    * never documents.
    *
    * Threshold note: the truth side's double compare `|∩|/|∪| >= 0.5` is
    * EXACTLY the oracle's integer `2·|∩| >= |∪|` for set sizes < 2^52 —
    * a true ratio below 1/2 is at most 1/2 − 1/(2|∪|), farther from 0.5
    * than the quotient's rounding error, and a ratio of exactly 1/2 is an
    * exact double — so the two spellings cannot disagree.
    *
    * Output: ONE row — (n_truth, n_cand, tp, fn, fp, recall_milli,
    * precision_milli), the integer-exact confusion counts. */
  def minHashLshEval(docs: DataFrame, bands: Int = 8, rows: Int = 4,
                     jaccardMin: Double = 0.5): DataFrame = {
    val sh = globalShingleSets(docs)
    val truth = jaccardPairsOf(sh, jaccardMin).select("id1", "id2")
    confusionCounts(truth, minhashBandCandidates(sh, bands, rows))
  }

  /** distinct-shingle sets in the (lang, source)-flattened GLOBAL scope the
    * audits run in — shingled ONCE and materialized, shared by the truth
    * and signature passes (the module's materialize-shingles-once rule). */
  private def globalShingleSets(docs: DataFrame): DataFrame =
    shingled(docs.select(col("doc_id"), col("text"), lit("all").as("lang"), lit("all").as("source")))
      .localCheckpoint(true)

  /** the minhash band-equality candidate stage over shingle sets: signature
    * → per-band slice keys (slice EQUALITY, not 32-bit hash() buckets, so
    * the set is engine-reproducible) → one banded pair join, each pair once.
    * Signatures feed BOTH legs of the self-join — materialized once. */
  private def minhashBandCandidates(sh: DataFrame, bands: Int, rows: Int): DataFrame = {
    val sigs = sh.select(col("doc_id"), fns.minhash_sig(col("sh"), bands * rows).as("sig"))
      .localCheckpoint(true)
    val slices = minhashSlices(_: Column, bands, rows)
    Bands.pairs(bandSide(sigs, "id1", slices), bandSide(sigs, "id2", slices),
      col("id1") < col("id2")).select("id1", "id2")
  }

  /** The simhash twin of minHashLshEval, against the SAME shingle-Jaccard
    * ground truth — so the two candidate stages' recall/precision are
    * directly comparable on one corpus. Simhash trades minhash's tunable
    * (bands × rows) family for one 64-bit sketch per doc — 1/8th the
    * signature state — and this audit measures what that trade costs.
    * Same pairs-only scale shape as minHashLshEval. */
  def simHashEval(docs: DataFrame, maxHam: Int = 12,
                  jaccardMin: Double = 0.5): DataFrame = {
    val truth = jaccardPairsOf(globalShingleSets(docs), jaccardMin)
      .select("id1", "id2")
    val cand = simHashPairs(docs, maxHam).select("id1", "id2")
    confusionCounts(truth, cand)
  }

  /** The RECALL CURVE of the MinHash-LSH candidate stage: per Jaccard
    * threshold, the integer-exact confusion counts against the exact pair
    * set at that threshold — the banding curve P[cand|J] = 1−(1−J^r)^b made
    * empirical, which is how an operator chooses (bands, rows) for a target
    * threshold. Truth pairs come from ONE PPJoin pass at the lowest
    * threshold carrying exact |∩|/|∪|; each row then re-thresholds on the
    * integers (1000·|∩| ≥ t·|∪| — no double in the contract). fp at
    * threshold t counts every candidate pair below t, so n_cand is constant
    * across rows and precision falls as t rises — the real trade surface. */
  def minHashLshThresholdSweep(docs: DataFrame, bands: Int = 8, rows: Int = 4,
                               thresholdsMilli: Seq[Int] = Seq(400, 500, 600, 700))
      : DataFrame = {
    require(thresholdsMilli.nonEmpty)
    val tMin = thresholdsMilli.min / 1000.0
    val sh = globalShingleSets(docs)
    val truth = jaccardPairsDetailed(sh, tMin)
      .select(col("id1"), col("id2"),
        col("inter").cast("long").as("i"), col("uni").cast("long").as("u"))
    val cand = minhashBandCandidates(sh, bands, rows).localCheckpoint(true)
    val nCand = cand.count()
    val joined = truth
      .join(cand.withColumn("c", lit(true)), Seq("id1", "id2"), "left")
    // ONE pass over the joined pairs for ALL thresholds (was one scan+agg
    // job per threshold): each pair replicates into the thresholds it
    // passes, one grouped count collects every row, and a literal
    // threshold frame left-joins so empty thresholds still emit the
    // contract's zero row (count over an empty global agg did before).
    val spark = truth.sparkSession
    import spark.implicits._
    val tDf = thresholdsMilli.sorted.map(_.toLong).toDF("t_milli")
    val counts = joined
      .select(col("i"), col("u"), col("c"),
        explode(filter(
          typedlit(thresholdsMilli.sorted.map(_.toLong)),
          t => lit(1000L) * col("i") >= t * col("u"))).as("t_milli"))
      .groupBy(col("t_milli"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("tp"))
    tDf.join(counts, Seq("t_milli"), "left")
      .select(col("t_milli"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        lit(nCand).as("n_cand"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("t_milli"), col("n_truth"), col("n_cand"), col("tp"),
        (col("n_truth") - col("tp")).as("fn"),
        (lit(nCand) - col("tp")).as("fp"),
        when(col("n_truth") > 0, expr("tp * 1000 DIV n_truth")).as("recall_milli"),
        when(lit(nCand) > 0, expr(s"tp * 1000 DIV ${nCand}L")).as("precision_milli"))
  }

  /** ONE-row integer-exact confusion summary of two (id1, id2) pair sets. */
  private def confusionCounts(truth: DataFrame, cand: DataFrame): DataFrame =
    truth.withColumn("t", lit(true))
      .join(cand.withColumn("c", lit(true)), Seq("id1", "id2"), "full_outer")
      .agg(
        sum(when(col("t").isNotNull, 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("t").isNotNull && col("c").isNotNull, 1L).otherwise(0L)).as("tp"),
        sum(when(col("t").isNotNull && col("c").isNull, 1L).otherwise(0L)).as("fn"),
        sum(when(col("t").isNull && col("c").isNotNull, 1L).otherwise(0L)).as("fp"))
      .select(col("n_truth"), col("n_cand"), col("tp"), col("fn"), col("fp"),
        when(col("n_truth") > 0, expr("tp * 1000 DIV n_truth")).as("recall_milli"),
        when(col("n_cand") > 0, expr("tp * 1000 DIV n_cand")).as("precision_milli"))

  /** BM25 ranked retrieval (Robertson/Spärck Jones Okapi BM25, the public
    * formula; k1 = 1.2, b = 0.75): top-k documents per query over a
    * whitespace-token inverted index.
    *
    * Scale shape: the query table is tiny and BROADCAST; postings join the
    * queries on token, so each query touches the postings of ITS terms
    * only — never a corpus scan per query. Corpus statistics (N, Σdl) are
    * two scalars collected once (bounded driver artifact, like the IVF
    * centroids). Each term contribution is rounded to integer nano-units
    * BEFORE the per-(query, doc) sum, making the score exactly
    * order-insensitive under any partitioning — the same integers the SQL
    * oracle computes.
    *
    * queries: (q_id long, q_text string). Output: (q_id, rk, doc_id, score9).
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val st = graft.ops.Driver.collectBounded(
      dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")), 1, 1L << 12, "bm25 corpus stats")(0)
    require(st.getLong(0) > 0L,
      "bm25TopK: empty document corpus — corpus stats (n, avgdl) are undefined")
    val n = st.getLong(0).toDouble
    val avgdl = st.getLong(1).toDouble / st.getLong(0).toDouble
    // width pin for the scoring stage (the PPJoin-verify pattern, guide
    // §2.5's CPU-density analog): the query⋈postings fan-out (Σ_q Σ_{t∈q}
    // df(t) rows — 4.5M at the 50-query gate batch), the BM25 arithmetic,
    // and the partial (q_id, doc_id) aggregate all fuse into the stage that
    // computes tf, and that stage's width is set by the exchange BELOW the
    // tf aggregate: AQE coalesces it by shuffle BYTES (tiny) — measured as
    // a 4.1 s single-task stage — and AQE's local shuffle reads make any
    // pin ABOVE the aggregate inherit that 1-task map width, so the
    // explicit repartition must sit on the token stream itself. The
    // exchange carries (doc_id, tok) pairs, the same magnitude as the tf
    // pairs it would carry anyway; AQE never re-coalesces a user-specified
    // partition count.
    val tf = toks
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"), col("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qt = queries.select(col("q_id"),
      explode(array_distinct(split(col("q_text"), " "))).as("tok")).distinct()
    val contrib = broadcast(qt)
      .join(tf, Seq("tok"))
      .join(dl, Seq("doc_id"))
      .join(dfreq, Seq("tok"))
      .withColumn("idf", log(lit(1.0) +
        (lit(n) - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("ratio", col("tf").cast("double") /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / lit(avgdl))))
      .withColumn("term9",
        round(col("idf") * col("ratio") * lit(1e9), 0).cast("long"))
    val scored = contrib.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("term9")).as("score9"))
    val w = Window.partitionBy("q_id").orderBy(col("score9").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("doc_id"), col("score9"))
  }

  /** Gopher-style repetition quality signals (Rae et al. 2021 appendix A1,
    * public heuristics): per-document top-token fraction and duplicate
    * word-3-gram fraction — high values mark boilerplate/spam for the
    * quality gate, complementary to qualityScore's length/punct signals.
    * Counts are exact integers and the fractions round at 1e-6, so the SQL
    * oracle emits identical values; shape is two partial-aggregated
    * groupBys whose state is (doc, token)-bounded.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val d = graft.ops.Par.spread(docs, col("doc_id"))
    val perTok = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val tokAgg = perTok.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_tok_n"),
        count(lit(1)).as("n_distinct_toks"))
    val triAgg = d.select(col("doc_id"), explode(shingles(col("text"))).as("s3"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n3_total"), countDistinct(col("s3")).as("n3_distinct"))
    tokAgg.join(triAgg, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("top_tok_n"), col("n_distinct_toks"),
        col("n3_total"), col("n3_distinct"),
        round(col("top_tok_n").cast("double") / col("n_tokens").cast("double"), 6)
          .as("top_tok_frac"),
        round(lit(1.0) - col("n3_distinct").cast("double") / col("n3_total").cast("double"), 6)
          .as("rep3_frac"))
  }

  /** Deterministic train/val/test assignment on the same Knuth-hash bucket
    * as curate's sampler: reproducible across runs, engines, and cluster
    * sizes, and PURE MAP-SIDE — no shuffle, no per-group bookkeeping;
    * stratification across lang/source follows from hash uniformity (the
    * thing rand()-splits cannot give a training pipeline).
    */
  def assignSplit(docs: DataFrame, testPct: Int = 10, valPct: Int = 10): DataFrame = {
    require(testPct + valPct < 100)
    val b = sampleBucket(col("doc_id"), 100)
    docs.select(col("doc_id"), col("lang"), col("source"), b.as("bucket"),
      when(b < testPct, "test").when(b < testPct + valPct, "val")
        .otherwise("train").as("split"))
  }

  /** Benchmark DECONTAMINATION — the cross-corpus twin of dedup, a standard
    * training-data curation stage: flag every training document that
    * contains any n-gram of the evaluation/benchmark set, so eval data
    * cannot leak into training.
    *
    * Scale shape: the benchmark's distinct shingles BROADCAST (eval suites
    * are KBs-to-MBs against a 100 TB corpus); the corpus side explodes its
    * shingles map-side and only the HIT rows (rare) reach the per-doc
    * aggregate — document text never shuffles. Output: one row per corpus
    * doc with hit counts and the contaminated flag.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 3): DataFrame = {
    val bsh = benchmark.select(col("doc_id").as("bench_id"),
        explode(array_distinct(shingles(col("text"), n))).as("shingle"))
      .distinct()
    val dsh = docs.select(col("doc_id"),
      explode(array_distinct(shingles(col("text"), n))).as("shingle"))
    val hits = dsh.join(broadcast(bsh), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("shingle")).as("n_shingles"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
    docs.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"),
        (coalesce(col("n_shingles"), lit(0L)) > 0).as("contaminated"))
  }

  /** winnowing-style rolling-hash fingerprint per document. */
  def fingerprints(docs: DataFrame, window: Int = 16): DataFrame =
    docs.select(col("doc_id"), fns.rolling_min_hash(col("text"), window).as("fingerprint"))

  /** WINNOWING fingerprint selection (Schleimer, Wilkerson & Aiken, SIGMOD
    * 2003 — public): from each window of `w` consecutive token-k-gram
    * hashes select the minimum, rightmost position on ties — the
    * guarantee-carrying local-sampling scheme (any match of length ≥
    * w+k−1 tokens shares a selected fingerprint; density ~2/(w+1)) behind
    * MOSS-style clone detection. Unlike `fingerprints` (one global
    * rolling-min per doc), this emits the SELECTED SET with positions, so
    * matches localize. Hash = FNV-1a 64 masked to 63 bits (`fns.fnv63`) —
    * the mask makes Spark's signed ordering and the oracle's unsigned
    * arithmetic agree, because selection depends on hash ORDER.
    *
    * Scale shape: pure map-side k-gram + w-fold window explode (w is a
    * small constant), ONE (doc, win)-keyed argmin (map-side combinable
    * min-struct, never corpus-wide), distinct on the selected triples —
    * every stage is doc-local, no cross-doc work at all.
    *
    * Output: (doc_id, pos, h) — the selected fingerprints. */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1)
    val grams = graft.ops.Par.spread(docs, col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= k + w - 1) // need at least one full window
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("tk")) - k),
          i => concat_ws(" ", slice(col("tk"), i + lit(1), lit(k))))))
      .toDF("doc_id", "pos", "gram")
      .withColumn("h", fns.fnv63(col("gram")))
      .withColumn("n_grams", count(lit(1))
        .over(Window.partitionBy("doc_id")))
    // each position participates in windows max(0, pos-w+1) .. min(pos, n-w)
    val inWin = grams
      .select(col("doc_id"), col("pos"), col("h"),
        explode(sequence(
          greatest(lit(0), col("pos") - lit(w - 1)),
          least(col("pos"), (col("n_grams") - lit(w)).cast("int")))).as("win"))
    // rightmost minimum per window = min over (h, -pos) lexicographically
    inWin.groupBy(col("doc_id"), col("win"))
      .agg(min(struct(col("h"), (-col("pos")).as("np"))).as("sel"))
      .select(col("doc_id"), (-col("sel.np")).as("pos"), col("sel.h").as("h"))
      .distinct()
  }

  /** Fixed-window token chunking with overlap — the standard training-prep
    * step that turns variable-length documents into model-context-sized
    * pieces. Chunks start every (size - overlap) tokens; the LAST window is
    * emitted even when short (a tail shorter than `overlap` would otherwise
    * be silently dropped — data loss at corpus scale). Pure map-side
    * explode: no shuffle, chunk ordinals are deterministic, and the payload
    * travels exactly once (slice on the already-split array, not repeated
    * substring scans). */
  def chunk(docs: DataFrame, chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      s"need chunkSize > overlap >= 0: $chunkSize/$overlap")
    val stride = chunkSize - overlap
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          greatest(lit(0), floor((size(col("toks")) - lit(overlap) - 1)
            / lit(stride)).cast("int")))))
      .select(
        col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        concat_ws(" ",
          slice(col("toks"), col("chunk_id") * stride + 1, lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize), size(col("toks")) - col("chunk_id") * stride)
          .cast("int").as("n_tokens"))
  }

  /** SEQUENCE PACKING — concat-and-chop assignment of documents into fixed
    * token-budget training sequences (the GPT-style packing step that turns
    * a curated corpus into equal-length model inputs). Documents are
    * deterministically hash-bucketed (Knuth hash — the same permanent
    * assignment on every run and cluster), concatenated in doc_id order
    * WITHIN each bucket, and the running token stream is chopped every
    * `budgetTokens`: each document learns the sequence range it lands in
    * (seq_first..seq_last — a long document spans several) and its token
    * offset inside the first one.
    *
    * Scale shape: ONE shuffle on the bucket key, then a per-bucket window
    * scan — cumulative sums never cross buckets, so there is no global sort
    * and no single-partition window (the classic packing scale-killer). At
    * 100 TB, `buckets` is sized so a bucket's docs fit one task (~2^20);
    * packing quality is unaffected because every bucket chops into the same
    * fixed budget independently. Sequence ids are globally unique:
    * bucket * 2^32 + per-bucket ordinal. All arithmetic is nonneg integer
    * DIV/MOD — the DuckDB oracle reruns it verbatim. */
  def packSequences(docs: DataFrame, budgetTokens: Int = 512,
                    buckets: Int = 1 << 10): DataFrame = {
    require(budgetTokens > 0 && buckets > 0)
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", sampleBucket(col("doc_id"), buckets))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        (col("bucket") * lit(4294967296L) +
          expr(s"(cum - n_tokens) DIV $budgetTokens")).as("seq_first"),
        (col("bucket") * lit(4294967296L) +
          expr(s"(cum - 1) DIV $budgetTokens")).as("seq_last"),
        expr(s"(cum - n_tokens) % $budgetTokens").as("seq_offset"))
  }

  /** PII/link scrubbing — redact URLs, emails, and long digit runs with
    * typed placeholders. Only RE2-compatible ASCII-class patterns (no
    * lookaround), so Java (Spark) and RE2 (DuckDB oracle) agree byte-for-
    * byte; pure codegen'd per-row expressions, zero shuffle. Order matters:
    * URLs first (their paths may contain digit runs), then emails, then
    * standalone numbers. */
  def redact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, "https?://[^ ]+", "<URL>")
    val t2 = regexp_replace(t1, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]+", "<EMAIL>")
    val t3 = regexp_replace(t2, "[0-9]{7,}", "<NUM>")
    docs.withColumn("redacted", t3)
      .withColumn("n_redactions",
        size(split(col("redacted"), "<URL>|<EMAIL>|<NUM>")) - 1)
  }

  /** EXACT corpus heavy hitters (every token with count >= minCount)
    * WITHOUT a vocabulary-wide shuffle — the Count-Min candidate-filter
    * construction:
    *
    *   pass 1: one scan folds all tokens into a single 256 KiB CMS
    *           (merge = elementwise sum → partition-invariant); the merged
    *           sketch is a bounded driver artifact (one row), broadcast
    *           back inside a codegen'd probe expression.
    *   pass 2: one scan keeps only token occurrences whose CMS estimate
    *           reaches minCount, then exactly counts JUST those.
    *
    * Soundness: CMS never undercounts, so the candidate set is a SUPERSET
    * of the true heavy hitters — no false negatives possible — and the
    * exact re-count discards the collisions' false positives. The result is
    * therefore exactly `SELECT tok, count(*) ... HAVING count >= minCount`
    * (the DuckDB oracle is that query, independent of the sketch).
    *
    * Scale shape: a plain groupBy over 100 TB of tokens shuffles the whole
    * token stream (|corpus| rows); this shuffles only occurrences of
    * candidate tokens — with a threshold worth asking about (say 1e-6 of
    * corpus mass), a vanishing fraction. Two scans beat one full-corpus
    * shuffle by a wide margin at that scale. Width w trades sketch size
    * against false-positive shuffle volume (collision inflation ~ n/w per
    * slot); d=4 rows drive the probability that ALL rows collide hot to
    * negligible. */
  def heavyHitters(docs: DataFrame, minCount: Long,
                   d: Int = 4, w: Int = 8192): DataFrame = {
    import graft.exprs.sketches
    require(minCount > 0, s"heavyHitters: minCount must be positive, got $minCount")
    val toks = docs.select(explode(tokensCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    // one row of d·w longs, about 28 bytes each as boxed values on the driver
    val row = graft.ops.Driver.collectBounded(toks.agg(sketches.cms_sketch(col("tok"), d, w).as("s")),
      1, 32L * d * w + (1L << 12), "count-min sketch")(0)
    val sketch = row.getSeq[Long](0).toArray
    toks.filter(sketches.cms_min_count(col("tok"), sketch, d, w) >= minCount)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Exact duplicated-span detection (the token-level form of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better":
    * find every position covered by a token n-gram that occurs more than
    * once in the corpus — the spans a substring-dedup pass would cut).
    *
    * Distributed shape: one posexplode to (doc, start, gram) — n·|corpus|
    * rows but NEVER materialized wider than a projection —, one shuffle on
    * the gram to count occurrences (the window's partition key), one
    * doc-keyed window to union the covering intervals. The interval union
    * is O(1) per occurrence because every interval has the same length n:
    * sorted by start, a new occurrence adds min(n, start − prev_start)
    * newly-covered positions — no interval stack, no per-position explode
    * (an explode of covered positions would multiply the shuffle by n).
    *
    * At 100 TB the gram SHUFFLE KEY should be xxhash64(gram) rather than
    * the string (8 bytes vs ~n·6); the string form is kept here because the
    * DuckDB oracle must group on the exact same key, and a 64-bit hash
    * collision (≈ n²/2^65) would silently merge two grams. Production
    * flip: .withColumn("gkey", xxhash64(col("gram"))) and window on gkey.
    *
    * Determinism: occurrence counts are order-free; the union length of a
    * start-sorted same-length interval set does not depend on tie order
    * (starts are distinct per doc). Every output cell is an exact integer.
    */
  def dupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 2, s"dupSpans: n must be >= 2, got $n")
    val toks = docs.select(col("doc_id"), tokensCol(col("text")).as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
    val occ = toks.filter(col("n_tokens") >= n)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_tokens") - n)).as("start"),
        col("tk"))
      .select(col("doc_id"), col("start"),
        concat_ws(" ", slice(col("tk"), (col("start") + 1).cast("int"), lit(n))).as("gram"))
    val byGram = Window.partitionBy("gram")
    val byDoc = Window.partitionBy("doc_id").orderBy("start")
    val dupOcc = occ
      .withColumn("cnt", count(lit(1)).over(byGram))
      .filter(col("cnt") >= 2)
    val perDoc = dupOcc
      .withColumn("newly",
        coalesce(least(lit(n.toLong), col("start") - lag("start", 1).over(byDoc)),
          lit(n.toLong)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("dup_starts"), sum("newly").as("covered"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_starts"), lit(0L)).as("dup_starts"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        (coalesce(col("covered"), lit(0L)) * 2 >= col("n_tokens")).as("mostly_dup"))
  }

  /** Corpus-LM perplexity scoring — the CCNet-style quality filter (Wenzek
    * et al. 2020, public recipe): score every document under a token-bigram
    * model with add-one smoothing trained ON THE CORPUS ITSELF, flag docs
    * whose mean log-probability falls below a threshold (gibberish and
    * boilerplate sit in the tail).
    *
    *   lp(w1 w2) = ln((c(w1,w2) + 1) / (c(w1) + V))
    *
    * Per-pair contributions are nano-rounded to integers BEFORE the per-doc
    * sum (the BM25 determinism recipe: both engines add identical integers
    * in any order; LN is the one transcendental and JVM/libm agree on these
    * inputs — same precedent as bm25TopK). The keep flag is an exact
    * integer comparison: Σlp9 ≥ −meanNats·1e9·n_pairs.
    *
    * Scale shape: two count aggregations (bigram, unigram) whose outputs
    * are VOCABULARY-sized, not corpus-sized — at web scale they broadcast
    * or hash-join far below the data volume; the corpus side streams
    * through one (w1,w2)-keyed join + one doc-keyed sum. No sort, no
    * driver-side state. */
  def bigramPerplexity(docs: DataFrame, meanNatsMin: Double = 6.0): DataFrame = {
    val toks = docs.select(col("doc_id"), tokensCol(col("text")).as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
    val pairs = toks.filter(col("n_tokens") >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), (col("n_tokens") - 1).cast("int"))).as("i"),
        col("tk"))
      .select(col("doc_id"),
        element_at(col("tk"), col("i")).as("w1"),
        element_at(col("tk"), col("i") + 1).as("w2"))
    val uni = toks.select(explode(col("tk")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = uni.count() // bounded driver artifact: one long
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val scored = pairs
      .join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .withColumn("lp9",
        round(log((col("cb") + 1).cast("double") / (col("cu") + vocab).cast("double")) * lit(1e9), 0)
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum("lp9").as("lp9_total"))
    val thresh9 = math.round(meanNatsMin * 1e9)
    toks.select(col("doc_id"), col("n_tokens"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("lp9_total"), lit(0L)).as("lp9_total"),
        (coalesce(col("lp9_total"), lit(0L)) >=
          lit(-thresh9) * coalesce(col("n_pairs"), lit(0L))).as("keep"))
  }

  /** TF-IDF keyword extraction (Spärck Jones 1972 — public): the top-k
    * highest tf·idf terms per document — the classic document-summary /
    * routing / facet signal of a text pipeline. idf = ln(N/df) nano-rounded
    * to an exact integer (the q_doc_bigram_ppl LN convention, proven
    * engine-identical), score = tf · idf9 — a BIGINT, so ranking and ties
    * (score DESC, term ASC) are exact in both engines.
    *
    * Scale shape: one explode + one vocab-sized df aggregate + one
    * vocab-keyed join; the top-k window partitions BY DOC, so each frame is
    * doc-length-bounded (the per-track-window contract) — never a global
    * sort. N reaches the plan as a driver literal (BM25 pattern).
    *
    * Output: (doc_id, rk, term, tf, score9). */
  def tfidfKeywords(docs: DataFrame, k: Int): DataFrame = {
    val nDocs = docs.count() // one driver scalar
    val tf = graft.ops.Par.spread(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score9").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .withColumn("idf9",
        round(log(lit(nDocs.toDouble) / col("df").cast("double")) * lit(1e9), 0)
          .cast("long"))
      .withColumn("score9", col("tf") * col("idf9"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("score9"))
  }

  /** PMI collocations (Church & Hanks, CL 1990 — public): the top-k
    * adjacent word pairs by pointwise mutual information
    * ln(P(w1,w2)/(P(w1)P(w2))) — the classic multi-word-expression /
    * tokenizer-merge-candidate signal of a text pipeline. Integer-exact
    * scoring: every factor is nano-rounded SEPARATELY (ln9(x) =
    * round(ln(x)·1e9), the proven LN convention applied only to integer
    * counts), then combined in BIGINT: pmi9 = ln9(c12) + 2·ln9(N_tok) −
    * ln9(N_big) − ln9(c1) − ln9(c2) — no double ever sums across factors,
    * so ranking and the top-k cut are bit-decided ((pmi9 DESC, w1, w2) is a
    * total order).
    *
    * Scale shape: one bigram explode + two VOCABULARY-sized aggregates +
    * two vocab-keyed joins on the (already vocab²-bounded, minCount-pruned)
    * bigram table; N_tok/N_big reach the plan as driver literals (BM25
    * pattern); the global top-k is a TakeOrdered over the pruned bigram
    * table, never the corpus. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L, k: Int = 50): DataFrame = {
    val toks = docs.select(col("doc_id"), tokensCol(col("text")).as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
    val pairs = toks.filter(col("n_tokens") >= 2)
      .select(explode(sequence(lit(1), (col("n_tokens") - 1).cast("int"))).as("i"),
        col("tk"))
      .select(element_at(col("tk"), col("i")).as("w1"),
        element_at(col("tk"), col("i") + 1).as("w2"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    // two driver scalars (BM25 pattern): corpus token and bigram totals
    val totals = toks.agg(sum(col("n_tokens")).as("t"),
      sum(col("n_tokens") - 1).as("b")).head()
    require(!totals.isNullAt(0),
      "pmiCollocations: empty document corpus — the token and bigram totals are undefined")
    val nTok = totals.getLong(0); val nBig = totals.getLong(1)
    def ln9(c: Column): Column =
      round(log(c.cast("double")) * lit(1e9), 0).cast("long")
    val lnTok = Math.round(math.log(nTok.toDouble) * 1e9)
    val lnBig = Math.round(math.log(nBig.toDouble) * 1e9)
    bi.filter(col("cb") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), Seq("w2"))
      .withColumn("pmi9", ln9(col("cb")) + lit(2L * lnTok) - lit(lnBig) -
        ln9(col("c1")) - ln9(col("c2")))
      .orderBy(col("pmi9").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("cb"), col("c1"), col("c2"), col("pmi9"))
  }

  /** Heaps-law vocabulary growth curve (Heaps 1978 — public): distinct
    * vocabulary vs tokens seen at `buckets` doc-id checkpoints — the
    * dedup-health / corpus-diversity diagnostic (a flattening curve means
    * new data is re-crawl, not new content). The cumulative-distinct
    * count, naively a running set, becomes embarrassingly parallel through
    * first-occurrence inversion: vocab_cum(cp) = #{terms whose MIN doc_id
    * ≤ cp} — one vocab-sized aggregate, no ordered scan, no state.
    * Checkpoints cp_i = max_doc·i DIV buckets (integer floor, engine-
    * identical; max_doc is a driver literal).
    *
    * Scale shape: one explode + one vocab-sized min aggregate; both
    * cumulative sums are a broadcast join against the |buckets|-row
    * checkpoint table + partial-aggregated sums — never a window over the
    * corpus. */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col("doc_id"),
      size(tokensCol(col("text"))).cast("long").as("n_tokens"))
    val top = docs.agg(max(col("doc_id"))).head()
    require(!top.isNullAt(0), "vocabGrowth: empty document corpus — max doc_id is undefined")
    val maxId = top.getLong(0) // driver scalar
    // a doc/term first lands in checkpoint i(d) = min{i : cp_i ≥ d}; since
    // cp_i = floor(maxId·i/B) and d is integer, that is ceil(B·d / maxId)
    // (clamped to ≥ 1 for d = 0) — an EQUI key, so the corpus collapses to
    // a ≤B-row per-bucket aggregate and the cumulative sums run as a tiny
    // B-row window. No non-equi join anywhere (a `doc_id ≤ cp` cross join
    // plans a nested-loop — the shape PlanHygieneSpec bans).
    def idx(c: String): Column = // pure-integer ceil(B·d / maxId), clamped
      expr(s"greatest(CAST(1 AS BIGINT), ($c * $buckets + ${maxId - 1}) div $maxId)")
    val cps = (1 to buckets).map(i => (i.toLong, maxId * i / buckets))
      .toDF("i", "cp")
    val firstSeen = docs
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("term"))
      .groupBy("term").agg(min(col("doc_id")).as("first_doc"))
    val tokBuk = toks.groupBy(idx("doc_id").as("i"))
      .agg(count(lit(1)).as("dn"), sum(col("n_tokens")).as("tn"))
    val vocBuk = firstSeen.groupBy(idx("first_doc").as("i"))
      .agg(count(lit(1)).as("vn"))
    val w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    broadcast(cps)
      .join(tokBuk, Seq("i"), "left").join(vocBuk, Seq("i"), "left")
      .select(col("i"), col("cp"),
        sum(coalesce(col("dn"), lit(0L))).over(w).as("docs_cum"),
        sum(coalesce(col("tn"), lit(0L))).over(w).as("tokens_cum"),
        sum(coalesce(col("vn"), lit(0L))).over(w).as("vocab_cum"))
      .orderBy("i")
  }

  /** Per-source distribution drift: KL(P_source ‖ P_corpus) over unigram
    * distributions (Kullback & Leibler 1951 — public) — the domain-shift /
    * contamination detector of a mixing pipeline (a source whose language
    * model diverges from the blend gets flagged before training). Exact
    * integer form: kl_num = Σ_w c_sw·(ln9(c_sw) − ln9(n_s) − ln9(c_w) +
    * ln9(N)) — every LN factor nano-rounded separately on its integer
    * count (the PMI convention), combined in BIGINT; kl_num = n_s·KL in
    * nano-nat·tokens, and kl_per_tok_nano = kl_num DIV n_s (non-negative
    * up to rounding ≪ the signal, so floor = truncate in both engines).
    * P_source ≪ P_corpus always holds (every source term is a corpus
    * term), so no smoothing is needed — the quantity is finite by
    * construction.
    *
    * Scale shape: one explode + one (source, w) aggregate; the corpus
    * marginal is vocab-sized, the source marginal |sources|-sized; one
    * vocab-keyed join + one source-keyed sum. N is a driver literal. */
  def sourceDrift(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"), explode(tokensCol(col("text"))).as("w"))
    val sw = tok.groupBy("source", "w").agg(count(lit(1)).as("csw"))
    val cw = sw.groupBy("w").agg(sum(col("csw")).as("cwv"))
    val ns = sw.groupBy("source").agg(sum(col("csw")).as("nsv"))
    val tot = ns.agg(sum(col("nsv"))).head()
    require(!tot.isNullAt(0), "sourceDrift: no tokens — the corpus total N is undefined")
    val nTot = tot.getLong(0) // driver scalar
    def ln9(c: Column): Column =
      round(log(c.cast("double")) * lit(1e9), 0).cast("long")
    val lnN = Math.round(math.log(nTot.toDouble) * 1e9)
    sw.join(cw, Seq("w")).join(ns, Seq("source"))
      .withColumn("term9", col("csw") *
        (ln9(col("csw")) - ln9(col("nsv")) - ln9(col("cwv")) + lit(lnN)))
      .groupBy("source")
      .agg(min(col("nsv")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("term9")).as("kl_num"))
      .withColumn("kl_per_tok_nano", expr("kl_num div n_tokens"))
      .select(col("source"), col("n_tokens"), col("n_terms"),
        col("kl_num"), col("kl_per_tok_nano"))
  }

  /** Zipf rank–frequency fit (Zipf 1949 — public): the least-squares slope
    * of ln f vs ln r over the top-N vocabulary ranks, carried as an EXACT
    * RATIONAL — slope = slope_num / slope_den with slope_num = n·Σxy −
    * Σx·Σy and slope_den = n·Σx² − (Σx)², where x = ln6(rank), y =
    * ln6(freq) are per-integer micro-rounded LNs (micro, not nano, keeps
    * every product and the n-scaled sums inside BIGINT for corpus
    * frequencies up to 10^12 at n ≤ 64). No float ever crosses an
    * aggregation boundary, so the fitted slope is bit-decided. A healthy
    * natural corpus fits slope ≈ −1; a flat slope flags synthetic/spam
    * sources.
    *
    * Scale shape: one vocab-sized count + a top-N rank window over the
    * VOCAB (never the corpus) + one 5-scalar aggregate. */
  def zipfFit(docs: DataFrame, topN: Int = 64): DataFrame = {
    require(topN >= 2 && topN <= 4096)
    val freq = docs.select(explode(tokensCol(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val wnd = Window.orderBy(col("f").desc, col("w")) // vocab-sized frame
    def ln6(c: Column): Column =
      round(log(c.cast("double")) * lit(1e6), 0).cast("long")
    freq.withColumn("r", row_number().over(wnd).cast("long"))
      .filter(col("r") <= topN)
      .select(ln6(col("r")).as("x"), ln6(col("f")).as("y"))
      .agg(count(lit(1)).as("n_ranks"), sum(col("x")).as("sum_x"),
        sum(col("y")).as("sum_y"), sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"))
      .select(col("n_ranks"), col("sum_x"), col("sum_y"), col("sum_xy"),
        col("sum_x2"),
        (col("n_ranks") * col("sum_xy") - col("sum_x") * col("sum_y"))
          .as("slope_num"),
        (col("n_ranks") * col("sum_x2") - col("sum_x") * col("sum_x"))
          .as("slope_den"))
  }

  /** Deterministic COLLISION-FREE training-order shuffle via a Feistel
    * network (Luby, Rackoff, SIAM J. Comput. 1988 — a balanced Feistel over
    * any round function is a bijection; the format-preserving-encryption
    * construction of Black & Rogaway, CT-RSA 2002): each doc_id in
    * [0, 2^(2·halfBits)) maps to a unique `perm` position, so sorting by
    * perm is a true pseudorandom PERMUTATION of the corpus — unlike
    * hash-ordering, two records can never collide and silently preserve
    * their input adjacency, and unlike rand() the order is identical on
    * every run, engine, and cluster size.
    *
    * Scale shape: perm is a pure map-side integer expression (3 unrolled
    * rounds; the round-function product (2^halfBits + rounds·40503) ·
    * 2654435761 stays < 2^63 for halfBits ≤ 31, so every intermediate is
    * exact in any engine); the shuffled manifest is then ONE
    * range-partitioned ordered write (orderBy(perm)) — the sort every
    * shuffled-manifest writer pays, with no extra dedup/collision pass
    * because the mapping is bijective by construction. halfBits = 16
    * covers 4.3e9 records; 21 covers 4.4e12. */
  def shuffleOrder(docs: DataFrame, halfBits: Int = 16, rounds: Int = 3): DataFrame = {
    require(halfBits >= 1 && halfBits <= 31,
      "halfBits in [1, 31]: keeps the round product < 2^63 and perm < 2^63")
    require(rounds >= 1, "need at least one Feistel round")
    val m = 1L << halfBits
    // out-of-domain ids would silently collide with in-domain ones (the
    // bijection only holds on [0, m²)) — fail loudly instead
    val guarded = when(col("doc_id") < 0 || col("doc_id") >= m * m,
        raise_error(concat(lit(s"shuffleOrder: doc_id outside [0, ${m * m}): "),
          col("doc_id").cast("string"))))
      .otherwise(col("doc_id"))
    var lr: (Column, Column) =
      (expr(s"doc_id DIV ${m}L"), pmod(guarded, lit(m)))
    for (r <- 1 to rounds) {
      val f = pmod((lr._2 + lit(r * 40503L)) * lit(2654435761L), lit(m))
      lr = (lr._2, pmod(lr._1 + f, lit(m)))
    }
    docs.select(col("doc_id"), (lr._1 * m + lr._2).as("perm"))
  }

  /** One BPE merge applied to a symbol array: greedy LEFTMOST NON-OVERLAPPING
    * replacement of adjacent (a, b) with the concatenated symbol — the apply
    * semantics of Sennrich et al. 2016's learn_bpe (their regex replace is
    * leftmost non-overlap too, so "aaaa" under (a,a) becomes [aa, aa] and
    * "aaa" becomes [aa, a]). A single left fold carries a skip flag for the
    * position consumed by the previous merge, so the whole scan is one
    * array-expression per row — no explode, no UDF. */
  private def applyMerge(syms: Column, a: String, b: String): Column = {
    val n = size(syms)
    aggregate(
      sequence(lit(0), n - 1),
      struct(array().cast("array<string>").as("out"), lit(false).as("skip")),
      (acc, i) => {
        val out = acc.getField("out")
        val isMerge = (i < n - 1) &&
          element_at(syms, i + 1) === lit(a) && element_at(syms, i + 2) === lit(b)
        when(acc.getField("skip"), struct(out.as("out"), lit(false).as("skip")))
          .when(isMerge,
            struct(concat(out, array(lit(a + b))).as("out"), lit(true).as("skip")))
          .otherwise(
            struct(concat(out, array(element_at(syms, i + 1))).as("out"),
              lit(false).as("skip")))
      },
      acc => acc.getField("out"))
  }

  /** Byte-pair-encoding MERGE TRAINING (Sennrich, Haddow, Birch, ACL 2016 —
    * the tokenizer-training algorithm behind GPT-2/RoBERTa-class vocabularies):
    * learn `nMerges` merge rules by repeatedly taking the corpus-weighted most
    * frequent adjacent symbol pair (count DESC, then lexicographic (left,
    * right) ASC — deterministic) and fusing it across the vocabulary.
    *
    * Scale shape — the same reduction real BPE trainers use: the corpus
    * collapses to (word, count) ONCE (the only corpus-sized shuffle; at
    * 100 TB the vocabulary is ~10^7-10^8 rows ≪ corpus), and every merge
    * round then runs over the VOCABULARY only: a pair posexplode + partial
    * aggregation, a global argmax (LIMIT 1 — one row to the driver, the same
    * bounded-artifact pattern as ivfTopK's quantizer), and a map-side fold
    * applying the winning rule. Per-round localCheckpoint bounds lineage
    * exactly like the pageRank loop.
    *
    * Charset contract: symbols are Unicode CODEPOINT-sized (substring
    * semantics); the DuckDB oracle indexes by grapheme cluster, which
    * coincides on this corpus (ASCII) — combining sequences would diverge
    * and need a normalization pre-pass first.
    *
    * Returns (merges, vocab): merges = (rk, lhs, rhs, merged, pair_count)
    * one row per learned rule; vocab = (word, n, n_syms, toks) with each
    * word's final segmentation — every rule application at every position
    * is visible in `toks`, so an oracle over vocab pins the whole training
    * trajectory. */
  def bpeTrain(docs: DataFrame, nMerges: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = docs
      .select(explode(tokensCol(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val top = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS l, syms[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, a + b, cnt))
        vocab = vocab.withColumn("syms", applyMerge(col("syms"), a, b))
          .localCheckpoint(true)
        r += 1
      }
    }
    val mergesDf = merges.toSeq.toDF("rk", "lhs", "rhs", "merged", "pair_count")
    (mergesDf,
      vocab.select(col("word"), col("n"), size(col("syms")).as("n_syms"),
        concat_ws(" ", col("syms")).as("toks")))
  }

  /** BPE ENCODE — apply a trained vocabulary (bpeTrain's second return) to
    * the corpus, producing each document's token stream. This is the
    * apply-side every tokenizer-training pipeline pairs with bpeTrain: the
    * corpus is segmented by DICTIONARY LOOKUP, never by re-running the
    * merge rules per document — each distinct word was segmented exactly
    * once at training time, so encoding is one equi-join on `word` against
    * the (broadcastable, vocabulary-sized ≪ corpus) segmentation table,
    * then a per-doc ordered reassembly. Word order is carried by the
    * posexplode index and restored with an in-group array_sort — no window,
    * no second shuffle; the one exchange is the groupBy(doc_id).
    *
    * Output: (doc_id, n_words, n_tokens, toks_str) — toks_str is the full
    * space-joined token stream, so any rule misapplication at any position
    * of any word in any document flips the row. */
  def bpeEncode(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), posexplode(tokensCol(col("text"))).as(Seq("wpos", "word")))
      .filter(length(col("word")) > 0)
    val seg = broadcast(vocab.select(col("word"), col("n_syms"), col("toks")))
    words.join(seg, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms").cast("long")).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("wpos"), col("toks")))),
          e => e.getField("toks")), " ").as("toks_str"))
  }
}
