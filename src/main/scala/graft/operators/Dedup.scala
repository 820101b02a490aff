package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextHash, VectorOps}

/** Deduplication operators over a documents table (doc_id, text) — the
  * core of an LLM training-data pipeline. Five families, in increasing
  * robustness-to-edits order: exact, normalized fingerprint, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding cosine.
  *
  * Scale design: everything is hash-partitioned dataflow — no
  * driver-side state. Exact/fingerprint are single shuffles on the key.
  * N-gram Jaccard joins on shingle (its cost is bounded by shared
  * shingles; at 100 TB you run MinHash LSH instead, which is linear in
  * corpus size + candidate pairs). All thresholds/seeds are fixed
  * constants so results are reproducible and oracle-checkable.
  */
object Dedup {

  /** Lowercase, strip non-alphanumerics, collapse whitespace — a
    * single-pass native expression (byte-identical to the composed
    * trim/regexp_replace/lower form, which ran two full regex engines
    * per document; measured ~6x on the 2M-doc fingerprint smoke).
    * [[normalizeRegex]] keeps the built-in formulation as the
    * equivalence baseline.
    */
  def normalize(c: Column): Column =
    graft.functions.HashFunctions.normalizeText(c)

  /** The built-ins-only twin of [[normalize]] (equivalence baseline). */
  def normalizeRegex(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Exact dedup: one survivor (min doc_id) per identical text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** Duplicate-cluster representative selection: among documents with
    * the same normalized fingerprint, keep the LONGEST copy (tie:
    * smallest id) — real pipelines keep the best duplicate, not the
    * first. Implemented as a pure aggregate (`max` of a
    * lexicographically-ordered struct), not a window: partial map-side
    * combine reduces every upstream task to one candidate row per
    * fingerprint before the shuffle, so a pathological
    * million-copy document costs one row per task, never a
    * full-cluster sort.
    */
  def keepBest(docs: DataFrame): DataFrame =
    Similarity.wideRepartition(docs, col("doc_id"))
      .select(col("doc_id"), col("n_chars"),
        md5(normalize(col("text"))).as("fp"))
      .groupBy("fp")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
          .as("best"),
        count(lit(1)).as("n_copies"))
      .select((-col("best.neg_id")).as("doc_id"),
        col("best.n_chars").as("n_chars"), col("n_copies"))
      .orderBy("doc_id")

  /** Fingerprint dedup: md5 of normalized text (md5 is identical across
    * engines, unlike xxhash64/murmur). The scan is spread across cores
    * first: the corpus arrives as few (locally: one) parquet splits, and
    * the normalize regexes + md5 are the dominant per-row cost — without
    * the repartition they run in one task.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    Similarity.wideRepartition(docs, col("doc_id"))
      .select(col("doc_id"), md5(normalize(col("text"))).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "fp", "n_copies")
      .orderBy("doc_id")

  /** Exact n-gram Jaccard near-dup pairs: distinct word n-gram shingles
    * per doc, self-join on shingle, J = |A∩B| / (|A|+|B|-|A∩B|) >= tau.
    * Outputs integer evidence (shared, sizes) — no float columns — so
    * the oracle comparison is exact.
    *
    * Scale guard: shingles with document frequency > `maxDf` are dropped
    * before the self-join (standard in production dedup) — a ubiquitous
    * boilerplate shingle shared by k docs would otherwise contribute k²
    * join rows on one hot key. The cap bounds any shingle's contribution
    * to maxDf² and is applied to sizes too, so Jaccard stays consistent;
    * the oracle replays the identical cap.
    */
  def ngramJaccard(docs: DataFrame, n: Int = 4, tau: Double = 0.8,
      maxDf: Int = 256): DataFrame = {
    // Shingles are rolling-hashed to longs inside the array transform and
    // deduplicated with a hash aggregate: array_distinct over string
    // arrays is O(k^2) string comparisons per doc (measured 9x slower).
    // repartition: shingle hashing is the per-row hot loop and the few
    // parquet splits would otherwise serialize it on one core
    // per-document shingle dedup is per-row: array_distinct before the
    // explode (a global .distinct() here shuffled #docs x #shingles
    // rows — the 2M-doc smoke measured ~7 min of that in decontaminate)
    val sh0 = Similarity.wideRepartition(docs, col("doc_id")).select(col("doc_id"),
      explode(array_distinct(
        TextHash.shingleHashes(split(col("text"), " "), n))).as("sh"))
    // df-cap: the aggregate and the join share the `sh` hash partitioning,
    // so capping costs no extra shuffle of the shingle set.
    val rare = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("sh")
    val sh = sh0.join(rare, "sh")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.toDF("sh", "doc_a")
    val b = sh.toDF("sh", "doc_b")
    // pinned-width repartition (see Similarity.wideRepartition): the
    // inverted-shingle self-join explodes up to maxDf pairs per posting
    // — AQE's byte-based coalescing serialized the join+count stage
    Similarity.wideRepartition(a, col("sh")).join(b, "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.toDF("doc_a", "size_a"), "doc_a")
      .join(sizes.toDF("doc_b", "size_b"), "doc_b")
      .filter(col("shared") / (col("size_a") + col("size_b") - col("shared")) >= tau)
      .select("doc_a", "doc_b", "shared", "size_a", "size_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Asymmetric near-dup detection by shingle CONTAINMENT: a pair
    * qualifies when the SMALLER document's shingle set is mostly inside
    * the larger one's — |A∩B| / min(|A|,|B|) >= tau. This catches the
    * partial-copy family Jaccard misses by construction: a tweet quoted
    * inside an article, a doc re-published with a boilerplate wrapper,
    * a chapter inside a collection — the intersection is nearly all of
    * the small side but a sliver of the big one, so J = |A∩B|/|A∪B|
    * stays far below any Jaccard threshold (and MinHash-LSH, which
    * estimates J, rarely even surfaces the pair as a candidate).
    *
    * Same linear-scale shape as [[ngramJaccard]]: inverted shingle join
    * with the df cap bounding any shingle's contribution to maxDf², and
    * the per-doc shingle dedup before the explode. Integer evidence
    * only (shared, sizes, direction) — the oracle comparison is exact.
    */
  def containment(docs: DataFrame, n: Int = 4, tau: Double = 0.9,
      maxDf: Int = 256): DataFrame = {
    val sh0 = Similarity.wideRepartition(docs, col("doc_id")).select(col("doc_id"),
      explode(array_distinct(
        TextHash.shingleHashes(split(col("text"), " "), n))).as("sh"))
    val rare = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("sh")
    val sh = sh0.join(rare, "sh")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.toDF("sh", "doc_a")
    val b = sh.toDF("sh", "doc_b")
    // pinned-width repartition — same AQE rationale as ngramJaccard
    Similarity.wideRepartition(a, col("sh")).join(b, "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.toDF("doc_a", "size_a"), "doc_a")
      .join(sizes.toDF("doc_b", "size_b"), "doc_b")
      .filter(col("shared") / least(col("size_a"), col("size_b")) >= tau)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("size_a"), col("size_b"),
        // which side is (mostly) contained in the other
        when(col("size_a") <= col("size_b"), col("doc_a"))
          .otherwise(col("doc_b")).as("contained_doc"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard via PREFIX FILTERING (the PPJoin family,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08): identical answer to
    * [[ngramJaccard]] — same df cap, same threshold, same output — but
    * the candidate join touches only each document's (1-tau)|A|+1
    * globally RAREST shingles instead of all of them.
    *
    * Why it is complete: order all shingles by (df, sh) — a total
    * order shared by every document. If J(A,B) >= tau then
    * |A\B| <= |A| - ceil(tau|A|) = prefixLen(A) - 1, so A's prefix
    * contains at least one element of A∩B — necessarily min(A∩B) in
    * the global order (the elements of A∩B inside A's prefix form a
    * prefix of A∩B itself). The same holds for B, so BOTH prefixes
    * contain min(A∩B) and the prefix-prefix equi-join finds the pair.
    *
    * Scale shape: the inverted index shrinks from sum(|A|) postings to
    * sum((1-tau)|A|+1) — at tau=0.8 a 5x smaller join input, and the
    * rarest-first global order makes the surviving keys the LOW-df
    * ones, so hot keys are structurally excluded beyond the df cap.
    * Candidates are additionally length-filtered (tau|A| <= |B|) with
    * exact integer arithmetic before the verify join recomputes the
    * true intersection for candidate pairs only. All comparisons are
    * integer (tau = tauNum/tauDen), so oracle equality is exact.
    */
  def prefixJaccard(docs: DataFrame, n: Int = 4, tauNum: Int = 4,
      tauDen: Int = 5, maxDf: Int = 256): DataFrame = {
    val sh0 = Similarity.wideRepartition(docs, col("doc_id")).select(col("doc_id"),
      explode(array_distinct(
        TextHash.shingleHashes(split(col("text"), " "), n))).as("sh"))
    // keep df: it defines the rarest-first global order
    val rare = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val sh = sh0.join(rare, "sh")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // rank within each doc by the GLOBAL (df, sh) order; prefix length
    // |A| - ceil(tau*|A|) + 1, all-integer
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "sh")
    val pref = sh
      .withColumn("rk", row_number().over(w))
      .join(sizes, "doc_id")
      // ceil(tau*sz) = (sz*tauNum + tauDen-1) div tauDen; floor of the
      // double quotient is exact (operands far below 2^52)
      .filter(col("rk") <=
        col("sz") - floor((col("sz") * tauNum + (tauDen - 1)) / tauDen) + 1)
      .select("doc_id", "sh", "sz")
    val cand = Similarity.wideRepartition(
        pref.select(col("sh"), col("doc_id").as("doc_a"),
          col("sz").as("size_a")), col("sh"))
      .join(pref.select(col("sh"), col("doc_id").as("doc_b"),
        col("sz").as("size_b")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      // length filter: tau*|A| <= |B| and tau*|B| <= |A|
      .filter(col("size_b") * tauDen >= col("size_a") * tauNum &&
        col("size_a") * tauDen >= col("size_b") * tauNum)
      .select("doc_a", "doc_b", "size_a", "size_b")
      .distinct()
    // verify: exact intersection count, candidates only
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")),
        Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b", "size_a", "size_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") * tauDen >=
        (col("size_a") + col("size_b") - col("shared")) * tauNum)
      .select("doc_a", "doc_b", "shared", "size_a", "size_b")
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash signature per document: 16 permutation-mins over the
    * rolling-hashed shingle set.
    */
  def minhashSignatures(docs: DataFrame, n: Int = 4): DataFrame = {
    // No distinct needed: min over the shingle multiset equals min over
    // the set, so duplicates cannot change any signature component.
    // repartition spreads the shingle+rehash hot loop across cores.
    val sh = Similarity.wideRepartition(docs, col("doc_id")).select(col("doc_id"),
      explode(TextHash.shingleHashes(split(col("text"), " "), n)).as("h"))
    val mins = TextHash.minhashSeeds.zipWithIndex.map { case ((a, b), j) =>
      min(TextHash.rehash(col("h"), a, b)).as(s"s$j")
    }
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH candidate pairs: 4 bands x 4 rows; docs sharing any
    * band bucket become a candidate pair. This is the linear-scale
    * near-dup path for 100 TB: cost is O(corpus) signatures + one
    * shuffle per band on the band key — never all-pairs.
    */
  def minhashLsh(docs: DataFrame, n: Int = 4): DataFrame =
    minhashPairs(docs, n).orderBy("doc_a", "doc_b")

  /** The unsorted LSH candidate pairs — consumers that post-process
    * (cluster resolution) skip the presentation sort. */
  def minhashPairs(docs: DataFrame, n: Int = 4): DataFrame =
    pairsFromSigs(minhashSignatures(docs, n))

  /** Within-corpus LSH candidate pairs from an already-computed (or
    * index-read) signature relation — the band self-join half of
    * [[minhashPairs]], reused by the exact-pair cluster index
    * (PipelineOps.buildClusterIndex with PairSource.Exact, and its
    * out-of-step heal), where signatures come back from a governed
    * table instead of a fresh shingle pass. One pass over
    * the signatures: [[sigBands]] explodes each row into its 4 band
    * keys (a union of per-band selects would recompute the whole
    * signature pipeline once per band — 4x the work).
    */
  def pairsFromSigs(sig: DataFrame, nBands: Int = 4): DataFrame = {
    val bands = sigBands(sig, nBands)
    val a = bands.toDF("doc_a", "band", "key")
    val b = bands.toDF("doc_b", "band", "key")
    // pinned-width repartition — same AQE rationale as the LSH joins
    Similarity.wideRepartition(a, col("band"), col("key"))
      .join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** [[pairsFromSigs]] with the DENSE-BUCKET CAP — the text-side twin
    * of `Similarity.cappedCandidates` (r15): MinHash band buckets are
    * near-dup groups, so a corpus with massive boilerplate duplication
    * (the exact shape a web-scale crawl has) runs buckets thousands
    * deep and the band self-join's pair volume sum(|bucket|²) goes
    * quadratic — the same measured phenomenon as the embedding side.
    * Each (band, key) bucket keeps at most `cap` members, ranked by
    * the same deterministic multiplicative per-band Knuth mix the
    * embedding cap uses (one convention — `Similarity.capBuckets` —
    * one oracle shape); the key needs no hash term because a document
    * occupies exactly one bucket per band. The band mixing INSIDE the
    * multiplication (r16 SaltProbe adoption) makes each band cap an
    * independent survivor subset of a clone group, so the bands' union
    * covers up to bands× more true pairs than the r15 additive salt
    * did (measured ×2.2–×5.4) at identical bounded work; pair volume
    * stays bounded at buckets × cap², and buckets at or under the cap
    * are untouched, so on sane corpora the result equals
    * [[pairsFromSigs]] exactly (spec-pinned).
    */
  def pairsFromSigsCapped(sig: DataFrame, cap: Int = 8,
      nBands: Int = 4): DataFrame = {
    // shared Knuth rank primitive (one Scala copy of the constants);
    // keyTerm zero — a doc occupies exactly one bucket per band, so
    // the band term already salts the survivor choice
    val capped = graft.CacheScope.cached(Similarity.capBuckets(
      sigBands(sig, nBands), "doc_id", cap, lit(0L)))
    Similarity.pairsAmongCapped(capped, "doc_a", "doc_b", unordered = true)
  }

  /** [[minhashLsh]] over the bucket-capped candidate set, at the
    * given banding (4×4 by default; 2×8 is the re-banded shape the
    * adaptive router picks when re-banding measurably shrinks the
    * buckets).
    */
  def minhashLshCapped(docs: DataFrame, n: Int = 4, cap: Int = 8,
      nBands: Int = 4): DataFrame =
    pairsFromSigsCapped(minhashSignatures(docs, n), cap, nBands)
      .orderBy("doc_a", "doc_b")

  /** The DENSITY-ROUTED text near-dup entry point — the MinHash twin
    * of [[embeddingCosineAuto]], same decision rule: the exact band
    * join's candidate volume is band_pairs (sum of squared bucket
    * depths, one constant-size guard aggregate), the capped join's is
    * at most band_rows × cap; route exact within `slack`× that bound
    * (full recall while it costs no more than a few capped passes),
    * cap past it. Since r17 the capped branch is BAND-SHAPE-AWARE
    * (see [[lshPairsAutoFromSigs]]): a second guard aggregate at the
    * re-banded 2×8 shape decides whether re-banding actually shrinks
    * the buckets before the cap applies. Deterministic function of
    * the data — the oracle replays the identical integer comparisons
    * gating all three branches.
    */
  def minhashLshAuto(docs: DataFrame, n: Int = 4, cap: Int = DefaultCap,
      slack: Int = DefaultSlack, rebandGain: Int = RebandGain): DataFrame =
    lshPairsAutoFromSigs(graft.CacheScope.cached(minhashSignatures(docs, n)),
      cap, slack, rebandGain).orderBy("doc_a", "doc_b")

  /** The shape-pick factor both capped families share (r17,
    * VERDICT r16 item 1): within the capped branch, RE-BAND to half
    * the bands × double the rows iff the measured re-banded candidate
    * volume is at most 1/`RebandGain` of the current shape's — i.e.
    * iff more bits per band actually shrink the buckets. The r17
    * BandShapeProbe measurement behind the threshold: bucket depth
    * driven by sign-collisions of DISTINCT items collapses ~16× under
    * re-banding (volume ratio ~0.15 on the adversarial dense
    * embedding corpora — exactly where the r16 ledger measured the
    * 0.56→0.97 recall recovery), while depth driven by IDENTICAL
    * items (text template clones: identical signatures collide at ANY
    * band width) leaves the ratio at exactly 0.5 — there re-banding
    * would only halve the independent per-band cap draws and LOSE
    * recall, so the router must stay. Gain 4 separates the two
    * regimes with a 2× margin on each side.
    */
  val RebandGain = 4

  /** Default per-bucket cap and exact-route slack both density-routed
    * pair families share — NAMED (r17 advice) so the SQL oracles
    * interpolate `DefaultCap * DefaultSlack` instead of a bare `64`:
    * a constant change or a non-default invocation must fail the
    * oracle loudly, never desynchronize it silently.
    */
  val DefaultCap = 8
  val DefaultSlack = 8

  /** [[minhashLshAuto]]'s routing core over an already-computed
    * signature relation — three branches, all gated by constant-size
    * integer guard aggregates the oracle replays: exact 4×4 while the
    * exact volume is within slack× the capped bound; else capped,
    * re-banded to 2×8 iff re-banding shrinks the candidate volume by
    * ≥ rebandGain (see [[RebandGain]]).
    */
  private[graft] def lshPairsAutoFromSigs(sig: DataFrame, cap: Int = DefaultCap,
      slack: Int = DefaultSlack, rebandGain: Int = RebandGain): DataFrame = {
    // ONE dual-shape guard job (r17 verdict item 4) — both shapes'
    // volumes from a single pass over the signature relation; the
    // routing comparisons are unchanged
    val (exactVolume, bandRows, rebandVolume) = sigBandVolumeDual(sig)
    if (exactVolume <= bandRows * cap * slack) pairsFromSigs(sig)
    else if (rebandVolume * rebandGain <= exactVolume)
      pairsFromSigsCapped(sig, cap, nBands = 2)
    else pairsFromSigsCapped(sig, cap)
  }

  /** The router/guard aggregate over a signature relation:
    * (exact band join candidate volume = Σ|bucket|², total band rows)
    * at the given banding. One constant-size aggregate — the same
    * integer evidence [[minhashLshAuto]] routes on and the persisted
    * cluster index's exact build refuses on before committing anything
    * (PipelineOps.buildClusterIndex with PairSource.Exact; its Auto
    * route reads the same volume from [[sigBandVolumeDual]]).
    */
  private[operators] def sigBandVolume(sig: DataFrame,
      nBands: Int = 4): (Long, Long) = {
    val st = sigBands(sig, nBands)
      .groupBy("band", "key").agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt") * col("cnt")).as("bp"), sum(col("cnt")).as("br"))
      .head()
    (if (st.isNullAt(0)) 0L else st.getLong(0),
      if (st.isNullAt(1)) 0L else st.getLong(1))
  }

  /** BOTH band shapes' guard volumes in ONE aggregate pass — the text
    * twin of `Similarity.bandStatsDual` (r17 verdict item 4: the
    * shape-aware routers paid a second full signature pass at the
    * re-banded 2×8 shape whenever the first guard routed capped).
    * Each doc emits its four 4×4 keys AND its two 2×8 keys in one
    * select; `pos` 0–3 are the 4×4 bands, 4–5 the 2×8 bands, so one
    * grouped count plus a 2-row rollup yields both shapes' stats.
    * Per-shape bucket counts are bit-identical to [[sigBandVolume]]'s
    * (same concat_ws keys), so every routing comparison — and its
    * oracle replay — is unchanged. Returns
    * (exact_volume@4×4, band_rows@4×4, reband_volume@2×8).
    */
  private[graft] def sigBandVolumeDual(sig: DataFrame): (Long, Long, Long) = {
    val st = sig.select(
      posexplode(array(sigBandKeyCols(4) ++ sigBandKeyCols(2): _*))
        .as(Seq("pos", "key")))
      .groupBy("pos", "key").agg(count(lit(1)).as("cnt"))
      .groupBy((col("pos") < 4).as("is_cur"))
      .agg(sum(col("cnt") * col("cnt")).as("bp"), sum(col("cnt")).as("br"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val (bp, br) = st.getOrElse(true, (0L, 0L))
    val (bp2, _) = st.getOrElse(false, (0L, 0L))
    (bp, br, bp2)
  }

  /** The candidate pairs involving at least one DELTA document: band
    * keys of the delta's signatures joined against the FULL signature
    * set (which includes the delta — so delta–delta pairs surface
    * too). Because a refreshed corpus's doc_ids are disjoint from the
    * existing ones, this is EXACTLY the set-difference between the
    * full corpus's [[pairsFromSigs]] and the pre-delta pair set —
    * appending it to a persisted pair table reproduces the rebuild's
    * pair set bit-for-bit while banding only the delta against the
    * index. Cost per refresh: the delta's own signature pass + one
    * band equi-join pruned to buckets the delta touches.
    */
  def deltaPairsFromSigs(deltaSig: DataFrame, allSig: DataFrame): DataFrame = {
    val d = sigBands(deltaSig).toDF("doc_d", "band", "key")
    val a = sigBands(allSig).toDF("doc_o", "band", "key")
    d.join(a, Seq("band", "key"))
      .filter(col("doc_d") =!= col("doc_o"))
      .select(least(col("doc_d"), col("doc_o")).as("doc_a"),
        greatest(col("doc_d"), col("doc_o")).as("doc_b"))
      .distinct()
  }

  /** Estimator-quality view of the MinHash sketch: for every LSH
    * candidate pair, the SIGNATURE-estimated similarity (matching
    * components of 16 — the only number a 100 TB pipeline can afford,
    * computed from 16 longs per doc) next to the EXACT shingle-set
    * overlap (|A∩B|, |A|, |B| — requires re-touching the shingles, paid
    * here only for the tiny candidate set). E[matches/16] = Jaccard is
    * the MinHash guarantee; integer outputs keep the oracle exact.
    */
  def minhashEstimate(docs: DataFrame, n: Int = 4): DataFrame = {
    val sig = minhashSignatures(docs, n)
    val pairs = minhashPairs(docs, n)
    val sa = sig.toDF("doc_a" +: (0 until 16).map(j => s"a$j"): _*)
    val sb = sig.toDF("doc_b" +: (0 until 16).map(j => s"b$j"): _*)
    val sigMatches = (0 until 16).map(j =>
      when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
    // distinct shingle-hash sets, touched only for candidate pairs
    val sh = Similarity.wideRepartition(docs, col("doc_id")).select(col("doc_id"),
      explode(TextHash.shingleHashes(split(col("text"), " "), n)).as("h"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sh.toDF("doc_a", "h"), "doc_a")
      .join(sh.toDF("doc_b", "h"), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    pairs
      .join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        sigMatches.cast("int").as("sig_matches"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sig_matches"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        col("n_a"), col("n_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-corpus exact dedup: drop INCOMING documents whose normalized
    * fingerprint already exists in an EXISTING corpus — the standard
    * decontamination step when merging a new crawl into a training set
    * (within-corpus dedup can't catch these: the duplicate lives in the
    * other dataset). Shape: fingerprint both sides, one left_anti
    * equi-join on the hash — at 100 TB the existing side's fingerprints
    * are a bucket-partitioned committed table (built once, like the
    * BM25/PQ indexes), so each incoming batch joins co-partitioned.
    * Here the corpus splits into existing/incoming by a deterministic
    * source-hash gate so the oracle replays the whole flow.
    */
  def crossCorpusNew(incoming: DataFrame, existing: DataFrame): DataFrame = {
    def fp(df: DataFrame) = Similarity.wideRepartition(df, col("doc_id"))
      .select(col("doc_id"), md5(normalize(col("text"))).as("fp"))
    fp(incoming)
      .join(fp(existing).select("fp").distinct(), Seq("fp"), "left_anti")
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  /** Cross-corpus dedup with a BLOOM-FILTER prefilter — the shape that
    * survives when the existing corpus's fingerprint set is too large to
    * hash-join against every incoming batch. The existing side collapses
    * to a fixed-size bit array (`bits` bits as `bits/64` bigint words,
    * built with a map-side-combined `bit_or` aggregate — shuffle bounded
    * by the bloom's size, not the corpus's), which then broadcast-joins
    * the incoming side's probe positions. A bloom has NO false
    * negatives, so incoming docs missing any probe bit are definitely
    * new and skip the join entirely; only the bloom-POSITIVE sliver
    * (true dups + ~fpp of the rest) reaches the exact anti-join confirm,
    * making the final answer exactly [[crossCorpusNew]]'s — the oracle
    * replays the exact semantics, the bloom is pure pruning.
    *
    * Probe independence (ADVICE r7): prefix-salting the 32-char hex fp
    * made every probe an affine shift of ONE polynomial hash (h("blj:"
    * || fp) = const_j·31^32 + h(fp) mod P), collapsing the filter to an
    * effective 1-hash bloom. The probes are now Kirsch-Mitzenmacher:
    * one base hash x = polyHash(fp), then k pairwise-distinct universal
    * rehashes p_j = (a_j·x + b_j) mod P mod bits with distinct odd
    * multipliers — k genuinely independent positions from one hash.
    *
    * Row multiplicity (ADVICE r7): the probe runs on the DISTINCT
    * (doc_id, fp) set (each fingerprint is probed once, not once per
    * duplicate row) and the surviving set re-expands by the original
    * occurrence count, so the output is row-for-row [[crossCorpusNew]]
    * even when incoming carries duplicate doc_ids.
    */
  def bloomPrefilterNew(incoming: DataFrame, existing: DataFrame,
      bits: Int = 1 << 16, kHashes: Int = 3): DataFrame = {
    val exFp = fpOf(existing)
    probeWithBloom(fpOf(incoming), bloomWordsOf(exFp, bits, kHashes), exFp,
      bits, kHashes)
  }

  /** Normalized fingerprints of a corpus: (doc_id, fp). */
  private def fpOf(df: DataFrame): DataFrame = Similarity.wideRepartition(df, col("doc_id"))
    .select(col("doc_id"), md5(normalize(col("text"))).as("fp"))

  /** Kirsch-Mitzenmacher probe positions:
    * x = polyHash(fp); p_j = (a_j·x + b_j) % P % bits.
    */
  private def bloomProbes(c: Column, bits: Int, kHashes: Int): Column = {
    val x = TextHash.rollingHash(c)
    array((0 until kHashes).map(j =>
      TextHash.rehash(x, 2L * j + 3L, 7919L * (j + 1)) % bits): _*)
  }

  /** Bloom bit array of a fingerprint relation as (w, bitsw) 64-bit
    * words — built with a map-side-combined `bit_or`, so the shuffle
    * is bounded by the bloom's fixed size, never the corpus.
    */
  private def bloomWordsOf(fps: DataFrame, bits: Int, kHashes: Int): DataFrame = {
    require(bits % 64 == 0, s"bits must be a multiple of 64, got $bits")
    fps.select(explode(bloomProbes(col("fp"), bits, kHashes)).as("p"))
      .select((col("p") / 64).cast("long").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("m"))
      .groupBy("w").agg(bit_or(col("m")).as("bitsw"))
  }

  /** The probe half of the bloom prefilter: bloom-negative incoming
    * rows are definitely new; only bloom-positive rows reach the exact
    * anti-join confirm. Output is row-identical to [[crossCorpusNew]].
    */
  private def probeWithBloom(inFpRaw: DataFrame, bloom: DataFrame,
      exFp: DataFrame, bits: Int, kHashes: Int): DataFrame = {
    // Broadcast the bit array only while it is provably small (≤2^27
    // bits = 2M words ≈ 32 MiB serialized — routine broadcast range; a
    // 2^27-bit bloom covers ~10M fingerprints at fpp<1%). A
    // production-corpus bloom (10^10 bits for n~10^9 at fpp~1% is
    // ~1.2 GiB) must NOT be force-broadcast; above the gate the probe
    // joins co-partitioned on the word id and AQE may still choose
    // broadcast from runtime stats.
    val bloomSide = if (bits <= (1 << 27)) broadcast(bloom) else bloom
    val inFp = inFpRaw.groupBy("doc_id", "fp").agg(count(lit(1)).as("mult"))
    val probed = inFp
      .select(col("doc_id"), col("fp"), col("mult"),
        explode(bloomProbes(col("fp"), bits, kHashes)).as("p"))
      .join(bloomSide, (col("p") / 64).cast("long") === col("w"), "left")
      .groupBy("doc_id", "fp", "mult")
      .agg(sum(when(expr("bitsw IS NOT NULL AND " +
        "(bitsw & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0"),
        1).otherwise(0)).as("n_set"))
    val definitelyNew = probed.filter(col("n_set") < kHashes)
      .select("doc_id", "fp", "mult")
    val candidates = probed.filter(col("n_set") === kHashes)
      .select("doc_id", "fp", "mult")
    // Confirm without shuffling the existing-fingerprint relation: the
    // candidate fp set (the bloom-positive sliver — small when the
    // bloom is sized) semi-filters the big side, so only MATCHING fps
    // flow into the distinct; AQE broadcasts the candidate set at
    // runtime and the big side is a streamed scan. The former
    // formulation (anti-join against distinct-of-ALL-existing-fps)
    // shuffled the whole corpus's fingerprints per incoming batch.
    val candFps = candidates.select("fp").distinct()
    val present = exFp.join(candFps, Seq("fp"), "left_semi")
      .select("fp").distinct()
    val rescued = candidates
      .join(present, Seq("fp"), "left_anti")
      .select("doc_id", "fp", "mult")
    definitelyNew.unionByName(rescued)
      // re-expand to crossCorpusNew's exact row multiplicity
      .select(col("doc_id"), col("fp"),
        explode(array_repeat(lit(1), col("mult").cast("int"))).as("one"))
      .drop("one")
      .orderBy("doc_id")
  }

  /** NEAR-dup cross-corpus decontamination — the fourth quadrant of
    * the dedup matrix ({exact, near} × {within, cross}): drop incoming
    * documents that are MinHash-near-duplicates of ANY document in an
    * existing corpus, catching paraphrases/edits the exact-fingerprint
    * cross-corpus join ([[crossCorpusNew]]) misses. Candidates come
    * from the same 4×4 MinHash LSH banding as the within-corpus path
    * (band-key equi-join of the two sides — never all-pairs); the
    * confirm is signature agreement (≥ `minMatches` of 16 components,
    * E[matches/16] = Jaccard), touching 16 longs per candidate pair
    * only. Incoming docs sharing an id with an identical existing doc
    * self-match 16/16 and drop — decontamination semantics, the two
    * corpora are logically distinct tables. At 100 TB the existing
    * side's band keys + signatures are a bucket-partitioned committed
    * index (build once, probe per batch — the bloom/BM25/PQ
    * lifecycle). Deterministic; the oracle replays bands, signatures,
    * and the match count exactly.
    */
  def crossCorpusNear(incoming: DataFrame, existing: DataFrame, n: Int = 4,
      minMatches: Int = 8): DataFrame =
    crossCorpusNearFromSigs(incoming, minhashSignatures(incoming, n),
      minhashSignatures(existing, n), minMatches)

  /** The band-join + signature-confirm core, over already-computed
    * signature relations. `incoming` supplies the survivor universe —
    * docs with <n words have no shingles, hence no signature row, and
    * must still survive.
    */
  private def crossCorpusNearFromSigs(incoming: DataFrame, sigIn: DataFrame,
      sigEx: DataFrame, minMatches: Int): DataFrame = {
    val cand = sigBands(sigIn).toDF("doc_in", "band", "key")
      .join(sigBands(sigEx).toDF("doc_ex", "band", "key"), Seq("band", "key"))
      .select("doc_in", "doc_ex").distinct()
    val sa = sigIn.toDF("doc_in" +: (0 until 16).map(j => s"a$j"): _*)
    val sb = sigEx.toDF("doc_ex" +: (0 until 16).map(j => s"b$j"): _*)
    val nMatch = (0 until 16)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    val flagged = cand.join(sa, "doc_in").join(sb, "doc_ex")
      .select(col("doc_in"), nMatch.as("m"))
      .filter(col("m") >= minMatches)
      .select(col("doc_in").as("doc_id")).distinct()
    incoming.select("doc_id")
      .join(flagged, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** (doc_id, band, key) rows of a 16-component signature relation —
    * the banding both the candidate join and the volume guard below
    * derive keys from: `nBands` bands of 16/nBands rows each (4×4 by
    * default; the shape-aware router's re-banded branch uses 2×8).
    * `private[graft]`: the capped cluster index (PipelineOps)
    * persists these rows' per-bucket cap survivors as index state.
    */
  /** The per-band key expressions over a signature relation — ONE copy
    * of the concat_ws layout (r18 review: the dual-shape guard had
    * re-derived it inline, the exact hand-copy hazard the BandShapeProbe
    * fix removed) shared by [[sigBands]] and [[sigBandVolumeDual]].
    */
  private def sigBandKeyCols(nBands: Int): Seq[Column] = {
    require(16 % nBands == 0, s"nBands must divide 16, got $nBands")
    val rowsPer = 16 / nBands
    (0 until nBands).map { bnd =>
      concat_ws(":", (0 until rowsPer).map(r =>
        col(s"s${bnd * rowsPer + r}")): _*)
    }
  }

  private[graft] def sigBands(sig: DataFrame, nBands: Int = 4): DataFrame =
    sig.select(col("doc_id"),
      posexplode(array(sigBandKeyCols(nBands): _*)).as(Seq("band", "key")))

  /** Candidate-volume guard for the CROSS-corpus band join — the
    * near-dup analogue of [[Similarity.bandCandidateStats]] (ADVICE
    * r7 / VERDICT r8 item 6): per-(band, key) bucket counts on each
    * side, inner-joined on colliding buckets, collapsed to one row.
    * `cand_pairs` = Σ cnt_in·cnt_ex is EXACTLY the row count the band
    * equi-join in [[crossCorpusNear]] would produce before its
    * distinct; ≈ n_in·n_ex·bands means the banding has degenerated to
    * all-pairs for these corpora (clustered text, shingle collisions)
    * and the join should be re-parameterized, not launched. Cost: two
    * narrow grouped counts + a join of bucket-count relations —
    * bounded by distinct band keys, never by candidate pairs, so the
    * guard is safe to run even when the join it guards is not.
    * Returned as data (log / abort / re-band is the caller's choice),
    * matching the ANN family's discipline.
    */
  def crossBandStats(incoming: DataFrame, existing: DataFrame,
      n: Int = 4): DataFrame =
    crossBandStatsFromSigs(minhashSignatures(incoming, n),
      minhashSignatures(existing, n))

  /** The guard over already-computed (or index-read) signatures — a
    * probe against a persisted [[buildNearIndex]] table guards with
    * `crossBandStatsFromSigs(sigIn, Mor.read(...))`.
    */
  def crossBandStatsFromSigs(sigIn: DataFrame,
      sigEx: DataFrame): DataFrame = {
    val ci = sigBands(sigIn).groupBy("band", "key")
      .agg(count(lit(1)).as("cnt_in"))
    val ce = sigBands(sigEx).groupBy("band", "key")
      .agg(count(lit(1)).as("cnt_ex"))
    ci.join(ce, Seq("band", "key"))
      .agg(
        coalesce(sum(col("cnt_in") * col("cnt_ex")), lit(0L))
          .as("cand_pairs"),
        count(lit(1)).as("n_hot_buckets"),
        coalesce(max(col("cnt_in") * col("cnt_ex")), lit(0L))
          .as("max_bucket_pairs"))
  }

  /** PERSISTED near-dup index: the existing corpus's MinHash signatures
    * (doc_id, s0..s15 — 16 longs per document) committed as a governed
    * table. Signatures are per-document rows, so corpus growth is
    * naturally append-only: [[refreshNearIndex]] appends the delta
    * corpus's signature rows and the table equals a from-scratch build
    * (no fold needed — the rows are disjoint by doc_id). Probing
    * derives band keys from the stored signatures (a projection, no
    * re-shingling of the existing corpus) and runs the same
    * band-join + signature-confirm as [[crossCorpusNear]]. At 100 TB:
    * signatures are built once per corpus (the expensive shingle +
    * 16-rehash pass), every incoming batch pays only its own.
    */
  def buildNearIndex(spark: SparkSession, existing: DataFrame, root: String,
      ns: String, table: String, n: Int = 4): Unit = {
    import graft.plans.{PartitionSpec, Partitioning}
    // bucket-partitioned distributed write, one file per bucket — a
    // corpus-scale signature table must never funnel through one task
    Partitioning.preparePartitioned(spark, root, ns, table,
      minhashSignatures(existing, n), PartitionSpec("bucket", "doc_id", 8))
  }

  /** Append the delta corpus's signature rows — incremental corpus
    * growth with no recompute of prior signatures.
    */
  def refreshNearIndex(spark: SparkSession, delta: DataFrame, root: String,
      ns: String, table: String, n: Int = 4): Unit =
    graft.plans.Partitioning.appendPartitioned(spark, root, ns, table,
      minhashSignatures(delta, n))

  /** [[crossCorpusNear]] against a PERSISTED signature index: identical
    * answer, but the existing side reads committed signatures instead
    * of re-shingling the corpus.
    */
  def probeNearIndexed(spark: SparkSession, incoming: DataFrame,
      root: String, ns: String, table: String, n: Int = 4,
      minMatches: Int = 8): DataFrame = {
    val sigEx = graft.plans.Mor.read(spark, root, ns, table)
    crossCorpusNearFromSigs(incoming, minhashSignatures(incoming, n), sigEx,
      minMatches)
  }

  /** PERSISTED bloom index: TWO committed tables — the bloom's (w,
    * bitsw) word DELTAS folded by `bit_or` on read (a merge-on-read
    * structure), and the corpus's (doc_id, fp) fingerprint rows for the
    * exact confirm, so a probe never re-scans (or re-hashes) the raw
    * existing corpus. Because bit-OR is associative, commutative, and
    * monotone, an incremental refresh is EXACT: append the delta
    * corpus's word rows + fingerprint rows ([[refreshBloomIndex]]) and
    * the fold equals a from-scratch rebuild, bit for bit (asserted in
    * OperatorsSpec). Each refresh appends ≤ bits/64 word rows
    * (constant) plus the delta's own fingerprints — the same
    * build-once/probe-many lifecycle as the BM25 and PQ indexes; no
    * replace protocol needed, plain CAS appends. Probe cost per batch:
    * the batch's own fingerprinting + a bloom probe + a fingerprint
    * join on only the bloom-POSITIVE sliver.
    */
  def buildBloomIndex(spark: SparkSession, existing: DataFrame, root: String,
      ns: String, table: String, bits: Int = 1 << 16, kHashes: Int = 3): Unit = {
    import graft.plans.{PartitionSpec, Partitioning, TableIO}
    // Rebuilding over an existing index would APPEND word rows computed
    // under the old (bits, kHashes) into the bit_or fold — stale probe
    // positions, silent false negatives — and leave removed documents'
    // fingerprints silently dropping matching incoming docs (ADVICE
    // r8). Refuse: deltas fold in via [[refreshBloomIndex]]; a
    // parameter change or corpus shrink needs a drop + rebuild.
    require(TableIO.currentVersion(root, ns, table) == 0L &&
        TableIO.currentVersion(root, ns, s"${table}_fp") == 0L,
      s"$ns.$table already holds a committed bloom index — fold new " +
        "docs in with refreshBloomIndex, or drop both index tables to " +
        "rebuild under different parameters")
    val fps = fpOf(existing)
    // both index tables are BUCKET-PARTITIONED committed writes — one
    // distributed shuffle each, one file per bucket per commit; a
    // single-file write of a corpus-scale fingerprint table would be a
    // one-task bottleneck (the BM25-postings lesson, Retrieval.scala)
    val wordSpec = PartitionSpec("bucket", "w", 8)
    val words = bloomWordsOf(fps, bits, kHashes)
    TableIO.createNamespace(root, ns)
    TableIO.createTableIfNotExists(root, ns, table, words.schema)
    Partitioning.writeSpec(root, ns, table, wordSpec)
    val entries = Partitioning.writePartitioned(spark, root, ns, table,
      words, wordSpec, seq = TableIO.nextSeq(root, ns, table))
    // (bits, kHashes) are PART OF THE INDEX: a refresh or probe run
    // with different values would compute different probe positions —
    // silent false negatives, i.e. wrong results, not slow ones. They
    // ride the SAME commit as the first word rows (a props manifest
    // entry, CAS-protected like every other piece of table state), so
    // any snapshot a reader lands on carries the parameters its word
    // rows were hashed with — a stale-params probe cannot exist.
    TableIO.commit(root, ns, table, entries :+ TableIO.propsEntry("bloom",
      Map("bits" -> bits.toLong, "k" -> kHashes.toLong)))
    Partitioning.preparePartitioned(spark, root, ns, s"${table}_fp", fps,
      PartitionSpec("bucket", "fp", 16))
  }

  /** The (bits, kHashes) the index was built with — read from the words
    * table's committed manifest (same snapshot as the words themselves).
    */
  def bloomParams(root: String, ns: String, table: String): (Int, Int) = {
    val p = graft.plans.TableIO.readProps(root, ns, table, "bloom")
      .getOrElse(throw new IllegalStateException(
        s"$ns.$table carries no committed bloom parameters — not a " +
          "bloom index (or built by a pre-props version)"))
    (p("bits").toInt, p("k").toInt)
  }

  /** Fold a NEW corpus slice into a committed bloom index: one
    * constant-size word append plus the delta's fingerprint rows; the
    * on-read `bit_or` fold makes the union exact. Probe parameters come
    * from the index itself — they cannot drift from the build.
    */
  def refreshBloomIndex(spark: SparkSession, delta: DataFrame, root: String,
      ns: String, table: String): Unit = {
    import graft.plans.Partitioning
    val (bits, kHashes) = bloomParams(root, ns, table)
    val fps = fpOf(delta)
    Partitioning.appendPartitioned(spark, root, ns, table,
      bloomWordsOf(fps, bits, kHashes))
    Partitioning.appendPartitioned(spark, root, ns, s"${table}_fp", fps)
  }

  /** The folded bloom of a committed index: (w, bitsw). */
  def readBloomIndex(spark: SparkSession, root: String, ns: String,
      table: String): DataFrame =
    graft.plans.Mor.read(spark, root, ns, table)
      .groupBy("w").agg(bit_or(col("bitsw")).as("bitsw"))

  /** Cross-corpus dedup against a PERSISTED bloom index (built once,
    * probed by every incoming batch): same answer as
    * [[crossCorpusNew]](incoming, existing-at-build+refresh-time) —
    * the committed bloom prunes, the committed fingerprints confirm;
    * the raw existing corpus is never touched.
    */
  def probeBloomIndexed(spark: SparkSession, incoming: DataFrame,
      root: String, ns: String, table: String): DataFrame = {
    val (bits, kHashes) = bloomParams(root, ns, table)
    probeWithBloom(fpOf(incoming), readBloomIndex(spark, root, ns, table),
      graft.plans.Mor.read(spark, root, ns, s"${table}_fp"), bits, kHashes)
  }

  /** Edit-distance near-dup verification: MinHash-LSH candidate pairs
    * re-verified by EXACT Levenshtein distance on the raw texts — the
    * high-precision final filter a dedup pipeline runs before dropping
    * documents (banding is the recall engine; edit distance is the
    * precision gate). Cost: the O(len^2) DP runs only on the candidate
    * pairs the bands surface, never corpus-quadratically; the texts
    * join to candidates on the doc_id key. `levenshtein` is Spark's
    * codegen'd built-in, value-identical to the oracle's.
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 6): DataFrame = {
    val txt = docs.select(col("doc_id"), col("text"))
    minhashPairs(docs)
      .join(txt.toDF("doc_a", "text_a"), "doc_a")
      .join(txt.toDF("doc_b", "text_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup pairs: 32-bit fingerprint from word hashes; pairs
    * with hamming distance <= maxDist, found WITHOUT an all-pairs join:
    * the fingerprint is split into 4 disjoint 8-bit bands and candidates
    * are generated by equi-joining on (band, bandKey). A pair at hamming
    * distance d has differing bits in at most d bands, so for maxDist < 4
    * every qualifying pair shares at least one identical band — the
    * banding is lossless (this is Pigeonhole/multi-index hamming search).
    * Cost is one shuffle on the band key, linear in corpus + candidates,
    * vs the previous BroadcastNestedLoopJoin over n² pairs.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 1): DataFrame = {
    require(maxDist < 4, "4x8-bit banding is only exhaustive for maxDist < 4")
    val withSim = Similarity.wideRepartition(docs, col("doc_id")).select(col("doc_id"),
      TextHash.simhash32(graft.functions.HashFunctions.wordHashes(
        split(col("text"), " "))).as("sim"))
    val bands = withSim.select(col("doc_id"), col("sim"),
      posexplode(array((0 until 4).map { b =>
        shiftright(col("sim"), 8 * b).bitwiseAND(lit(255L))
      }: _*)).as(Seq("band", "key")))
    val a = bands.toDF("doc_a", "sim_a", "band", "key")
    val b = bands.toDF("doc_b", "sim_b", "band", "key")
    // pinned-width repartition — same AQE rationale as the LSH joins
    Similarity.wideRepartition(a, col("band"), col("key"))
      .join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct() // a pair can share up to 4 bands
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding near-dup pairs: banded sign-LSH candidate generation +
    * exact cosine >= tau filter — the same linear-scale shape as
    * `minhashLsh` (explode to band keys, equi-join per band, verify).
    * Bands: `bands` keys of `r` sign bits each over dims 1..bands*r
    * (fixed axis hyperplanes — deterministic, so the oracle replays the
    * identical banding). Recall for a pair at angle θ is
    * 1-(1-p^r)^bands with p = 1-θ/π; 16x4 over 64 dims ≈ 0.97 of the
    * tau=0.4 pairs on the test corpus. Production tunes r up with corpus
    * size to keep band buckets bounded; candidates never approach the n²
    * of the previous all-pairs theta join.
    *
    * EVAL / GROUND-TRUTH OPERATOR (r15): scoring one cosine per band
    * COLLISION makes the work sum(|bucket|²) — quadratic in bucket
    * density (measured on the sf1 scale-up). Production callers go
    * through [[embeddingCosineAuto]] (density-routed: exact while
    * affordable, [[embeddingCosineCapped]] past the guard threshold).
    */
  def embeddingCosine(emb: DataFrame, tau: Double = 0.4, bands: Int = 16,
      r: Int = 4): DataFrame = {
    // try_element_at: dims past the vector length contribute 0 to the
    // key (null > 0 is null), matching DuckDB's out-of-range list NULL.
    val keyCols = (0 until bands).map { bnd =>
      (0 until r).map { i =>
        when(try_element_at(col("embedding"), lit(bnd * r + i + 1)) > 0f,
          1L << i).otherwise(0L)
      }.reduce(_ + _)
    }
    // The embeddings (and precomputed norms) ride along on the band rows
    // so the cosine is fused into the band self-join's output projection
    // and the tau filter runs BEFORE any pair dedup — the distinct then
    // shuffles only true near-dup pairs, not every candidate. The
    // repartition spreads the join+cosine across cores (a single-file
    // scan is one partition locally; at scale the input arrives
    // pre-split).
    val bandDf = emb.select(col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"),
      posexplode(array(keyCols: _*)).as(Seq("band", "key")))
    Similarity.wideRepartition(
        bandDf.toDF("vec_a", "emb_a", "norm_a", "band", "key"),
        col("band"), col("key"))
      .join(bandDf.toDF("vec_b", "emb_b", "norm_b", "band", "key"),
        Seq("band", "key"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(VectorOps.cosinePre(
        VectorOps.dot(col("emb_a"), col("emb_b")),
        col("norm_a"), col("norm_b")) >= tau)
      .select("vec_a", "vec_b").distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** [[embeddingCosine]] over the DENSE-BUCKET-CAPPED candidate set
    * ([[Similarity.cappedCandidates]]) — the linear-scale variant for
    * clustered corpora, the dedup-side twin of the capped kNN join.
    * The exact variant must score one cosine per band COLLISION, so
    * its work is sum(|bucket|²) and a corpus that masses in sign space
    * goes quadratic (measured on the sf1 scale-up); the cap bounds
    * candidate pairs at buckets × cap², trading recall (which banded
    * LSH already trades) for a hard work bound. Scores ONE cosine per
    * distinct capped pair. Deterministic and oracle-replayable — the
    * survivor choice is the shared per-bucket Knuth hash.
    */
  def embeddingCosineCapped(emb: DataFrame, tau: Double = 0.4,
      bands: Int = 16, r: Int = 4, cap: Int = 8): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"))
    Similarity.cappedCandidates(emb, bands, r, cap)
      .filter(col("vec_a") < col("vec_b"))
      .join(e.toDF("vec_a", "emb_a", "norm_a"), "vec_a")
      .join(e.toDF("vec_b", "emb_b", "norm_b"), "vec_b")
      .filter(VectorOps.cosinePre(
        VectorOps.dot(col("emb_a"), col("emb_b")),
        col("norm_a"), col("norm_b")) >= tau)
      .select("vec_a", "vec_b")
      .orderBy("vec_a", "vec_b")
  }

  /** The DENSITY-ROUTED production entry point for embedding near-dup
    * pairs (VERDICT r14 item "adopt the capped path behind a density
    * probe"): one tiny guard aggregate ([[Similarity.bandStatsRaw]] —
    * constant-size output, bounded driver metadata) decides exact vs
    * capped BEFORE the expensive self-join launches. Decision rule:
    * the exact join's candidate volume IS `band_pairs` (sum of squared
    * bucket depths, what the guard measures), and the capped join's is
    * at most `band_rows x cap`; route exact while the exact volume is
    * within `slack`x the capped bound — full recall whenever it costs
    * no more than `slack` capped passes — and cap only past that,
    * where [[embeddingCosine]] is measurably quadratic (sf1 scale-up:
    * 100x wall for 10x data). Both branches and the rule are
    * deterministic functions of the data, so the oracle REPLAYS the
    * routing decision in SQL (both branches guarded by the same
    * integer comparison) — the route can never silently diverge from
    * the gate. On corpora where every bucket is at or under the cap
    * the two branches coincide exactly (spec-pinned), so the router
    * only ever trades recall where the exact path is already
    * quadratic; the cap's measured recall collapse
    * (`ann_recall_eval_capped`: ~(cap/depth)² per bucket) is why the
    * capped branch is BAND-SHAPE-AWARE since r17 (VERDICT r16 item
    * 1): the guard also measures the re-banded shape's volume
    * (bands/2 × r·2 — 16×4 → 8×8; since r18 BOTH shapes come from
    * one dual-shape aggregate pass, `Similarity.bandStatsDual`) —
    * whether more bits per band actually shrink the buckets — and
    * the router re-bands
    * iff the re-banded candidate volume is ≤ 1/rebandGain of the
    * current shape's ([[RebandGain]] — the measured separation
    * between sign-collision density, ratio ~0.15, where re-banding
    * recovered 0.56→0.97 recall at identical bounded work, and
    * identical-clone density, ratio 0.5 exactly, where re-banding
    * only halves the independent cap draws). All three branches and
    * both comparisons are deterministic functions of the data,
    * replayed by the oracle.
    */
  def embeddingCosineAuto(emb: DataFrame, tau: Double = 0.4,
      bands: Int = 16, r: Int = 4, cap: Int = DefaultCap,
      slack: Int = DefaultSlack, rebandGain: Int = RebandGain): DataFrame = {
    if (bands < 2 || bands % 2 != 0) {
      // no halved shape exists (single-band configurations in specs/
      // calibration runs): one single-shape guard, cap at the current
      // shape past the bound
      val st = Similarity.bandStatsRaw(emb, bands, r).head()
      val exactVolume = if (st.isNullAt(0)) 0L else st.getLong(0)
      val cappedBound = if (st.isNullAt(1)) 0L else st.getLong(1) * cap * slack
      if (exactVolume <= cappedBound) embeddingCosine(emb, tau, bands, r)
      else embeddingCosineCapped(emb, tau, bands, r, cap)
    } else {
      // ONE dual-shape guard job (r17 verdict item 4: the dense path
      // previously paid a second full aggregate at the re-banded
      // shape) — same three integers, same comparisons, one pass
      val (exactVolume, bandRows, rebandVolume) =
        Similarity.bandStatsDual(emb, bands, r)
      if (exactVolume <= bandRows * cap * slack)
        embeddingCosine(emb, tau, bands, r)
      else if (rebandVolume * rebandGain <= exactVolume)
        embeddingCosineCapped(emb, tau, bands / 2, r * 2, cap)
      else embeddingCosineCapped(emb, tau, bands, r, cap)
    }
  }

  /** Semantic dedup, SemDeDup-style (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the embedding space with the deterministic
    * seeded k-means ([[Similarity.kmeansAssign]]), then prune WITHIN
    * each cluster — a vector is a duplicate if a lower-id member of its
    * own cluster is within cosine >= tau. Pairwise work is confined to
    * cluster-mates (the published scale argument); cross-cluster
    * near-dups are deliberately missed — the recall/cost trade the paper
    * makes. The oracle replays the identical clustering, so results stay
    * bit-exact.
    *
    * A HOT cluster must not become one quadratic task, so the
    * within-cluster self-join is triangle-blocked: each cluster's
    * members are sliced `subShards` ways by id hash, and the join runs
    * per (cid, slice_i, slice_j) block with i <= j — every unordered
    * pair meets in EXACTLY one block (same-slice blocks see both
    * orientations; `greatest` + distinct collapses them). Per-task work
    * is bounded by (|cluster|/subShards)^2 whatever k is, at the cost of
    * (subShards+1)x row replication — the standard blocked self-join
    * trade. The pair SET is identical to the unblocked join's, so the
    * census is unchanged.
    *
    * Output: per-cluster census `(cid, n_vectors, n_dups)` — corpus
    * size and removable-duplicate count per semantic cluster.
    */
  /** [[semantic]] with a CORPUS-SCALED cluster count (VERDICT r15
    * item 3): a fixed k makes within-cluster all-pairs work Σ|cluster|²
    * ≈ n²/k — quadratic in the corpus no matter how the blocking
    * spreads it over tasks. SemDeDup-style operators scale k with n so
    * the expected cluster size stays at `targetClusterSize` and total
    * pair volume stays ≈ n × targetClusterSize — linear. The rule is
    * one guard aggregate plus integer arithmetic,
    * k = max(kMin, n div targetClusterSize), which the oracle replays
    * verbatim as a scalar subquery (greatest(kMin, count(*) // size)),
    * so the routing can never silently diverge: at small corpora
    * (n < kMin × targetClusterSize) auto-k equals kMin and the output
    * is bit-identical to the fixed-k operator.
    */
  def semanticAuto(emb: DataFrame, tau: Double = 0.4, kMin: Int = 8,
      targetClusterSize: Int = 256, iters: Int = 2,
      subShards: Int = 4): DataFrame = {
    val n = emb.agg(count(lit(1))).head().getLong(0)
    val k = math.max(kMin.toLong, n / targetClusterSize).toInt
    semantic(emb, tau, k, iters, subShards)
  }

  def semantic(emb: DataFrame, tau: Double = 0.4, kClusters: Int = 8,
      iters: Int = 2, subShards: Int = 4): DataFrame = {
    val assigned = Similarity.kmeansAssign(emb, kClusters, iters)
    // embeddings + norms ride on the cluster rows so the cosine is
    // computed in the self-join's projection (same fused shape as
    // embeddingCosine)
    val m = emb.join(assigned, "vec_id")
      .select(col("vec_id"), col("cid"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"),
        pmod(col("vec_id"), lit(subShards.toLong)).cast("int").as("sl"))
    // row in slice s plays the A role for blocks (s, j>=s) and the B
    // role for blocks (i<=s, s); the join key carries the block id, so
    // the shuffle spreads a hot cluster over subShards^2-ish tasks
    val aSide = m.select(col("vec_id").as("vec_a"), col("cid"),
      col("embedding").as("emb_a"), col("nrm").as("norm_a"),
      col("sl").as("_blk_i"),
      explode(sequence(col("sl"), lit(subShards - 1))).as("_blk_j"))
    val bSide = m.select(col("vec_id").as("vec_b"), col("cid"),
      col("embedding").as("emb_b"), col("nrm").as("norm_b"),
      explode(sequence(lit(0), col("sl"))).as("_blk_i"),
      col("sl").as("_blk_j"))
    val dups = aSide.join(bSide, Seq("cid", "_blk_i", "_blk_j"))
      .filter(col("vec_a") =!= col("vec_b"))
      .filter(VectorOps.cosinePre(
        VectorOps.dot(col("emb_a"), col("emb_b")),
        col("norm_a"), col("norm_b")) >= tau)
      // the HIGHER id of a qualifying pair is the removable duplicate —
      // same predicate as "exists a lower-id cluster-mate within tau"
      .select(col("cid"), greatest(col("vec_a"), col("vec_b")).as("vec_dup"))
      .distinct()
    m.groupBy("cid").agg(count(lit(1)).as("n_vectors"))
      .join(dups.groupBy("cid").agg(count(lit(1)).as("n_dups")),
        Seq("cid"), "left")
      .select(col("cid"), col("n_vectors"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"))
      .orderBy("cid")
  }
}
