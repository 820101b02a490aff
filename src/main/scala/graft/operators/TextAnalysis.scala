package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Layout
import graft.functions.{GopherOps, TextHash}

/** Text-analysis operators for a training-data pipeline: corpus stats,
  * tokenization counts, quality scoring, marker-based language ID, and
  * rolling-hash document fingerprints. All pure column expressions —
  * codegen'd, no UDFs, linear scans that scale horizontally.
  */
object TextAnalysis {

  /** Per-language corpus statistics. */
  def stats(docs: DataFrame): DataFrame =
    docs.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("total_chars"),
      min("n_chars").as("min_chars"),
      max("n_chars").as("max_chars"),
      countDistinct("source").as("n_sources"))
      .orderBy("lang")

  /** Token counts per document: whitespace tokens + a BPE-ish regex
    * tokenizer (letter runs | digit runs | single punctuation).
    */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
        .as("n_bpe_tokens"),
      col("n_chars"))
      .orderBy("doc_id")

  /** Quality signals per document: length, alpha ratio, stopword ratio,
    * mean token length. Ratios are single int/int divisions — identical
    * IEEE doubles in Spark and DuckDB.
    */
  def quality(docs: DataFrame): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    val nTok = size(words)
    val alpha = length(regexp_replace(col("text"), "[^a-z]", ""))
    val stop = size(filter(words,
      w => GopherOps.Stopwords.map(s => w === s).reduce(_ || _)))
    docs.select(col("doc_id"),
      nTok.as("n_tokens"),
      (alpha.cast("double") / col("n_chars")).as("alpha_ratio"),
      (stop.cast("double") / nTok).as("stopword_ratio"),
      ((col("n_chars") - nTok + 1).cast("double") / nTok).as("mean_token_len"))
      .orderBy("doc_id")
  }

  /** The Gopher rule set (Rae et al. 2021 §A1.1, the staple web-corpus
    * gate): per-document pass/fail flags for word count, mean word
    * length, symbol-to-word ratio (# and ellipses), alphabetic-word
    * fraction, and stopword presence, plus the conjunction. Distinct
    * from [[quality]] (raw signals): this emits the named DECISIONS a
    * pipeline filters on. The counts behind the flags come from one
    * native loop per document ([[graft.functions.GopherStats]]) — a
    * codegen'd linear scan, embarrassingly parallel; every ratio is one
    * int/int division (IEEE-identical in DuckDB).
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)
    val fs = gopherFlags(col("g")).map(flag)
    docs.select(col("doc_id"), gopherStats.as("g"))
      .select(col("doc_id"), col("g.n_words").as("n_words"),
        fs(0).as("ok_words"), fs(1).as("ok_mean_wl"), fs(2).as("ok_sym"),
        fs(3).as("ok_alpha"), fs(4).as("ok_stop"),
        fs.reduce(_ * _).as("passes"))
      .orderBy("doc_id")
  }

  /** The conjunction of the [[gopherRules]] as a predicate on a
    * relation with a `text` column: true exactly where `passes` is 1.
    * Gating with it filters the relation in place, with no join back
    * to a flags frame. The rules read the stats struct through a
    * one-element array so the native kernel runs once per row: a
    * filter condition re-evaluates an expression at every reference
    * (whole-stage codegen eliminates no common subexpression there).
    */
  def gopherPass: Column =
    exists(array(gopherStats), gopherFlags(_).reduce(_ && _))

  private def gopherStats: Column = GopherOps.column(col("text"))

  /** The five rule predicates over a GopherStats struct, in
    * [[gopherRules]]' column order: 50 to 100,000 words, mean word
    * length 3 to 10, at most 0.1 symbols per word, at least 80%
    * alphabetic words, at least two stopwords. */
  private def gopherFlags(g: Column): Seq[Column] = {
    val nw = g("n_words")
    val meanWl = g("sum_wl").cast("double") / nw
    val symRatio = g("n_sym").cast("double") / nw
    val alphaFrac = g("n_alpha").cast("double") / nw
    Seq(nw >= 50 && nw <= 100000,
      meanWl >= 3.0 && meanWl <= 10.0,
      symRatio <= 0.1,
      alphaFrac >= 0.8,
      g("n_stop") >= 2)
  }

  private val markers: Seq[(String, String)] = Seq(
    "en" -> "\\bthe\\b", "de" -> "\\bder\\b", "es" -> "\\bel\\b",
    "fr" -> "\\ble\\b", "zh" -> "\\bde\\b")

  /** Marker-word language ID heuristic: count distinctive stopwords per
    * language, predict the max (fixed precedence on ties, 'und' when no
    * marker hits). A real pipeline would use an n-gram model; the
    * machinery (per-language scoring + argmax) is the same.
    */
  def langId(docs: DataFrame): DataFrame = {
    val counts = markers.map { case (l, re) =>
      regexp_count(col("text"), lit(re)).as(s"c_$l")
    }
    val withCounts = docs.select((col("doc_id") +: col("lang") +: counts): _*)
    val langs = markers.map(_._1)
    def cAll(l: String): Column = col(s"c_$l")
    // argmax with deterministic precedence = declaration order
    val pred = langs.foldRight(lit("und")) { (l, els) =>
      when(cAll(l) > 0 &&
        langs.filter(_ != l).map(o => cAll(l) >= cAll(o)).reduce(_ && _),
        lit(l)).otherwise(els)
    }
    withCounts.select(col("doc_id"), col("lang"), pred.as("predicted"))
      .orderBy("doc_id")
  }

  /** Rolling-hash fingerprint of the normalized text (portable modular
    * arithmetic — see TextHash.rollingHash).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextHash.rollingHash(Dedup.normalize(col("text"))).as("fp"))
      .orderBy("doc_id")

  /** PII patterns redacted before training: emails, URLs, long digit
    * runs (phone/account numbers). Shared RE2-compatible regexes so the
    * oracle replays the identical rewrite.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val LongNumRe = "[0-9]{4,}"

  /** PII redaction: mask emails/URLs/long numbers, report match counts
    * and the redacted text's md5 (hash, not text, keeps the output
    * narrow). Pure codegen'd regex expressions — a linear scan.
    */
  def redact(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      LongNumRe, "<NUM>")
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
      regexp_count(col("text"), lit(UrlRe)).as("n_urls"),
      regexp_count(col("text"), lit(LongNumRe)).as("n_longnums"),
      md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Repetition signal (the Gopher-style quality filter): per-document
    * word-3-gram frequencies — the max repeat count and distinct/total
    * shingle counts expose boilerplate and looping text. Two key-local
    * shuffles on (doc_id[, shingle]); integer outputs keep the oracle
    * hash exact. Documents shorter than `n` words have no shingles and
    * drop out (same rule as the Jaccard dedup family).
    */
  /** Bigram language-model scoring (the CCNet/KenLM-style perplexity
    * filter with the corpus itself as the LM): per document, the mean
    * log-probability of its word bigrams under corpus-wide MLE bigram
    * statistics `P(w2|w1) = c(w1,w2) / c(w1)` — fluent text scores
    * near the corpus average, word salad scores far below. Shapes:
    * bigrams from a per-document lead window (key-partitioned, never a
    * global sort), two count aggregates, one join back — linear at
    * corpus scale with map-side combine absorbing hot bigrams.
    * Per-bigram log-probs floor to scaled longs before the per-doc sum
    * (order-independent, engine-replayable — the BM25 discipline).
    */
  def lmScore(docs: DataFrame): DataFrame =
    lmScoreFp(docs)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("lp_fp").cast("double") / lit(1e7) / col("n_bigrams"), 6)
          .as("avg_logp"))
      .orderBy("doc_id")

  /** Fixed-point core of [[lmScore]]: per-doc bigram count + summed
    * scaled-long log-probs `(doc_id, n_bigrams, lp_fp)` — the exact
    * integer skeleton both the float score and the bucketing key
    * derive from.
    */
  private def lmScoreFp(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val words = Layout.expand(docs, col("doc_id")).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
    val bi = words.withColumn("w2", lead("w1", 1).over(byDoc))
      .filter(col("w2").isNotNull)
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    bi.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"),
        floor(log(col("c12").cast("double") / col("c1")) * lit(1e7))
          .cast("long").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("lp_fp"))
  }

  /** CCNet-style perplexity bucketing: per language, rank documents by
    * their LM score and cut the ranking into `n` equal-frequency
    * buckets (CCNet's head/middle/tail with the bigram LM standing in
    * for KenLM). The ordering key is a fixed-point per-doc average
    * (`floor(lp_fp * 1000 / n_bigrams)` — exact long inputs, one
    * IEEE-identical double divide+floor), so the rank has no float
    * ties for engines to break differently; doc_id breaks exact ties.
    * Shape: the lmScore aggregates + one per-lang ntile window —
    * at 100 TB the window sorts one language per partition set, the
    * same per-key layout every windowed op here uses.
    */
  def lmBuckets(docs: DataFrame, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = lmScoreFp(docs).select(col("doc_id"),
      floor(col("lp_fp").cast("double") * lit(1000.0) / col("n_bigrams"))
        .cast("long").as("avg_fp"))
    val w = Window.partitionBy("lang")
      .orderBy(col("avg_fp").desc, col("doc_id"))
    keyed.join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("avg_fp"),
        ntile(n).over(w).cast("long").as("bucket"))
      .orderBy("doc_id")
  }

  /** Classifier-based quality filtering (the fastText/DCLM-style gate):
    * score = Σ over tokens of w[h(token) mod B] — a linear classifier
    * over hashed bag-of-words features. The weight vector here is
    * hash-derived integers in [-1000, 1000] standing in for trained
    * parameters; the dataflow (tokenize → feature-hash → per-doc
    * weighted sum → threshold) is exactly what scoring a corpus with a
    * trained linear model costs: one scan, one key shuffle with
    * map-side combine, integer arithmetic, no all-pairs anything. A
    * trained model would broadcast its 2^20-float weight array; the
    * hash-derived weights make the oracle replayable without one.
    */
  def classifierScore(docs: DataFrame, buckets: Int = 1024): DataFrame =
    Layout.expand(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("w"))
      .select(col("doc_id"),
        (pmod(TextHash.rollingHash(concat(lit("clf"),
          pmod(TextHash.rollingHash(col("w")), lit(buckets)).cast("string"))),
          lit(2001)) - lit(1000)).as("wt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("wt").as("score_fp"))
      .select(col("doc_id"), col("n_tokens"), col("score_fp"),
        when(col("score_fp") > 0, 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")

  /** Corpus-frequency rarity scoring: per-document counts of distinct
    * words, rare words (document frequency <= `rareDf`), and the summed
    * df of the document's vocabulary — the integer skeleton of a
    * perplexity-style quality signal (a rare-word-heavy document is
    * either specialist content or garbage; both deserve a second look
    * in corpus curation). Two key shuffles — per-doc distinct words,
    * then the corpus df aggregate joined back — with map-side partial
    * aggregation absorbing hot words; linear at corpus scale. Integer
    * outputs keep the oracle hash float-free.
    */
  def rarity(docs: DataFrame, rareDf: Int = 2): DataFrame = {
    val words = Layout.expand(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
    val dfs = words.groupBy("w").agg(count(lit(1)).as("df"))
    words.join(dfs, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_words"),
        sum(when(col("df") <= rareDf, 1L).otherwise(0L)).as("n_rare"),
        sum("df").as("sum_df"))
      .orderBy("doc_id")
  }

  def repetition(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
        explode(TextHash.shingleHashes(split(col("text"), " "), n)).as("sh"))
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        max("c").as("max_rep"),
        count(lit(1)).as("n_distinct"),
        sum("c").as("n_total"))
      .orderBy("doc_id")

  /** Default probe tokens for [[countMin]] — frequent corpus words plus
    * one absent key (CM must answer for misses too: overestimate-only,
    * never a false zero is NOT guaranteed; a miss can collide upward).
    */
  val CmProbes: Seq[String] =
    Seq("join", "scan", "spark", "the", "vector", "zzz_absent")

  /** Count-min sketch (Cormode & Muthukrishnan 2005) token-frequency
    * estimation: `depth` salted hash rows x `width` counter buckets.
    * The sketch is a `groupBy(d, bucket).count` — map-side partial
    * aggregation collapses any corpus to at most depth x width shuffle
    * rows, which is the whole point at 100 TB: frequency estimates
    * whose communication cost is a constant, vs the unbounded
    * distinct-token shuffle of an exact count. Estimates upper-bound
    * the truth (collisions only add); probes compare estimate vs exact.
    * Salted portable polynomial hashes — the oracle replays the sketch
    * bit-exactly.
    */
  def countMin(docs: DataFrame, probes: Seq[String] = CmProbes,
      depth: Int = 4, width: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    def buckets(c: Column) = array((0 until depth).map(d =>
      TextHash.rollingHash(concat(lit(s"cm$d:"), c)) % width): _*)
    val sketch = toks.select(posexplode(buckets(col("tok"))).as(Seq("d", "b")))
      .groupBy("d", "b").agg(count(lit(1)).as("c"))
    val pr = probes.toDF("token")
    val est = pr.select(col("token"),
        posexplode(buckets(col("token"))).as(Seq("d", "b")))
      .join(sketch, Seq("d", "b"), "left")
      .groupBy("token").agg(min(coalesce(col("c"), lit(0L))).as("n_est"))
    // exact counts for the probes only: the isin filter pushes into the
    // scan, so the exact side shuffles a handful of rows
    val ex = pr.join(
        toks.filter(col("tok").isin(probes: _*))
          .groupBy("tok").agg(count(lit(1)).as("n")),
        pr("token") === col("tok"), "left")
      .select(col("token"), coalesce(col("n"), lit(0L)).as("n_exact"))
    ex.join(est, "token")
      .select("token", "n_exact", "n_est")
      .orderBy("token")
  }

  /** Per-source distribution drift: KL(P_source || P_corpus) over the
    * word-frequency distributions — the standard "is this source's
    * vocabulary representative of the corpus" signal for mixture
    * weighting and drift monitoring. Per-term contributions
    * p*ln(p/q) floor to 1e-9-scaled longs before the per-source sum
    * (the lmScore pattern), so the sum is order-free; every division
    * is a single IEEE op on operands both engines agree on exactly.
    *
    * Scale: two hash aggregations (term frequencies per source, per
    * corpus) joined on term — co-partitioned, no broadcast of
    * anything data-sized; per-source totals join back on source.
    * P_source > 0 for every term it contains and q > 0 whenever
    * p > 0 (a source's terms are corpus terms), so no smoothing
    * epsilon is needed.
    */
  def klDivergence(docs: DataFrame): DataFrame = {
    val words = docs.select(
      col("source"), explode(split(lower(col("text")), " ")).as("term"))
    val tfS = words.groupBy("source", "term").agg(count(lit(1)).as("c_s"))
    val totS = tfS.groupBy("source").agg(sum("c_s").as("tot_s"))
    val tfC = tfS.groupBy("term").agg(sum("c_s").as("c_c"))
    val totC = tfC.agg(sum("c_c").as("tot_c"))
    val p = col("c_s").cast("double") / col("tot_s")
    val q = col("c_c").cast("double") / col("tot_c")
    tfS
      .join(tfC, "term")
      .join(totS, "source")
      .crossJoin(broadcast(totC))
      .select(
        col("source"),
        floor(p * log(p / q) * lit(1e9)).cast("long").as("kl_fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"), sum("kl_fp").as("kl_fp"))
      .select(
        col("source"),
        col("n_terms"),
        (col("kl_fp").cast("double") / 1e9).as("kl"))
  }

  /** Per-document token-entropy histogram: H = ln(n) − (Σ c·ln c)/n
    * over word frequencies — the standard boilerplate/spam signal (a
    * page of one repeated token has H = 0; rich prose sits near
    * ln(n_distinct)). Deterministic across engines by the house
    * fixed-point-floor move: each term contributes floor(c·ln(c)·1e9)
    * — an exact long, so the per-doc sum is order-free — and the doc's
    * H_fp = floor(ln(n)·1e9) − (Σ div n); the quantization (≤ n_terms
    * ulps at the 1e-9 grain) is IDENTICAL on both engines. Shares the
    * ln cross-engine assumption documented at [[tfidfKeywords]].
    * Returns a 0.5-nat histogram: (bucket, n_docs, min_h, max_h) —
    * constant-size output at any corpus size; one tf aggregation and
    * one per-doc fold, both partitioned by doc.
    */
  def entropy(docs: DataFrame): DataFrame = {
    val words = docs.select(
      col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val perDoc = tf.groupBy("doc_id").agg(
      sum("c").as("n"),
      sum(floor(col("c").cast("double") * log(col("c").cast("double"))
        * lit(1e9)).cast("long")).as("s_fp"))
      .select(col("doc_id"),
        // clamp: H >= 0 mathematically, but the two floors can differ
        // by an ulp on single-token docs, and a negative would split
        // Spark's truncating div from DuckDB's flooring // below
        greatest(floor(log(col("n").cast("double")) * lit(1e9))
          .cast("long") - expr("s_fp div n"), lit(0L)).as("h_fp"))
    perDoc
      .select(expr("h_fp div 500000000").as("bucket"), col("h_fp"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        (min("h_fp").cast("double") / 1e9).as("min_h"),
        (max("h_fp").cast("double") / 1e9).as("max_h"))
      .orderBy("bucket")
  }

  /** Oracle twin of [[entropy]] (sums cast back per the playbook). */
  def entropySql: String =
    s"""WITH w AS (SELECT doc_id,
       |    unnest(string_split(lower(text), ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS c FROM w GROUP BY 1, 2),
       |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |        CAST(sum(CAST(floor(CAST(c AS DOUBLE)
       |          * ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT)
       |          AS s_fp
       |      FROM tf GROUP BY doc_id),
       |h AS (SELECT doc_id,
       |        greatest(CAST(floor(ln(CAST(n AS DOUBLE)) * 1e9) AS BIGINT)
       |          - s_fp // n, 0) AS h_fp
       |      FROM d)
       |SELECT h_fp // 500000000 AS bucket, count(*) AS n_docs,
       |  CAST(min(h_fp) AS DOUBLE) / 1e9 AS min_h,
       |  CAST(max(h_fp) AS DOUBLE) / 1e9 AS max_h
       |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Zipf-exponent eval: least-squares slope of ln(frequency) vs
    * ln(rank) over the corpus's top `topN` terms — natural language
    * sits near −1, and a corpus drifting far from it (template spam,
    * boilerplate floods, synthetic filler) flags itself in one number.
    * The distribution-shape companion to [[entropy]]'s per-doc signal.
    *
    * Exact across engines by the house moves: both logs floor to
    * 1e6-scaled longs (ln agrees across engines at far finer grain —
    * the 1e-9 evidence from lmScore/klDivergence), every regression
    * sufficient statistic (Σx, Σy, Σxy, Σx²) is an order-free exact
    * long sum, the slope numerator/denominator are exact longs in the
    * output, and the one IEEE division happens on operands both
    * engines agree on bit-for-bit.
    *
    * Scale shape: one tf hash-aggregation over the corpus, a
    * TakeOrdered top-`topN`, then a rank window over the
    * ALREADY-LIMITED relation — the window input is ≤ topN rows
    * regardless of corpus size, so the single-partition window is a
    * constant, not a scale hazard. Returns one row:
    * (n_terms, slope_num, slope_den, zipf_slope).
    */
  def zipf(docs: DataFrame, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val top = tf.orderBy(col("c").desc, col("term").asc).limit(topN)
    val w = Window.orderBy(col("c").desc, col("term").asc)
    val pts = top.withColumn("r", row_number().over(w))
      .select(
        floor(log(col("r").cast("double")) * lit(1e6)).cast("long").as("lx"),
        floor(log(col("c").cast("double")) * lit(1e6)).cast("long").as("ly"))
    pts
      .agg(
        count(lit(1)).as("n"),
        sum("lx").as("sx"), sum("ly").as("sy"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sxx"))
      .select(
        col("n").as("n_terms"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .select(col("n_terms"), col("slope_num"), col("slope_den"),
        (col("slope_num").cast("double") / col("slope_den").cast("double"))
          .as("zipf_slope"))
  }

  /** Oracle twin of [[zipf]] (sums cast back per the playbook). */
  def zipfSql(topN: Int = 100): String =
    s"""WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS term
       |           FROM documents),
       |tf AS (SELECT term, count(*) AS c FROM w GROUP BY 1),
       |top_t AS (SELECT term, c FROM tf ORDER BY c DESC, term
       |          LIMIT $topN),
       |pts AS (SELECT
       |    CAST(floor(ln(CAST(row_number() OVER (ORDER BY c DESC, term)
       |      AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
       |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS ly
       |  FROM top_t),
       |s AS (SELECT count(*) AS n,
       |    CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
       |    CAST(sum(lx * ly) AS BIGINT) AS sxy,
       |    CAST(sum(lx * lx) AS BIGINT) AS sxx
       |  FROM pts)
       |SELECT n AS n_terms,
       |  n * sxy - sx * sy AS slope_num,
       |  n * sxx - sx * sx AS slope_den,
       |  CAST(n * sxy - sx * sy AS DOUBLE) /
       |    CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
       |FROM s""".stripMargin

  /** Word-pair collocations by LIFT — market-basket association mining
    * with documents as transactions (the Apriori level-1 shape): only
    * words with document frequency >= `minSup` (and within the
    * `maxVocab` most frequent — the scale cap) enter the pair join, so
    * candidate pairs are generated per document over FREQUENT words
    * only, never over the raw vocabulary. Pair support is counted with
    * one groupBy; lift = n_ab*N / (n_a*n_b) is the only IEEE division
    * and both operands are exact longs, so the oracle comparison is
    * exact. Top `topK` pairs by (support desc, pair) — a total order.
    *
    * Scale shape: distinct (doc, word) is one shuffle; the vocabulary
    * relation is <= maxVocab rows and broadcast; per-document pair
    * expansion is bounded by (frequent words per doc)^2 — the standard
    * frequent-itemset bound, tunable via minSup/maxVocab.
    */
  def collocations(docs: DataFrame, minSup: Int = 25, maxVocab: Int = 512,
      topK: Int = 100): DataFrame = {
    val items = docs.select(col("doc_id"),
      explode(array_distinct(split(lower(col("text")), " "))).as("w"))
    val vocab = items.groupBy("w").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minSup)
      .orderBy(desc("df"), col("w")).limit(maxVocab)
    val it = items.join(broadcast(vocab), "w")
    val nDocs = docs.agg(countDistinct("doc_id").as("n_docs"))
    it.select(col("doc_id"), col("w").as("w_a"), col("df").as("n_a"))
      .join(it.select(col("doc_id"), col("w").as("w_b"),
        col("df").as("n_b")), "doc_id")
      .filter(col("w_a") < col("w_b"))
      .groupBy("w_a", "w_b")
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSup)
      .crossJoin(broadcast(nDocs))
      .select(col("w_a"), col("w_b"), col("n_a"), col("n_b"), col("n_ab"),
        ((col("n_ab") * col("n_docs")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(desc("n_ab"), col("w_a"), col("w_b"))
      .limit(topK)
  }

  /** Per-document keyword extraction by tf-idf: top `topK` terms per
    * doc by floor(tf · ln(N/df) · 1e9) — the lmScore/klDivergence
    * fixed-point-floor move that makes a log-scored ranking
    * deterministic and oracle-exact (ties on the scaled long break on
    * the term). One tf aggregation, one df aggregation joined back on
    * term, one per-doc rank window that compiles to a
    * WindowGroupLimit — at most topK rows per doc cross the final
    * shuffle.
    *
    * CROSS-ENGINE ASSUMPTION (shared by every 1e9-floored log score:
    * lmScore, klDivergence, this): JVM `Math.log` and DuckDB's libm
    * `ln` return the SAME double for the same input. Both are
    * correctly-rounded (or within the same 1-ulp envelope) on the
    * rational inputs N/df that occur here, and nine rounds of oracle
    * hashes confirm it empirically; a genuine 1-ulp divergence would
    * flip a floored long only when tf·ln(N/df)·1e9 lands within
    * ~|x|·2⁻⁵² of an integer. The fully-engine-agnostic alternative
    * (inline a per-distinct-df coefficient VALUES table like the Holt
    * tables) is impossible here because N and the df domain are only
    * known at data-read time, not at oracle-SQL-build time.
    */
  def tfidfKeywords(docs: DataFrame, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("term"))
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val scored = tf.join(dfRel, "term").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        floor(col("tf") * log(col("nd").cast("double") / col("df")) * lit(1e9))
          .cast("long").as("s"))
    val w = Window.partitionBy("doc_id").orderBy(desc("s"), col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        (col("s").cast("double") / 1e9).as("tfidf"))
      .orderBy("doc_id", "rk")
  }

  /** Oracle twin of [[tfidfKeywords]]. */
  def tfidfKeywordsSql(topK: Int = 3): String =
    s"""WITH w AS (SELECT doc_id,
       |    unnest(string_split(lower(text), ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS nd FROM documents),
       |sc AS (SELECT doc_id, term, tf, df,
       |    CAST(floor(tf * ln(CAST(nd AS DOUBLE) / df) * 1e9) AS BIGINT) AS s
       |  FROM tf JOIN dfr USING (term), n),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY doc_id ORDER BY s DESC, term) AS rk FROM sc)
       |SELECT doc_id, rk, term, tf, df, CAST(s AS DOUBLE) / 1e9 AS tfidf
       |FROM r WHERE rk <= $topK ORDER BY doc_id, rk""".stripMargin

  /** Oracle twin of [[collocations]]. */
  def collocationsSql(minSup: Int = 25, maxVocab: Int = 512,
      topK: Int = 100): String =
    s"""WITH it0 AS (SELECT DISTINCT doc_id,
       |    unnest(string_split(lower(text), ' ')) AS w FROM documents),
       |v AS (SELECT w, count(*) AS df FROM it0 GROUP BY w
       |      HAVING count(*) >= $minSup
       |      ORDER BY df DESC, w LIMIT $maxVocab),
       |it AS (SELECT it0.doc_id, it0.w, v.df FROM it0 JOIN v USING (w)),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |p AS (SELECT a.w AS w_a, b.w AS w_b, max(a.df) AS n_a,
       |        max(b.df) AS n_b, count(*) AS n_ab
       |      FROM it a JOIN it b ON a.doc_id = b.doc_id AND a.w < b.w
       |      GROUP BY 1, 2 HAVING count(*) >= $minSup)
       |SELECT w_a, w_b, n_a, n_b, n_ab,
       |  CAST(n_ab * n_docs AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS lift
       |FROM p, n ORDER BY n_ab DESC, w_a, w_b LIMIT $topK""".stripMargin

  /** Oracle twin of [[klDivergence]]. */
  def klDivergenceSql: String =
    s"""WITH w AS (SELECT source,
       |    unnest(string_split(lower(text), ' ')) AS term
       |  FROM documents),
       |tfs AS (SELECT source, term, count(*) AS c_s FROM w
       |        GROUP BY source, term),
       |tots AS (SELECT source, sum(c_s) AS tot_s FROM tfs GROUP BY source),
       |tfc AS (SELECT term, sum(c_s) AS c_c FROM tfs GROUP BY term),
       |totc AS (SELECT sum(c_c) AS tot_c FROM tfc),
       |t AS (SELECT tfs.source,
       |    CAST(floor((CAST(c_s AS DOUBLE) / tot_s)
       |      * ln((CAST(c_s AS DOUBLE) / tot_s)
       |            / (CAST(c_c AS DOUBLE) / tot_c))
       |      * 1e9) AS BIGINT) AS kl_fp
       |  FROM tfs JOIN tfc USING (term) JOIN tots USING (source), totc)
       |SELECT source, count(*) AS n_terms,
       |  CAST(sum(kl_fp) AS DOUBLE) / 1e9 AS kl
       |FROM t GROUP BY source""".stripMargin
}
