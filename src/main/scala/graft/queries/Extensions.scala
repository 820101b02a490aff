package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, Multimodal, PipelineOps, Similarity, TextAnalysis}
import Util._

/** North-star extension operators (SURVEY.md §2.7): dedup, similarity
  * search, text analysis, multimodal columns — each with a DuckDB oracle
  * that replays the identical deterministic algorithm (shared md5 /
  * modular rolling-hash / fixed LSH planes, no RNG anywhere).
  */
object Extensions {

  /** Fixed BM25 probe query (terms present in the synthetic corpus). */
  private val bm25Terms = Seq("spark", "hash", "join")

  /** The filtered-ANN queries' shared metadata predicate: English
    * documents, projected to the vec_id space (doc_id and vec_id share
    * the 0..N id range in the fixtures).
    */
  private def englishDocIds(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    rd(s, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
  }

  /** Shared churn fixture for the refreshed-index queries (r14): land
    * the embeddings as a governed table, `build` an index from it,
    * churn the table — an eq-delete of vectors [0, 40) plus a
    * re-insert of the same rows, two more commits — then `refresh`
    * catches the index up through the change feed (frozen
    * codebook/centroids, touched-bucket rewrites only). Content
    * converges back to the full corpus, so each caller's search shares
    * its one-shot twin's oracle verbatim: incremental maintenance must
    * be invisible to the search.
    */
  private def churnedIndexRoot(s: SparkSession, dir: String, tag: String)(
      build: String => Unit)(refresh: String => (Long, Long)): String =
    graft.plans.GeneratedTables.ensureCustom(dir + "#" + tag) { root =>
      import graft.plans.TableIO
      import org.apache.spark.sql.functions.col
      val all = rdEmbeddings(s, dir).select("vec_id", "embedding")
      TableIO.createNamespace(root, "embsrc")
      TableIO.createTableIfNotExists(root, "embsrc", "emb", all.schema)
      TableIO.commit(root, "embsrc", "emb",
        Seq(TableIO.writeExactFile(s, root, "embsrc", "emb",
          "data/e0.parquet", all, "data", 1L)))
      build(root)
      val slice = all.filter(col("vec_id") < 40L)
      TableIO.commit(root, "embsrc", "emb",
        Seq(TableIO.writeExactFile(s, root, "embsrc", "emb",
          "deletes/eq-churn.parquet", slice.select("vec_id"), "eq_delete",
          TableIO.nextSeq(root, "embsrc", "emb"))))
      TableIO.commit(root, "embsrc", "emb",
        Seq(TableIO.writeExactFile(s, root, "embsrc", "emb",
          "data/e1.parquet", slice, "data",
          TableIO.nextSeq(root, "embsrc", "emb"))))
      val (from, to) = refresh(root)
      require(to == from + 2, s"refresh consumed [$from, $to]")
    }

  /** BM25 oracle, shared by the scan and indexed paths (identical
    * scoring arithmetic over the same postings).
    */
  private lazy val bm25Sql =
    s"""WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
       |           FROM documents),
       |q AS (SELECT unnest([${bm25Terms.map("'" + _ + "'").mkString(", ")}]) AS term),
       |tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM w JOIN q USING (term) GROUP BY doc_id, term),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
       |c AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |s AS (SELECT tf.doc_id,
       |        CAST(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |          * (tf * 2.2)
       |          / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
       |          * 10000000.0) AS BIGINT) AS s_fp
       |      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), c)
       |SELECT doc_id, CAST(sum(s_fp) AS DOUBLE) / 10000000.0 AS score
       |FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 15""".stripMargin

  /** The persisted near-dup cluster index for a testdata dir — built
    * once per JVM (the bm25/pq/bloom ensure pattern) and consumed by
    * every downstream query that needs cluster labels
    * (dedup_cluster_stats, pipe_split_leakage_safe, pipe_e2e_curation,
    * dedup_clusters_indexed). The r11 verdict's top item: with caches
    * query-scoped, each of those queries recomputed the full MinHash →
    * band → label-propagation chain; at 100 TB clustering is built
    * ONCE into governed tables and consumers read labels.
    */
  private def clusterIndexRoot(s: SparkSession, dir: String): String =
    graft.plans.GeneratedTables.ensureCustom(dir + "#clusteridx") { root =>
      PipelineOps.buildClusterIndex(s, rd(s, dir, "documents"),
        root, "corp", "clusters")
    }

  /** Committed (doc_id, cluster) labels for the dir's corpus. */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    PipelineOps.readClusterIndex(s, clusterIndexRoot(s, dir),
      "corp", "clusters")

  /** The change-feed refresh fixture every `dedup_clusters*_refreshed`
    * query shares: the corpus lands as a governed table in TWO commits
    * (doc_id % `lateEvery` != 0, then the rest); the index is built with
    * `pairs` after the first, REFRESHED with the second commit's
    * change-feed inserts, then read. Each query's oracle clusters the
    * full corpus from scratch, so a refresh that missed a cross-batch
    * pair, double-appended, or failed to re-merge clusters diverges.
    */
  private def refreshedClusterLabels(s: SparkSession, dir: String,
      tag: String, lateEvery: Int,
      pairs: PipelineOps.PairSource): DataFrame = {
    val r = graft.plans.GeneratedTables.ensureCustom(dir + tag) { root =>
      import org.apache.spark.sql.functions.col
      import graft.plans.{Mor, TableIO}
      val d = rd(s, dir, "documents")
      val ns = "corp"
      def commitDocs(file: String, rows: DataFrame): Unit =
        TableIO.commit(root, ns, "docs", Seq(TableIO.writeExactFile(s, root,
          ns, "docs", s"data/$file.parquet", rows, "data",
          TableIO.nextSeq(root, ns, "docs"))))
      val base = d.filter(col("doc_id") % lateEvery =!= 0)
      TableIO.createNamespace(root, ns)
      TableIO.createTableIfNotExists(root, ns, "docs", base.schema)
      commitDocs("d0", base)
      PipelineOps.buildClusterIndex(s, Mor.read(s, root, ns, "docs"),
        root, ns, "clusters", pairs)
      commitDocs("d1", d.filter(col("doc_id") % lateEvery === 0))
      PipelineOps.refreshClusterIndex(s,
        Mor.readChanges(s, root, ns, "docs", 1L, 2L)
          .filter(col("_change_type") === "insert").drop("_change_type"),
        root, ns, "clusters")
    }
    PipelineOps.readClusterIndex(s, r, "corp", "clusters").orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) => Dedup.exact(rd(s, dir, "documents"))),
    "dedup_fingerprint" -> ((s, dir) => Dedup.fingerprint(rd(s, dir, "documents"))),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(rd(s, dir, "documents"))),
    // same answer as dedup_ngram_jaccard through the prefix-filtered
    // candidate path (PPJoin) — the oracle SQL is shared
    "dedup_prefix_jaccard" -> ((s, dir) => Dedup.prefixJaccard(rd(s, dir, "documents"))),
    "dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(rd(s, dir, "documents"))),
    // text-side dense-bucket cap (r15): MinHash buckets ARE near-dup
    // groups, so boilerplate-heavy corpora run them thousands deep and
    // the exact band join goes quadratic exactly like the embedding
    // side; the cap bounds pair volume at buckets x cap^2
    "dedup_minhash_capped" -> ((s, dir) =>
      Dedup.minhashLshCapped(rd(s, dir, "documents"))),
    // the RE-BANDED capped twin (r17): 2 bands x 8 rows — the shape
    // the adaptive router picks when re-banding measurably shrinks
    // the buckets (it does not on identical-clone corpora, where the
    // router stays at 4x4)
    "dedup_minhash_rebanded" -> ((s, dir) =>
      Dedup.minhashLshCapped(rd(s, dir, "documents"), nBands = 2)),
    // ...and the density-routed text entry point: the guard aggregate
    // picks exact within 8x the capped bound, capped past it — and
    // since r17 a second guard picks the band SHAPE inside the capped
    // branch; the oracle replays all three integer decisions
    "dedup_minhash_auto" -> ((s, dir) =>
      Dedup.minhashLshAuto(rd(s, dir, "documents"))),
    // label-level recall ledger for the capped cluster index (r17):
    // on an adversarially dense text corpus, the fraction of the
    // exact index's same-label pairs each (banding, cap) capped
    // config keeps together — the end-product loss after eviction
    // and 3 propagation rounds, not just the pair-level loss
    "dedup_clusters_recall_eval" -> ((s, dir) =>
      PipelineOps.clusterLabelRecallEval(rd(s, dir, "documents"))),
    // banding-quality evaluation: LSH candidate pairs scored against
    // the exact-Jaccard ground truth (the ann_recall_eval pattern for
    // the dedup family) — candidate recall says how much real
    // duplication the bands surface, precision how much exact-verify
    // work they cause
    "dedup_recall_eval" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{count, lit, when, col}
      val d = rd(s, dir, "documents")
      val truth = Dedup.ngramJaccard(d).select("doc_a", "doc_b")
      val cand = Dedup.minhashPairs(d)
      val ta = truth.agg(count(lit(1)).as("n_true_pairs"))
      val ca = cand.agg(count(lit(1)).as("n_candidates"))
      val hi = truth.join(cand, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_hit"))
      // 1-row aggregates: the constants crossJoin pattern
      ta.crossJoin(ca).crossJoin(hi).select(
        col("n_true_pairs"), col("n_candidates"), col("n_hit"),
        when(col("n_true_pairs") === 0, lit(null))
          .otherwise(col("n_hit").cast("double") / col("n_true_pairs"))
          .as("pair_recall"),
        when(col("n_candidates") === 0, lit(null))
          .otherwise(col("n_hit").cast("double") / col("n_candidates"))
          .as("cand_precision"))
    }),
    "dedup_simhash" -> ((s, dir) => Dedup.simhashPairs(rd(s, dir, "documents"))),
    "dedup_embedding" -> ((s, dir) => Dedup.embeddingCosine(rdEmbeddings(s, dir))),
    // the dedup-side twin of ann_knn_join_capped (r14): near-dup pairs
    // among the bucket-capped candidates — bounded work on corpora
    // whose sign-LSH buckets run deep
    "dedup_embedding_capped" -> ((s, dir) =>
      Dedup.embeddingCosineCapped(rdEmbeddings(s, dir))),
    // the RE-BANDED capped twin (r17): 8 bands x 8 sign bits — the
    // shape the adaptive router picks on sign-collision-dense corpora
    // (measured: ~6.5x smaller candidate volume, 0.56->0.97 recall at
    // identical bounded work on the r16 ledger corpus)
    "dedup_embedding_rebanded" -> ((s, dir) =>
      Dedup.embeddingCosineCapped(rdEmbeddings(s, dir), bands = 8, r = 8)),
    // the density-ROUTED production entry point (r15): a one-aggregate
    // guard picks exact (full recall) while the exact candidate volume
    // is within 8x the capped bound, capped past that — and since r17
    // a second guard picks the band SHAPE inside the capped branch;
    // the oracle replays the same integer decisions, so route and
    // gate cannot silently diverge
    "dedup_embedding_auto" -> ((s, dir) =>
      Dedup.embeddingCosineAuto(rdEmbeddings(s, dir))),
    "dedup_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(rd(s, dir, "documents"))),
    // incoming = even doc_ids, existing = doc_ids % 4 == 0: half the
    // incoming docs already live in the existing corpus and must drop
    "dedup_cross_corpus" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = rd(s, dir, "documents")
      Dedup.crossCorpusNew(
        incoming = d.filter(col("doc_id") % 2 === 0),
        existing = d.filter(col("doc_id") % 4 === 0))
    }),
    // same split as dedup_cross_corpus; the bloom prefilter is pure
    // pruning, so the oracle (and result) is identical
    "dedup_bloom_prefilter" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = rd(s, dir, "documents")
      Dedup.bloomPrefilterNew(
        incoming = d.filter(col("doc_id") % 2 === 0),
        existing = d.filter(col("doc_id") % 4 === 0))
    }),
    // persisted bloom lifecycle: build on half the existing corpus
    // (doc_id%8==0), fold the other half (%8==4) in with an incremental
    // refresh, then probe — same split and answer as dedup_cross_corpus
    "dedup_bloom_indexed" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = rd(s, dir, "documents")
      val root = graft.plans.GeneratedTables.ensureCustom(dir + "#bloomidx") { r =>
        Dedup.buildBloomIndex(s, d.filter(col("doc_id") % 8 === 0),
          r, "corp", "bloom")
        Dedup.refreshBloomIndex(s, d.filter(col("doc_id") % 8 === 4),
          r, "corp", "bloom")
      }
      Dedup.probeBloomIndexed(s,
        incoming = d.filter(col("doc_id") % 2 === 0),
        root, "corp", "bloom")
    }),
    // near-dup decontamination of the incoming half against the
    // existing quarter: paraphrase-level matches drop, not just exact
    "dedup_cross_near" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = rd(s, dir, "documents")
      Dedup.crossCorpusNear(
        incoming = d.filter(col("doc_id") % 2 === 0),
        existing = d.filter(col("doc_id") % 4 === 0))
    }),
    // near-dup probe against a PERSISTED signature index: build on
    // %8==0, refresh with %8==4 (together the %4==0 existing corpus),
    // probe the incoming half — same answer as dedup_cross_near
    "dedup_cross_near_indexed" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = rd(s, dir, "documents")
      val root = graft.plans.GeneratedTables.ensureCustom(dir + "#nearidx") { r =>
        Dedup.buildNearIndex(s, d.filter(col("doc_id") % 8 === 0),
          r, "corp", "sig")
        Dedup.refreshNearIndex(s, d.filter(col("doc_id") % 8 === 4),
          r, "corp", "sig")
      }
      Dedup.probeNearIndexed(s, d.filter(col("doc_id") % 2 === 0),
        root, "corp", "sig")
    }),
    // pre-launch candidate-volume guard for the cross-corpus band join
    // (the dedup analogue of ann_band_stats): cand_pairs is exactly the
    // pre-distinct row count the band equi-join would produce —
    // ~ n_in*n_ex*bands means degenerate banding, re-parameterize
    // instead of launching
    "dedup_band_stats" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = rd(s, dir, "documents")
      Dedup.crossBandStats(
        incoming = d.filter(col("doc_id") % 2 === 0),
        existing = d.filter(col("doc_id") % 4 === 0))
    }),
    // corpus-scaled k (r16): k = max(8, n div 256) keeps expected
    // cluster size — and so total within-cluster pair volume — linear
    // in the corpus; the oracle replays the same integer arithmetic
    "dedup_semantic" -> ((s, dir) => Dedup.semanticAuto(rdEmbeddings(s, dir))),
    "dedup_minhash_estimate" -> ((s, dir) =>
      Dedup.minhashEstimate(rd(s, dir, "documents"))),
    "ann_topk" -> ((s, dir) => Similarity.bruteTopK(rdEmbeddings(s, dir))),
    // metadata-filtered vector search: the filter semi-joins BEFORE
    // scoring (pre-filter), so k fills from qualifying vectors only
    "ann_filtered" -> ((s, dir) => Similarity.filteredTopK(
      rdEmbeddings(s, dir), englishDocIds(s, dir))),
    // the index-side twin: the filter's id set intersects the probed
    // inverted lists before any distance is computed
    "ann_filtered_ivf" -> ((s, dir) => Similarity.ivfTrainedTopK(
      rdEmbeddings(s, dir), allowedIds = Some(englishDocIds(s, dir)))),
    "ann_lsh" -> ((s, dir) => Similarity.lshTopK(rdEmbeddings(s, dir))),
    "ann_ivf" -> ((s, dir) => Similarity.ivfTopK(rdEmbeddings(s, dir))),
    "ann_recall_eval" -> ((s, dir) =>
      Similarity.recallEval(rdEmbeddings(s, dir))),
    // truncation loss: recall@10 of 16-dim prefix cosine vs the
    // full-64-dim ground truth (the Matryoshka serving question)
    "ann_recall_eval_matryoshka" -> ((s, dir) =>
      Similarity.recallEvalMatryoshka(rdEmbeddings(s, dir))),
    "ann_sim_histogram" -> ((s, dir) =>
      Similarity.simHistogram(rdEmbeddings(s, dir))),
    // threshold calibration at scale: the histogram over the CAPPED
    // candidate set (what ann_knn_join_capped actually scores)
    "ann_sim_histogram_capped" -> ((s, dir) =>
      Similarity.simHistogramCapped(rdEmbeddings(s, dir))),
    "emb_norm_hist" -> ((s, dir) =>
      Similarity.normHist(rdEmbeddings(s, dir))),
    "ann_recall_eval_nprobe4" -> ((s, dir) =>
      Similarity.recallEval(rdEmbeddings(s, dir), nprobe = 4)),
    // single-probe recall over TRAINED coarse centroids — the fix the
    // 0.11 label-partition recall above calls for (r10 verdict item 5)
    "ann_recall_eval_trained" -> ((s, dir) =>
      Similarity.recallEvalTrained(rdEmbeddings(s, dir))),
    // compression-loss eval for the PQ path: how much of the true
    // top-k survives ADC shortlisting + exact re-rank
    "ann_recall_eval_pq" -> ((s, dir) =>
      Similarity.recallEvalPq(rdEmbeddings(s, dir))),
    // what the dense-bucket cap drops (r15, closing the loss ledger):
    // near-dup pair recall of the capped candidate set vs the exact
    // banded join, on a synthesized ADVERSARIALLY dense corpus (every
    // 10th vector x10 identical copies — the sf1 scale-up shape that
    // made the exact join quadratic), at cap 4 / 8 / 16. The sample is
    // BOUNDED (base vec_id < 4096, replayed by the oracle): ground
    // truth is exact/all-pairs, so the eval must never scale with the
    // corpus — on a big table it reads a fixed adversarial slice
    "ann_recall_eval_capped" -> ((s, dir) =>
      Similarity.recallEvalCapped(rdEmbeddings(s, dir))),
    // ...and the mitigation, measured against TRUE near-dup pairs:
    // exact 16x4 banding (LSH loss alone) vs capped 16x4 (the deep-
    // bucket collapse) vs RE-BANDED 8x8 + cap (the recovery the
    // band-stats guard prescribes: more bits -> 16x shallower buckets)
    "ann_recall_eval_rebanded" -> ((s, dir) =>
      Similarity.recallEvalRebanded(rdEmbeddings(s, dir))),
    // ...and what the r17 ADAPTIVE ROUTER actually delivers on a
    // corpus dense enough to take the capped branch (30 clones): the
    // routed row must coincide with the guard-picked fixed config —
    // the oracle replays both guard comparisons
    "ann_recall_eval_routed" -> ((s, dir) =>
      Similarity.recallEvalRouted(rdEmbeddings(s, dir))),
    "ann_ivf_trained" -> ((s, dir) =>
      Similarity.ivfTrainedTopK(rdEmbeddings(s, dir))),
    "ann_knn_join" -> ((s, dir) => Similarity.knnJoin(rdEmbeddings(s, dir))),
    // the self-healing variant for guard-flagged corpora: hot band
    // buckets re-blocked across 4 salt shards (identical result —
    // shares ann_knn_join's oracle)
    "ann_knn_join_salted" -> ((s, dir) =>
      Similarity.knnJoin(rdEmbeddings(s, dir), saltShards = 4)),
    // the LINEAR-SCALE variant for clustered corpora (r14): each LSH
    // bucket keeps at most `cap` deterministically pseudo-randomly
    // chosen members, bounding candidate pairs at buckets x cap² —
    // the measured sf1 scale-up (10 near-dup copies per vector) made
    // the exact join's pair volume quadratic; the cap restores linear
    "ann_knn_join_capped" -> ((s, dir) =>
      Similarity.knnJoinCapped(rdEmbeddings(s, dir))),
    // candidate-volume guard a pipeline runs BEFORE the banded
    // self-join: band_pairs ~ n^2 means the banding degenerated for
    // this corpus and the join should be re-parameterized, not launched
    "ann_band_stats" -> ((s, dir) =>
      Similarity.bandCandidateStats(rdEmbeddings(s, dir))),
    "ann_pq" -> ((s, dir) => Similarity.pqTopK(rdEmbeddings(s, dir))),
    // the IVF+PQ composite (FAISS IVFADC): trained coarse routing +
    // product quantization of the RESIDUALS, per-list ADC tables
    "ann_ivfpq" -> ((s, dir) => Similarity.ivfPqTopK(rdEmbeddings(s, dir))),
    // the same composite against a PERSISTED index (centroids, list
    // assignment, residual codebook + codes as committed tables):
    // train once, search many — the search half is shared code, so
    // results are identical and the oracle is shared verbatim
    "ann_ivfpq_indexed" -> ((s, dir) => {
      val r = graft.plans.GeneratedTables.ensureCustom(dir + "#ivfpqindex") {
        root =>
          Similarity.buildIvfPqIndex(s, rdEmbeddings(s, dir), root, "ann")
      }
      Similarity.ivfPqSearchIndexed(s, rdEmbeddings(s, dir), r, "ann")
    }),
    // ... and the INCREMENTALLY-MAINTAINED composite (r14): the
    // governed embeddings table churns after the index build
    // (eq-delete + re-insert of a vector slice), and refreshIvfPqIndex
    // re-routes the changed vectors to their nearest FROZEN centroid,
    // re-encodes their residuals against the FROZEN codebook, and
    // rewrites only the touched id buckets of ivf_assign AND
    // ivfpq_codes. Content converged back, so the oracle is shared
    // verbatim: maintenance must be invisible to the search.
    "ann_ivfpq_refreshed" -> ((s, dir) => {
      val r = churnedIndexRoot(s, dir, "ivfpqrefresh")(root =>
        Similarity.buildIvfPqIndexFromTable(s, root, "embsrc", "emb",
          root, "ann"))(root =>
        Similarity.refreshIvfPqIndex(s, root, "embsrc", "emb", root, "ann"))
      Similarity.ivfPqSearchIndexed(s, rdEmbeddings(s, dir), r, "ann")
    }),
    // ... and its recall eval: routing loss x compression loss
    // audited together against brute force
    "ann_recall_eval_ivfpq" -> ((s, dir) =>
      Similarity.recallEvalIvfPq(rdEmbeddings(s, dir))),
    // the same search against a PERSISTED index (codebook + codes as
    // committed tables): train once, search many — identical results
    "ann_pq_indexed" -> ((s, dir) => {
      val r = graft.plans.GeneratedTables.ensureCustom(dir + "#pqindex") { root =>
        Similarity.buildPqIndex(s, rdEmbeddings(s, dir), root, "ann")
      }
      Similarity.pqSearchIndexed(s, rdEmbeddings(s, dir), r, "ann")
    }),
    // INCREMENTAL ANN-index maintenance under the oracle (r14): the
    // embeddings land as a GOVERNED table, the PQ index is built from
    // it (codebook trained once, source version checkpointed), then
    // the table churns — an eq-delete of a vector slice plus a
    // re-insert of the same rows, two more commits — and
    // refreshPqIndex replays the change feed against the FROZEN
    // codebook, collapsing each vector to its latest change and
    // rewriting only the touched id buckets. Content converged back to
    // the full corpus, so the search shares ann_pq_indexed's oracle
    // VERBATIM: incremental maintenance must be invisible
    // (the same-answer-rewrite rule; OperatorsSpec pins the surgical
    // bucket-rewrite and frozen-codebook invariants directly).
    "ann_pq_refreshed" -> ((s, dir) => {
      val r = churnedIndexRoot(s, dir, "pqrefresh")(root =>
        Similarity.buildPqIndexFromTable(s, root, "embsrc", "emb",
          root, "ann"))(root =>
        Similarity.refreshPqIndex(s, root, "embsrc", "emb", root, "ann"))
      Similarity.pqSearchIndexed(s, rdEmbeddings(s, dir), r, "ann")
    }),
    "ann_range" -> ((s, dir) => Similarity.rangeSearch(rdEmbeddings(s, dir))),
    "emb_kmeans" -> ((s, dir) => Similarity.kmeansCensus(rdEmbeddings(s, dir))),
    // embedding QC: per-cluster centroid-distance outlier screen
    "emb_outliers" -> ((s, dir) =>
      Similarity.embOutliers(rdEmbeddings(s, dir))),
    "emb_pca" -> ((s, dir) => Similarity.pcaTopComponent(rdEmbeddings(s, dir))),
    "emb_pca_project" -> ((s, dir) => Similarity.pcaProjection(rdEmbeddings(s, dir))),
    "text_phrase_search" -> ((s, dir) =>
      graft.operators.Retrieval.phraseSearch(rd(s, dir, "documents"))),
    "text_bm25" -> ((s, dir) =>
      graft.operators.Retrieval.bm25TopK(rd(s, dir, "documents"), bm25Terms)),
    // the same search against a PERSISTED inverted index (postings +
    // doc lengths + stats as committed tables): tokenize once, search
    // many — identical results, shared oracle
    "text_bm25_indexed" -> ((s, dir) => {
      val r = graft.plans.GeneratedTables.ensureCustom(dir + "#bm25index") { root =>
        graft.operators.Retrieval.buildIndex(s, rd(s, dir, "documents"),
          root, "idx")
      }
      graft.operators.Retrieval.searchIndexed(s, r, "idx", bm25Terms)
    }),
    // INCREMENTAL index maintenance under the oracle: the corpus lands
    // as a governed table in TWO commits — the index is built after the
    // first and REFRESHED (only touched term buckets rewritten) after
    // the second — then searched. The oracle scores the full corpus, so
    // a refresh that missed, doubled, or stale-read anything diverges.
    "text_bm25_refreshed" -> ((s, dir) => {
      val r = graft.plans.GeneratedTables.ensureCustom(dir + "#bm25refresh") { root =>
        import org.apache.spark.sql.functions.col
        import graft.plans.TableIO
        val d = rd(s, dir, "documents")
        val ns = "corp"
        val base = d.filter(col("doc_id") % 3 =!= 0)
        TableIO.createNamespace(root, ns)
        TableIO.createTableIfNotExists(root, ns, "docs", base.schema)
        TableIO.commit(root, ns, "docs", Seq(TableIO.writeExactFile(s, root,
          ns, "docs", "data/d0.parquet", base, "data",
          TableIO.nextSeq(root, ns, "docs"))))
        graft.operators.Retrieval.buildIndexFromTable(s, root, ns, "docs",
          root, "idx")
        val late = d.filter(col("doc_id") % 3 === 0)
        TableIO.commit(root, ns, "docs", Seq(TableIO.writeExactFile(s, root,
          ns, "docs", "data/d1.parquet", late, "data",
          TableIO.nextSeq(root, ns, "docs"))))
        graft.operators.Retrieval.refreshIndex(s, root, ns, "docs",
          root, "idx")
        ()
      }
      graft.operators.Retrieval.searchIndexed(s, r, "idx", bm25Terms)
    }),
    // the SQL procedure front door under the oracle: CALL must score
    // identically to the Scala operator (and to DuckDB)
    "q_sql_call_bm25" -> ((s, dir) => {
      val r = graft.plans.GeneratedTables.ensureCustom(dir + "#callroot")(_ => ())
      s.conf.set("spark.sql.catalog.gcall", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcall.root", r)
      s.sql(s"CALL gcall.system.bm25_search('$dir/documents.parquet', " +
        s"'${bm25Terms.mkString(" ")}', 15)")
    }),
    "pipe_decontaminate" -> ((s, dir) =>
      PipelineOps.decontaminate(rd(s, dir, "documents"))),
    "pipe_sample" -> ((s, dir) => PipelineOps.sampleBySource(rd(s, dir, "documents"))),
    "pipe_pack" -> ((s, dir) => PipelineOps.packSequences(rd(s, dir, "documents"))),
    "pipe_pack_eval" -> ((s, dir) =>
      PipelineOps.packEval(rd(s, dir, "documents"))),
    "pipe_shuffle" -> ((s, dir) => PipelineOps.shuffleShards(rd(s, dir, "documents"))),
    "pipe_chunk" -> ((s, dir) => PipelineOps.chunkDocuments(rd(s, dir, "documents"))),
    "pipe_split" -> ((s, dir) => PipelineOps.trainValTest(rd(s, dir, "documents"))),
    // split by near-dup CLUSTER: duplicates never straddle train/test;
    // n_leaky_docs counts what the doc-level rule would have leaked.
    // Labels come from the persisted index (r12) — consuming the split
    // no longer reclusters the corpus.
    "pipe_split_leakage_safe" -> ((s, dir) =>
      PipelineOps.leakageSafeSplit(rd(s, dir, "documents"),
        clusterLabels(s, dir))),
    // the whole curation chain composed: gate -> keep-best dedup ->
    // cluster-keyed split -> per-split dataset-card numbers; the split
    // stage groups by CORPUS-level clusters from the persisted index
    // (r12 — see PipelineOps.e2eCuration for why survivor-only
    // reclustering was also semantically weaker)
    "pipe_e2e_curation" -> ((s, dir) =>
      PipelineOps.e2eCuration(rd(s, dir, "documents"),
        clusterLabels(s, dir))),
    "pipe_datacard" -> ((s, dir) => PipelineOps.dataCard(rd(s, dir, "documents"))),
    "pipe_token_budget" -> ((s, dir) => PipelineOps.tokenBudget(rd(s, dir, "documents"))),
    // the operator interleaves the whole corpus; the top-100 is this
    // QUERY's presentation bound (mirrored by the oracle), applied on
    // the position the operator computed
    "pipe_interleave" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      PipelineOps.interleave(rd(s, dir, "documents"))
        .filter(col("pos") <= 100)
    }),
    "pipe_validate" -> ((s, dir) => PipelineOps.qualityAudit(rd(s, dir, "documents"))),
    "dedup_passages" -> ((s, dir) =>
      PipelineOps.passageDupStats(rd(s, dir, "documents"))),
    // rolling-window exact-substring dedup (the ExactSubstr recipe):
    // stride-1 window fingerprints -> corpus duplicate windows ->
    // per-doc maximal spans via gaps-and-islands
    "dedup_substr_spans" -> ((s, dir) =>
      PipelineOps.substrSpans(rd(s, dir, "documents"))),
    "pipe_mix" -> ((s, dir) => PipelineOps.mixtureRepeat(rd(s, dir, "documents"))),
    // temperature-resampled mixture weights at alpha=1/2 (exact sqrt
    // fixed-point numerators, one agreed division per share)
    "pipe_temperature" -> ((s, dir) =>
      PipelineOps.temperatureMix(rd(s, dir, "documents"))),
    "pipe_vocab_coverage" -> ((s, dir) =>
      PipelineOps.vocabCoverage(rd(s, dir, "documents"))),
    // tokenizer-fertility per source against the same stand-in vocab:
    // tokens/word and chars/token — the corpus-card numbers that
    // drive vocab sizing and mixture weighting
    "pipe_fertility" -> ((s, dir) =>
      PipelineOps.vocabFertility(rd(s, dir, "documents"))),
    // auto-width prefix sum (r16): bucket width ~ sqrt(id range), so
    // both window levels stay O(sqrt n) rows per task at any corpus
    // size; the decomposition is exact, so the oracle is unchanged
    "pipe_weighted_sample" -> ((s, dir) =>
      PipelineOps.weightedSampleAuto(rd(s, dir, "documents"))),
    "dedup_containment" -> ((s, dir) =>
      graft.operators.Dedup.containment(rd(s, dir, "documents"))),
    "text_topk_ngrams" -> ((s, dir) => PipelineOps.topNgrams(rd(s, dir, "documents"))),
    "emb_quantize" -> ((s, dir) => PipelineOps.quantize(rdEmbeddings(s, dir))),
    "q_hll_sketch" -> ((s, dir) =>
      PipelineOps.hllRegisters(rd(s, dir, "lineitem"), "l_partkey")),
    "dedup_clusters" -> ((s, dir) =>
      PipelineOps.dedupClusters(rd(s, dir, "documents"))),
    // the same labels read from the PERSISTED cluster index (cluster
    // once, consume many — the governed-index lifecycle applied to
    // near-dup clustering); shares dedup_clusters' oracle verbatim
    "dedup_clusters_indexed" -> ((s, dir) =>
      clusterLabels(s, dir).orderBy("doc_id")),
    // INCREMENTAL index maintenance under the oracle, composed with
    // the change feed (see refreshedClusterLabels): built on the 2/3 of
    // the corpus with doc_id % 3 != 0, refreshed with the rest — the
    // bulk (full-rebuild) side of the exact size route
    "dedup_clusters_refreshed" -> ((s, dir) =>
      refreshedClusterLabels(s, dir, "#clusteridxr", 3,
        PipelineOps.PairSource.Exact)),
    // the EXACT index's SMALL-delta refresh under the same oracle
    // (r19): a 2% delta keeps changed-bucket volume under index/8, so
    // the size route must take the DELTA route — adjacency and labels
    // maintained by MOR delta commits through the component-scoped
    // relabel, the pair table appended but never read — and the folded
    // labels must still equal the from-scratch clustering of the full
    // corpus bit-for-bit. With the 1/3-delta twin above, BOTH sides of
    // the exact size route sit under the oracle gate,
    // mirroring the capped pair below.
    "dedup_clusters_exact_delta_refreshed" -> ((s, dir) =>
      refreshedClusterLabels(s, dir, "#clidxexd", 50,
        PipelineOps.PairSource.Exact)),
    // the CAPPED cluster index (r16): per-bucket cap survivors ARE the
    // index state, so dense corpora get bounded work AND incremental
    // refresh together; the oracle replays the same cap before the
    // pair join
    "dedup_clusters_capped" -> ((s, dir) => {
      val r = graft.plans.GeneratedTables.ensureCustom(dir + "#clidxcap") {
        root =>
          PipelineOps.buildClusterIndex(s, rd(s, dir, "documents"),
            root, "corp", "clusters", PipelineOps.PairSource.Capped())
      }
      PipelineOps.readClusterIndex(s, r, "corp", "clusters")
        .orderBy("doc_id")
    }),
    // the survivor-folding refresh under the SAME oracle: built on
    // two-thirds of the corpus, refreshed with the last third — a fold
    // that shifted a frozen survivor, dropped an eviction, or missed a
    // cross-batch pair diverges from the from-scratch capped clustering
    "dedup_clusters_capped_refreshed" -> ((s, dir) =>
      refreshedClusterLabels(s, dir, "#clidxcapr", 3,
        PipelineOps.PairSource.Capped())),
    // the capped SMALL-delta refresh under the same oracle (r18): a 2%
    // delta takes the DELTA route — survivors, the bucket-adjacency
    // state, and the labels all maintained by MOR delta commits — and
    // the folded read must still equal the from-scratch capped
    // clustering of the full corpus bit-for-bit
    "dedup_clusters_delta_refreshed" -> ((s, dir) =>
      refreshedClusterLabels(s, dir, "#clidxcapd", 50,
        PipelineOps.PairSource.Capped())),
    // the density-ROUTED build (r16): one guard aggregate picks exact
    // or capped; the oracle replays the routing comparison itself, so
    // testdata regeneration cannot desynchronize route and oracle (the
    // testdata corpus routes EXACT — bit-equal to dedup_clusters —
    // while the rule is under SQL test)
    "dedup_clusters_auto" -> ((s, dir) => {
      val r = graft.plans.GeneratedTables.ensureCustom(dir + "#clidxauto") {
        root =>
          PipelineOps.buildClusterIndex(s, rd(s, dir, "documents"),
            root, "corp", "clusters", PipelineOps.PairSource.Auto)
      }
      PipelineOps.readClusterIndex(s, r, "corp", "clusters")
        .orderBy("doc_id")
    }),
    // the refresh DISPATCH under the same oracle: an auto-built index
    // refreshed with the last third — the refresh must read the
    // committed state's own flavour and fold by the matching contract
    "dedup_clusters_auto_refreshed" -> ((s, dir) =>
      refreshedClusterLabels(s, dir, "#clidxautor", 3,
        PipelineOps.PairSource.Auto)),
    // derived view over the INDEX labels (was: a second full
    // reclustering per the r11 verdict) — same oracle, same answer
    "dedup_cluster_stats" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      clusterLabels(s, dir)
        .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    }),
    "pipe_filter_compose" -> ((s, dir) =>
      PipelineOps.filterCompose(rd(s, dir, "documents"))),
    // the training-data pipeline landing in a GOVERNED table: the
    // composed corpus filter's output committed through a bucket
    // partition spec, then read back with one-bucket file pruning —
    // the two halves of the engine (corpus ops + table layer) joined
    "pipe_corpus_table" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val spec = graft.plans.PartitionSpec("bucket", "doc_id", 4)
      val r = graft.plans.GeneratedTables.ensureCustom(dir + "#corpus") { root =>
        val filtered = PipelineOps.filterCompose(rd(s, dir, "documents"))
        graft.plans.Partitioning.preparePartitioned(s, root, "gen_ns",
          "corpus", filtered, spec)
      }
      graft.plans.Mor.read(s, r, "gen_ns", "corpus")
        .filter(spec.sparkValue(col("doc_id")) === 2L)
        .orderBy("doc_id")
    }),
    "text_entropy" -> ((s, dir) =>
      TextAnalysis.entropy(rd(s, dir, "documents"))),
    "text_redact" -> ((s, dir) => TextAnalysis.redact(rd(s, dir, "documents"))),
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(rd(s, dir, "documents"))),
    "text_rarity" -> ((s, dir) => TextAnalysis.rarity(rd(s, dir, "documents"))),
    "text_lm_score" -> ((s, dir) => TextAnalysis.lmScore(rd(s, dir, "documents"))),
    "text_lm_buckets" -> ((s, dir) => TextAnalysis.lmBuckets(rd(s, dir, "documents"))),
    "text_gopher_rules" -> ((s, dir) => TextAnalysis.gopherRules(rd(s, dir, "documents"))),
    // the gate's operating curve: survivors/keep-rate/token mass per
    // candidate min-words threshold, ten thresholds for one scan
    "pipe_gate_sweep" -> ((s, dir) =>
      PipelineOps.gateSweep(rd(s, dir, "documents"))),
    "text_classifier_score" -> ((s, dir) =>
      TextAnalysis.classifierScore(rd(s, dir, "documents"))),
    "pipe_source_cap" -> ((s, dir) => PipelineOps.sourceCap(rd(s, dir, "documents"))),
    "dedup_keep_best" -> ((s, dir) => Dedup.keepBest(rd(s, dir, "documents"))),
    "pipe_curriculum" -> ((s, dir) => PipelineOps.curriculum(rd(s, dir, "documents"))),
    // hybrid lexical+dense retrieval: BM25 top-50 and cosine top-50
    // fused with reciprocal-rank fusion (doc_id and vec_id share the
    // 0..N id space in the fixtures, as a joined corpus would)
    "ann_rrf_fusion" -> ((s, dir) =>
      graft.operators.Retrieval.rrfFusion(rd(s, dir, "documents"),
        rdEmbeddings(s, dir), bm25Terms)),
    "text_stats" -> ((s, dir) => TextAnalysis.stats(rd(s, dir, "documents"))),
    "text_tokens" -> ((s, dir) => TextAnalysis.tokens(rd(s, dir, "documents"))),
    "text_countmin" -> ((s, dir) => TextAnalysis.countMin(rd(s, dir, "documents"))),
    "text_quality" -> ((s, dir) => TextAnalysis.quality(rd(s, dir, "documents"))),
    "text_langid" -> ((s, dir) => TextAnalysis.langId(rd(s, dir, "documents"))),
    "text_lang_confusion" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{count, lit}
      TextAnalysis.langId(rd(s, dir, "documents"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),
    "text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprints(rd(s, dir, "documents"))),
    "multimodal_meta" -> ((s, dir) => Multimodal.meta(rd(s, dir, "documents"))),
    // perceptual-hash visual dedup through the REAL codec round-trip
    // (BMP encode -> javax.imageio decode -> aHash); the oracle replays
    // the closed form of the synthesized pixels, so any decode or
    // hash-bit drift fails the hash compare
    "multimodal_phash" -> ((s, dir) =>
      Multimodal.visualDupes(s, rd(s, dir, "documents"))),
    // hamming-banded near-dup over the perceptual hashes; threshold 3
    // keeps 4x16 banding lossless, so the oracle is the
    // implementation-free all-pairs statement of the semantics
    "multimodal_phash_near" -> ((s, dir) =>
      Multimodal.visualNearDupes(s, rd(s, dir, "documents"))),
    // Decode -> resize over the documents payloads through the real
    // mapPartitions pipeline; integer outputs (dims, byte count) keep
    // the oracle hash float-free. Text payloads never parse as images,
    // so the deterministic stub dims apply — byte arithmetic DuckDB
    // replays exactly.
    "multimodal_decode" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Multimodal.decodeAndResize(s, rd(s, dir, "documents"))
        .toDF().select(col("doc_id"), col("n_bytes"),
          col("width"), col("height"))
        .orderBy("doc_id")
    }),
    // REAL video decode end to end: per doc, synthesize an MJPEG AVI
    // (JPEG frames in a RIFF container — what a camera hands the
    // pipeline) with size/frame-count derived from doc_id, then decode
    // it back through the real chunk-walk + javax.imageio path and emit
    // one row per frame with the TRUE pixel dimensions. The oracle pins
    // the closed form of what was encoded, so any container-parse or
    // frame-decode drift (wrong offsets, padding, dimension swap) fails
    // the hash. JPEG is lossy in pixels but exact in dimensions.
    "multimodal_video" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      rd(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val frames = (0 until (id % 3 + 1).toInt).map { f =>
              new java.awt.image.BufferedImage(
                (16 + id % 8 + f).toInt, (12 + id % 5 + f).toInt,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
            }
            val avi = Multimodal.encodeMjpegAvi(frames)
            Multimodal.decodeVideoFrames(avi).get.zipWithIndex.map {
              case ((w, h), i) => (id, i, w, h)
            }
          }
        }
        .toDF("doc_id", "frame_no", "width", "height")
        .orderBy("doc_id", "frame_no")
    }),
    // REAL audio decode end to end (the WAV twin of multimodal_video):
    // per doc, synthesize 16-bit PCM mono WAV bytes with deterministic
    // samples v_i = (doc_id*31 + i*7) % 2001 - 1000, then decode back
    // through the real javax.sound path — header fields AND the exact
    // integer RMS of the samples. The oracle replays the synthesis
    // arithmetic in SQL (sum of squares is an exact long; sqrt is
    // IEEE-correctly-rounded, so floor(sqrt(ss/n)) agrees bit-for-bit),
    // so any container-write, header-parse, endianness, or sample-
    // reconstruction drift fails the hash.
    "multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      rd(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val nf = (64 + id % 64).toInt
            val samples = Array.tabulate(nf)(i =>
              ((id * 31 + i * 7) % 2001 - 1000).toShort)
            (id, Multimodal.encodePcmWav(samples, 8000))
          }
        }
        .toDF("doc_id", "payload")
        .transform(df => Multimodal.audioFeatures(s, df).toDF())
        .orderBy("doc_id")
    }),
    // Per-label embedding aggregate (IVF-centroid building block):
    // exact decimal per-dimension sums published as double + counts.
    "q_centroid" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      rdEmbeddings(s, dir)
        .select(col("label"),
          posexplode(slice(col("embedding"), 1, 8)).as(Seq("pos", "e")))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"),
          sum(col("e").cast("double").cast("decimal(28,10)"))
            .cast("double").as("sum_e"))
        .orderBy("label", "pos")
    }),
    // As-of join: for each click, the user's most recent purchase value
    // (ordered by event_id — unique, so deterministic in both engines).
    "q_asof" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = rdEvents(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "value")
      graft.operators.AsofJoin.join(clicks, purchases,
        "user_id", "event_id", "value")
        .orderBy("event_id")
    }),
    // Range join: purchases within 60s before each click, any user —
    // bucketed equi-join shape (see RangeJoin), never a nested loop.
    "q_range_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = rdEvents(s, dir).withColumn("t", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "t")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("t", "value")
      graft.operators.RangeJoin.aggregateInRange(
        clicks, purchases, "event_id", 60000000L, "value")
    }),
    // Higher-order array functions over embeddings (exact int/bool out).
    "q_hof" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      rdEmbeddings(s, dir).select(col("vec_id"),
        size(filter(col("embedding"), x => x > 0f)).as("n_pos"),
        size(filter(col("embedding"), x => abs(x) > 0.1f)).as("n_big"),
        exists(col("embedding"), x => x > 0.3f).as("any_gt03"))
        .orderBy("vec_id")
    })
  )

  // ---- shared DuckDB fragments ------------------------------------------

  /** DuckDB twin of Dedup.normalize. */
  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** The composed corpus filter (language → quality → dedup-survivor →
    * deterministic downsample) as a reusable fragment — no trailing
    * ORDER BY so callers can wrap it in a CTE.
    */
  private lazy val filterComposeSql: String =
    s"""WITH q AS (SELECT doc_id, n_chars,
       |    string_split_regex(trim(text), '\\s+') AS w,
       |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha
       |  FROM documents),
       |ql AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens
       |       FROM q WHERE len(w) >= 20 AND CAST(alpha AS DOUBLE) / n_chars >= 0.8),
       |f AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
       |surv AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY fp)
       |SELECT d.doc_id, d.source, ql.n_tokens
       |FROM documents d JOIN ql USING (doc_id) JOIN surv USING (doc_id)
       |WHERE d.lang = 'en'
       |  AND (${rollSql("'c' || CAST(doc_id AS VARCHAR)")} % 100) < 50""".stripMargin

  /** The MinHash signature/banding CTE chain, shared by the LSH pair
    * oracle and the edit-distance verification oracle — defined over
    * [[minhashSigCtesOver]] so the shingle/signature chain lives ONCE
    * (r17 review: a hardcoded second copy here could silently fork
    * from the label-recall eval's parameterized one).
    */
  private lazy val minhashCtesSql =
    s"""${minhashSigCtesOver("documents")},
       |bands AS ($bandsSql)""".stripMargin

  /** DuckDB twin of TextHash.rollingHash applied to expression `e`. */
  private def rollSql(e: String): String =
    s"""(CASE WHEN length($e) = 0 THEN 0 ELSE
       | list_reduce(list_transform(string_split($e, ''),
       |   c -> CAST(unicode(c) AS BIGINT)), (a, b) -> (a * 31 + b) % 1000000007)
       | END)""".stripMargin

  /** DuckDB twin of TextAnalysis.countMin's salted sketch rows. */
  private val cmProbesSql = graft.operators.TextAnalysis.CmProbes
    .map(t => s"('$t')").mkString(", ")
  private val cmSketchSql = (0 until 4).map { d =>
    s"SELECT $d AS d, (${rollSql(s"'cm$d:' || tok")}) % 256 AS b FROM toks"
  }.mkString(" UNION ALL ")
  private val cmProbeSql = (0 until 4).map { d =>
    s"SELECT token, $d AS d, (${rollSql(s"'cm$d:' || token")}) % 256 AS b FROM pr"
  }.mkString(" UNION ALL ")

  /** DuckDB 4-gram shingle list from a words list `w`. */
  private val shinglesSql =
    "[array_to_string(w[i:i+3], ' ') for i in range(1, len(w) - 2)]"

  /** DuckDB cosine between DOUBLE[] columns `a` and `b` with the same
    * operation order as VectorOps (left-to-right product sum, then
    * sqrt-norm division).
    */
  private def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])) /
       | (sqrt(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $a[i]))) *
       |  sqrt(list_sum(list_transform(range(1, len($b) + 1), i -> $b[i] * $b[i])))))""".stripMargin

  private val minhashSigCols = graft.functions.TextHash.minhashSeeds
    .zipWithIndex.map { case ((a, b), j) =>
      s"min((h * $a + $b) % 1000000007) AS s$j"
    }.mkString(", ")

  /** MinHash banding of the 16-component `sig` CTE at `nBands` bands
    * of 16/nBands rows each — the SQL twin of `Dedup.sigBands`. 4×4
    * is the production default; the shape-aware router's re-banded
    * branch uses 2×8.
    */
  private def bandsSqlAt(nBands: Int): String = {
    val rowsPer = 16 / nBands
    (0 until nBands).map { bnd =>
      val key = (0 until rowsPer).map(r => s"s${bnd * rowsPer + r}")
        .mkString(" || ':' || ")
      s"SELECT doc_id, $bnd AS band, $key AS bkey FROM sig"
    }.mkString(" UNION ALL ")
  }

  private lazy val bandsSql = bandsSqlAt(4)

  /** DuckDB twin of Dedup.pairsFromSigsCapped's bucket cap over a
    * minhash band CTE — the (doc_id, band) multiplicative Knuth
    * rank (no key term: one bucket per band per doc), cap 8. The band
    * mixes INSIDE the multiplication (adopted in r16) so each
    * band caps an independent survivor subset. Parameterized over the
    * source band CTE so the shape-aware oracles can cap the re-banded
    * 2×8 rows with the identical rank.
    */
  private def minhashCappedCteOver(name: String,
      src: String = "bands", cap: Int = 8): String =
    s"""$name AS (SELECT doc_id, band, bkey FROM (
       |    SELECT doc_id, band, bkey, row_number() OVER (
       |        PARTITION BY band, bkey ORDER BY
       |          (((doc_id % 2147483648 + band * 40503) % 2147483648)
       |            * 2654435761) % 4294967296 ASC, doc_id ASC) AS bn
       |    FROM $src) WHERE bn <= $cap)""".stripMargin

  /** The MinHash signature CTE chain (through `sig`) over an
    * arbitrary (doc_id, text) relation — the label-recall eval builds
    * signatures of a synthesized dense corpus, everything else of the
    * base table.
    */
  private def minhashSigCtesOver(base: String): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS w FROM $base),
       |shl AS (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh
       |        FROM t WHERE len(w) >= 4),
       |h AS (SELECT doc_id, ${rollSql("sh")} AS h FROM shl),
       |sig AS (SELECT doc_id, $minhashSigCols FROM h GROUP BY doc_id)""".stripMargin

  /** One 3-round min-label propagation chain (edges → l0..l3) over a
    * pairs CTE, all names prefixed — the label-recall eval runs one
    * chain per (banding, cap) config in a single query.
    */
  private def labelChainCtes(p: String, pairsCte: String): String =
    s"""${p}edges AS (SELECT doc_a AS src, doc_b AS dst FROM $pairsCte
       |          UNION ALL SELECT doc_b, doc_a FROM $pairsCte),
       |${p}l0 AS (SELECT DISTINCT src AS doc_id, src AS lab FROM ${p}edges),
       |${p}n1 AS (SELECT e.src AS doc_id, min(l.lab) AS nlab
       |       FROM ${p}edges e JOIN ${p}l0 l ON l.doc_id = e.dst GROUP BY e.src),
       |${p}l1 AS (SELECT l.doc_id, least(l.lab, n.nlab) AS lab
       |       FROM ${p}l0 l JOIN ${p}n1 n USING (doc_id)),
       |${p}n2 AS (SELECT e.src AS doc_id, min(l.lab) AS nlab
       |       FROM ${p}edges e JOIN ${p}l1 l ON l.doc_id = e.dst GROUP BY e.src),
       |${p}l2 AS (SELECT l.doc_id, least(l.lab, n.nlab) AS lab
       |       FROM ${p}l1 l JOIN ${p}n2 n USING (doc_id)),
       |${p}n3 AS (SELECT e.src AS doc_id, min(l.lab) AS nlab
       |       FROM ${p}edges e JOIN ${p}l2 l ON l.doc_id = e.dst GROUP BY e.src),
       |${p}l3 AS (SELECT l.doc_id, least(l.lab, n.nlab) AS lab
       |       FROM ${p}l2 l JOIN ${p}n3 n USING (doc_id))""".stripMargin

  private lazy val minhashCappedCteSql: String = minhashCappedCteOver("capped")

  /** The shape-aware router's guard stats as one CTE — the SQL twin
    * of the two constant-size aggregates the r17 routers read: bp/br
    * at the production banding (`src4`) and bp2 at the re-banded
    * shape (`src2`). `where` restricts both to the corpus the engine
    * routed on (the build-time base for index-refresh oracles).
    */
  private def routerStatsCte(src4: String = "bands",
      src2: String = "bands2", where: String = ""): String =
    s"""st AS (SELECT s4.bp, s4.br, s2.bp2 FROM
       |  (SELECT CAST(COALESCE(sum(cnt * cnt), 0) AS BIGINT) AS bp,
       |          CAST(COALESCE(sum(cnt), 0) AS BIGINT) AS br
       |   FROM (SELECT band, bkey, count(*) AS cnt
       |         FROM $src4 $where GROUP BY 1, 2)) s4,
       |  (SELECT CAST(COALESCE(sum(cnt * cnt), 0) AS BIGINT) AS bp2
       |   FROM (SELECT band, bkey, count(*) AS cnt
       |         FROM $src2 $where GROUP BY 1, 2)) s2)""".stripMargin

  /** The three route predicates over [[routerStatsCte]]'s `st`, with
    * the ENGINE's own constants interpolated — never bare literals
    * (r17 advice: a `* 4` literal in the SQL while the engine routes
    * on Dedup.RebandGain desynchronizes silently on any constant
    * change). `bound` is the exact-branch slack factor: cap×slack for
    * the pair routers, ClusterIndexGuardCapSlack for the cluster
    * index — interpolated at each call site from the same named
    * constant the engine reads.
    */
  private def routeExactSql(bound: Long): String =
    s"(SELECT bp <= br * $bound FROM st)"
  private def routeCappedSql(bound: Long): String =
    s"(SELECT bp > br * $bound AND bp2 * ${Dedup.RebandGain} > bp FROM st)"
  private def routeRebandedSql(bound: Long): String =
    s"(SELECT bp > br * $bound AND bp2 * ${Dedup.RebandGain} <= bp FROM st)"

  /** cap×slack of the default-parameter pair routers, from the named
    * engine constants.
    */
  private val pairRouteBound: Long =
    Dedup.DefaultCap.toLong * Dedup.DefaultSlack

  private val simhashBitsSql = (0 until 32).map { i =>
    s"(CASE WHEN 2 * list_sum(list_transform(hs, v -> (v >> $i) % 2)) > len(hs) THEN ${1L << i} ELSE 0 END)"
  }.mkString(" + ")

  private val lshBucketSql = (0 until 8).map { i =>
    s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
  }.mkString(" + ")

  /** DuckDB twin of Dedup.embeddingCosine's 16x4-bit sign-LSH bands,
    * over an arbitrary (vec_id, embedding) relation — the recall eval
    * bands a synthesized dense corpus, everything else the base table.
    */
  private def embBandsSqlOver(rel: String, bands: Int = 16,
      r: Int = 4): String = (0 until bands).map { bnd =>
    val key = (0 until r).map { i =>
      s"(CASE WHEN embedding[${bnd * r + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"SELECT vec_id, $bnd AS band, $key AS bkey FROM $rel"
  }.mkString(" UNION ALL ")

  private lazy val embBandsSql = embBandsSqlOver("embeddings")

  /** DuckDB k-means E-step: nearest centroid per vector from centroid
    * CTE `c`, fixed-point-exact distances (scaled-long, the twin of
    * Similarity.assignClusters), ties on cid.
    */
  /** The banded kNN join's oracle — shared by ann_knn_join and
    * ann_knn_join_salted: salting re-blocks the band join's shuffle
    * without changing the candidate pair set, so the results are
    * identical by construction.
    */
  private lazy val annKnnSql: String =
    s"""WITH bands AS ($embBandsSql),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.bkey = b.bkey
       |          AND a.vec_id <> b.vec_id),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |j AS (SELECT vec_a, vec_b, ${cosSql("x.v", "y.v")} AS cos
       |      FROM cand JOIN e x ON x.vec_id = vec_a
       |                JOIN e y ON y.vec_id = vec_b),
       |rk AS (SELECT vec_a, vec_b, cos,
       |         row_number() OVER (PARTITION BY vec_a
       |           ORDER BY cos DESC, vec_b ASC) AS rank FROM j)
       |SELECT vec_a, CAST(rank AS INTEGER) AS rank, vec_b,
       |  round(cos, 6) AS sim
       |FROM rk WHERE rank <= 3 ORDER BY vec_a, rank""".stripMargin

  /** The dense-bucket-cap CTE prefix shared by the capped join and
    * capped histogram oracles: each (band, bkey) bucket keeps its 8
    * lowest members by the same MULTIPLICATIVE per-band Knuth rank the
    * engine uses (band/key mixed inside the multiplication — adopted
    * in r16 — so each bucket caps an independent id
    * permutation; vec_id pre-reduced mod 2^31 so the product cannot
    * overflow Int64; all-positive operands, so DuckDB's % == Spark's
    * pmod). One copy: the hash constants and the cap must match
    * `Similarity.capBuckets` exactly.
    */
  /** One bucket-capped CTE (named `name`, cap parameterized) over a
    * `bands` CTE — the recall eval instantiates it at several caps in
    * one query; [[cappedBandsSql]] is the cap-8 production instance.
    */
  private def cappedCteOver(name: String, cap: Int,
      src: String = "bands"): String =
    s"""$name AS (SELECT vec_id, band, bkey FROM (
       |    SELECT vec_id, band, bkey, row_number() OVER (
       |        PARTITION BY band, bkey ORDER BY
       |          (((vec_id % 2147483648 + band * 40503 + bkey * 69069)
       |            % 2147483648) * 2654435761)
       |            % 4294967296 ASC, vec_id ASC) AS bn
       |    FROM $src) WHERE bn <= $cap)""".stripMargin

  private lazy val cappedBandsSql: String =
    s"""bands AS ($embBandsSql),
       |${cappedCteOver("capped", 8)}""".stripMargin

  /** [[annKnnSql]] with the dense-bucket cap replayed. */
  private lazy val annKnnCappedSql: String =
    s"""WITH $cappedBandsSql,
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM capped a JOIN capped b
       |           ON a.band = b.band AND a.bkey = b.bkey
       |          AND a.vec_id <> b.vec_id),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |j AS (SELECT vec_a, vec_b, ${cosSql("x.v", "y.v")} AS cos
       |      FROM cand JOIN e x ON x.vec_id = vec_a
       |                JOIN e y ON y.vec_id = vec_b),
       |rk AS (SELECT vec_a, vec_b, cos,
       |         row_number() OVER (PARTITION BY vec_a
       |           ORDER BY cos DESC, vec_b ASC) AS rank FROM j)
       |SELECT vec_a, CAST(rank AS INTEGER) AS rank, vec_b,
       |  round(cos, 6) AS sim
       |FROM rk WHERE rank <= 3 ORDER BY vec_a, rank""".stripMargin

  /** The full PQ pipeline's oracle (train + encode + ADC + re-rank) —
    * shared by ann_pq and ann_pq_indexed, which run the identical
    * algorithm (the latter via materialized index tables).
    */
  /** The PQ training pipeline as a CTE prefix (normalized subvector
    * dims → seeded codebook → one Lloyd round → final codes) — shared
    * by the top-k oracle and the PQ recall eval.
    */
  private lazy val pqTrainCtesSql: String =
    s"""raw AS (
       |  SELECT vec_id, CAST(i AS INTEGER) AS pos,
       |         CAST(embedding[i + 1] AS DOUBLE) AS e
       |  FROM embeddings, range(0, 64) t(i)),
       |norms AS (
       |  SELECT vec_id,
       |    sqrt(CAST(sum(CAST(floor(e * 10000000.0) AS BIGINT)
       |      * CAST(floor(e * 10000000.0) AS BIGINT)) AS DOUBLE)) / 10000000.0 AS nrm
       |  FROM raw GROUP BY vec_id),
       |dims AS (
       |  SELECT vec_id, CAST(pos // 8 AS INTEGER) AS sub,
       |         CAST(pos % 8 AS INTEGER) AS spos,
       |         CASE WHEN nrm = 0 THEN 0 ELSE e / nrm END AS e
       |  FROM raw JOIN norms USING (vec_id)),
       |cb0 AS (SELECT sub, vec_id AS cid, spos, e AS c
       |        FROM dims WHERE vec_id < 16),
       |a1 AS (${pqAssignSql("cb0")}),
       |cb1 AS (
       |  SELECT d.sub, a.cid, d.spos,
       |    CAST(sum(CAST(floor(d.e * 10000000.0) AS BIGINT)) AS DOUBLE)
       |      / 10000000.0 / count(*) AS c
       |  FROM dims d JOIN a1 a ON d.vec_id = a.vec_id AND d.sub = a.sub
       |  GROUP BY d.sub, a.cid, d.spos),
       |codes AS (${pqAssignSql("cb1")})""".stripMargin

  /** Oracle of the IVF+PQ composite (FAISS IVFADC): normalized dims →
    * trained coarse quantizer (the assignSql/updateSql Lloyd chain) →
    * residual dims → per-subspace residual codebooks → route the
    * query to nprobe lists → per-list residual ADC → shortlist →
    * exact re-rank. Every stage reuses a proven fixed-point pattern.
    */
  /** The shared IVF+PQ training chain (normalize → coarse Lloyd →
    * residual dims → residual codebook → codes) as a CTE prefix —
    * the top-k search and the recall eval replay it identically.
    */
  private lazy val ivfPqChainSql: String = {
    // PQ E-step over the RESIDUAL dims relation
    def rAssign(c: String): String =
      s"""SELECT vec_id, sub, cid FROM (
         |  SELECT vec_id, sub, cid,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY dist ASC, cid ASC) AS rn
         |  FROM (SELECT d.vec_id, d.sub, c.cid,
         |          sum(CAST(floor((d.e - c.c) * (d.e - c.c)
         |            * 1000000000000.0) AS BIGINT)) AS dist
         |        FROM rdims d JOIN $c c ON d.sub = c.sub AND d.spos = c.spos
         |        GROUP BY d.vec_id, d.sub, c.cid))
         |WHERE rn = 1""".stripMargin
    s"""raw AS (
       |  SELECT vec_id, CAST(i AS INTEGER) AS pos,
       |         CAST(embedding[i + 1] AS DOUBLE) AS e
       |  FROM embeddings, range(0, 64) t(i)),
       |norms AS (
       |  SELECT vec_id,
       |    sqrt(CAST(sum(CAST(floor(e * 10000000.0) AS BIGINT)
       |      * CAST(floor(e * 10000000.0) AS BIGINT)) AS DOUBLE)) / 10000000.0 AS nrm
       |  FROM raw GROUP BY vec_id),
       |dims AS (
       |  SELECT vec_id, pos,
       |         CASE WHEN nrm = 0 THEN 0 ELSE e / nrm END AS e
       |  FROM raw JOIN norms USING (vec_id)),
       |c0 AS (SELECT vec_id AS cid, pos, e AS c FROM dims WHERE vec_id < 8),
       |a1 AS (${assignSql("c0")}),
       |c1 AS (${updateSql("a1")}),
       |a2 AS (${assignSql("c1")}),
       |c2 AS (${updateSql("a2")}),
       |a3 AS (${assignSql("c2")}),
       |rdims AS (
       |  SELECT d.vec_id, CAST(d.pos // 8 AS INTEGER) AS sub,
       |         CAST(d.pos % 8 AS INTEGER) AS spos, d.e - c.c AS e
       |  FROM dims d JOIN a3 USING (vec_id)
       |       JOIN c2 c ON c.cid = a3.cid AND c.pos = d.pos),
       |rcb0 AS (SELECT sub, vec_id AS cid, spos, e AS c
       |         FROM rdims WHERE vec_id < 16),
       |ra1 AS (${rAssign("rcb0")}),
       |rcb1 AS (
       |  SELECT d.sub, a.cid, d.spos,
       |    CAST(sum(CAST(floor(d.e * 10000000.0) AS BIGINT)) AS DOUBLE)
       |      / 10000000.0 / count(*) AS c
       |  FROM rdims d JOIN ra1 a ON d.vec_id = a.vec_id AND d.sub = a.sub
       |  GROUP BY d.sub, a.cid, d.spos),
       |rcodes AS (${rAssign("rcb1")})""".stripMargin
  }

  private lazy val annIvfPqSql: String = {
    s"""WITH $ivfPqChainSql,
       |probes AS (
       |  SELECT cid FROM (
       |    SELECT c.cid,
       |      sum(CAST(floor((c.c - q.e) * (c.c - q.e) * 1000000000000.0)
       |        AS BIGINT)) AS dist
       |    FROM c2 c JOIN dims q ON c.pos = q.pos AND q.vec_id = 0
       |    GROUP BY c.cid)
       |  ORDER BY dist ASC, cid ASC LIMIT 2),
       |qres AS (
       |  SELECT c.cid AS pcid, CAST(c.pos // 8 AS INTEGER) AS sub,
       |         CAST(c.pos % 8 AS INTEGER) AS spos, q.e - c.c AS qe
       |  FROM c2 c JOIN probes USING (cid)
       |       JOIN dims q ON q.pos = c.pos AND q.vec_id = 0),
       |adc AS (
       |  SELECT r.pcid, b.sub, b.cid AS code,
       |    sum(CAST(floor((b.c - r.qe) * (b.c - r.qe) * 1000000000000.0)
       |      AS BIGINT)) AS d
       |  FROM rcb1 b JOIN qres r ON b.sub = r.sub AND b.spos = r.spos
       |  GROUP BY r.pcid, b.sub, b.cid),
       |short AS (
       |  SELECT vec_id FROM (
       |    SELECT co.vec_id, CAST(sum(a.d) AS BIGINT) AS adist
       |    FROM rcodes co JOIN a3 ON a3.vec_id = co.vec_id
       |    JOIN adc a ON a.pcid = a3.cid AND a.sub = co.sub
       |      AND a.code = co.cid
       |    WHERE co.vec_id <> 0
       |    GROUP BY co.vec_id)
       |  ORDER BY adist ASC, vec_id ASC LIMIT 80),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.vec_id, round(${cosSql("e.v", "qv")}, 6) AS sim
       |FROM e JOIN short USING (vec_id), q
       |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** Oracle of the IVF+PQ recall eval: the shared chain, per-query
    * routing + per-list residual ADC, shortlist, exact re-rank from
    * the shared cosine relation, recall = overlap/k.
    */
  private lazy val annIvfPqRecallSql: String =
    s"""WITH $ivfPqChainSql,
       |qdists AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |    sum(CAST(floor((c.c - q.e) * (c.c - q.e) * 1000000000000.0)
       |      AS BIGINT)) AS dist
       |  FROM c2 c JOIN dims q ON c.pos = q.pos AND q.vec_id < 8
       |  GROUP BY q.vec_id, c.cid),
       |qprobes AS (SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY dist ASC, cid ASC) AS rn FROM qdists)
       |  WHERE rn <= 2),
       |qres AS (
       |  SELECT p.qid, c.cid AS pcid, CAST(c.pos // 8 AS INTEGER) AS sub,
       |         CAST(c.pos % 8 AS INTEGER) AS spos, q.e - c.c AS qe
       |  FROM c2 c JOIN qprobes p ON p.cid = c.cid
       |       JOIN dims q ON q.pos = c.pos AND q.vec_id = p.qid),
       |adc AS (
       |  SELECT r.qid, r.pcid, b.sub, b.cid AS code,
       |    sum(CAST(floor((b.c - r.qe) * (b.c - r.qe) * 1000000000000.0)
       |      AS BIGINT)) AS d
       |  FROM rcb1 b JOIN qres r ON b.sub = r.sub AND b.spos = r.spos
       |  GROUP BY r.qid, r.pcid, b.sub, b.cid),
       |short AS (SELECT qid, vec_id FROM (
       |    SELECT a.qid, co.vec_id,
       |      row_number() OVER (PARTITION BY a.qid
       |        ORDER BY CAST(sum(a.d) AS BIGINT) ASC, co.vec_id ASC) AS rs
       |    FROM rcodes co JOIN a3 ON a3.vec_id = co.vec_id
       |    JOIN adc a ON a.pcid = a3.cid AND a.sub = co.sub
       |      AND a.code = co.cid
       |    WHERE co.vec_id <> a.qid
       |    GROUP BY a.qid, co.vec_id)
       |  WHERE rs <= 80),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
       |sims AS (
       |  SELECT q.qid, e.vec_id, round(${cosSql("e.v", "qv")}, 6) AS sim
       |  FROM e CROSS JOIN qs q WHERE e.vec_id <> q.qid),
       |exact AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY sim DESC, vec_id ASC) AS rk FROM sims) WHERE rk <= 10),
       |ivfpq AS (SELECT qid, vec_id FROM (
       |  SELECT s.qid, s.vec_id, row_number() OVER (PARTITION BY s.qid
       |    ORDER BY s.sim DESC, s.vec_id ASC) AS rk
       |  FROM sims s JOIN short sh ON sh.qid = s.qid
       |    AND sh.vec_id = s.vec_id)
       |  WHERE rk <= 10)
       |SELECT exact.qid, 10 AS k, count(ivfpq.vec_id) AS n_hit,
       |  CAST(count(ivfpq.vec_id) AS DOUBLE) / 10 AS recall
       |FROM exact LEFT JOIN ivfpq
       |  ON exact.qid = ivfpq.qid AND exact.vec_id = ivfpq.vec_id
       |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin

  private lazy val annPqSql: String =
    s"""WITH $pqTrainCtesSql,
       |qd AS (SELECT sub, spos, e AS qe FROM dims WHERE vec_id = 0),
       |adc AS (
       |  SELECT c.sub, c.cid,
       |    sum(CAST(floor((c.c - q.qe) * (c.c - q.qe) * 1000000000000.0) AS BIGINT)) AS d
       |  FROM cb1 c JOIN qd q ON c.sub = q.sub AND c.spos = q.spos
       |  GROUP BY c.sub, c.cid),
       |short AS (
       |  SELECT vec_id FROM (
       |    SELECT co.vec_id, sum(a.d) AS adist
       |    FROM codes co JOIN adc a ON co.sub = a.sub AND co.cid = a.cid
       |    WHERE co.vec_id <> 0
       |    GROUP BY co.vec_id)
       |  ORDER BY adist ASC, vec_id ASC LIMIT 80),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.vec_id, round(${cosSql("e.v", "qv")}, 6) AS sim
       |FROM e JOIN short USING (vec_id), q
       |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin

  /** Oracle of the PQ recall eval: the same training CTEs, ADC +
    * shortlist per query, exact re-rank from the shared cosine
    * relation, recall = overlap/k.
    */
  private lazy val annPqRecallSql: String =
    s"""WITH $pqTrainCtesSql,
       |qd AS (SELECT vec_id AS qid, sub, spos, e AS qe
       |       FROM dims WHERE vec_id < 8),
       |adc AS (
       |  SELECT q.qid, c.sub, c.cid,
       |    sum(CAST(floor((c.c - q.qe) * (c.c - q.qe) * 1000000000000.0)
       |      AS BIGINT)) AS d
       |  FROM cb1 c JOIN qd q ON c.sub = q.sub AND c.spos = q.spos
       |  GROUP BY q.qid, c.sub, c.cid),
       |short AS (SELECT qid, vec_id FROM (
       |    SELECT a.qid, co.vec_id,
       |      row_number() OVER (PARTITION BY a.qid
       |        ORDER BY CAST(sum(a.d) AS BIGINT) ASC, co.vec_id ASC) AS rs
       |    FROM codes co JOIN adc a ON co.sub = a.sub AND co.cid = a.cid
       |    WHERE co.vec_id <> a.qid
       |    GROUP BY a.qid, co.vec_id)
       |  WHERE rs <= 80),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
       |sims AS (
       |  SELECT q.qid, e.vec_id, round(${cosSql("e.v", "qv")}, 6) AS sim
       |  FROM e CROSS JOIN qs q WHERE e.vec_id <> q.qid),
       |exact AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY sim DESC, vec_id ASC) AS rk FROM sims) WHERE rk <= 10),
       |pq AS (SELECT qid, vec_id FROM (
       |  SELECT s.qid, s.vec_id, row_number() OVER (PARTITION BY s.qid
       |    ORDER BY s.sim DESC, s.vec_id ASC) AS rk
       |  FROM sims s JOIN short sh ON sh.qid = s.qid
       |    AND sh.vec_id = s.vec_id)
       |  WHERE rk <= 10)
       |SELECT exact.qid, 10 AS k, count(pq.vec_id) AS n_hit,
       |  CAST(count(pq.vec_id) AS DOUBLE) / 10 AS recall
       |FROM exact LEFT JOIN pq
       |  ON exact.qid = pq.qid AND exact.vec_id = pq.vec_id
       |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin

  /** DuckDB PQ E-step: nearest code per (vector, subspace) from
    * codebook CTE `c` (fixed-point-exact distance, ties on cid).
    */
  private def pqAssignSql(c: String): String =
    s"""SELECT vec_id, sub, cid FROM (
       |  SELECT vec_id, sub, cid,
       |    row_number() OVER (PARTITION BY vec_id, sub
       |      ORDER BY dist ASC, cid ASC) AS rn
       |  FROM (SELECT d.vec_id, d.sub, c.cid,
       |          sum(CAST(floor((d.e - c.c) * (d.e - c.c) * 1000000000000.0) AS BIGINT)) AS dist
       |        FROM dims d JOIN $c c ON d.sub = c.sub AND d.spos = c.spos
       |        GROUP BY d.vec_id, d.sub, c.cid))
       |WHERE rn = 1""".stripMargin

  private def assignSql(c: String): String =
    s"""SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist ASC, cid ASC) AS rn
       |  FROM (SELECT d.vec_id, c.cid,
       |          sum(CAST(floor((d.e - c.c) * (d.e - c.c) * 1000000000000.0) AS BIGINT)) AS dist
       |        FROM dims d JOIN $c c ON d.pos = c.pos
       |        GROUP BY d.vec_id, c.cid))
       |WHERE rn = 1""".stripMargin

  /** DuckDB k-means M-step: fixed-point-exact per-dimension means of
    * the members assigned by CTE `a`.
    */
  private def updateSql(a: String): String =
    s"""SELECT cid, pos,
       |  CAST(sum(CAST(floor(e * 10000000.0) AS BIGINT)) AS DOUBLE) / 10000000.0
       |    / count(*) AS c
       |FROM dims JOIN $a USING (vec_id) GROUP BY cid, pos""".stripMargin

  private val langCmp: Seq[(String, String)] = Seq(
    "en" -> "\\bthe\\b", "de" -> "\\bder\\b", "es" -> "\\bel\\b",
    "fr" -> "\\ble\\b", "zh" -> "\\bde\\b")

  private val langCountsSql = langCmp.map { case (l, re) =>
    s"len(regexp_extract_all(text, '$re')) AS c_$l"
  }.mkString(", ")

  private val langCaseSql = {
    val langs = langCmp.map(_._1)
    langs.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"c_$l >= c_$o").mkString(" AND ")
      s"WHEN c_$l > 0 AND $geAll THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
  }

  // shared by dedup_ngram_jaccard and dedup_prefix_jaccard: the
  // prefix-filtered path is a candidate-pruning rewrite with the same
  // df cap, threshold, and exact verify — provably the same answer
  private lazy val ngramJaccardOracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |shs AS (SELECT doc_id, unnest($shinglesSql) AS sh_str
       |        FROM t WHERE len(w) >= 4),
       |sh0 AS (SELECT DISTINCT doc_id, ${rollSql("sh_str")} AS sh FROM shs),
       |rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 256),
       |sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT doc_a, doc_b, shared, sa.sz AS size_a, sb.sz AS size_b
       |FROM p JOIN sz sa ON p.doc_a = sa.doc_id
       |       JOIN sz sb ON p.doc_b = sb.doc_id
       |WHERE shared / (sa.sz + sb.sz - shared) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The LSH-cluster label-propagation oracle, shared by the
    * cluster listing and the cluster-size histogram.
    */
  /** The near-dup pair graph + 3-round min-label propagation as a CTE
    * prefix (through `l3`) over the given base relation — shared by
    * the clusters oracle, the leakage-safe-split oracle, and the e2e
    * curation composite. `capped = true` replays the dense-bucket cap
    * (the same Knuth-rank CTE as dedup_minhash_capped) before the
    * pair join — the oracle of the CAPPED cluster index, whose
    * survivor-folding refresh must equal this from-scratch capped
    * clustering of the full corpus.
    */
  private def clustersCtes(base: String, capped: Boolean = false,
      routed: Boolean = false, guardWhere: String = ""): String = {
    val pairSrc = if (capped) "capped" else "bands"
    val capCte = if (capped) s"$minhashCappedCteSql,\n"
      else if (routed)
        s"""$minhashCappedCteSql,
           |bands2 AS (${bandsSqlAt(2)}),
           |${minhashCappedCteOver("capped2", "bands2")},\n""".stripMargin
      else ""
    // routed: replay the engine's density routing (the
    // ClusterIndexGuardCapSlack=64 integer rule, plus the r17
    // shape-pick — re-band to 2×8 iff bp2 x gain <= bp) at the PAIRS
    // level — exact band join while bp <= br*64, capped survivors at
    // the picked shape past it — then one propagation chain over
    // whichever pair set the guards picked, exactly as
    // buildClusterIndex with PairSource.Auto does. guardWhere restricts the stats to
    // the corpus the engine ROUTED ON (the build-time base for the
    // refresh query — branch AND shape are index state, not
    // re-decided per delta).
    val pairsCte = if (routed)
      s"""${routerStatsCte(where = guardWhere)},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE ${routeExactSql(PipelineOps.ClusterIndexGuardCapSlack)}
         |  UNION ALL
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE ${routeCappedSql(PipelineOps.ClusterIndexGuardCapSlack)}
         |  UNION ALL
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped2 a JOIN capped2 b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE ${routeRebandedSql(
              PipelineOps.ClusterIndexGuardCapSlack)}),""".stripMargin
    else
      s"""pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM $pairSrc a JOIN $pairSrc b
         |            ON a.band = b.band AND a.bkey = b.bkey
         |           AND a.doc_id < b.doc_id),""".stripMargin
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS w FROM $base),
         |shl AS (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh
         |        FROM t WHERE len(w) >= 4),
         |h AS (SELECT doc_id, ${rollSql("sh")} AS h FROM shl),
         |sig AS (SELECT doc_id, $minhashSigCols FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |$capCte$pairsCte
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |l0 AS (SELECT DISTINCT src AS doc_id, src AS lab FROM edges),
         |n1 AS (SELECT e.src AS doc_id, min(l.lab) AS nlab
         |       FROM edges e JOIN l0 l ON l.doc_id = e.dst GROUP BY e.src),
         |l1 AS (SELECT l0.doc_id, least(l0.lab, n1.nlab) AS lab
         |       FROM l0 JOIN n1 USING (doc_id)),
         |n2 AS (SELECT e.src AS doc_id, min(l.lab) AS nlab
         |       FROM edges e JOIN l1 l ON l.doc_id = e.dst GROUP BY e.src),
         |l2 AS (SELECT l1.doc_id, least(l1.lab, n2.nlab) AS lab
         |       FROM l1 JOIN n2 USING (doc_id)),
         |n3 AS (SELECT e.src AS doc_id, min(l.lab) AS nlab
         |       FROM edges e JOIN l2 l ON l.doc_id = e.dst GROUP BY e.src),
         |l3 AS (SELECT l2.doc_id, least(l2.lab, n3.nlab) AS lab
         |       FROM l2 JOIN n3 USING (doc_id))""".stripMargin
  }

  private lazy val dedupClustersSql: String =
    s"""WITH ${clustersCtes("documents")}
       |SELECT doc_id, lab AS cluster FROM l3 ORDER BY doc_id""".stripMargin

  /** One oracle for the CAPPED cluster index's build AND
    * survivor-folding refresh: both must equal this from-scratch
    * capped clustering of the full corpus (refresh-equals-rebuild).
    */
  private lazy val dedupClustersCappedSql: String =
    s"""WITH ${clustersCtes("documents", capped = true)}
       |SELECT doc_id, lab AS cluster FROM l3 ORDER BY doc_id""".stripMargin

  /** One oracle for the density-ROUTED cluster index's build AND
    * refresh: the routing comparison itself (exact pairs while
    * bp ≤ br×64, capped survivors past it) is replayed in SQL, then
    * one propagation chain runs over whichever pair set the guard
    * picked — route, state, and refresh contract all under test.
    */
  private lazy val dedupClustersAutoSql: String =
    s"""WITH ${clustersCtes("documents", routed = true)}
       |SELECT doc_id, lab AS cluster FROM l3 ORDER BY doc_id""".stripMargin

  /** The refresh twin replays the guard over the BUILD-time base
    * corpus (doc_id % 3 <> 0 — the branch is index state, never
    * re-decided by a delta) while propagating over the full corpus's
    * pairs from that branch.
    */
  private lazy val dedupClustersAutoRefreshedSql: String =
    s"""WITH ${clustersCtes("documents", routed = true,
          guardWhere = "WHERE doc_id % 3 <> 0")}
       |SELECT doc_id, lab AS cluster FROM l3 ORDER BY doc_id""".stripMargin

  /** Oracle of the LABEL-level recall ledger (r17): the dense corpus
    * synthesized in SQL, the exact index's labels as truth, and one
    * capped propagation chain per (banding, cap) config — all counts
    * grouped-integer (true pairs = Σ g(g−1)//2 over exact-label group
    * sizes; kept pairs = Σ c(c−1)//2 over (exact, capped) label cell
    * sizes, unlabeled docs sentineled per-doc so they never pair).
    */
  private lazy val clusterLabelRecallSql: String = {
    // the eval's knobs come from the ENGINE's named constants (r17
    // advice) — a copies/stride/caps change on either side now fails
    // the oracle loudly instead of desynchronizing silently
    val copies = PipelineOps.LabelRecallCopies
    val stride = PipelineOps.LabelRecallStride
    val configs = for (nb <- Seq(4, 2); cap <- PipelineOps.LabelRecallCaps)
      yield (nb, cap)
    val cfgCtes = configs.map { case (nb, cap) =>
      val p = s"c${nb}_${cap}_"
      val src = if (nb == 4) "bands" else "bands2"
      s"""${minhashCappedCteOver(s"${p}surv", src, cap)},
         |${p}pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ${p}surv a JOIN ${p}surv b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |${labelChainCtes(p, s"${p}pairs")},
         |${p}cnt AS (SELECT CAST(COALESCE(sum(cc * (cc - 1)), 0) // 2
         |    AS BIGINT) AS n_same FROM (
         |  SELECT count(*) AS cc FROM (
         |    SELECT tl.lab AS tlab,
         |      COALESCE(cl.lab, -(tl.doc_id + 1)) AS clab
         |    FROM t_l3 tl LEFT JOIN ${p}l3 cl ON cl.doc_id = tl.doc_id)
         |  GROUP BY tlab, clab))""".stripMargin
    }.mkString(",\n")
    val cfgRows = configs.map { case (nb, cap) =>
      s"SELECT '${nb}x${16 / nb}' AS banding, $cap AS cap, n_same " +
        s"FROM c${nb}_${cap}_cnt"
    }.mkString("\n      UNION ALL ")
    s"""WITH dense AS (
       |  SELECT doc_id * $copies + c AS doc_id, text
       |  FROM documents, range(0, $copies) t2(c)
       |  WHERE doc_id % $stride = 0
       |    AND doc_id < ${Similarity.MaxEvalBaseId}),
       |${minhashSigCtesOver("dense")},
       |bands AS ($bandsSql),
       |bands2 AS (${bandsSqlAt(2)}),
       |tpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |${labelChainCtes("t_", "tpairs")},
       |tcnt AS (SELECT CAST(COALESCE(sum(g * (g - 1)), 0) // 2 AS BIGINT)
       |    AS n_true_pairs
       |  FROM (SELECT lab, count(*) AS g FROM t_l3 GROUP BY 1)),
       |$cfgCtes
       |SELECT banding, cap, n_true_pairs, n_same AS n_same_label,
       |  CASE WHEN n_true_pairs = 0 THEN NULL
       |       ELSE CAST(n_same AS DOUBLE) / n_true_pairs END AS label_recall
       |FROM ($cfgRows) s, tcnt
       |ORDER BY banding, cap""".stripMargin
  }

  /** Oracle of the e2e curation composite: Gopher gate → keep-best
    * exact dedup → cluster-keyed split, each stage the SAME SQL its
    * standalone oracle uses (gate thresholds inlined). Since r12 the
    * cluster chain runs over the FULL corpus — the split stage groups
    * survivors by corpus-level near-dup cluster, matching the
    * persisted-index consumption pattern (and closing the
    * transitively-related-via-a-gated-doc leak of the survivor-only
    * reclustering).
    */
  private lazy val e2eCurationSql: String = {
    def caseSql(b: String): String =
      s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'valid' " +
        "ELSE 'test' END"
    s"""WITH gt AS (SELECT doc_id, text,
       |    string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |gok AS (SELECT doc_id FROM (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS nw,
       |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
       |      / len(w) AS mean_wl,
       |    CAST(len(regexp_extract_all(text, '#'))
       |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
       |      / len(w) AS sym_ratio,
       |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
       |      AS DOUBLE) / len(w) AS alpha_frac,
       |    len(list_filter(w, x -> list_contains(
       |      ['the','a','of','and','to','in','is'], x))) AS n_stop
       |  FROM gt)
       |  WHERE nw >= 50 AND nw <= 100000
       |    AND mean_wl >= 3.0 AND mean_wl <= 10.0
       |    AND sym_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop >= 2),
       |gated AS (SELECT d.* FROM documents d JOIN gok USING (doc_id)),
       |fb AS (SELECT doc_id, n_chars, md5($normSql) AS fp FROM gated),
       |rb AS (SELECT doc_id, row_number() OVER (PARTITION BY fp
       |         ORDER BY n_chars DESC, doc_id) AS rk FROM fb),
       |surv AS (SELECT d.* FROM documents d
       |         JOIN (SELECT doc_id FROM rb WHERE rk = 1) b USING (doc_id)),
       |${clustersCtes("documents")},
       |gg AS (SELECT s.doc_id, s.n_chars, COALESCE(l3.lab, s.doc_id) AS grp
       |       FROM surv s LEFT JOIN l3 ON l3.doc_id = s.doc_id),
       |sp AS (SELECT doc_id, n_chars, grp,
       |         ${rollSql("'v' || CAST(grp AS VARCHAR)")} % 100 AS gb
       |       FROM gg)
       |SELECT ${caseSql("gb")} AS split, count(*) AS n_docs,
       |  count(DISTINCT grp) AS n_groups,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM sp GROUP BY 1 ORDER BY split""".stripMargin
  }

  /** Oracle of the leakage-safe split: cluster labels from the same
    * CTE chain, the 80/10/10 rolling-hash rule applied to the GROUP
    * (singletons = own doc_id), and the doc-level counterfactual for
    * the leak count.
    */
  private lazy val leakageSafeSplitSql: String = {
    def caseSql(b: String): String =
      s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'valid' " +
        "ELSE 'test' END"
    s"""WITH ${clustersCtes("documents")},
       |g AS (SELECT d.doc_id, COALESCE(l3.lab, d.doc_id) AS grp
       |      FROM documents d LEFT JOIN l3 ON l3.doc_id = d.doc_id),
       |s AS (SELECT doc_id, grp,
       |        ${rollSql("'v' || CAST(grp AS VARCHAR)")} % 100 AS gb,
       |        ${rollSql("'v' || CAST(doc_id AS VARCHAR)")} % 100 AS db
       |      FROM g)
       |SELECT ${caseSql("gb")} AS split,
       |  count(*) AS n_docs,
       |  count(DISTINCT grp) AS n_groups,
       |  CAST(sum(CASE WHEN ${caseSql("db")} <> ${caseSql("gb")}
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_docs
       |FROM s GROUP BY 1 ORDER BY split""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    // incoming (even ids) minus anything fingerprint-matching the
    // existing corpus (ids % 4 == 0) — survivors are ids % 4 == 2
    "dedup_cross_corpus" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |SELECT doc_id, fp FROM f
         |WHERE doc_id % 2 = 0
         |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 4 = 0)
         |ORDER BY doc_id""".stripMargin,

    // build(%8==0) + refresh(%8==4) = bloom over %4==0: bit_or folding
    // is exact, so the indexed probe answers like the plain anti-join
    "dedup_bloom_indexed" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |SELECT doc_id, fp FROM f
         |WHERE doc_id % 2 = 0
         |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 4 = 0)
         |ORDER BY doc_id""".stripMargin,

    // bloom prefilter has no false negatives + exact confirm on the
    // positives -> same answer as the plain cross-corpus anti-join
    "dedup_bloom_prefilter" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |SELECT doc_id, fp FROM f
         |WHERE doc_id % 2 = 0
         |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 4 = 0)
         |ORDER BY doc_id""".stripMargin,

    "dedup_fingerprint" ->
      s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents)
         |SELECT min(doc_id) AS doc_id, fp, count(*) AS n_copies
         |FROM f GROUP BY fp ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" -> ngramJaccardOracleSql,

    // prefix filtering provably drops no qualifying pair (see
    // Dedup.prefixJaccard scaladoc) and the verify step recomputes the
    // exact intersection -> same answer, same oracle
    "dedup_prefix_jaccard" -> ngramJaccardOracleSql,

    "pipe_vocab_coverage" -> PipelineOps.vocabCoverageSql(),
    "pipe_fertility" -> PipelineOps.vocabFertilitySql(),

    "pipe_weighted_sample" -> PipelineOps.weightedSampleSql(),

    "dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |shs AS (SELECT doc_id, unnest($shinglesSql) AS sh_str
         |        FROM t WHERE len(w) >= 4),
         |sh0 AS (SELECT DISTINCT doc_id, ${rollSql("sh_str")} AS sh FROM shs),
         |rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 256),
         |sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared, sa.sz AS size_a, sb.sz AS size_b,
         |  CASE WHEN sa.sz <= sb.sz THEN doc_a ELSE doc_b END AS contained_doc
         |FROM p JOIN sz sa ON p.doc_a = sa.doc_id
         |       JOIN sz sb ON p.doc_b = sb.doc_id
         |WHERE shared / least(sa.sz, sb.sz) >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $minhashCtesSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the text-side capped twin: same Knuth rank the embedding cap
    // uses, minus the key term (one bucket per band per doc)
    "dedup_minhash_capped" ->
      s"""WITH $minhashCtesSql,
         |$minhashCappedCteSql
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM capped a JOIN capped b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the re-banded capped twin: identical rank over the 2x8 banding
    "dedup_minhash_rebanded" ->
      s"""WITH $minhashCtesSql,
         |bands2 AS (${bandsSqlAt(2)}),
         |${minhashCappedCteOver("capped2", "bands2")}
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM capped2 a JOIN capped2 b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the text density router's oracle replays the routing decisions —
    // all THREE branches (r17: exact / capped 4×4 / re-banded capped
    // 2×8) gated by the same integer comparisons the engine makes
    // over the two constant-size band-bucket stats
    "dedup_minhash_auto" ->
      s"""WITH $minhashCtesSql,
         |$minhashCappedCteSql,
         |bands2 AS (${bandsSqlAt(2)}),
         |${minhashCappedCteOver("capped2", "bands2")},
         |${routerStatsCte()}
         |SELECT doc_a, doc_b FROM (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE ${routeExactSql(pairRouteBound)}
         |  UNION ALL
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE ${routeCappedSql(pairRouteBound)}
         |  UNION ALL
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped2 a JOIN capped2 b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |  WHERE ${routeRebandedSql(pairRouteBound)})
         |ORDER BY doc_a, doc_b""".stripMargin,

    // LSH candidates scored against exact-Jaccard ground truth: both
    // chains replayed, joined on the pair key, three counts + the two
    // agreed IEEE divisions
    "dedup_recall_eval" ->
      s"""WITH $minhashCtesSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |shs AS (SELECT doc_id, unnest($shinglesSql) AS sh_str
         |        FROM t WHERE len(w) >= 4),
         |sh0 AS (SELECT DISTINCT doc_id, ${rollSql("sh_str")} AS sh FROM shs),
         |rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 256),
         |shr AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shr GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        count(*) AS shared
         |      FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b
         |  FROM p JOIN sz sa ON p.doc_a = sa.doc_id
         |         JOIN sz sb ON p.doc_b = sb.doc_id
         |  WHERE shared / (sa.sz + sb.sz - shared) >= 0.8),
         |ta AS (SELECT count(*) AS n_true_pairs FROM truth),
         |ca AS (SELECT count(*) AS n_candidates FROM cand),
         |hi AS (SELECT count(*) AS n_hit
         |       FROM truth JOIN cand USING (doc_a, doc_b))
         |SELECT n_true_pairs, n_candidates, n_hit,
         |  CASE WHEN n_true_pairs = 0 THEN NULL
         |    ELSE CAST(n_hit AS DOUBLE) / n_true_pairs END AS pair_recall,
         |  CASE WHEN n_candidates = 0 THEN NULL
         |    ELSE CAST(n_hit AS DOUBLE) / n_candidates END AS cand_precision
         |FROM ta, ca, hi""".stripMargin,

    // the persisted-signature-index probe answers exactly like the
    // direct path (append-only signature rows; build+refresh = %4==0)
    "dedup_cross_near_indexed" ->
      s"""WITH $minhashCtesSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_in, b.doc_id AS doc_ex
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |         WHERE a.doc_id % 2 = 0 AND b.doc_id % 4 = 0),
         |m AS (SELECT doc_in,
         |        ${(0 until 16).map(j =>
                    s"(CASE WHEN x.s$j = y.s$j THEN 1 ELSE 0 END)")
                    .mkString(" + ")} AS nm
         |      FROM cand JOIN sig x ON x.doc_id = doc_in
         |                JOIN sig y ON y.doc_id = doc_ex),
         |flagged AS (SELECT DISTINCT doc_in FROM m WHERE nm >= 8)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 0
         |  AND doc_id NOT IN (SELECT doc_in FROM flagged)
         |ORDER BY doc_id""".stripMargin,

    // bucket-count join only — by construction sum(cnt_in*cnt_ex) over
    // colliding buckets equals the band join's pre-distinct row count
    "dedup_band_stats" ->
      s"""WITH $minhashCtesSql,
         |ci AS (SELECT band, bkey, count(*) AS cnt FROM bands
         |       WHERE doc_id % 2 = 0 GROUP BY 1, 2),
         |ce AS (SELECT band, bkey, count(*) AS cnt FROM bands
         |       WHERE doc_id % 4 = 0 GROUP BY 1, 2)
         |SELECT
         |  CAST(coalesce(sum(ci.cnt * ce.cnt), 0) AS BIGINT) AS cand_pairs,
         |  count(*) AS n_hot_buckets,
         |  CAST(coalesce(max(ci.cnt * ce.cnt), 0) AS BIGINT)
         |    AS max_bucket_pairs
         |FROM ci JOIN ce ON ci.band = ce.band AND ci.bkey = ce.bkey""".stripMargin,

    // self-pairs allowed: an incoming doc identical to its existing
    // twin matches 16/16 and drops (the corpora are distinct tables)
    "dedup_cross_near" ->
      s"""WITH $minhashCtesSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_in, b.doc_id AS doc_ex
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |         WHERE a.doc_id % 2 = 0 AND b.doc_id % 4 = 0),
         |m AS (SELECT doc_in,
         |        ${(0 until 16).map(j =>
                    s"(CASE WHEN x.s$j = y.s$j THEN 1 ELSE 0 END)")
                    .mkString(" + ")} AS nm
         |      FROM cand JOIN sig x ON x.doc_id = doc_in
         |                JOIN sig y ON y.doc_id = doc_ex),
         |flagged AS (SELECT DISTINCT doc_in FROM m WHERE nm >= 8)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 2 = 0
         |  AND doc_id NOT IN (SELECT doc_in FROM flagged)
         |ORDER BY doc_id""".stripMargin,

    // estimator-quality view: signature matches vs exact shingle-set
    // overlap per candidate pair (E[matches/16] = Jaccard)
    "dedup_minhash_estimate" ->
      s"""WITH $minhashCtesSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |          AND a.doc_id < b.doc_id),
         |m AS (SELECT doc_a, doc_b, CAST((${(0 until 16).map(j =>
                  s"CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END")
                  .mkString(" + ")}) AS INTEGER) AS sig_matches
         |      FROM cand JOIN sig sa ON sa.doc_id = doc_a
         |                JOIN sig sb ON sb.doc_id = doc_b),
         |shd AS (SELECT DISTINCT doc_id, h FROM h),
         |ix AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |       FROM cand c JOIN shd x ON x.doc_id = c.doc_a
         |                   JOIN shd y ON y.doc_id = c.doc_b AND y.h = x.h
         |       GROUP BY 1, 2),
         |sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1)
         |SELECT m.doc_a, m.doc_b, m.sig_matches,
         |  CAST(coalesce(ix.n_inter, 0) AS BIGINT) AS n_inter,
         |  CAST(za.n AS BIGINT) AS n_a, CAST(zb.n AS BIGINT) AS n_b
         |FROM m
         |LEFT JOIN ix ON ix.doc_a = m.doc_a AND ix.doc_b = m.doc_b
         |JOIN sz za ON za.doc_id = m.doc_a
         |JOIN sz zb ON zb.doc_id = m.doc_b
         |ORDER BY m.doc_a, m.doc_b""".stripMargin,

    // MinHash candidates re-verified by exact Levenshtein distance
    "dedup_edit_distance" ->
      s"""WITH $minhashCtesSql,
         |mh AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM bands a JOIN bands b
         |         ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(x.text, y.text) AS INTEGER) AS edit_dist
         |FROM mh JOIN documents x ON x.doc_id = doc_a
         |        JOIN documents y ON y.doc_id = doc_b
         |WHERE levenshtein(x.text, y.text) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |wh AS (SELECT doc_id, list_transform(w, x -> ${rollSql("x")}) AS hs FROM t),
         |sim AS (SELECT doc_id, $simhashBitsSql AS sim FROM wh)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 1
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_embedding" ->
      s"""WITH bands AS ($embBandsSql),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT vec_a, vec_b
         |FROM cand JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b
         |WHERE ${cosSql("x.v", "y.v")} >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,

    // the density router's oracle REPLAYS the routing decisions: all
    // THREE branches computed (r17: exact 16×4 / capped 16×4 /
    // re-banded capped 8×8), the same integer comparisons the engine
    // makes (exact volume = sum cnt², capped bound = rows x cap x
    // slack, re-band iff bp8 x gain <= bp16) gate which branch emits
    // rows — testdata regeneration cannot silently desynchronize
    // route and oracle
    "dedup_embedding_auto" ->
      s"""WITH $cappedBandsSql,
         |bands2 AS (${embBandsSqlOver("embeddings", 8, 8)}),
         |${cappedCteOver("capped2", 8, "bands2")},
         |${routerStatsCte()},
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |exact_cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |          AND a.vec_id < b.vec_id),
         |capped_cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM capped a JOIN capped b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |          AND a.vec_id < b.vec_id),
         |capped2_cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM capped2 a JOIN capped2 b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |          AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b FROM (
         |  SELECT vec_a, vec_b
         |  FROM exact_cand JOIN e x ON x.vec_id = vec_a
         |                  JOIN e y ON y.vec_id = vec_b
         |  WHERE ${cosSql("x.v", "y.v")} >= 0.4
         |    AND ${routeExactSql(pairRouteBound)}
         |  UNION ALL
         |  SELECT vec_a, vec_b
         |  FROM capped_cand JOIN e x ON x.vec_id = vec_a
         |                   JOIN e y ON y.vec_id = vec_b
         |  WHERE ${cosSql("x.v", "y.v")} >= 0.4
         |    AND ${routeCappedSql(pairRouteBound)}
         |  UNION ALL
         |  SELECT vec_a, vec_b
         |  FROM capped2_cand JOIN e x ON x.vec_id = vec_a
         |                    JOIN e y ON y.vec_id = vec_b
         |  WHERE ${cosSql("x.v", "y.v")} >= 0.4
         |    AND ${routeRebandedSql(pairRouteBound)})
         |ORDER BY vec_a, vec_b""".stripMargin,

    // the capped twin: identical tail over the bucket-capped candidates
    "dedup_embedding_capped" ->
      s"""WITH $cappedBandsSql,
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM capped a JOIN capped b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |          AND a.vec_id < b.vec_id),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT vec_a, vec_b
         |FROM cand JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b
         |WHERE ${cosSql("x.v", "y.v")} >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,

    // the re-banded capped twin: identical rank and tail over the
    // 8x8 sign banding
    "dedup_embedding_rebanded" ->
      s"""WITH bands2 AS (${embBandsSqlOver("embeddings", 8, 8)}),
         |${cappedCteOver("capped2", 8, "bands2")},
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM capped2 a JOIN capped2 b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |          AND a.vec_id < b.vec_id),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT vec_a, vec_b
         |FROM cand JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b
         |WHERE ${cosSql("x.v", "y.v")} >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,

    "ann_topk" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, round(${cosSql("e.v", "qv")}, 6) AS sim
         |FROM e, q WHERE e.vec_id <> 0
         |ORDER BY sim DESC, vec_id ASC LIMIT 20""".stripMargin,

    // the pre-filter twin: candidates restricted by doc metadata
    // BEFORE scoring (vec_id and doc_id share the id space)
    "ann_filtered" ->
      s"""WITH a AS (SELECT doc_id FROM documents WHERE lang = 'en'),
         |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |      FROM embeddings JOIN a ON vec_id = doc_id),
         |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
         |      WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, round(${cosSql("e.v", "qv")}, 6) AS sim
         |FROM e, q WHERE e.vec_id <> 0
         |ORDER BY sim DESC, vec_id ASC LIMIT 20""".stripMargin,

    "ann_recall_eval" -> Similarity.recallEvalSql(),

    // the capped family's loss-ledger row: dense corpus synthesized in
    // SQL (10 identical copies of every 10th vector), exact banded
    // near-dup pairs as ground truth, one capped pass per cap value.
    // The capped pair set is a subset of the exact one by construction,
    // so recall = n_capped / n_exact — two agreed counts, one division.
    "ann_recall_eval_capped" -> {
      val pairCountSql = (rel: String) =>
        s"""SELECT count(*) AS n FROM (
           |    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |    FROM $rel a JOIN $rel b
           |      ON a.band = b.band AND a.bkey = b.bkey
           |     AND a.vec_id < b.vec_id) cand
           |  JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b
           |  WHERE ${cosSql("x.v", "y.v")} >= 0.4""".stripMargin
      val caps = Seq(4, 8, 16)
      val capCtes = caps.map { c =>
        s"""${cappedCteOver(s"cap$c", c)},
           |p$c AS (${pairCountSql(s"cap$c")})""".stripMargin
      }.mkString(",\n")
      val capRows = caps.map(c => s"SELECT $c AS cap, n FROM p$c")
        .mkString("\n      UNION ALL ")
      s"""WITH dense AS (
         |  SELECT vec_id * 10 + c AS vec_id, embedding
         |  FROM embeddings, range(0, 10) t(c)
         |  WHERE vec_id % 10 = 0 AND vec_id < 4096),
         |bands AS (${embBandsSqlOver("dense")}),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM dense),
         |ex AS (SELECT n AS n_exact_pairs FROM (${pairCountSql("bands")})),
         |$capCtes
         |SELECT cap, n_exact_pairs, n AS n_capped_pairs,
         |  CASE WHEN n_exact_pairs = 0 THEN NULL
         |       ELSE CAST(n AS DOUBLE) / n_exact_pairs END AS pair_recall
         |FROM ($capRows) s, ex
         |ORDER BY cap""".stripMargin
    },

    // the mitigation eval: the same dense corpus, three candidate
    // configurations counted against the TRUE pair set (all-pairs
    // cosine >= tau — every config's pairs pass the same tau, so each
    // is a subset and recall is a ratio of counts)
    "ann_recall_eval_rebanded" -> {
      val pairCountSql = (rel: String) =>
        s"""SELECT count(*) AS n FROM (
           |    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |    FROM $rel a JOIN $rel b
           |      ON a.band = b.band AND a.bkey = b.bkey
           |     AND a.vec_id < b.vec_id) cand
           |  JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b
           |  WHERE ${cosSql("x.v", "y.v")} >= 0.4""".stripMargin
      s"""WITH dense AS (
         |  SELECT vec_id * 10 + c AS vec_id, embedding
         |  FROM embeddings, range(0, 10) t(c)
         |  WHERE vec_id % 10 = 0 AND vec_id < 4096),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM dense),
         |tr AS (SELECT count(*) AS n_true_pairs
         |       FROM e x JOIN e y ON x.vec_id < y.vec_id
         |       WHERE ${cosSql("x.v", "y.v")} >= 0.4),
         |bands AS (${embBandsSqlOver("dense")}),
         |p_banded AS (${pairCountSql("bands")}),
         |${cappedCteOver("cap16x4", 8)},
         |p_capped AS (${pairCountSql("cap16x4")}),
         |bands8 AS (${embBandsSqlOver("dense", 8, 8)}),
         |${cappedCteOver("cap8x8", 8, "bands8")},
         |p_rebanded AS (${pairCountSql("cap8x8")})
         |SELECT config, n_true_pairs, n AS n_pairs,
         |  CASE WHEN n_true_pairs = 0 THEN NULL
         |       ELSE CAST(n AS DOUBLE) / n_true_pairs END AS pair_recall
         |FROM (SELECT 'banded_16x4' AS config, n FROM p_banded
         |      UNION ALL SELECT 'capped_16x4_c8', n FROM p_capped
         |      UNION ALL SELECT 'rebanded_8x8_c8', n FROM p_rebanded) s, tr
         |ORDER BY config""".stripMargin
    },

    // what the ADAPTIVE ROUTER delivers (r17): a 30-clone dense
    // corpus (dense enough for the capped branch), both fixed capped
    // shapes, and the routed result — whose branch is decided by the
    // SAME two guard comparisons the engine makes, replayed here, so
    // a router that stops routing (or picks the measured-worse shape)
    // hash-mismatches. Ground truth is the exact 16x4 banded near-dup
    // pair set: every config's pairs are a subset (an 8x8 band key
    // concatenates two adjacent 4-bit keys, so an 8x8 collision
    // implies a 16x4 collision), making recall a ratio of counts.
    "ann_recall_eval_routed" -> {
      val pairCountSql = (rel: String) =>
        s"""SELECT count(*) AS n FROM (
           |    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |    FROM $rel a JOIN $rel b
           |      ON a.band = b.band AND a.bkey = b.bkey
           |     AND a.vec_id < b.vec_id) cand
           |  JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b
           |  WHERE ${cosSql("x.v", "y.v")} >= 0.4""".stripMargin
      s"""WITH dense AS (
         |  SELECT vec_id * 30 + c AS vec_id, embedding
         |  FROM embeddings, range(0, 30) t(c)
         |  WHERE vec_id % 10 = 0 AND vec_id < 4096),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM dense),
         |bands AS (${embBandsSqlOver("dense")}),
         |bands2 AS (${embBandsSqlOver("dense", 8, 8)}),
         |${cappedCteOver("cap16x4", 8)},
         |${cappedCteOver("cap8x8", 8, "bands2")},
         |${routerStatsCte()},
         |tr AS (SELECT n AS n_banded_pairs FROM (${pairCountSql("bands")})),
         |p_capped AS (${pairCountSql("cap16x4")}),
         |p_rebanded AS (${pairCountSql("cap8x8")}),
         |p_routed AS (
         |  SELECT n_banded_pairs AS n FROM tr
         |  WHERE ${routeExactSql(pairRouteBound)}
         |  UNION ALL
         |  SELECT n FROM p_capped
         |  WHERE ${routeCappedSql(pairRouteBound)}
         |  UNION ALL
         |  SELECT n FROM p_rebanded
         |  WHERE ${routeRebandedSql(pairRouteBound)})
         |SELECT config, n_banded_pairs, n AS n_pairs,
         |  CASE WHEN n_banded_pairs = 0 THEN NULL
         |       ELSE CAST(n AS DOUBLE) / n_banded_pairs END AS pair_recall
         |FROM (SELECT 'capped_16x4_c8' AS config, n FROM p_capped
         |      UNION ALL SELECT 'rebanded_8x8_c8', n FROM p_rebanded
         |      UNION ALL SELECT 'routed', n FROM p_routed) s, tr
         |ORDER BY config""".stripMargin
    },

    // prefix-cosine candidates vs full-dim exact: v[1:16] keeps list
    // order, so the sequential double sums match the codegen dot
    "ann_recall_eval_matryoshka" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
         |sims AS (
         |  SELECT q.qid, e.vec_id, round(${cosSql("e.v", "qv")}, 6) AS sim
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |exact AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vec_id ASC) AS rk FROM sims) WHERE rk <= 10),
         |pre AS (
         |  SELECT q.qid, e.vec_id,
         |    round(${cosSql("(e.v[1:16])", "(qv[1:16])")}, 6) AS sim
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |approx AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vec_id ASC) AS rk FROM pre) WHERE rk <= 10)
         |SELECT exact.qid, 10 AS k, count(approx.vec_id) AS n_hit,
         |  CAST(count(approx.vec_id) AS DOUBLE) / 10 AS recall
         |FROM exact LEFT JOIN approx
         |  ON exact.qid = approx.qid AND exact.vec_id = approx.vec_id
         |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin,

    // vector QC: exact fixed-point norm-squared histogram
    "emb_norm_hist" -> Similarity.normHistSql,

    // the candidate-pair cosine mass by bucket: calibration for every
    // cosine threshold in the dedup/knn family
    "ann_sim_histogram" ->
      s"""WITH bands AS ($embBandsSql),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |          AND a.vec_id < b.vec_id),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |j AS (SELECT round(${cosSql("x.v", "y.v")}, 6) AS sim
         |      FROM cand JOIN e x ON x.vec_id = vec_a
         |                JOIN e y ON y.vec_id = vec_b),
         |b AS (SELECT sim,
         |        CAST(least(floor((sim + 1.0) * 10.0), 19.0) AS BIGINT)
         |          AS bucket FROM j)
         |SELECT bucket, count(*) AS n_pairs,
         |  min(sim) AS min_sim, max(sim) AS max_sim
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // capped calibration twin: the same histogram over the bounded
    // candidate set ann_knn_join_capped scores
    "ann_sim_histogram_capped" ->
      s"""WITH $cappedBandsSql,
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM capped a JOIN capped b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |          AND a.vec_id < b.vec_id),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |j AS (SELECT round(${cosSql("x.v", "y.v")}, 6) AS sim
         |      FROM cand JOIN e x ON x.vec_id = vec_a
         |                JOIN e y ON y.vec_id = vec_b),
         |b AS (SELECT sim,
         |        CAST(least(floor((sim + 1.0) * 10.0), 19.0) AS BIGINT)
         |          AS bucket FROM j)
         |SELECT bucket, count(*) AS n_pairs,
         |  min(sim) AS min_sim, max(sim) AS max_sim
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ann_recall_eval_nprobe4" -> Similarity.recallEvalSql(nprobe = 4),
    "ann_recall_eval_pq" -> annPqRecallSql,


    // the trained-IVF k-means replayed (same CTE chain as emb_kmeans /
    // ann_ivf_trained), then the recallEval harness over ITS routing:
    // c2 centroids rank clusters per query, a3 defines inverted lists
    "ann_recall_eval_trained" ->
      s"""WITH dims AS (
         |  SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS e
         |  FROM embeddings, range(0, 64) t(i)),
         |c0 AS (SELECT vec_id AS cid, pos, e AS c FROM dims WHERE vec_id < 8),
         |a1 AS (${assignSql("c0")}),
         |c1 AS (${updateSql("a1")}),
         |a2 AS (${assignSql("c1")}),
         |c2 AS (${updateSql("a2")}),
         |a3 AS (${assignSql("c2")}),
         |qdims AS (SELECT vec_id AS qid, pos, e AS qe FROM dims
         |          WHERE vec_id < 8),
         |dists AS (
         |  SELECT qid, cid,
         |    CAST(sum(CAST(floor((c.c - qe) * (c.c - qe) * 1000000000000.0)
         |      AS BIGINT)) AS BIGINT) AS dist
         |  FROM c2 c JOIN qdims USING (pos) GROUP BY qid, cid),
         |nearest AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |    ORDER BY dist ASC, cid ASC) AS rn FROM dists)
         |  WHERE rn <= 1),
         |qs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
         |       FROM embeddings WHERE vec_id < 8),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sims AS (
         |  SELECT q.qid, e.vec_id, round(${cosSql("e.v", "qv")}, 6) AS sim
         |  FROM e CROSS JOIN qs q WHERE e.vec_id <> q.qid),
         |exact AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vec_id ASC) AS rk FROM sims) WHERE rk <= 10),
         |ivf AS (SELECT qid, vec_id FROM (
         |  SELECT s.qid, s.vec_id, row_number() OVER (PARTITION BY s.qid
         |    ORDER BY s.sim DESC, s.vec_id ASC) AS rk
         |  FROM sims s JOIN a3 ON a3.vec_id = s.vec_id
         |  JOIN nearest n ON n.qid = s.qid AND n.cid = a3.cid)
         |  WHERE rk <= 10)
         |SELECT exact.qid, 10 AS k, count(ivf.vec_id) AS n_hit,
         |  CAST(count(ivf.vec_id) AS DOUBLE) / 10 AS recall
         |FROM exact LEFT JOIN ivf
         |  ON exact.qid = ivf.qid AND exact.vec_id = ivf.vec_id
         |GROUP BY exact.qid ORDER BY exact.qid""".stripMargin,

    "ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |             $lshBucketSql AS bucket FROM embeddings),
         |q AS (SELECT v AS qv, bucket FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, round(${cosSql("e.v", "qv")}, 6) AS sim
         |FROM e JOIN q ON e.bucket = q.bucket WHERE e.vec_id <> 0
         |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    "ann_ivf" ->
      s"""WITH cent AS (
         |  SELECT label, i AS pos,
         |    CAST(sum(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 10000000.0) AS BIGINT)) AS DOUBLE)
         |      / 10000000.0 / count(*) AS c
         |  FROM embeddings, range(0, 64) t(i) GROUP BY label, i),
         |qdims AS (
         |  SELECT i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS qe
         |  FROM embeddings, range(0, 64) t(i) WHERE vec_id = 0),
         |dists AS (
         |  SELECT label,
         |    sum(CAST(floor((c - qe) * (c - qe) * 1000000000000.0) AS BIGINT)) AS dist
         |  FROM cent JOIN qdims USING (pos) GROUP BY label),
         |nearest AS (SELECT label FROM dists ORDER BY dist ASC, label ASC LIMIT 1),
         |e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, round(${cosSql("e.v", "qv")}, 6) AS sim
         |FROM e JOIN nearest USING (label), q
         |WHERE e.vec_id <> 0
         |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    "ann_ivf_trained" ->
      s"""WITH dims AS (
         |  SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS e
         |  FROM embeddings, range(0, 64) t(i)),
         |c0 AS (SELECT vec_id AS cid, pos, e AS c FROM dims WHERE vec_id < 8),
         |a1 AS (${assignSql("c0")}),
         |c1 AS (${updateSql("a1")}),
         |a2 AS (${assignSql("c1")}),
         |c2 AS (${updateSql("a2")}),
         |a3 AS (${assignSql("c2")}),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT c.cid,
         |      sum(CAST(floor((c.c - q.e) * (c.c - q.e) * 1000000000000.0) AS BIGINT)) AS dist
         |    FROM c2 c JOIN dims q ON c.pos = q.pos AND q.vec_id = 0
         |    GROUP BY c.cid)
         |  ORDER BY dist ASC, cid ASC LIMIT 2),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, a3.cid, round(${cosSql("e.v", "qv")}, 6) AS sim
         |FROM e JOIN a3 USING (vec_id) JOIN probes USING (cid), q
         |WHERE e.vec_id <> 0
         |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    // the same trained routing, with the metadata filter's id set
    // intersecting the probed lists before scoring
    "ann_filtered_ivf" ->
      s"""WITH dims AS (
         |  SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS e
         |  FROM embeddings, range(0, 64) t(i)),
         |c0 AS (SELECT vec_id AS cid, pos, e AS c FROM dims WHERE vec_id < 8),
         |a1 AS (${assignSql("c0")}),
         |c1 AS (${updateSql("a1")}),
         |a2 AS (${assignSql("c1")}),
         |c2 AS (${updateSql("a2")}),
         |a3 AS (${assignSql("c2")}),
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT c.cid,
         |      sum(CAST(floor((c.c - q.e) * (c.c - q.e) * 1000000000000.0) AS BIGINT)) AS dist
         |    FROM c2 c JOIN dims q ON c.pos = q.pos AND q.vec_id = 0
         |    GROUP BY c.cid)
         |  ORDER BY dist ASC, cid ASC LIMIT 2),
         |al AS (SELECT doc_id FROM documents WHERE lang = 'en'),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |      FROM embeddings JOIN al ON vec_id = doc_id),
         |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
         |      WHERE vec_id = 0)
         |SELECT e.vec_id, a3.cid, round(${cosSql("e.v", "qv")}, 6) AS sim
         |FROM e JOIN a3 USING (vec_id) JOIN probes USING (cid), q
         |WHERE e.vec_id <> 0
         |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    // SemDeDup: the same k-means replay, then within-cluster pairwise
    // cosine — a vector is a dup if a lower-id cluster-mate is within
    // tau; census per cluster. The seed-count subquery replays
    // semanticAuto's corpus-scaled k = max(8, n div 256) — the same
    // integer arithmetic the engine routes on (r16)
    "dedup_semantic" ->
      s"""WITH dims AS (
         |  SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS e
         |  FROM embeddings, range(0, 64) t(i)),
         |c0 AS (SELECT vec_id AS cid, pos, e AS c FROM dims
         |       WHERE vec_id < (SELECT greatest(8, count(*) // 256)
         |                       FROM embeddings)),
         |a1 AS (${assignSql("c0")}),
         |c1 AS (${updateSql("a1")}),
         |a2 AS (${assignSql("c1")}),
         |c2 AS (${updateSql("a2")}),
         |a3 AS (${assignSql("c2")}),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |m AS (SELECT e.vec_id, a3.cid, e.v FROM e JOIN a3 USING (vec_id)),
         |p AS (SELECT DISTINCT a.cid, a.vec_id
         |      FROM m a JOIN m b ON a.cid = b.cid AND b.vec_id < a.vec_id
         |      WHERE ${cosSql("a.v", "b.v")} >= 0.4)
         |SELECT m.cid, count(*) AS n_vectors, count(p.vec_id) AS n_dups
         |FROM m LEFT JOIN p ON m.vec_id = p.vec_id
         |GROUP BY m.cid ORDER BY m.cid""".stripMargin,

    // the trained-IVF k-means replayed in full; census of the final
    // assignment
    "emb_kmeans" ->
      s"""WITH dims AS (
         |  SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS e
         |  FROM embeddings, range(0, 64) t(i)),
         |c0 AS (SELECT vec_id AS cid, pos, e AS c FROM dims WHERE vec_id < 8),
         |a1 AS (${assignSql("c0")}),
         |c1 AS (${updateSql("a1")}),
         |a2 AS (${assignSql("c1")}),
         |c2 AS (${updateSql("a2")}),
         |a3 AS (${assignSql("c2")})
         |SELECT cid, count(*) AS n_vectors
         |FROM a3 GROUP BY cid ORDER BY cid""".stripMargin,

    // the same k-means replay, then each vector's fixed-point distance
    // to ITS centroid and the factor-x-cluster-mean outlier rule
    "emb_outliers" ->
      s"""WITH dims AS (
         |  SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS e
         |  FROM embeddings, range(0, 64) t(i)),
         |c0 AS (SELECT vec_id AS cid, pos, e AS c FROM dims WHERE vec_id < 8),
         |a1 AS (${assignSql("c0")}),
         |c1 AS (${updateSql("a1")}),
         |a2 AS (${assignSql("c1")}),
         |c2 AS (${updateSql("a2")}),
         |a3 AS (${assignSql("c2")}),
         |d AS (SELECT dm.vec_id, a.cid,
         |    CAST(sum(CAST(floor((dm.e - c.c) * (dm.e - c.c)
         |      * 1000000000000.0) AS BIGINT)) AS BIGINT) AS d
         |  FROM dims dm JOIN a3 a ON dm.vec_id = a.vec_id
         |  JOIN c2 c ON c.cid = a.cid AND c.pos = dm.pos
         |  GROUP BY dm.vec_id, a.cid),
         |st AS (SELECT cid, count(*) AS n_vectors,
         |    CAST(sum(d) AS DOUBLE) / count(*) AS mean_d
         |  FROM d GROUP BY cid)
         |SELECT d.cid, any_value(st.n_vectors) AS n_vectors,
         |  CAST(sum(CASE WHEN CAST(d AS DOUBLE) > 2 * mean_d
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  any_value(mean_d) / 1000000000000.0 AS mean_sq_dist
         |FROM d JOIN st USING (cid) GROUP BY d.cid ORDER BY cid""".stripMargin,

    // integer power iteration unrolled as CTEs — iterative float
    // linear algebra made exactly replayable
    "emb_pca" -> Similarity.pcaTopComponentSql(),
    "emb_pca_project" -> Similarity.pcaProjectionSql(),

    // PQ: per-subspace seeded k-means (1 Lloyd iteration), encode,
    // ADC shortlist, exact re-rank — all fixed-point long arithmetic
    "ann_pq" -> annPqSql,
    "ann_ivfpq" -> annIvfPqSql,
    "ann_ivfpq_indexed" -> annIvfPqSql,
    // converged churn + frozen-model refresh must be invisible
    "ann_ivfpq_refreshed" -> annIvfPqSql,
    "ann_recall_eval_ivfpq" -> annIvfPqRecallSql,
    // identical algorithm over materialized index tables
    "ann_pq_indexed" -> annPqSql,
    // ... and shared by the incrementally-REFRESHED index: churn whose
    // content converges back must be invisible to the search
    "ann_pq_refreshed" -> annPqSql,

    "ann_knn_join" -> annKnnSql,
    // identical pair set by construction — salting only re-blocks the
    // band join's shuffle, so the oracle is shared
    "ann_knn_join_salted" -> annKnnSql,
    "ann_knn_join_capped" -> annKnnCappedSql,

    "ann_band_stats" ->
      s"""WITH bands AS ($embBandsSql),
         |b AS (SELECT band, bkey, count(*) AS cnt FROM bands GROUP BY 1, 2)
         |SELECT CAST(sum(cnt * cnt) AS BIGINT) AS band_pairs,
         |  CAST(sum(cnt) AS DOUBLE) / 16 AS n_vectors,
         |  max(cnt) AS max_bucket
         |FROM b""".stripMargin,

    "ann_range" ->
      s"""WITH bands AS ($embBandsSql),
         |cand AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bkey = b.bkey
         |         WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT q_id, n_id, round(${cosSql("x.v", "y.v")}, 6) AS sim
         |FROM cand JOIN e x ON x.vec_id = q_id JOIN e y ON y.vec_id = n_id
         |WHERE ${cosSql("x.v", "y.v")} >= 0.25
         |ORDER BY q_id, n_id""".stripMargin,

    // BM25 with the classic ln idf; per-term contributions floored to
    // scaled longs so the per-doc sum is order-independent (the same
    // fixed-point discipline as the ANN family)
    "text_bm25" -> bm25Sql,
    "text_phrase_search" -> graft.operators.Retrieval.phraseSearchSql(),
    // identical arithmetic over the materialized inverted index
    "text_bm25_indexed" -> bm25Sql,
    "text_bm25_refreshed" -> bm25Sql,
    "q_sql_call_bm25" -> bm25Sql,

    "pipe_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |shs AS (SELECT doc_id, unnest($shinglesSql) AS sh_str
         |        FROM t WHERE len(w) >= 4),
         |sh0 AS (SELECT DISTINCT doc_id, ${rollSql("sh_str")} AS sh FROM shs),
         |rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 256),
         |cap AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
         |lab AS (SELECT DISTINCT doc_id,
         |          (${rollSql("'t' || CAST(doc_id AS VARCHAR)")} % 20 = 0) AS is_test
         |        FROM cap),
         |tr AS (SELECT c.doc_id AS train_doc, sh
         |       FROM cap c JOIN lab USING (doc_id) WHERE NOT is_test),
         |te AS (SELECT c.doc_id AS test_doc, sh
         |       FROM cap c JOIN lab USING (doc_id) WHERE is_test)
         |SELECT train_doc, test_doc, count(*) AS n_shared
         |FROM tr JOIN te USING (sh)
         |GROUP BY train_doc, test_doc HAVING count(*) >= 3
         |ORDER BY train_doc, test_doc""".stripMargin,

    "pipe_filter_compose" ->
      s"""$filterComposeSql
         |ORDER BY doc_id""".stripMargin,

    // the filter chain's output committed through a bucket(4, doc_id)
    // partition spec and read back with one-bucket pruning: the oracle
    // replays the chain plus the bucket transform
    "pipe_corpus_table" ->
      s"""WITH base AS ($filterComposeSql)
         |SELECT doc_id, source, n_tokens FROM base
         |WHERE ${rollSql("CAST(doc_id AS VARCHAR)")} % 4 = 2
         |ORDER BY doc_id""".stripMargin,

    // HLL registers: per-bucket max trailing-zero rank of the portable
    // hash — integer sketch state, bit-replayable
    "q_hll_sketch" ->
      s"""WITH h AS (SELECT ${rollSql("CAST(l_partkey AS VARCHAR)")} AS h
         |           FROM lineitem),
         |r AS (SELECT h % 256 AS bucket, h // 256 AS h2 FROM h)
         |SELECT bucket,
         |  max(CASE WHEN h2 = 0 THEN 31
         |           ELSE CAST(log2(h2 & (-h2)) AS INT) + 1 END) AS register
         |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,

    "pipe_sample" ->
      s"""SELECT doc_id, source,
         |  (${rollSql("source")} % 70) + 20 AS rate
         |FROM documents
         |WHERE (${rollSql("'s' || CAST(doc_id AS VARCHAR)")} % 100)
         |    < (${rollSql("source")} % 70) + 20
         |ORDER BY doc_id""".stripMargin,

    // chunking: unnest(range(...)) replays the per-row chunk count
    // (numerator always positive, so integer // == the engine's div)
    // non-overlapping 3-word passages, md5-fingerprinted; per-doc count
    // of passages that occur anywhere else in the corpus
    "dedup_passages" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |f AS (SELECT doc_id,
        |        md5(array_to_string(w[(i*3+1):(i*3+3)], ' ')) AS fp
        |      FROM t, unnest(range(0, CAST(ceil(len(w) / 3.0) AS BIGINT))) r(i)),
        |c AS (SELECT fp, count(*) AS n FROM f GROUP BY fp)
        |SELECT doc_id, count(*) AS n_passages,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |FROM f JOIN c USING (fp)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // stride-1 5-token window fingerprints; duplicated windows merge
    // into maximal per-doc spans (gaps-and-islands: a new span opens
    // when the next duplicated start is > width-1 past the previous)
    "dedup_substr_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wins AS (SELECT doc_id, len(w) AS n_tokens, i AS p,
        |    md5(array_to_string(w[(i+1):(i+5)], ' ')) AS fp
        |  FROM t, unnest(range(0, len(w) - 5 + 1)) r(i)
        |  WHERE len(w) >= 5),
        |c AS (SELECT fp, count(*) AS cnt FROM wins GROUP BY fp),
        |dup AS (SELECT doc_id, n_tokens, p
        |  FROM wins JOIN c USING (fp) WHERE cnt > 1),
        |isl AS (SELECT doc_id, n_tokens, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 4
        |         THEN 0 ELSE 1 END AS newspan
        |  FROM dup),
        |isl2 AS (SELECT doc_id, n_tokens, p,
        |    CAST(sum(newspan) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS isl
        |  FROM isl),
        |sp AS (SELECT doc_id, max(n_tokens) AS n_tokens, isl,
        |    min(p) AS s, max(p) + 4 AS e
        |  FROM isl2 GROUP BY doc_id, isl)
        |SELECT doc_id, max(n_tokens) AS n_tokens, count(*) AS n_spans,
        |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
        |  round(CAST(CAST(sum(e - s + 1) AS BIGINT) AS DOUBLE)
        |    / max(n_tokens), 6) AS dup_ratio
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // one-pass expectations audit: every rule a conditional count over
    // the same scan
    "pipe_validate" ->
      """SELECT 'documents' AS dataset, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_id,
        |  CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS empty_text,
        |  CAST(sum(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END)
        |    AS BIGINT) AS bad_n_chars,
        |  CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS bad_lang,
        |  CAST(sum(CASE WHEN n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS oversized,
        |  count(*) - count(DISTINCT doc_id) AS dup_ids
        |FROM documents""".stripMargin,
    // salted 80/10/10 hash assignment, reported per (split, lang)
    "pipe_split" ->
      s"""SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
         |    ELSE 'test' END AS split,
         |  lang, count(*) AS n
         |FROM (SELECT lang,
         |    ${rollSql("'v' || CAST(doc_id AS VARCHAR)")} % 100 AS b
         |  FROM documents)
         |GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    "pipe_datacard" ->
      """WITH b AS (SELECT source, lang, n_chars,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |g AS (SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |    min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |  FROM b GROUP BY source, lang),
        |t AS (SELECT count(*) AS corpus_docs FROM b)
        |SELECT source, lang, n_docs, total_chars, total_tokens, min_chars,
        |  max_chars,
        |  round(CAST(n_docs AS DOUBLE) / corpus_docs, 6) AS doc_share
        |FROM g, t ORDER BY source, lang""".stripMargin,

    "pipe_token_budget" ->
      """WITH s AS (SELECT doc_id, lang, n_chars,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY lang
        |    ORDER BY n_chars DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM s)
        |SELECT lang, count(*) AS n_selected,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(max(cum) AS BIGINT) AS budget_used
        |FROM c WHERE cum <= 20000 GROUP BY lang ORDER BY lang""".stripMargin,

    "pipe_interleave" ->
      """WITH sr AS (SELECT source, row_number() OVER (ORDER BY source) AS src_rank
        |            FROM (SELECT DISTINCT source FROM documents)),
        |n AS (SELECT count(*) AS ns FROM sr),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST((rn - 1) * ns + src_rank AS BIGINT) AS pos
        |FROM r JOIN sr USING (source), n
        |WHERE (rn - 1) * ns + src_rank <= 100
        |ORDER BY pos""".stripMargin,

    "pipe_chunk" ->
      """WITH n AS (SELECT doc_id, text,
        |    greatest((length(text) - 64 + 335) // 336, 1) AS n_chunks
        |  FROM documents),
        |e AS (SELECT doc_id, text,
        |    CAST(unnest(range(0, n_chunks)) AS INTEGER) AS chunk_id FROM n)
        |SELECT doc_id, chunk_id, chunk_id * 336 AS chunk_start,
        |  substring(text, chunk_id * 336 + 1, 400) AS chunk
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,

    "pipe_mix" ->
      s"""WITH s AS (SELECT doc_id, source,
         |    (${rollSql("source")} % 200) + 50 AS w100,
         |    ${rollSql("'m' || CAST(doc_id AS VARCHAR)")} % 100 AS draw
         |  FROM documents),
         |r AS (SELECT doc_id, source, w100,
         |    (w100 // 100) + CASE WHEN draw < w100 % 100 THEN 1 ELSE 0 END AS reps
         |  FROM s)
         |SELECT doc_id, source, CAST(w100 AS BIGINT) AS w100,
         |  CAST(unnest(range(1, reps + 1)) AS BIGINT) AS copy_id
         |FROM r WHERE reps > 0
         |ORDER BY doc_id, copy_id""".stripMargin,

    // alpha=1/2 temperature weights: sqrt is IEEE-exact in both
    // engines, numerators fixed-point longs, one division per share
    "pipe_temperature" ->
      """WITH s AS (SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) AS w_num
        |  FROM s),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        |             CAST(sum(w_num) AS BIGINT) AS tot_w FROM w)
        |SELECT source, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS raw_share,
        |  round(CAST(w_num AS DOUBLE) / tot_w, 6) AS temp_weight,
        |  round((CAST(w_num AS DOUBLE) / tot_w) /
        |        (CAST(n_tokens AS DOUBLE) / tot_tokens), 6)
        |    AS repeat_factor
        |FROM w, t ORDER BY source""".stripMargin,

    "pipe_pack" ->
      s"""WITH s AS (SELECT doc_id, lang, n_chars,
         |      ${rollSql("'p' || CAST(doc_id AS VARCHAR)")} % 16 AS shard
         |    FROM documents),
         |c AS (SELECT *, sum(n_chars) OVER (PARTITION BY lang, shard
         |        ORDER BY doc_id) AS cum FROM s)
         |SELECT lang, shard,
         |  CAST(floor((cum - n_chars) / 4096.0) AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM c GROUP BY lang, shard, bin
         |ORDER BY lang, shard, bin""".stripMargin,

    // the packing bins re-aggregated into a utilization histogram:
    // min(chars*10 // budget, 10) — overflow bins land in bucket 10
    "pipe_pack_eval" ->
      s"""WITH s AS (SELECT doc_id, lang, n_chars,
         |      ${rollSql("'p' || CAST(doc_id AS VARCHAR)")} % 16 AS shard
         |    FROM documents),
         |c AS (SELECT *, sum(n_chars) OVER (PARTITION BY lang, shard
         |        ORDER BY doc_id) AS cum FROM s),
         |p AS (SELECT lang, shard,
         |    CAST(floor((cum - n_chars) / 4096.0) AS BIGINT) AS bin,
         |    CAST(sum(n_chars) AS BIGINT) AS chars
         |  FROM c GROUP BY lang, shard, bin)
         |SELECT least(chars * 10 // 4096, 10) AS util_bucket,
         |  count(*) AS n_bins, min(chars) AS min_chars,
         |  max(chars) AS max_chars
         |FROM p GROUP BY 1 ORDER BY util_bucket""".stripMargin,

    "pipe_shuffle" ->
      s"""WITH s AS (SELECT doc_id,
         |      ${rollSql("'x' || CAST(doc_id AS VARCHAR)")} AS key
         |    FROM documents)
         |SELECT key % 32 AS shard,
         |  CAST(row_number() OVER (PARTITION BY key % 32
         |    ORDER BY key, doc_id) AS INTEGER) AS pos,
         |  doc_id
         |FROM s ORDER BY shard, pos""".stripMargin,

    "text_topk_ngrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT unnest([array_to_string(w[i:i+2], ' ')
        |                     for i in range(1, len(w) - 1)]) AS ngram
        |      FROM t WHERE len(w) >= 3)
        |SELECT ngram, count(*) AS n FROM g GROUP BY ngram
        |ORDER BY n DESC, ngram ASC LIMIT 20""".stripMargin,

    "emb_quantize" ->
      """WITH dims AS (SELECT vec_id, CAST(embedding[i + 1] AS DOUBLE) AS e
        |              FROM embeddings, range(0, 64) t(i)),
        |sc AS (SELECT vec_id, max(abs(e)) AS amax FROM dims GROUP BY vec_id),
        |q AS (SELECT d.vec_id, amax,
        |        CASE WHEN amax = 0 THEN 0
        |             ELSE CAST(floor(e / amax * 127.0) AS BIGINT) END AS q
        |      FROM dims d JOIN sc USING (vec_id))
        |SELECT vec_id, max(amax) AS scale, CAST(sum(q) AS BIGINT) AS q_sum,
        |  min(q) AS q_min, max(q) AS q_max
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "dedup_clusters" -> dedupClustersSql,
    // persisted-index twins: the index's committed labels must equal a
    // from-scratch clustering of the (full) corpus — build-once,
    // build+refresh-via-change-feed, same oracle verbatim (playbook
    // same-answer-rewrite rule)
    "dedup_clusters_indexed" -> dedupClustersSql,
    "dedup_clusters_refreshed" -> dedupClustersSql,
    "dedup_clusters_exact_delta_refreshed" -> dedupClustersSql,
    // build and survivor-folding refresh share the one capped oracle:
    // refresh-equals-rebuild is the contract under test
    "dedup_clusters_capped" -> dedupClustersCappedSql,
    "dedup_clusters_capped_refreshed" -> dedupClustersCappedSql,
    // the delta-branch refresh answers to the SAME from-scratch oracle
    // (refresh-equals-rebuild is branch-independent)
    "dedup_clusters_delta_refreshed" -> dedupClustersCappedSql,
    "dedup_clusters_auto" -> dedupClustersAutoSql,
    "dedup_clusters_auto_refreshed" -> dedupClustersAutoRefreshedSql,
    "dedup_clusters_recall_eval" -> clusterLabelRecallSql,
    "pipe_split_leakage_safe" -> leakageSafeSplitSql,
    "pipe_e2e_curation" -> e2eCurationSql,

    // duplicate-family size distribution: how much corpus mass
    // sits in big dup families (size 1 = unique docs)
    "dedup_cluster_stats" ->
      s"""WITH base AS ($dedupClustersSql),
         |sz AS (SELECT cluster, count(*) AS cluster_size
         |       FROM base GROUP BY cluster)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cluster_size
         |ORDER BY cluster_size""".stripMargin,

    "text_entropy" -> TextAnalysis.entropySql,

    "text_redact" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.UrlRe}')) AS INTEGER) AS n_urls,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.LongNumRe}')) AS INTEGER) AS n_longnums,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.UrlRe}', '<URL>', 'g'),
         |    '${TextAnalysis.LongNumRe}', '<NUM>', 'g')) AS redacted_md5
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |shs AS (SELECT doc_id,
         |          unnest([array_to_string(w[i:i+2], ' ')
         |                  for i in range(1, len(w) - 1)]) AS sh_str
         |        FROM t WHERE len(w) >= 3),
         |h AS (SELECT doc_id, ${rollSql("sh_str")} AS sh FROM shs),
         |c AS (SELECT doc_id, sh, count(*) AS c FROM h GROUP BY doc_id, sh)
         |SELECT doc_id, max(c) AS max_rep, count(*) AS n_distinct,
         |  CAST(sum(c) AS BIGINT) AS n_total
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // corpus-as-LM bigram scoring: MLE P(w2|w1), per-bigram log-probs
    // floored to scaled longs before the per-doc mean
    "text_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bi AS (SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
        |       FROM t, unnest(range(0, len(w) - 1)) r(i)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
        |s AS (SELECT doc_id,
        |        CAST(floor(ln(CAST(c12 AS DOUBLE) / c1) * 10000000.0)
        |          AS BIGINT) AS lp
        |      FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(lp) AS DOUBLE) / 10000000.0 / count(*), 6) AS avg_logp
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same bigram-LM fixed-point core; per-lang ntile over the exact
    // integer ordering key (no float ties for engines to break apart)
    "text_lm_buckets" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bi AS (SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
        |       FROM t, unnest(range(0, len(w) - 1)) r(i)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
        |s AS (SELECT doc_id,
        |        CAST(floor(ln(CAST(c12 AS DOUBLE) / c1) * 10000000.0)
        |          AS BIGINT) AS lp
        |      FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
        |agg AS (SELECT doc_id, count(*) AS nb,
        |          CAST(sum(lp) AS BIGINT) AS lp_fp FROM s GROUP BY doc_id),
        |k AS (SELECT doc_id,
        |        CAST(floor(CAST(lp_fp AS DOUBLE) * 1000.0 / nb) AS BIGINT)
        |          AS avg_fp FROM agg)
        |SELECT k.doc_id, d.lang, avg_fp,
        |  CAST(ntile(3) OVER (PARTITION BY d.lang
        |    ORDER BY avg_fp DESC, k.doc_id) AS BIGINT) AS bucket
        |FROM k JOIN documents d ON k.doc_id = d.doc_id
        |ORDER BY k.doc_id""".stripMargin,

    // one scan swept over the threshold grid; int/int keep-rate is the
    // single division
    "pipe_gate_sweep" ->
      """WITH d AS (SELECT CAST(len(string_split_regex(trim(text), '\s+'))
        |      AS BIGINT) AS n_words FROM documents),
        |g AS (SELECT CAST(unnest([10, 25, 50, 100, 200]) AS BIGINT)
        |        AS min_words)
        |SELECT min_words,
        |  CAST(sum(CASE WHEN n_words >= min_words THEN 1 ELSE 0 END)
        |    AS BIGINT) AS survivors,
        |  round(CAST(sum(CASE WHEN n_words >= min_words THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*), 6) AS keep_rate,
        |  CAST(sum(CASE WHEN n_words >= min_words THEN n_words ELSE 0 END)
        |    AS BIGINT) AS surviving_tokens
        |FROM d, g GROUP BY min_words ORDER BY min_words""".stripMargin,

    "text_gopher_rules" ->
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS w FROM documents),
        |f AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS nw,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |      / len(w) AS mean_wl,
        |    CAST(len(regexp_extract_all(text, '#'))
        |      + len(regexp_extract_all(text, '\.\.\.')) AS DOUBLE)
        |      / len(w) AS sym_ratio,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS DOUBLE) / len(w) AS alpha_frac,
        |    len(list_filter(w, x -> list_contains(
        |      ['the','a','of','and','to','in','is'], x))) AS n_stop
        |  FROM t),
        |g AS (SELECT doc_id, nw,
        |    CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END AS f_words,
        |    CASE WHEN mean_wl >= 3.0 AND mean_wl <= 10.0 THEN 1 ELSE 0
        |      END AS f_mean_wl,
        |    CASE WHEN sym_ratio <= 0.1 THEN 1 ELSE 0 END AS f_sym,
        |    CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS f_alpha,
        |    CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS f_stop
        |  FROM f)
        |SELECT doc_id, nw AS n_words,
        |  CAST(f_words AS BIGINT) AS ok_words,
        |  CAST(f_mean_wl AS BIGINT) AS ok_mean_wl,
        |  CAST(f_sym AS BIGINT) AS ok_sym,
        |  CAST(f_alpha AS BIGINT) AS ok_alpha,
        |  CAST(f_stop AS BIGINT) AS ok_stop,
        |  CAST(f_words * f_mean_wl * f_sym * f_alpha * f_stop
        |    AS BIGINT) AS passes
        |FROM g ORDER BY doc_id""".stripMargin,

    "text_classifier_score" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |           FROM documents),
         |f AS (SELECT doc_id,
         |        (${rollSql(s"'clf' || CAST(${rollSql("w")} % 1024 AS VARCHAR)")}
         |          % 2001) - 1000 AS wt
         |      FROM t)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(wt) AS BIGINT) AS score_fp,
         |  CAST(CASE WHEN sum(wt) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // composed curriculum: lm-bucket phase x Gopher rule gate x
    // in-phase shard shuffle — the three CTE chains of its inputs
    "pipe_curriculum" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |bi AS (SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
         |       FROM t, unnest(range(0, len(w) - 1)) r(i)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
         |s AS (SELECT doc_id,
         |        CAST(floor(ln(CAST(c12 AS DOUBLE) / c1) * 10000000.0)
         |          AS BIGINT) AS lp
         |      FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
         |agg AS (SELECT doc_id, count(*) AS nb,
         |          CAST(sum(lp) AS BIGINT) AS lp_fp FROM s GROUP BY doc_id),
         |k AS (SELECT doc_id,
         |        CAST(floor(CAST(lp_fp AS DOUBLE) * 1000.0 / nb) AS BIGINT)
         |          AS avg_fp FROM agg),
         |lmb AS (SELECT k.doc_id, CAST(ntile(3) OVER (PARTITION BY d.lang
         |          ORDER BY avg_fp DESC, k.doc_id) AS BIGINT) AS phase
         |        FROM k JOIN documents d ON k.doc_id = d.doc_id),
         |gw AS (SELECT doc_id, text,
         |        string_split_regex(trim(text), '\\s+') AS ws FROM documents),
         |gf AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw,
         |        CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
         |          / len(ws) AS mean_wl,
         |        CAST(len(regexp_extract_all(text, '#'))
         |          + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
         |          / len(ws) AS sym_ratio,
         |        CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
         |          AS DOUBLE) / len(ws) AS alpha_frac,
         |        len(list_filter(ws, x -> list_contains(
         |          ['the','a','of','and','to','in','is'], x))) AS n_stop
         |       FROM gw),
         |clf AS (SELECT doc_id FROM gf
         |        WHERE nw >= 50 AND nw <= 100000
         |          AND mean_wl >= 3.0 AND mean_wl <= 10.0
         |          AND sym_ratio <= 0.1 AND alpha_frac >= 0.8
         |          AND n_stop >= 2),
         |ky AS (SELECT doc_id,
         |        ${rollSql("'u' || CAST(doc_id AS VARCHAR)")} AS key
         |       FROM documents),
         |j AS (SELECT ky.doc_id, key, phase, key % 8 AS shard
         |      FROM ky JOIN clf USING (doc_id) JOIN lmb USING (doc_id))
         |SELECT doc_id, phase, shard,
         |  row_number() OVER (PARTITION BY phase, shard
         |    ORDER BY key, doc_id) AS pos
         |FROM j ORDER BY phase, shard, pos""".stripMargin,

    "pipe_source_cap" ->
      s"""WITH r AS (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${rollSql("'c' || CAST(doc_id AS VARCHAR)")} ASC,
         |        doc_id ASC) AS rk
         |  FROM documents)
         |SELECT doc_id, source, rk FROM r WHERE rk <= 10
         |ORDER BY doc_id""".stripMargin,

    "dedup_keep_best" ->
      s"""WITH f AS (SELECT doc_id, n_chars, md5($normSql) AS fp FROM documents),
         |r AS (SELECT doc_id, n_chars,
         |        row_number() OVER (PARTITION BY fp
         |          ORDER BY n_chars DESC, doc_id) AS rk,
         |        count(*) OVER (PARTITION BY fp) AS n_copies
         |      FROM f)
         |SELECT doc_id, n_chars, n_copies FROM r WHERE rk = 1
         |ORDER BY doc_id""".stripMargin,

    // the BM25 CTE chain is bm25Sql's, widened to top-50; the cosine
    // chain is ann_topk's; RRF fuses the two bounded lists
    "ann_rrf_fusion" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |           FROM documents),
         |q AS (SELECT unnest([${bm25Terms.map("'" + _ + "'").mkString(", ")}]) AS term),
         |tf AS (SELECT doc_id, term, count(*) AS tf
         |       FROM w JOIN q USING (term) GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
         |c AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |s AS (SELECT tf.doc_id,
         |        CAST(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |          * (tf * 2.2)
         |          / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |          * 10000000.0) AS BIGINT) AS s_fp
         |      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), c),
         |bmtop AS (SELECT doc_id, CAST(sum(s_fp) AS DOUBLE) / 10000000.0 AS score
         |          FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
         |bm AS (SELECT doc_id AS id,
         |         row_number() OVER (ORDER BY score DESC, doc_id) AS r_bm25
         |       FROM bmtop),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qe AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |ctop AS (SELECT e.vec_id, round(${cosSql("e.v", "qv")}, 6) AS sim
         |         FROM e, qe WHERE e.vec_id <> 0
         |         ORDER BY sim DESC, vec_id LIMIT 50),
         |cr AS (SELECT vec_id AS id,
         |         row_number() OVER (ORDER BY sim DESC, vec_id) AS r_cos
         |       FROM ctop)
         |SELECT COALESCE(bm.id, cr.id) AS id, r_bm25, r_cos,
         |  round(COALESCE(CAST(1 AS DOUBLE) / (60 + r_bm25), 0)
         |    + COALESCE(CAST(1 AS DOUBLE) / (60 + r_cos), 0), 6) AS rrf
         |FROM bm FULL JOIN cr ON bm.id = cr.id
         |ORDER BY rrf DESC, id LIMIT 15""".stripMargin,

    "text_rarity" ->
      """WITH words AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(text, ' '))) AS w
        |  FROM documents),
        |dfs AS (SELECT w, count(*) AS df FROM words GROUP BY w)
        |SELECT doc_id, count(*) AS n_distinct_words,
        |  CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  CAST(sum(df) AS BIGINT) AS sum_df
        |FROM words JOIN dfs USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // count-min sketch replayed bit-exactly: same salted rolling
    // hashes, same depth x width counters, min over rows per probe
    "text_countmin" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
         |             FROM documents),
         |sk AS (SELECT d, b, count(*) AS c FROM ($cmSketchSql) GROUP BY d, b),
         |pr AS (SELECT * FROM (VALUES $cmProbesSql) p(token)),
         |pb AS ($cmProbeSql),
         |est AS (SELECT token, min(coalesce(c, 0)) AS n_est
         |        FROM pb LEFT JOIN sk USING (d, b) GROUP BY token),
         |ex AS (SELECT pr.token, count(t.tok) AS n_exact
         |       FROM pr LEFT JOIN toks t ON t.tok = pr.token
         |       GROUP BY pr.token)
         |SELECT token, n_exact, n_est
         |FROM ex JOIN est USING (token) ORDER BY token""".stripMargin,

    "text_quality" ->
      """WITH q AS (SELECT doc_id, n_chars,
        |    string_split_regex(trim(text), '\s+') AS w,
        |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> list_contains(['the','a','of','and','to','in','is'], x))) AS stop
        |  FROM documents)
        |SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
        |  CAST(alpha AS DOUBLE) / n_chars AS alpha_ratio,
        |  CAST(stop AS DOUBLE) / len(w) AS stopword_ratio,
        |  CAST(n_chars - len(w) + 1 AS DOUBLE) / len(w) AS mean_token_len
        |FROM q ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH c AS (SELECT doc_id, lang, $langCountsSql FROM documents)
         |SELECT doc_id, lang, $langCaseSql AS predicted
         |FROM c ORDER BY doc_id""".stripMargin,

    // declared-vs-inferred confusion matrix: the language-ID
    // heuristic's eval against the corpus's own lang column
    "text_lang_confusion" ->
      s"""WITH c AS (SELECT doc_id, lang, $langCountsSql FROM documents),
         |p AS (SELECT lang, $langCaseSql AS predicted FROM c)
         |SELECT lang, predicted, count(*) AS n
         |FROM p GROUP BY lang, predicted
         |ORDER BY lang, predicted""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id, ${rollSql(normSql)} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_asof" ->
      """SELECT a.user_id, a.event_id, b.value AS asof_value,
        |  b.event_id AS asof_event_id
        |FROM (SELECT user_id, event_id FROM events WHERE event_type = 'click') a
        |ASOF LEFT JOIN
        |  (SELECT user_id, event_id, value FROM events
        |   WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id AND a.event_id >= b.event_id
        |ORDER BY a.event_id""".stripMargin,

    "q_range_join" ->
      """WITH ev AS (SELECT event_id, event_type,
        |              epoch_us(ts::TIMESTAMP) AS t, value FROM events),
        |c AS (SELECT event_id, t FROM ev WHERE event_type = 'click'),
        |p AS (SELECT t, value FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, count(*) AS n_matches,
        |  CAST(sum(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM c JOIN p ON p.t BETWEEN c.t - 60000000 AND c.t
        |GROUP BY c.event_id ORDER BY c.event_id""".stripMargin,

    "q_hof" ->
      """SELECT vec_id,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        |  CAST(len(list_filter(embedding, x -> abs(x) > CAST(0.1 AS FLOAT))) AS INTEGER) AS n_big,
        |  len(list_filter(embedding, x -> x > CAST(0.3 AS FLOAT))) > 0 AS any_gt03
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_centroid" ->
      """SELECT label, CAST(i AS INTEGER) AS pos, count(*) AS n,
        |  CAST(sum(CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sum_e
        |FROM embeddings, range(0, 8) t(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  md5(text) AS content_md5,
        |  to_base64(encode(substring(text, 1, 8))) AS head_b64
        |FROM documents ORDER BY doc_id""".stripMargin,

    // closed form of the synthesized 8x8 image: pixel(x,y) =
    // ((doc_id%100)*31 + 7x + 13y) mod 256; aHash bit y*8+x set when
    // pixel*64 > sum, packed into (hi, lo) 32-bit halves — the engine
    // must recover identical bits through BMP encode + imageio decode
    "multimodal_phash" ->
      """WITH cells AS (SELECT doc_id, x, y,
        |    ((doc_id % 100) * 31 + x * 7 + y * 13) % 256 AS v
        |  FROM documents, range(0, 8) tx(x), range(0, 8) ty(y)),
        |s AS (SELECT doc_id, sum(v) AS sv FROM cells GROUP BY doc_id),
        |b AS (SELECT cells.doc_id,
        |    CAST(sum(CASE WHEN y * 8 + x >= 32 AND v * 64 > sv
        |      THEN (CAST(1 AS BIGINT) << CAST(y * 8 + x - 32 AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS phash_hi,
        |    CAST(sum(CASE WHEN y * 8 + x < 32 AND v * 64 > sv
        |      THEN (CAST(1 AS BIGINT) << CAST(y * 8 + x AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS phash_lo
        |  FROM cells JOIN s USING (doc_id) GROUP BY cells.doc_id)
        |SELECT min(doc_id) AS rep_id, phash_hi, phash_lo,
        |  count(*) AS n_copies
        |FROM b GROUP BY phash_hi, phash_lo ORDER BY rep_id""".stripMargin,

    // distinct-hash representatives, then ALL-PAIRS hamming in [1,3] —
    // valid as the oracle precisely because 4x16 banding is lossless
    // below distance 4 (the engine side must find every such pair)
    "multimodal_phash_near" ->
      """WITH cells AS (SELECT doc_id, x, y,
        |    ((doc_id % 100) * 31 + x * 7 + y * 13) % 256 AS v
        |  FROM documents, range(0, 8) tx(x), range(0, 8) ty(y)),
        |s AS (SELECT doc_id, sum(v) AS sv FROM cells GROUP BY doc_id),
        |b AS (SELECT cells.doc_id,
        |    CAST(sum(CASE WHEN y * 8 + x >= 32 AND v * 64 > sv
        |      THEN (CAST(1 AS BIGINT) << CAST(y * 8 + x - 32 AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS phash_hi,
        |    CAST(sum(CASE WHEN y * 8 + x < 32 AND v * 64 > sv
        |      THEN (CAST(1 AS BIGINT) << CAST(y * 8 + x AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS phash_lo
        |  FROM cells JOIN s USING (doc_id) GROUP BY cells.doc_id),
        |h AS (SELECT min(doc_id) AS rep_id, phash_hi, phash_lo
        |      FROM b GROUP BY phash_hi, phash_lo)
        |SELECT a.rep_id AS a_id, c.rep_id AS b_id,
        |  CAST(bit_count(xor(a.phash_hi, c.phash_hi))
        |    + bit_count(xor(a.phash_lo, c.phash_lo)) AS BIGINT) AS hamming
        |FROM h a JOIN h c ON a.rep_id < c.rep_id
        |WHERE bit_count(xor(a.phash_hi, c.phash_hi))
        |    + bit_count(xor(a.phash_lo, c.phash_lo)) BETWEEN 1 AND 3
        |ORDER BY a_id, b_id""".stripMargin,

    // closed form of the synthesized AVI: doc_id%3+1 frames, frame f of
    // doc d is (16+d%8+f) x (12+d%5+f) — the engine must recover these
    // through the real RIFF walk + JPEG decode
    "multimodal_video" ->
      """SELECT doc_id, CAST(g AS INTEGER) AS frame_no,
        |  CAST(16 + doc_id % 8 + g AS INTEGER) AS width,
        |  CAST(12 + doc_id % 5 + g AS INTEGER) AS height
        |FROM documents, range(0, 3) t(g)
        |WHERE g < doc_id % 3 + 1
        |ORDER BY doc_id, frame_no""".stripMargin,

    "multimodal_decode" ->
      """WITH s AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT doc_id, n, 16 + n % 64 AS w0, 16 + (n // 64) % 64 AS h0
        |      FROM s),
        |r AS (SELECT doc_id, n, w0, h0,
        |        least(1.0, 32.0 / greatest(w0, h0)) AS scale FROM d)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
        |  CAST(greatest(1, CAST(trunc(w0 * scale) AS INTEGER)) AS INTEGER) AS width,
        |  CAST(greatest(1, CAST(trunc(h0 * scale) AS INTEGER)) AS INTEGER) AS height
        |FROM r ORDER BY doc_id""".stripMargin,

    // the synthesis arithmetic replayed: exact long sum of squares,
    // one correctly-rounded sqrt, floor — bit-identical to the JVM's
    // sqrt(ss/n).toLong on the decoded samples
    "multimodal_audio" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS nf FROM documents),
        |s AS (SELECT doc_id, nf,
        |        CAST((doc_id * 31 + i * 7) % 2001 - 1000 AS BIGINT) AS v
        |      FROM d, range(0, 128) t(i) WHERE i < nf),
        |a AS (SELECT doc_id, max(nf) AS nf,
        |        CAST(sum(v * v) AS BIGINT) AS ss, count(*) AS n
        |      FROM s GROUP BY doc_id)
        |SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(floor(sqrt(CAST(ss AS DOUBLE) / n)) AS BIGINT) AS rms
        |FROM a ORDER BY doc_id""".stripMargin
  )
}
