package graft

import org.apache.spark.sql.{Column, DataFrame}

/** The physical-layout decisions graft's operators make AGAINST Spark's
  * defaults, declared once. An operator call site names the intent; the
  * mechanism and its measured justification live here. Everything else
  * — keyed `repartition(keys)` for co-partitioning, AQE's partition
  * sizing, broadcast choice — is Spark's default and stays a direct call.
  *
  * The rule behind all four (r19): pin the width where ONE stage does
  * corpus-scale expansion; keep bounded, iterated relations narrow and
  * truncate their lineage. Picking the wrong side is expensive in both
  * directions:
  *
  *  - AQE sizes a post-shuffle stage from map-output BYTES. Rows that
  *    are narrow before an exploding join or a per-row hot loop (band
  *    keys, doc_id + text before shingling) therefore coalesced to 1-2
  *    tasks and serialized the expansion — ann_knn_join's candidate
  *    join ran as one 3.3 s 2-task job inside a 5.5 s warm wall at
  *    local[32]. [[expand]] fixed it: ann_knn_join 5.5 → 2.1 s,
  *    dedup_passages 2.75 → 1.17 s warm.
  *  - The same pinning on the ITERATED vec_id relations (the IVF-PQ
  *    training inputs) made ann_ivfpq 6.1 → 14.2 s (reverted): bounded
  *    relations re-read every round want few tasks, so those keep
  *    AQE's coalescible keyed exchange inside [[iterated]].
  *  - A loop relation referenced twice per round (CC, BFS, SSSP,
  *    k-core, k-truss, label propagation — the "doubly-referencing
  *    loop rule") doubles its analyzed plan every round: without
  *    truncation connected components planned for 181 s at sf0.01,
  *    10.6 s with one checkpoint per round. Caching does NOT fix the
  *    planning half: a cached relation still carries its full logical
  *    tree, which every downstream action re-analyzes and
  *    re-canonicalizes for the cache lookup (r19: 3.5-4.2 s of job-free
  *    driver gaps in the label-recall eval, ~3 s in the IVF-PQ pair,
  *    half of ann_pq's 4.6 s warm wall). [[iterated]]'s checkpoint
  *    turns the relation into a leaf; ann_recall_eval_ivfpq 10.6 →
  *    6.7 s warm. Relations referenced ONCE per round grow linearly
  *    and truncate every [[CheckpointEvery]] rounds instead.
  *  - A bounded relation consumed by several AQE branches carried the
  *    session's shuffle partitions into every cached scan: ~70
  *    exchange jobs × ~33 near-empty tasks were the label-recall
  *    eval's wall. [[single]] keeps such relations at one partition
  *    and fills the cache before AQE's parallel branches race it.
  *
  *  - A relation is provably small either by construction (codebooks,
  *    centroids, probe lists: [[local]]) or by a bounded probe. Near-dup
  *    label propagation (`PipelineOps.labelPropagation`) collects at
  *    most threshold / 16 pairs, with the threshold read from
  *    `spark.sql.autoBroadcastJoinThreshold`, the rule small MOR
  *    delete groups follow. When the pairs fit, its fixed rounds run on
  *    the driver and return a driver-local relation; larger pair sets
  *    keep the distributed rounds. In the llm_curate benchmark (1,144
  *    pairs, local[4]) a `dedupClusters` call went from 28 Spark jobs
  *    to 7.
  *
  * All four are confined to BOUNDED inputs except [[expand]]; they are
  * eval-, training- or loop-scoped exceptions, never a default for a
  * corpus-scale relation. (On a cluster with lineage-loss concerns the
  * eager `localCheckpoint` would become a reliable `checkpoint()`.)
  */
object Layout {

  /** Lineage-truncation cadence for loop relations referenced ONCE per
    * round (pagerank, personalized pagerank, HITS), whose analyzed plan
    * grows linearly. Each eager checkpoint is an extra Spark job (~0.2 s
    * of scheduling at bench scale), so those loops truncate every 8th
    * round: free at the default 5 iterations, and the plan stays
    * bounded by 8 rounds of lineage at any iteration count.
    */
  val CheckpointEvery = 8

  /** Exchange feeding a corpus-scale expansion (an exploding join, a
    * per-row hot loop): `repartition(spark.sql.shuffle.partitions,
    * keys)`. The REPARTITION_BY_NUM shuffle origin is one AQE's
    * coalescing leaves alone, so the expansion keeps the session's full
    * parallelism; the count tracks the session setting — the cluster
    * value applies at scale — not a local core constant.
    */
  def expand(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      keys: _*)

  /** A bounded relation that a loop or a driver-materialized training
    * round re-references: an optional AQE-coalescible `repartition(keys)`
    * (kept so later joins on those keys stay exchange-free), then an
    * eager `localCheckpoint`, so every downstream plan sees a leaf.
    */
  def iterated(df: DataFrame, keys: Column*): DataFrame =
    (if (keys.isEmpty) df else df.repartition(keys: _*)).localCheckpoint(true)

  /** A bounded relation read from many plan positions, cached at ONE
    * partition and filled eagerly (registered with [[CacheScope]]).
    * `repartition(1)`, not `coalesce(1)`: a coalesce's narrow dependency
    * reaches down to the nearest exchange and single-threads everything
    * above it, the source scan included when there is none.
    */
  def single(df: DataFrame): DataFrame = {
    val one = CacheScope.cached(df.repartition(1))
    one.count()
    one
  }

  /** A provably small relation (codebooks, centroids, probe lists)
    * collected and rebuilt as a driver-local relation, cutting the
    * corpus-scale lineage out of every downstream plan that joins it.
    */
  def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
}
