package graft.ops

import org.apache.spark.sql.DataFrame

/** Scale toolkit: the two partition- and storage-shaping helpers the
  * registered queries call — re-spreading an under-partitioned scan and
  * releasing a checkpointed round's blocks. Each is a thin wrapper over the
  * idiomatic Spark mechanism (never a reimplementation).
  */
object ScaleOps {

  /** Re-spread an under-partitioned scan before a CPU-heavy per-row stage
    * (hashing every shingle, dotting every embedding).
    *
    * Parquet scan parallelism is bounded by ROW-GROUP count, not file size:
    * a single-row-group file scans as one task no matter how many cores the
    * cluster has, and everything fused into that scan stage (explode + hash
    * chains) runs single-threaded. When — and only when — the scan yields
    * fewer partitions than the session's parallelism, shuffle by `key` up
    * to the default parallelism. Choosing the downstream aggregation key
    * means the later `groupBy(key)` REUSES this hash partitioning instead
    * of exchanging the (much wider) fanned-out stream — the exchange moves
    * BEFORE the fan-out, where rows are narrowest.
    *
    * At production scale a 100 TB table has orders of magnitude more row
    * groups than cores, the guard sees an already-parallel scan, and this
    * is a no-op — the guard is what keeps the pattern scale-safe (an
    * unconditional repartition would shuffle the full input). The explicit
    * partition count also keeps AQE from coalescing the small bench
    * exchange back down to one partition.
    *
    * Round-robin on purpose, NOT by the downstream aggregation key:
    * key-aligned spreading pre-satisfies the later groupBy's distribution,
    * Catalyst then plans NO exchange after the aggregate — and a plan with
    * multiple consumers of that aggregate loses exchange reuse and
    * re-executes the whole upstream pipeline per consumer (measured 3× on
    * the Jaccard query). Round-robin leaves the aggregate's own exchange in
    * place as the shared materialization boundary, and that exchange is
    * narrow anyway (map-side partial aggregation crosses it, not the
    * fanned-out stream). */
  def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** Release the storage blocks behind an eagerly `localCheckpoint`ed
    * DataFrame once no consumer will read it again. Iterative operators
    * ([[graft.ops.DedupQueries.clusterLabels]]) checkpoint per round to
    * truncate lineage; without an explicit unpersist the superseded rounds'
    * blocks accumulate in the BlockManager for the life of the session —
    * harmless at fixture scale, but under host memory pressure the GC tail
    * lands on them and amplifies every later query (measured 16–22× on the
    * round-4 recorded bench). Walks the narrow dependency chain to the
    * persisted RDD, so it also works on a projection OF a checkpointed
    * frame. Non-blocking: the loop should not stall on block removal. */
  def freeBlocks(df: DataFrame): Unit = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) {
        r.unpersist(blocking = false)
      } else r.dependencies.foreach(d => walk(d.rdd))
    walk(df.rdd)
  }
}
