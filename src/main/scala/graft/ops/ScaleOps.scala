package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale toolkit: the shuffle-shaping primitives a 100 TB deployment leans
  * on — bucketed co-located joins, skew salting, and partition sizing.
  * Each helper is a thin, tested wrapper over the idiomatic Spark mechanism
  * (never a reimplementation).
  */
object ScaleOps {

  /** Write `df` as a bucketed+sorted managed table. Two tables bucketed the
    * same way join WITHOUT a shuffle (Exchange elided by Catalyst's output-
    * partitioning match) — the co-located-join layout for repeatedly-joined
    * 100 TB facts (e.g. blocks ⋈ committees on slot keys). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** Salted join for skewed keys: explode the build side over `salts`
    * replicas, scatter the probe side uniformly, join on (key, salt). The
    * classic remedy when one hot key (an LSH bucket, a whale customer)
    * overwhelms a single reducer. `dim` is replicated `salts`× — use for
    * moderate-size build sides only; for broadcastable dims just broadcast.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(salts > 0)
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    val saltedDim = dim
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    saltedFact.join(saltedDim, Seq(key, "__salt"), joinType).drop("__salt")
  }

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

  /** Repartition to a target in-memory partition size using a driver-side
    * size estimate (catalyst stats). `targetBytes` defaults to 128 MB — the
    * spill-safe sweet spot for 4 GB executors. */
  def repartitionBySize(df: DataFrame, targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    val sizeEst = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = math.max(1, (sizeEst / BigInt(targetBytes)).toInt)
    df.repartition(parts)
  }

  /** Range-partition + sort within partitions: the write layout for
    * key-range-scanned tables (slot/time ranges) — min/max stats per file
    * let the reader skip row groups. */
  def sortedLayout(df: DataFrame, cols: Column*): DataFrame =
    df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)

  /** Interval join without a nested loop (C10 as a reusable shape): match
    * `probe.value ∈ [build.lo, build.hi)` by overlapping each interval onto
    * fixed-width bands, equi-joining on the band key, and re-checking the
    * exact bounds as a residual predicate. `BroadcastNestedLoopJoin` over
    * intervals is O(probe × build); this is O(probe + build × spanned
    * bands) and hash-joins — the only shape that survives when both sides
    * are large. `bandWidth` trades replication (wide intervals span more
    * bands) against band-key selectivity. */
  def bandedIntervalJoin(probe: DataFrame, build: DataFrame, valueCol: String,
                         loCol: String, hiCol: String, bandWidth: Double,
                         joinType: String = "inner"): DataFrame = {
    require(bandWidth > 0)
    val p = probe.withColumn("__band",
      floor(col(valueCol) / bandWidth).cast("long"))
    // hi is exclusive: an interval ending exactly on a band edge does not
    // reach into that band
    val hiBand = (floor(col(hiCol) / bandWidth) -
      when(pmod(col(hiCol), lit(bandWidth)) === 0.0, 1).otherwise(0)).cast("long")
    val b = build.filter(col(loCol) < col(hiCol)) // empty intervals match nothing
      .withColumn("__band",
        explode(sequence(floor(col(loCol) / bandWidth).cast("long"), hiBand)))
    p.join(b, p("__band") === b("__band") &&
        col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol), joinType)
      .drop("__band")
  }
}
