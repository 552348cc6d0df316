package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session factory, and the one place per-session set-up and
  * per-session state are defined.
  *
  * Every session the program runs on is built by [[configure]] or [[local]]
  * (the Bench and Verify mains, `Eth2Job`, perfbench's harness, the tests).
  * The session conf names [[graft.functions.GraftExtensions]], the only
  * install path of the engine's SQL functions and of the
  * [[graft.plans.PartitionDateRewrite]] optimizer rule; sessions derived
  * from a graft session (`newSession`, a streaming `foreachBatch` clone)
  * get both too. A session built any other way fails at analysis on the
  * first graft function with an unresolved-function error.
  *
  * Forced, because the engine is wrong without them:
  * - the extension above;
  * - UTC session timezone: the reference pipeline is UTC end-to-end
  *   (the reference's `build_hourly_export_dag.py:241-242`);
  * - `nanosAsLong`: the testdata `events` table stores TIMESTAMP(NANOS)
  *   which the parquet reader otherwise rejects.
  *
  * Defaults, applied only where the launcher's conf (a `spark-submit
  * --conf`, a `-Dspark.…` property) does not set the key: parquet
  * aggregate push-down on and the Spark UI off.
  *
  * ANSI mode stays at the Spark 4 default (on): the verify stage's
  * failing-CAST assertion channel
  * (the reference's `stages/verify/sqls/blocks_count.sql:11`)
  * only throws under ANSI semantics; non-ANSI would return NULL and
  * silently pass a failed check.
  *
  * No write mode is set here: every beacon-table write replaces one
  * directory through [[graft.io.BeaconIO.commit]], so the session's
  * partition-overwrite mode never decides what a write replaces.
  */
object GraftSession {

  private val Forced = Seq(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  private val Defaults = Seq(
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.ui.enabled" -> "false")

  /** Mutate an existing builder with graft's conf (callers pick master). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = {
    val launcher = new SparkConf()
    (Forced ++ Defaults.filterNot { case (k, _) => launcher.contains(k) })
      .foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
  }

  /** Local session for tests/tools; `cores` also sizes shuffle partitions —
    * on a real cluster that conf scales with executor count instead. */
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cores))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A value computed once per (session, key) and served from then on.
    *
    * The session is held weakly and compared by identity, so a closed
    * session's entries go with it, and a new session, `newSession` included,
    * computes every value again. Within one session the key alone decides:
    * a fixture path whose contents are rewritten keeps serving the value
    * computed from the old contents, so open a new session after mutating a
    * fixture directory.
    *
    * One instance per cache: a `compute` may read another memo (k-means
    * training reads the IVF seed), and a nested `computeIfAbsent` on one
    * `ConcurrentHashMap` throws "Recursive update". */
  private[graft] final class Memo[K, V] {
    private val bySession = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[K, V]]())

    def apply(s: SparkSession, key: K)(compute: => V): V =
      bySession.computeIfAbsent(s, _ => new ConcurrentHashMap[K, V]())
        .computeIfAbsent(key, _ => compute)
  }
}
