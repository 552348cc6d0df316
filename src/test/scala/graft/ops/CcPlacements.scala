package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two placements of [[DedupQueries.clusterLabels]]' work. At the
  * session's broadcast threshold a graph that fits is finished in memory;
  * at `-1` star contraction runs to its fixed point on the cluster. CC
  * tests run their body under both and compare. */
object CcPlacements {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` under `key = value`, the previous setting restored after. */
  def withConf[A](spark: SparkSession, key: String, value: String)(
      body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` star-only (threshold `-1`). */
  def starOnly[A](spark: SparkSession)(body: => A): A =
    withConf(spark, Threshold, "-1")(body)

  /** A `(doc_id, cluster)` frame as a map. */
  def labelMap(labels: DataFrame): Map[Long, Long] =
    labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `(in-memory finish, star to its fixed point)` results of `body`. */
  def both[A](spark: SparkSession)(body: => A): (A, A) =
    (body, starOnly(spark)(body))
}
