package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** r17 registry-maintenance harness (VERDICT r16 #5): drives
  * [[BeaconStreaming.substrDedupBatch]] over 16 ordered
  * batches (one replicated copy each — constant batch size, linearly
  * growing registry because copies have disjoint gram spaces) and reads
  * the per-batch wall as the registry grows. The r16 registry commit
  * rewrote O(registry) per batch via the generation swap; r17 appends
  * O(delta). For contrast the harness also times ONE full-registry
  * rewrite through BeaconIO.commit at the final size — the per-batch
  * price the swap path would have paid at that point.
  *
  * Run: sbt "Test/runMain graft.streaming.R17Registry". Results in
  * PERF.md. (ADVICE r17: this object lives in graft.streaming — the
  * doc previously named graft.ops and the command failed.)
  */
object R17Registry {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1L
    def copy(c: Int): DataFrame =
      docs.select((col("doc_id") + lit(c * maxDoc)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"c${c}_$$1").as("text"))

    val base = java.nio.file.Files
      .createTempDirectory("r17registry").toString
    val reg = s"$base/reg"

    // warm-up on a throwaway registry, untimed
    BeaconStreaming.substrDedupBatch(
      copy(99), s"$base/regwarm", s"$base/outwarm/batch=0", 50, 0L)

    println(f"${"batch"}%-6s ${"registry_rows"}%14s ${"batch_s"}%8s")
    for (k <- 0 until 16) {
      System.gc()
      val t0 = System.nanoTime()
      BeaconStreaming.substrDedupBatch(
        copy(k), reg, s"$base/out/batch=$k", 50, k.toLong)
      val tB = (System.nanoTime() - t0) / 1e9
      val rows = spark.read.parquet(reg).count()
      println(f"${k}%-6d ${rows}%14d ${tB}%8.3f")
    }
    // contrast: what ONE O(registry) rewrite costs at the final size
    val full = spark.read.parquet(reg)
    System.gc()
    val t0 = System.nanoTime()
    graft.io.BeaconIO.commit(full, s"$base/regswap")
    println(f"one full-registry rewrite at final size: " +
      f"${(System.nanoTime() - t0) / 1e9}%.3f s")
    spark.stop()
  }
}
