package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-regime input: an n× replica of a test-data dir (sf0.1 for the
  * scale runs), for measuring parallel work that the sf0.1 board (~17 MB,
  * stage-floor bound) cannot show.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sf0.1 dir> sbt "Test/runMain
  * graft.tools.Replica [n] [outDir]"` (defaults: 8, /tmp/sf0.8). Point
  * `graft.Bench` at the result with `SPARK_GRAFT_SF_DIR=<outDir>`. The
  * replica is perf-only: the DuckDB oracle never sees it.
  *
  * Keys stay FK-consistent: each key column shifts by copy × (max(key)+1)
  * of its domain, so orders still join customers, lineitem still joins
  * orders/part/supplier and embeddings still join documents. Documents
  * get per-copy word prefixes (disjoint shingle spaces, so n× is n
  * disjoint similarity problems and measures volume), and embeddings a
  * per-copy circular rotation (distinct directions, no engineered
  * duplication). region/nation stay single-copy dimensions.
  */
object Replica {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 8
    val out = if (args.length > 1) args(1) else "/tmp/sf0.8"
    val in = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the test-data dir to replicate"))
    val spark = graft.GraftSession.local(
      Runtime.getRuntime.availableProcessors, appName = "graft-replica")
    def rd(t: String): DataFrame = spark.read.parquet(s"$in/$t.parquet")

    def dom(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1L

    val kCust = dom(rd("customer"), "c_custkey")
    val kOrd = dom(rd("orders"), "o_orderkey")
    val kPart = dom(rd("part"), "p_partkey")
    val kSupp = dom(rd("supplier"), "s_suppkey")
    val kDoc = math.max(dom(rd("documents"), "doc_id"),
      dom(rd("embeddings"), "vec_id"))
    val kEvent = dom(rd("events"), "event_id")
    val kUser = dom(rd("events"), "user_id")

    /** n copies of `df`, each key column shifted by copy × its domain. */
    def times(df: DataFrame, offsets: Map[String, Long],
              extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until n).map { c =>
        val shifted = offsets.foldLeft(df) { case (d, (k, span)) =>
          d.withColumn(k, col(k) + lit(c * span))
        }
        extra(shifted, c)
      }.reduce(_ union _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[replica] wrote $name")
    }

    write("region", rd("region"))
    write("nation", rd("nation"))
    write("customer", times(rd("customer"), Map("c_custkey" -> kCust)))
    write("supplier", times(rd("supplier"), Map("s_suppkey" -> kSupp)))
    write("part", times(rd("part"), Map("p_partkey" -> kPart)))
    write("orders", times(rd("orders"),
      Map("o_orderkey" -> kOrd, "o_custkey" -> kCust)))
    write("lineitem", times(rd("lineitem"),
      Map("l_orderkey" -> kOrd, "l_partkey" -> kPart, "l_suppkey" -> kSupp)))
    write("events", times(rd("events"),
      Map("event_id" -> kEvent, "user_id" -> kUser)))
    write("documents", times(rd("documents"), Map("doc_id" -> kDoc),
      (d, c) => d.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", s"c${c}_$$1"))))
    // circular rotation by copy index: distinct directions per copy, same
    // norms — 64-dim embeddings, copies capped far below 64 by the octave
    write("embeddings", times(rd("embeddings"), Map("vec_id" -> kDoc),
      (d, c) =>
        if (c == 0) d
        else d.withColumn("embedding",
          expr(s"concat(slice(embedding, ${c + 1}, ${64 - c})," +
            s" slice(embedding, 1, $c))"))))
    println(s"[replica] done: $out (${n}x $in)")
    spark.stop()
  }
}
