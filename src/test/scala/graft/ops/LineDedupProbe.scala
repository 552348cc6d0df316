package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** VERDICT r9 #8 (stretch): q_line_dedup's residual — can the partial
  * SortAggregate before the line-key exchange be deleted by
  * pre-partitioning the Generate output on the line key?
  *
  * With one group per DISTINCT line, the pre-exchange partial aggregate
  * reduces shuffle volume only by the (tiny) intra-partition duplicate
  * rate, yet pays a full sort of the exploded line stream BEFORE the
  * exchange. `repartition(line)` moves raw rows instead: the aggregate's
  * clustering requirement is already satisfied, partial+final run
  * ADJACENT in the post-exchange stage around ONE sort — one corpus-sized
  * sort instead of two.
  *
  * Interleaved one-JVM A/B (PERF.md methodology rule 1). Measured r10 at
  * sf0.1 (min/med of 9): partial-first 0.90/1.00, repart-first 0.86/0.93,
  * repart-both 0.86/0.95 — the line-key pre-partition is a genuine ~7%
  * win (plan confirmed: ONE post-exchange sort, partial+final
  * SortAggregates adjacent in the same stage) and is now the registered
  * shape; pre-partitioning the doc_id regroup as well is a wash
  * (ObjectHashAggregate's partial does not sort, so there is no second
  * sort to delete) and is NOT adopted.
  * Usage: Test/runMain graft.ops.LineDedupProbe <sfDir> [reps]
  */
object LineDedupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 7
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the registered query's synthetic multi-line corpus, built once
    def corpus: DataFrame = graft.tables.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), concat_ws("\n", expr(
        "transform(sequence(0, CAST(ceil(size(w) / 5.0) AS INT) - 1)," +
          " i -> concat(concat_ws(' ', slice(w, i * 5 + 1, 5)), '.'))"))
        .as("text"))

    def body(prePartition: Boolean, preRegroup: Boolean = false): DataFrame = {
      val lines = corpus
        .select(col("doc_id"),
          size(split(col("text"), "\n", -1)).cast("long").as("n_lines"),
          posexplode(split(col("text"), "\n", -1)).as(Seq("idx", "raw")))
        .select(col("doc_id"), col("n_lines"), col("idx"),
          trim(col("raw")).as("line"))
        .filter(col("line").rlike("[.!?]$") &&
          size(split(col("line"), "\\s+")) >= 5)
      val keyed = if (prePartition) lines.repartition(col("line")) else lines
      val winners = keyed
        .groupBy("line")
        .agg(min(struct(col("doc_id"), col("idx"), col("n_lines"))).as("w"))
        .select(col("w.doc_id").as("doc_id"), col("w.idx").as("idx"),
          col("w.n_lines").as("n_lines"), col("line"))
      (if (preRegroup) winners.repartition(col("doc_id")) else winners)
        .groupBy("doc_id")
        .agg(first(col("n_lines")).as("n_lines"),
          count(lit(1)).as("n_kept"),
          concat_ws("\n", expr(
            "transform(array_sort(collect_list(struct(idx, line)))," +
              " x -> x.line)")).as("clean_text"))
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          col("clean_text"))
    }

    def t(df: => DataFrame): Double = {
      System.gc()
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }

    val acc = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (_ <- 1 to reps) {
      acc("partial-first") ::= t(body(prePartition = false))
      acc("repart-first") ::= t(body(prePartition = true))
      acc("repart-both") ::= t(body(prePartition = true, preRegroup = true))
    }
    for (name <- Seq("partial-first", "repart-first", "repart-both")) {
      val vs = acc(name).sorted
      println(f"PROBE $name%-14s min=${vs.head}%.3f med=${vs(vs.size / 2)}%.3f")
    }
    spark.stop()
  }
}
