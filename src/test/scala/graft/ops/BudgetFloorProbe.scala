package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}

/** Stage-by-stage floor decomposition for q_budget_sample (VERDICT r13
  * #1 — 7.0× min vs its settled 0.139/0.160 s twin, the heaviest
  * registered query with no floor account).
  *
  * The PRE-r14 registered plan paid the corpus tokenize in FOUR separate
  * subtrees per execution: the main per-doc stream, the shard-offsets
  * aggregate branch, and `unimaxAlloc(base)`'s per-source aggregate plus
  * its two scalar subqueries (st / kq), each owning a full
  * scan+tokenize. The r14 diet pins statistics to ONE bounded
  * (#sources × shards)-row aggregate, eagerly checkpointed, from which
  * shard offsets AND the UniMax allocation both derive — leaving exactly
  * two corpus tokenize passes (stats spine + the unavoidable per-doc
  * stream).
  *
  * Interleaved variants, one JVM:
  *   count    — bare documents scan floor
  *   tok      — the tokenize+md5+shard projection pass alone
  *   agg      — tok + the bounded (source, shard) aggregate (the stats
  *              spine, uncheckpointed)
  *   alloc    — unimaxAlloc(base) alone (the old allocation's cost:
  *              per-source tokenize agg + 2 scalar-subquery scans)
  *   old      — the pre-r14 composition reconstructed inline (offsets
  *              branch from docs + unimaxAlloc(base) broadcast)
  *   full     — the registered post-diet q_budget_sample
  *   1pass    — candidate further diet: docs ALSO localCheckpoint'd so
  *              the per-doc stream re-reads the materialized narrow
  *              projection instead of re-tokenizing
  *
  * Usage: Test/runMain graft.ops.BudgetFloorProbe <sfDir> [reps]
  */
object BudgetFloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 7
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    import graft.tables.Tables

    def base = Tables.documents(spark, sfDir)
    val shards = CorpusQueries.BudgetShards
    val shift = 63 - Integer.numberOfTrailingZeros(shards)

    def docsOf(b: DataFrame): DataFrame = b.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        expr("md5_low63(CAST(doc_id AS STRING))").as("ord"))
      .withColumn("shard", shiftright(col("ord"), shift))

    val wShard = Window.partitionBy("source").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wIn = Window.partitionBy("source", "shard")
      .orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)

    // the pre-r14 composition, verbatim shape
    def oldFull(): DataFrame = {
      val docs = docsOf(base)
      val offsets = docs.groupBy("source", "shard")
        .agg(sum("n_tokens").as("shard_tokens"))
        .withColumn("shard_before",
          coalesce(sum("shard_tokens").over(wShard), lit(0L)))
        .select("source", "shard", "shard_before")
      docs
        .join(broadcast(CorpusQueries.unimaxAlloc(base)
          .select("source", "alloc")), Seq("source"))
        .join(broadcast(offsets), Seq("source", "shard"))
        .withColumn("tokens_before",
          col("shard_before") + coalesce(sum("n_tokens").over(wIn), lit(0L)))
        .filter(col("tokens_before") < col("alloc"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("tokens_before"))
    }

    // the post-diet shape with docs ALSO materialized (one tokenize total)
    def onePass(): DataFrame = {
      val docs = docsOf(base).localCheckpoint(true)
      val shardTotals = docs.groupBy("source", "shard")
        .agg(sum("n_tokens").as("shard_tokens"))
        .localCheckpoint(true)
      val offsets = shardTotals
        .withColumn("shard_before",
          coalesce(sum("shard_tokens").over(wShard), lit(0L)))
        .select("source", "shard", "shard_before")
      val perSource = shardTotals.groupBy("source")
        .agg(sum("shard_tokens").as("n_tokens"))
      docs
        .join(broadcast(CorpusQueries.unimaxAllocFromTotals(perSource)
          .select("source", "alloc")), Seq("source"))
        .join(broadcast(offsets), Seq("source", "shard"))
        .withColumn("tokens_before",
          col("shard_before") + coalesce(sum("n_tokens").over(wIn), lit(0L)))
        .filter(col("tokens_before") < col("alloc"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("tokens_before"))
    }

    // driver-side bounded stats: one collect of the (source, shard)
    // aggregate; UniMax alloc + shard offsets computed in Scala; ONE
    // broadcast lookup join in the main stream
    def driverStats(ckptDocs: Boolean): DataFrame = {
      import spark.implicits._
      val docs = if (ckptDocs) docsOf(base).localCheckpoint(true)
                 else docsOf(base)
      val stRows = docs.groupBy("source", "shard")
        .agg(sum("n_tokens").as("shard_tokens"))
        .collect()
      val totals = stRows.groupBy(_.getString(0)).view
        .mapValues(_.map(_.getLong(2)).sum).toSeq
      // the registered budgetSample's E, not a copy of its value
      val alloc = CorpusQueries.unimaxAllocLocal(totals, CorpusQueries.UnimaxEpochs)
      val lookup = stRows.groupBy(_.getString(0)).toSeq.flatMap {
        case (src, rows) =>
          val sorted = rows.sortBy(_.getLong(1))
          val pre = sorted.scanLeft(0L)(_ + _.getLong(2)).init
          sorted.zip(pre).map { case (r, p) =>
            (src, r.getLong(1), p, alloc(src))
          }
      }.toDF("source", "shard", "shard_before", "alloc")
      docs
        .join(broadcast(lookup), Seq("source", "shard"))
        .withColumn("tokens_before",
          col("shard_before") + coalesce(sum("n_tokens").over(wIn), lit(0L)))
        .filter(col("tokens_before") < col("alloc"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("tokens_before"))
    }

    def t(body: => Unit): Double = {
      System.gc()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    val acc = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (_ <- 1 to reps) {
      acc("count") ::= t { base.queryExecution.toRdd.count() }
      acc("tok") ::= t { docsOf(base).queryExecution.toRdd.count() }
      acc("agg") ::= t {
        docsOf(base).groupBy("source", "shard")
          .agg(sum("n_tokens").as("shard_tokens"))
          .queryExecution.toRdd.count()
      }
      acc("alloc") ::= t {
        CorpusQueries.unimaxAlloc(base).queryExecution.toRdd.count()
      }
      acc("old") ::= t { oldFull().queryExecution.toRdd.count() }
      acc("full") ::= t {
        SparkEntry.queries("q_budget_sample")(spark, sfDir)
          .queryExecution.toRdd.count()
      }
      acc("1pass") ::= t { onePass().queryExecution.toRdd.count() }
      acc("drv") ::= t { driverStats(true).queryExecution.toRdd.count() }
      acc("drv-nc") ::= t { driverStats(false).queryExecution.toRdd.count() }
    }
    for (name <- Seq("count", "tok", "agg", "alloc", "old", "full", "1pass",
        "drv", "drv-nc")) {
      val vs = acc(name).sorted
      println(f"PROBE $name%-8s min=${vs.head}%.3f med=${vs(vs.size / 2)}%.3f")
    }
    spark.stop()
  }
}
