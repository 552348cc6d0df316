package graft.ops

import org.apache.spark.sql.SparkSession

/** Stage decomposition probe for q_ann_ivfpq (r10). Measured: with the
  * post-explode row filter, the fan-out stage cost 0.95 s of the 1.4 s
  * total (steady-state, caches warm) — kmeansAssign alone 0.16 s,
  * +pqAssign 0.42 s — because the filter was alias-substituted below the
  * Generate and re-evaluated the whole candidate array per predicate
  * reference. Nulling non-hits inside the array + an in-projection HOF
  * filter cut the query to 0.58 s min (0.83× its twin); the same shape
  * then cut q_ann_pq 1.13 → 0.72 s. Kept as the measurement record. */
object IvfpqProbe {
  def main(args: Array[String]): Unit = {
    val d = "/root/testdata/sf0.1"
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val cents = SimilarityQueries.kmeansCentroidsCached(spark, d)
    val books = SimilarityQueries.pqCodebooksCached(spark, d)
    val e = graft.tables.Tables.embeddings(spark, d).select("vec_id", "embedding")
    def t(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    for (r <- 1 to 3) {
      val ta = t { SimilarityQueries.kmeansAssign(e, cents).queryExecution.toRdd.count() }
      val tb = t { SimilarityQueries.pqAssign(SimilarityQueries.kmeansAssign(e, cents), books).queryExecution.toRdd.count() }
      val tc = t { SimilarityQueries.queries("q_ann_ivfpq")(spark, d).queryExecution.toRdd.count() }
      println(f"PROBE rep$r kmeansAssign=$ta%.3f +pqAssign=$tb%.3f full=$tc%.3f")
    }
    spark.stop()
  }
}
