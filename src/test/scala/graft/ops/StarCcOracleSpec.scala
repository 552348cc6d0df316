package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, SparkTestBase}

/** Answer-level pins for [[DedupQueries.clusterLabels]]. The default
  * placement (in-memory union-find finish under the broadcast threshold) is
  * the one the DuckDB twin hash-verifies; each test also runs star
  * contraction to its fixed point (threshold `-1`) and requires the same
  * labels, which chains the distributed path to the oracle. Two pins
  * cover inputs the fixture lacks: edge endpoints outside the universe
  * (restricted once, not joined per round) and a long path graph, the
  * worst case for edge-only propagation. */
class StarCcOracleSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.01"

  private def labelsOf(universe: DataFrame, edges: DataFrame,
                       maxRounds: Int = 50): Map[Long, Long] =
    CcPlacements.labelMap(
      DedupQueries.clusterLabels(universe, edges, maxRounds))

  private def chain(n: Long) = {
    val universe = spark.range(0, n).select(col("id").as("doc_id"))
    val edges = spark.range(0, n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    (universe, edges)
  }

  test("q_dedup_clusters: star to its fixed point matches the in-memory " +
    "finish on sf0.01") {
    val run = SparkEntry.queries("q_dedup_clusters")
    val (inMemory, star) = CcPlacements.both(spark) {
      run(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(inMemory.nonEmpty && star == inMemory)
    // one row per document, and some documents really do cluster
    assert(inMemory.map(_._1).size == inMemory.size)
    assert(inMemory.exists { case (d, c) => d != c })
  }

  test("clusterLabels: 400-chain + 30-clique + isolates, both placements") {
    import spark.implicits._
    // the chain needs many star rounds, the clique converges at once, and
    // the isolates must label themselves
    val universe = spark.range(0, 450).select(col("id").as("doc_id"))
    val chainEdges = (0L until 399L).map(i => (i, i + 1))
    val clique = for (i <- 400L until 430L; j <- i + 1 until 430L) yield (i, j)
    val edges = (chainEdges ++ clique).toDF("doc_a", "doc_b")
    val (inMemory, star) = CcPlacements.both(spark)(labelsOf(universe, edges))
    assert(star === inMemory)
    assert(inMemory.keySet === (0L until 450L).toSet)
    (0L until 400L).foreach(i => assert(inMemory(i) === 0L, s"node $i"))
    (400L until 430L).foreach(i => assert(inMemory(i) === 400L, s"node $i"))
    (430L until 450L).foreach(i => assert(inMemory(i) === i, s"node $i"))
  }

  test("clusterLabels: a round cap of 1 on a 100-node chain throws") {
    val (universe, edges) = chain(100)
    val e = intercept[IllegalStateException] {
      CcPlacements.starOnly(spark)(labelsOf(universe, edges, maxRounds = 1))
    }
    assert(e.getMessage.contains("did not converge in 1 rounds"), e.getMessage)
    assert(e.getMessage.contains("edges left"), e.getMessage)
    // under the threshold the same graph needs no round at all
    assert(labelsOf(universe, edges, maxRounds = 1).values.forall(_ == 0L))
  }

  test("clusterLabels: with the threshold at -1 each star round is one job") {
    // AQE submits every shuffle stage as its own map-stage job; without it
    // a job is one action, which is what the round structure fixes
    val (universe, edges) = chain(100)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def run(cap: Int): Unit = DedupQueries.clusterLabels(universe, edges, cap)
    val aqe = "spark.sql.adaptive.enabled"
    val counted = CcPlacements.withConf(spark, aqe, "false") {
      CcPlacements.starOnly(spark) {
        ListenerDrain(spark.sparkContext)
        spark.sparkContext.addSparkListener(listener)
        try { run(50); ListenerDrain(spark.sparkContext) }
        finally spark.sparkContext.removeSparkListener(listener)
        val n = jobs.get // the edge-list checkpoint + one job per round
        // so the rounds are exactly n - 1: that cap suffices, one less throws
        run(n - 1)
        intercept[IllegalStateException](run(n - 2))
        n
      }
    }
    assert(counted > 2, s"$counted jobs: the chain needs several rounds")
  }

  test("clusterLabels: edge endpoints outside the universe neither " +
    "surface rows nor perturb labels") {
    import spark.implicits._
    // universe 0..9; edges chain 0-1-2, pair (5,6), PLUS junk edges whose
    // doc_a (100) and doc_b (200) are outside the universe, and one (-1)
    // that would relabel the chain if it were let in
    val universe = spark.range(0, 10).select(col("id").as("doc_id"))
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 6L), (100L, 1L), (5L, 200L),
      (-1L, 2L)).toDF("doc_a", "doc_b")
    val (got, star) = CcPlacements.both(spark) {
      CcPlacements.labelMap(DedupQueries.clusterLabels(universe, edges))
    }
    assert(got.keySet === (0L until 10L).toSet) // exactly the universe
    assert(got(0L) == 0L && got(1L) == 0L && got(2L) == 0L)
    assert(got(5L) == 5L && got(6L) == 5L)
    assert((3L to 4L).forall(i => got(i) == i) &&
      (7L to 9L).forall(i => got(i) == i))
    assert(got === star)
  }

  test("clusterLabels: a 41-node chain collapses to min under both placements") {
    // path graph 0–1–2–…–40: worst case for edge-only propagation (41
    // rounds). All nodes must label 0.
    val n = 41
    val uSchema = StructType(Seq(StructField("doc_id", LongType)))
    val eSchema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    val universe = mkDf(uSchema, (0 until n).map(i => Row(i.toLong)))
    val edges = mkDf(eSchema,
      (0 until n - 1).map(i => Row(i.toLong, (i + 1).toLong)))
    val (got, star) = CcPlacements.both(spark) {
      CcPlacements.labelMap(DedupQueries.clusterLabels(universe, edges))
    }
    assert(got.size === n)
    assert(got.values.forall(_ == 0L))
    assert(got === star)
  }
}
