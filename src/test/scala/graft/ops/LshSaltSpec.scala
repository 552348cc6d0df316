package graft.ops

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase

/** Auto-salting of hot LSH buckets (VERDICT r5 stretch): the size-triggered
  * split in [[DedupQueries.lshPairsFromSig]] must emit EXACTLY the pairs the
  * unsalted path emits — every pair once, same shared_bands — on corpora
  * engineered to trip it. */
class LshSaltSpec extends SparkTestBase {

  private def pairsWith(sig: DataFrame, threshold: Int, salts: Int): Set[(Long, Long, Long)] =
    DedupQueries.lshPairsFromSig(sig, saltThreshold = threshold, salts = salts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("adversarial single bucket: salted pairs = unsalted pairs, C(n,2) of them") {
    import spark.implicits._
    // every doc shares ALL four band hashes — one bucket per band swallows
    // the whole corpus, the worst case the trigger exists for
    val n = 60
    val sig = (0 until n).map(i => (i.toLong, 7L, 11L, 13L, 17L))
      .toDF("doc_id", "mh0", "mh1", "mh2", "mh3")
    val unsalted = pairsWith(sig, threshold = 1 << 16, salts = 16)
    assert(unsalted.size == n * (n - 1) / 2)
    assert(unsalted.forall(_._3 == 4L)) // all pairs share all 4 bands
    for (salts <- Seq(1, 3, 4, 16)) {
      val salted = pairsWith(sig, threshold = 8, salts = salts)
      assert(salted == unsalted, s"salts=$salts")
    }
  }

  test("mixed corpus: hot and cold buckets coexisting, random band collisions") {
    import spark.implicits._
    val rnd = new scala.util.Random(60608)
    // 40 docs in one mega-bucket on band 0; all docs get random sparse
    // collisions on the other bands (hash space 6 ⇒ plenty of overlap)
    val rows = (0 until 120).map { i =>
      val mh0 = if (i < 40) 99L else rnd.nextLong(50)
      (i.toLong, mh0, rnd.nextLong(6), rnd.nextLong(6), rnd.nextLong(6))
    }
    val sig = rows.toDF("doc_id", "mh0", "mh1", "mh2", "mh3")
    val unsalted = pairsWith(sig, threshold = 1 << 16, salts = 16)
    val salted = pairsWith(sig, threshold = 10, salts = 5)
    assert(salted == unsalted)
    assert(unsalted.nonEmpty)
  }
}
