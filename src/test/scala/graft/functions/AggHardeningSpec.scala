package graft.functions

import graft.SparkTestBase

/** Hardening contracts of the registered model-fit aggregates — internal
  * call sites satisfy these preconditions by construction (md5_low63 is
  * non-negative, term_counts never emits a null tf), but the functions are
  * registered for general SQL use, where a hostile input must degrade to a
  * clean skip or a valid bucket rather than kill the task. */
class AggHardeningSpec extends SparkTestBase {

  private def one(sql: String) = {
    spark.range(1).selectExpr(s"$sql AS z").collect()(0)
  }

  test("bigram_counts: negative hash elements bucket via floor-mod, no AIOOBE") {
    val z = one("bigram_counts(array(-7L, -3L, 11L), 8, 16)").getStruct(0)
    val c1 = z.getSeq[Long](0)
    val c2 = z.getSeq[Long](1)
    assert(c1.sum === 2L) // the LEFT element of every adjacent pair
    assert(c2.sum === 2L) // every adjacent pair bucketed
    // floor-mod buckets, hand-computed: lefts -7 mod 8 = 1, -3 mod 8 = 5
    assert(c1(1) === 1L && c1(5) === 1L)
  }

  test("bigram_counts: floor-mod is bit-identical to % on non-negative hashes") {
    val df = spark.range(30).selectExpr(
      "transform(sequence(0, CAST(id % 5 + 2 AS INT)), " +
        "i -> md5_low63(CAST(id * 7 + i AS STRING))) AS h")
    // composed reference with the original % arithmetic (non-negative inputs)
    val ref = df.selectExpr(
      """aggregate(sequence(1, size(h) - 1), CAST(0 AS BIGINT),
           (acc, i) -> acc + CAST(((element_at(h, i) % 16) * 31 +
             element_at(h, i + 1) % 16) % 16 AS BIGINT)) AS s""")
      .agg(org.apache.spark.sql.functions.sum("s")).collect()(0).getLong(0)
    val z = df.agg(org.apache.spark.sql.functions.expr(
      "bigram_counts(h, 8, 16)")).collect()(0).getStruct(0)
    val c2 = z.getSeq[Long](1)
    assert(c2.zipWithIndex.map { case (c, i) => c * i }.sum === ref)
  }

  test("dsir_counts: a null tf entry contributes nothing") {
    val withNull = one(
      "dsir_counts(array(named_struct('term', 'x', 'tf', 3L), " +
        "named_struct('term', 'y', 'tf', CAST(NULL AS BIGINT))), true, 8)")
      .getStruct(0)
    val without = one(
      "dsir_counts(array(named_struct('term', 'x', 'tf', 3L)), true, 8)")
      .getStruct(0)
    assert(withNull === without)
  }

  test("probe_gram: tf=0 repeats with more entries than buckets do not overflow the active set") {
    // 5 zero-tf repeats of one term at B = 2: a counts==0 first-touch
    // marker would re-append the same bucket into a 2-slot array → AIOOBE.
    val zeros = Seq.fill(5)("named_struct('term', 'x', 'tf', 0L)").mkString(", ")
    val arr = s"array($zeros, named_struct('term', 'y', 'tf', 3L))"
    val z = one(s"probe_gram($arr, 1L, 2, 4)").getSeq[org.apache.spark.sql.Row](0)
    assert(z.size === 10) // fixed dense output: tri(3) + Xᵀy(3) + n = 6+3+1
    // and the zero-tf entries contribute nothing to the statistics
    val clean = one("probe_gram(array(named_struct('term', 'y', 'tf', 3L)), 1L, 2, 4)")
      .getSeq[org.apache.spark.sql.Row](0)
    assert(z === clean)
  }

  test("probe_gram: negative tf folding back to zero neither overflows nor corrupts") {
    // 'x' count goes 3 → 0 → 2; a counts==0 marker would append 'x' twice.
    val arr = "array(named_struct('term', 'x', 'tf', 3L), " +
      "named_struct('term', 'x', 'tf', -3L), " +
      "named_struct('term', 'x', 'tf', 2L), " +
      "named_struct('term', 'y', 'tf', 5L))"
    val z = one(s"probe_gram($arr, 1L, 2, 4)").getSeq[org.apache.spark.sql.Row](0)
    val folded = one("probe_gram(array(named_struct('term', 'x', 'tf', 2L), " +
      "named_struct('term', 'y', 'tf', 5L)), 1L, 2, 4)")
      .getSeq[org.apache.spark.sql.Row](0)
    assert(z === folded)
  }

  test("probe_score: tf=0 repeats with a small weight vector do not overflow the active set") {
    val zeros = Seq.fill(5)("named_struct('term', 'x', 'tf', 0L)").mkString(", ")
    val arr = s"array($zeros, named_struct('term', 'y', 'tf', 3L))"
    val wv = "array(0.5D, 0.25D, 1.0D)" // b = size - 1 = 2
    val hostile = one(s"probe_score($arr, $wv, 4)").getDouble(0)
    val clean = one(s"probe_score(array(named_struct('term', 'y', 'tf', 3L)), $wv, 4)")
      .getDouble(0)
    assert(hostile === clean)
  }

  test("dsir_score: a null tf entry contributes nothing") {
    val wv = "transform(sequence(1, 8), i -> CAST(i AS BIGINT))"
    val withNull = one(
      s"dsir_score(array(named_struct('term', 'x', 'tf', 2L), " +
        s"named_struct('term', 'y', 'tf', CAST(NULL AS BIGINT))), $wv)")
      .getStruct(0)
    val without = one(
      s"dsir_score(array(named_struct('term', 'x', 'tf', 2L)), $wv)")
      .getStruct(0)
    assert(withNull === without)
  }
}
