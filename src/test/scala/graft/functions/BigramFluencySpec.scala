package graft.functions

import graft.SparkTestBase

/** Hardening contract of the registered `bigram_fluency` SQL function —
  * the internal call sites (lmFluency, fluencyScoreStream) satisfy these
  * preconditions by construction, but direct SQL use must not be able to
  * kill a whole task with ArithmeticException / AIOOBE. */
class BigramFluencySpec extends SparkTestBase {

  private def fluency(h: String, c1: String, c2: String) = {
    GraftFunctions.register(spark)
    spark.range(1).selectExpr(s"bigram_fluency($h, $c1, $c2) AS z")
      .collect()(0)
  }

  test("empty count arrays return null, not x % 0") {
    assert(fluency("array(1L, 2L)", "array()", "array(5L)").isNullAt(0))
    assert(fluency("array(1L, 2L)", "array(5L)", "array()").isNullAt(0))
  }

  test("negative hash elements bucket via floor-mod instead of throwing") {
    val z = fluency("array(-7L, -3L, 11L)", "array(2L, 4L)",
      "array(1L, 0L, 3L)").getStruct(0)
    assert(z.getLong(0) === 2L) // n = size(h) - 1
    assert(z.getLong(1) > 0L)   // every bigram scored, no exception
  }

  test("floor-mod agrees with % on the non-negative hashes md5_low63 emits") {
    GraftFunctions.register(spark)
    val df = spark.range(40).selectExpr(
      "transform(sequence(0, CAST(id % 7 + 2 AS INT)), " +
        "i -> md5_low63(CAST(id * 13 + i AS STRING))) AS h",
      "transform(sequence(1, 64), i -> CAST(i % 9 AS BIGINT)) AS c1",
      "transform(sequence(1, 256), i -> CAST(i % 5 AS BIGINT)) AS c2")
    // composed HOF reference — the original % arithmetic, verbatim
    val hof = df.selectExpr(
      """aggregate(sequence(1, size(h) - 1),
           CAST(0 AS BIGINT),
           (acc, i) -> acc + CAST(round(
             (element_at(c2, CAST(((element_at(h, i) % 256) * 31 +
                element_at(h, i + 1) % 256) % 256 AS INT) + 1) + 1.0)
             / (element_at(c1, CAST(element_at(h, i) % 64 AS INT) + 1) + 256.0)
             * 1048576.0) AS BIGINT)) AS s""").collect().map(_.getLong(0))
    val native = df.selectExpr("bigram_fluency(h, c1, c2).s AS s")
      .collect().map(_.getLong(0))
    assert(native.toSeq === hof.toSeq)
    assert(native.exists(_ > 0))
  }
}
