package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class WinnowFingerprintSpec extends SparkTestBase {

  /** Straight-line reference implementation (direct polynomial sum, no
    * rolling update) — the expression must agree exactly. */
  private def reference(t: String, gramLen: Int, window: Int): Seq[Long] = {
    val codes = t.codePoints().toArray
    val ng = codes.length - gramLen + 1
    val nw = ng - window + 1
    if (nw <= 0) return Seq.empty
    val gh = (0 until ng).map { i =>
      (0 until gramLen).map(j => codes(i + j) * math.pow(31, gramLen - 1 - j).toLong).sum
    }
    (0 until nw).map(i => (i until i + window).map(gh).min).distinct.sorted
  }

  test("matches the direct polynomial-sum reference on varied text") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaa", // degenerate: all grams identical
      "abcdefghijk",          // exactly one window
      "ab",                   // too short: no grams at all
      "abcdefghij",           // grams but no full window
      "ünïcödé text with ünïcödé grams here") ++
      (1 to 20).map(_ => rnd.alphanumeric.take(rnd.nextInt(60) + 1).mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val got = df.select(col("id"), expr("winnow_fps(t, 8, 4)").as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) === reference(t, 8, 4), s"text [$t]")
    }
  }

  test("null text yields null; distinctness and sortedness hold") {
    val out = spark.sql(
      "SELECT winnow_fps(CAST(NULL AS STRING), 8, 4) AS fps").collect()
    assert(out(0).isNullAt(0))
    val fps = spark.sql(
      "SELECT winnow_fps('the quick brown fox jumps over it', 8, 4) AS fps")
      .collect()(0).getSeq[Long](0)
    assert(fps == fps.sorted && fps.distinct.size == fps.size)
  }

  test("the expression compiles into whole-stage codegen") {
    // spark.range source so ConvertToLocalRelation can't constant-fold
    val df = spark.range(100)
      .selectExpr("concat('document text number ', id, ' padded out') AS t")
      .selectExpr("winnow_fps(t, 8, 4) AS fps")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(codegenStages.exists(_.toString.contains("winnow_fps")))
    assert(df.count() === 100L)
  }

  test("q_fingerprint_rolling has a shuffle-free plan") {
    val df = graft.ops.TextQueries.queries("q_fingerprint_rolling")(
      spark, "/root/testdata/sf0.001")
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      "winnowing fingerprints are per-row work — any shuffle is a regression:\n" +
        df.queryExecution.executedPlan)
  }
}
