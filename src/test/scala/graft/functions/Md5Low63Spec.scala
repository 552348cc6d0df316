package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class Md5Low63Spec extends SparkTestBase {

  test("matches md5_number_lower % (2^63-1) computed from first principles") {
    import spark.implicits._
    // reference: little-endian read of digest bytes 8..15, unsigned mod
    def ref(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var base = 0L
      (15 to 8 by -1).foreach(i => base = (base << 8) | (d(i) & 0xffL))
      java.lang.Long.remainderUnsigned(base, Long.MaxValue)
    }
    val texts = Seq("", "x", "hello world", "0:the quick brown", "ünïcödé")
    val got = texts.toDF("t").select(expr("md5_low63(t)").as("h"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === texts.map(ref))
    // known DuckDB cross-check: md5_number_lower('x') = 11990653779475613941
    assert(ref("x") ===
      java.lang.Long.remainderUnsigned(java.lang.Long.parseUnsignedLong("11990653779475613941"), Long.MaxValue))
  }

  test("md5_high63 matches md5_number_upper % (2^63-1), independent of low lane") {
    import spark.implicits._
    // reference: little-endian read of digest bytes 0..7, unsigned mod
    def refHi(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var base = 0L
      (7 to 0 by -1).foreach(i => base = (base << 8) | (d(i) & 0xffL))
      java.lang.Long.remainderUnsigned(base, Long.MaxValue)
    }
    val texts = Seq("", "x", "abc", "0:the quick brown", "ünïcödé")
    // both lanes of the SAME value in one row exercises the digest memo path
    val rows = texts.toDF("t")
      .selectExpr("md5_low63(t) AS lo", "md5_high63(t) AS hi").collect()
    assert(rows.map(_.getLong(1)).toSeq === texts.map(refHi))
    // the two lanes disagree (independent halves of the digest)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    // known DuckDB cross-check: md5_number_upper('abc') = 12704604231530709392
    assert(refHi("abc") ===
      java.lang.Long.remainderUnsigned(
        java.lang.Long.parseUnsignedLong("12704604231530709392"), Long.MaxValue))
  }

  test("null propagates; values are non-negative; codegen compiles") {
    assert(spark.sql("SELECT md5_low63(CAST(NULL AS STRING)) AS h")
      .collect()(0).isNullAt(0))
    val df = spark.range(500).selectExpr("md5_low63(CAST(id AS STRING)) AS h")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.exists(_.toString.contains("md5_low63")))
    assert(df.filter(col("h") < 0).count() === 0L)
    assert(df.select(countDistinct(col("h"))).collect()(0).getLong(0) > 490L)
  }
}
