package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SimHash16Spec extends SparkTestBase {

  /** The composed pipeline simhash16 replaced — explode + 16 conditional
    * aggregate columns. Kept here verbatim as the equivalence reference:
    * it is the literal Spark transliteration of the unchanged DuckDB
    * oracle, so expression == composed implies expression == oracle. */
  private def composed(docs: org.apache.spark.sql.DataFrame) = {
    val w = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
    def bit(i: Int) = expr(
      s"(instr('0123456789abcdef', substring(h, $i, 1)) - 1) % 2")
    val sgns = (1 to 16).map(i =>
      sum(when(bit(i) === 1, 1).otherwise(-1)).as(s"sgn$i"))
    w.groupBy("doc_id")
      .agg(sgns.head, sgns.tail: _*)
      .select(col("doc_id"),
        (1 to 16).map(i =>
            when(col(s"sgn$i") >= 0, lit(1L << (i - 1))).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  private def viaExpr(docs: org.apache.spark.sql.DataFrame) = {
    docs.select(col("doc_id"), expr("simhash16(text)").as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  test("matches the composed explode+aggregate pipeline on edge cases") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "single"),
      (3L, ""),                      // split('') -> one "" token
      (4L, "   "),                   // space-only: trims to "", one "" token
      (5L, "\ttab lead"),            // space-only trim keeps the tab ->
                                     // leading "" token from the split
      (6L, "trail newline\n"),       // trailing "" token (limit -1)
      (7L, "many   spaces nbsp"), // runs collapse; NBSP is NOT \s
      (8L, "ünïcödé wörds ünïcödé"),
      (9L, "a b a b a b c")
    ).toDF("doc_id", "text")
    val exp = composed(docs).orderBy("doc_id").collect().toSeq
    val got = viaExpr(docs).orderBy("doc_id").collect().toSeq
    assert(got === exp)
  }

  test("null text is dropped, exactly as explode(null) dropped it") {
    import spark.implicits._
    val docs = Seq((1L, Option("word")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    assert(viaExpr(docs).select("doc_id").as[Long].collect().toSeq === Seq(1L))
    assert(composed(docs).select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("matches the composed pipeline on the sf0.001 documents fixture") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val exp = composed(docs).orderBy("doc_id").collect().toSeq
    val got = viaExpr(docs).orderBy("doc_id").collect().toSeq
    assert(exp.nonEmpty)
    assert(got === exp)
  }
}
