package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class ShingleSigSpec extends SparkTestBase {

  /** The composed pipeline shingle_sig replaced — explode + min-aggregate.
    * Kept verbatim as the equivalence reference: it is the literal Spark
    * transliteration of the unchanged DuckDB oracle CTEs, so
    * expression == composed implies expression == oracle. */
  private def composed(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 2),
           i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ',
                       element_at(w, i + 2)))""")).as("sh"))
    sh.withColumn("h0", expr("md5_low63(concat('0:', sh))"))
      .groupBy("doc_id").agg(
        min(col("h0")).as("mh0"),
        min(expr("md5_high63(concat('0:', sh))")).as("mh1"),
        min(expr("md5_low63(concat('1:', sh))")).as("mh2"),
        min(expr("md5_high63(concat('1:', sh))")).as("mh3"),
        sort_array(collect_set(col("h0"))).as("ss"))
  }

  private val edgeDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "one two"),            // < 3 tokens: dropped by both forms
    (3L, "exactly three words"),
    (4L, ""),                   // one "" token: dropped
    (5L, "\ta b c"),            // leading tab -> "" token counts as a word
    (6L, "dup dup dup dup"),    // repeated shingles: set dedups
    (7L, "ünïcödé wörds hërë ünïcödé wörds hërë"))

  test("shingle_sig matches the composed explode+min pipeline") {
    import spark.implicits._
    val docs = edgeDocs.toDF("doc_id", "text")
    val exp = composed(docs).drop("ss").orderBy("doc_id").collect().toSeq
    val got = DedupQueries.minhashSigOf(docs)
      .orderBy("doc_id").collect().toSeq
    assert(exp.nonEmpty)
    assert(got === exp)
  }

  test("shingle_sig_set carries the sorted distinct band-0 hash set") {
    import spark.implicits._
    val docs = edgeDocs.toDF("doc_id", "text")
    val exp = composed(docs).orderBy("doc_id").collect().toSeq
    val got = docs
      .select(col("doc_id"), expr("shingle_sig_set(text)").as("g"))
      .filter(col("g").isNotNull)
      .select(col("doc_id"), col("g.mh0"), col("g.mh1"), col("g.mh2"),
        col("g.mh3"), col("g.ss").as("ss"))
      .orderBy("doc_id").collect().toSeq
    assert(got === exp)
  }

  test("shingle_set equals shingle_sig_set's ss lane, edge cases + fixture " +
    "(r18 — chains the one-digest expression to the proven oracle path)") {
    import spark.implicits._
    def both(docs: DataFrame) = {
      val exp = docs
        .select(col("doc_id"), expr("shingle_sig_set(text).ss").as("ss"))
        .orderBy("doc_id").collect().toSeq
      val got = docs
        .select(col("doc_id"), expr("shingle_set(text)").as("ss"))
        .orderBy("doc_id").collect().toSeq
      (exp, got)
    }
    val (e1, g1) = both(edgeDocs.toDF("doc_id", "text"))
    assert(e1.nonEmpty && g1 === e1)
    val (e2, g2) = both(
      graft.tables.Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(e2.nonEmpty && g2 === e2)
  }

  test("matches the composed pipeline on the sf0.001 documents fixture") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val exp = composed(docs).drop("ss").orderBy("doc_id").collect().toSeq
    val got = DedupQueries.minhashSigOf(docs)
      .orderBy("doc_id").collect().toSeq
    assert(exp.nonEmpty)
    assert(got === exp)
  }

  /** The 64-perm explode + minhash_sketch AGGREGATE pipeline the per-row
    * `shingle_minhash` replaced in q_minhash_native — kept verbatim as the
    * equivalence reference: expression == aggregate chains the
    * TypedImperativeAggregate's md5p family to the query's DuckDB oracle. */
  test("shingle_minhash equals the minhash_sketch aggregate, edge cases + fixture") {
    import spark.implicits._
    def aggregateForm(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 2),
           i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ',
                       element_at(w, i + 2)))""")).as("sh"))
      .groupBy("doc_id")
      .agg(expr("minhash_sketch(sh, 64, 'md5p')").as("sig"))
    def rowForm(docs: DataFrame): DataFrame = docs
      .filter(col("text").isNotNull &&
        size(split(trim(col("text")), "\\s+")) >= 3)
      .select(col("doc_id"), expr("shingle_minhash(text, 64)").as("sig"))
    for (docs <- Seq(edgeDocs.toDF("doc_id", "text"),
                     graft.tables.Tables.documents(spark, "/root/testdata/sf0.001"))) {
      val exp = aggregateForm(docs).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
      val got = rowForm(docs).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
      assert(exp.nonEmpty)
      assert(got === exp)
    }
  }

  /** The composed higher-order-function gram pipeline `word_grams`
    * replaced in q_decontaminate — kept verbatim as the equivalence
    * reference: it transliterates the unchanged DuckDB oracle CTE, so
    * expression == composed implies expression == oracle. */
  test("word_grams equals the composed transform+slice form, edge cases + fixture") {
    import spark.implicits._
    def composedGrams(docs: DataFrame, n: Int): DataFrame = docs
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), expr(
        s"""sort_array(array_distinct(transform(
              sequence(1, greatest(size(w) - ${n - 1}, 1)),
              i -> md5_low63(concat_ws(' ', slice(w, i, $n))))))""").as("gs"))
    def rowForm(docs: DataFrame, n: Int): DataFrame = docs
      .select(col("doc_id"), expr(s"word_grams(lower(text), $n)").as("gs"))
      .filter(col("gs").isNotNull)
    val shortGramDocs = edgeDocs.toDF("doc_id", "text")
    for ((docs, n) <- Seq(
           (shortGramDocs, 3),
           (graft.tables.Tables.documents(spark, "/root/testdata/sf0.001"), 13))) {
      val exp = composedGrams(docs, n).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
      val got = rowForm(docs, n).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
      assert(exp.nonEmpty)
      assert(got === exp)
    }
  }

  /** The composed array-function pipeline `repetition_stats` replaced in
    * q_repetition — kept verbatim as the equivalence reference (it
    * transliterates the unchanged DuckDB oracle's count arithmetic). */
  test("repetition_stats equals the composed array-function counts") {
    import spark.implicits._
    def composedCounts(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      .select(col("doc_id"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_distinct"),
        expr("""array_max(transform(array_distinct(w),
                  x -> size(filter(w, y -> y = x))))""").as("top_count"),
        expr("""CASE WHEN size(w) >= 2 THEN size(array_distinct(
                  zip_with(slice(w, 1, size(w) - 1),
                           slice(w, 2, size(w) - 1),
                           (a, b) -> concat(a, ' ', b)))) ELSE 0
                END""").as("n_bigrams_distinct"))
    def rowForm(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), expr("repetition_stats(lower(text))").as("r"))
      .select(col("doc_id"), col("r.n_tokens"), col("r.n_distinct"),
        col("r.top_count"), col("r.n_bigrams_distinct"))
    for (docs <- Seq(edgeDocs.toDF("doc_id", "text"),
                     graft.tables.Tables.documents(spark, "/root/testdata/sf0.001"))) {
      val exp = composedCounts(docs).orderBy("doc_id").collect().toSeq
      val got = rowForm(docs).orderBy("doc_id").collect().toSeq
      assert(exp.nonEmpty)
      assert(got === exp)
    }
  }

  test("query_term_stats equals the composed split+filter form") {
    import spark.implicits._
    val terms = Seq("the", "dup", "wörds", "absent")
    def composed(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      .select(col("doc_id") ::
        expr("CAST(size(w) AS BIGINT)").as("dl") ::
        terms.zipWithIndex.map { case (t, i) =>
          expr(s"CAST(size(filter(w, x -> x = '$t')) AS BIGINT)").as(s"tf$i")
        }.toList: _*)
    def rowForm(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"),
        expr(s"query_term_stats(text, ${terms.map(t => s"'$t'").mkString(", ")})")
          .as("q"))
      .select(col("doc_id") :: col("q.dl").as("dl") ::
        terms.indices.map(i => col(s"q.tf$i").as(s"tf$i")).toList: _*)
    for (docs <- Seq(edgeDocs.toDF("doc_id", "text"),
                     graft.tables.Tables.documents(spark, "/root/testdata/sf0.001"))) {
      val exp = composed(docs).orderBy("doc_id").collect().toSeq
      val got = rowForm(docs).orderBy("doc_id").collect().toSeq
      assert(exp.nonEmpty)
      assert(got === exp)
    }
  }
}
