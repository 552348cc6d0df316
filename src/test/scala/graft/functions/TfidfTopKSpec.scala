package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Unit contract of the r9 zero-exchange TF-IDF primitives: `term_df`
  * (vocabulary + doc count as ONE ObjectHashAggregate) and `tfidf_topk`
  * (row-local top-k against the sorted vocabulary arrays). The end-to-end
  * q_doc_tfidf output is pinned by the DuckDB oracle; these pin the edges
  * the oracle's fixture data cannot reach. */
class TfidfTopKSpec extends SparkTestBase {

  private def vocabOf(docs: DataFrame) = {
    GraftFunctions.register(spark)
    docs.filter(col("text").isNotNull)
      .agg(expr("term_df(term_counts(text))").as("v"))
      .select("v.terms", "v.dfs", "v.n_docs").collect()(0)
  }

  test("term_df counts document frequency, not term frequency") {
    import spark.implicits._
    val v = vocabOf(Seq(
      (1L, "a a a b"), (2L, "b c"), (3L, null: String)).toDF("doc_id", "text"))
    assert(v.getAs[Seq[String]](0) === Seq("a", "b", "c"))
    assert(v.getAs[Seq[Long]](1) === Seq(1L, 2L, 1L)) // "a" thrice in ONE doc
    assert(v.getLong(2) === 2L)                        // null text not counted
  }

  test("term_df sorts the vocabulary in binary UTF8 order, not UTF-16") {
    import spark.implicits._
    // U+10000 (non-BMP, 4-byte UTF-8) vs U+FFFD (BMP, 3-byte): UTF-16
    // code-unit order puts the surrogate pair FIRST, byte order puts it
    // LAST — the tfidf_topk binary search requires byte order
    val nonBmp = new String(Character.toChars(0x10000))
    val bmp = "�"
    val v = vocabOf(Seq((1L, s"$nonBmp $bmp")).toDF("doc_id", "text"))
    assert(v.getAs[Seq[String]](0) === Seq(bmp, nonBmp))
    // and the row-local lookup finds BOTH under that order
    val rows = Seq((1L, s"$nonBmp $bmp")).toDF("doc_id", "text")
      .agg(expr("term_df(term_counts(text))").as("v"))
      .crossJoin(Seq((1L, s"$nonBmp $bmp")).toDF("doc_id", "text"))
      .select(posexplode(expr(
        "tfidf_topk(term_counts(text), v.terms, v.dfs, v.n_docs, 5)")))
      .collect()
    assert(rows.length === 2)
  }

  test("term_df min_df floor: 1 is bit-identical, 2 drops exactly the hapax tail") {
    import spark.implicits._
    val docs = Seq((1L, "a a b c"), (2L, "b c d"), (3L, "c e")).toDF("doc_id", "text")
    GraftFunctions.register(spark)
    def v(sql: String) = docs
      .agg(expr(sql).as("v")).select("v.terms", "v.dfs", "v.n_docs")
      .collect()(0)
    val unfloored = v("term_df(term_counts(text))")
    val floor1 = v("term_df(term_counts(text), 1L)")
    assert(floor1 === unfloored)
    // df: a=1 b=2 c=3 d=1 e=1 → floor 2 keeps (b,2),(c,3); n_docs unchanged
    val floor2 = v("term_df(term_counts(text), 2)")
    assert(floor2.getAs[Seq[String]](0) === Seq("b", "c"))
    assert(floor2.getAs[Seq[Long]](1) === Seq(2L, 3L))
    assert(floor2.getLong(2) === 3L)
  }

  test("q_doc_tfidf minDf floor: default identical, 2 excludes hapaxes") {
    import spark.implicits._
    val docs = Seq((1L, "aa aa bb cc"), (2L, "bb cc dd"), (3L, "cc ee"))
      .toDF("doc_id", "text")
    def rows(df: DataFrame) = df
      .orderBy("doc_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    val dflt = rows(graft.ops.TextQueries.docTfidf(docs))
    assert(rows(graft.ops.TextQueries.docTfidf(docs, minDf = 1)) === dflt)
    val floored = rows(graft.ops.TextQueries.docTfidf(docs, minDf = 2))
    // sub-floor terms (df=1: aa, dd, ee) score nothing; survivors keep
    // the EXACT (tf, df, score) they had unfloored — n_docs is unmoved —
    // and ranks close up per doc over the surviving entries
    assert(floored.map(_._3).toSet === Set("bb", "cc"))
    val unflooredSurvivors = dflt.filter(t => Set("bb", "cc")(t._3))
      .map(t => (t._1, t._3, t._4, t._5, t._6))
    assert(floored.map(t => (t._1, t._3, t._4, t._5, t._6)).sorted ===
      unflooredSurvivors.sorted)
    floored.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted === (1 to rows.length))
    }
    intercept[IllegalArgumentException] {
      graft.ops.TextQueries.docTfidf(docs, minDf = 0)
    }
  }

  test("tfidf_topk orders by score desc then term asc and bounds at k") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // two docs: "a" in both (df 2), the rest unique (df 1). In doc 1 the
    // unique terms tie at score 2.0 and must come out in term order; "a"
    // (score 1.0) must be cut by k=3
    val docs = Seq((1L, "a z y x"), (2L, "a q")).toDF("doc_id", "text")
    val out = docs.filter($"doc_id" === 1L)
      .select(col("doc_id"), col("text"),
        docs.agg(expr("term_df(term_counts(text))").as("v")).scalar().as("v"))
      .select(posexplode(expr(
        "tfidf_topk(term_counts(text), v.terms, v.dfs, v.n_docs, 3)"))
        .as(Seq("pos", "t")))
      .select("pos", "t.term", "t.df", "t.score").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("x", "y", "z"))
    assert(out.forall(_.getDouble(3) === 2.0))
    assert(out.map(_.getInt(0)).toSeq === Seq(0, 1, 2))
  }

  test("tfidf_topk skips vocabulary-absent terms and nulls out on null text") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val r = Seq((1L, "w1 w2")).toDF("doc_id", "text")
      .selectExpr(
        "tfidf_topk(term_counts(text), array('w2'), array(1L), 10L, 5) AS t",
        "tfidf_topk(term_counts(CAST(NULL AS STRING)), array('w2'), array(1L), 10L, 5) AS n")
      .collect()(0)
    val kept = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("t")
    assert(kept.map(_.getString(0)) === Seq("w2")) // w1 not in vocab: skipped
    assert(kept.head.getDouble(3) === 10.0)
    assert(r.isNullAt(1))
  }
}
