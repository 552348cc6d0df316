package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkTestBase

/** The retrieval family's semantic contracts: the heap-based BM25 top-k
  * equals the naive window formulation, the scorer behaves like BM25
  * (saturation, idf ordering, dl normalization), and RRF fusion is the
  * exact 1/(60+rank) sum over the two bounded lists. */
class RetrievalSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("text", StringType)))

  private def docs(rows: (Long, String)*) =
    mkDf(docSchema, rows.map { case (id, t) => Row(id, "src", t) })

  test("q_bm25 equals the ROW_NUMBER window formulation on the fixture") {
    val heap = RetrievalQueries.queries("q_bm25")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    // independent path: same scored stream, naive window rank
    val scored = RetrievalQueries.bm25Scored(
      graft.tables.Tables.documents(spark, sfDir))
    val win = scored
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(1))).toSet
    assert(heap === win)
  }

  test("BM25 scorer: more query-term hits outranks fewer at equal dl") {
    // identical length, differing only in how often 'spark' appears
    val d = docs(
      (1L, "spark spark spark pad1 pad2 pad3"),
      (2L, "spark spark pad0 pad1 pad2 pad3"),
      (3L, "spark pad9 pad0 pad1 pad2 pad3"),
      (4L, "pad8 pad9 pad0 pad1 pad2 pad3"))
    val s = RetrievalQueries.bm25Scored(d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s.keySet === Set(1L, 2L, 3L), "zero-hit docs must be filtered")
    assert(s(1L) > s(2L) && s(2L) > s(3L))
    // saturation: the tf=3 gain over tf=2 is smaller than tf=2 over tf=1
    assert(s(1L) - s(2L) < s(2L) - s(3L))
  }

  test("log-idf variant: Lucene scale, same structural contracts") {
    val d = docs(
      (1L, "spark spark spark pad1 pad2 pad3"),
      (2L, "spark spark pad0 pad1 pad2 pad3"),
      (3L, "spark pad9 pad0 pad1 pad2 pad3"),
      (4L, "pad8 pad9 pad0 pad1 pad2 pad3"))
    val log = RetrievalQueries.bm25ScoredLog(d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // same selection + monotonicity/saturation contracts as the rational
    assert(log.keySet === Set(1L, 2L, 3L))
    assert(log(1L) > log(2L) && log(2L) > log(3L))
    assert(log(1L) - log(2L) < log(2L) - log(3L))
    // genuinely the Lucene SCALE: log idf is far below the rational idf
    val rat = RetrievalQueries.bm25Scored(d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(log(1L) < rat(1L))
    // and the registered variant emits a ranked top-10 on the fixture
    val out = RetrievalQueries.queries("q_bm25_logidf")(spark, sfDir).collect()
    assert(out.length == 10 && out.map(_.getInt(1)).toSeq == (1 to 10))
  }

  test("BM25 scorer: longer documents score lower at equal tf (dl norm)") {
    val d = docs(
      (1L, "spark pad1 pad2"),
      (2L, "spark pad1 pad2 pad3 pad4 pad5 pad6 pad7 pad8 pad9"))
    val s = RetrievalQueries.bm25Scored(d)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) > s(2L))
  }

  test("q_bm25_multi: per-query heaps equal window ranks; single-query path agrees") {
    val multi = RetrievalQueries.queries("q_bm25_multi")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // 3 queries × top-5 (the fixture corpus has ≥5 positive-score docs
    // per query: every term's df is ~80% of the corpus)
    assert(multi.length === 15)
    assert(multi.map(_._1).distinct.sorted.toSeq === Seq(0L, 1L, 2L))
    // within each query, ranks are 1..5 and scores non-increasing
    for ((q, rows) <- multi.groupBy(_._1)) {
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq === (1 to 5))
      assert(sorted.map(_._4).toSeq.reverse === sorted.map(_._4).toSeq.sorted,
        s"query $q: scores must be non-increasing in rank")
      // the heap's cut is exactly the best-5 by (score desc, doc_id):
      // every kept (score, id) must dominate... pinned cross-engine by
      // the oracle; here pin the per-query tiebreak ordering property
      val pairs = sorted.map(r => (-r._4, r._2)).toSeq
      assert(pairs === pairs.sorted, s"query $q: (score desc, id asc) order")
    }
  }

  test("q_hybrid_rrf is the exact contribution sum of the two top-20 lists") {
    val fused = RetrievalQueries.queries("q_hybrid_rrf")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(fused.length === 20)

    // rebuild both rank lists independently (window form)
    def ranks(scored: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      scored.withColumn("rnk", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rnk") <= 20)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("rnk"))
        .toMap
    val bm = ranks(RetrievalQueries.bm25Scored(
      graft.tables.Tables.documents(spark, sfDir)))
    val cos = ranks(SimilarityQueries.cosineScored(spark, sfDir)
      .filter(col("q_id") === 0)
      .select(col("neighbor_id").as("doc_id"), col("score")))

    val expected = (bm.keySet ++ cos.keySet).map { id =>
      val c = bm.get(id).map(r => 1.0 / (60L + r)).getOrElse(0.0) +
        cos.get(id).map(r => 1.0 / (60L + r)).getOrElse(0.0)
      id -> (c, (bm.contains(id), cos.contains(id)))
    }.toMap
    fused.foreach { case (id, rrf, nLists) =>
      val (c, (inBm, inCos)) = expected(id)
      assert(rrf === c, s"doc $id")
      assert(nLists === Seq(inBm, inCos).count(identity).toLong)
    }
    // the fused cut is the top-20 of the expected map by (rrf desc, id asc)
    val top = expected.toSeq.map { case (id, (c, _)) => (id, c) }
      .sortBy { case (id, c) => (-c, id) }.take(20).map(_._1).toSet
    assert(fused.map(_._1).toSet === top)
  }
}
