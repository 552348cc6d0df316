package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** `topk_by` — the bounded top-k aggregate that replaced the full-stream
  * window in q_cosine_topk (VERDICT r5 #2). The invariant that matters:
  * for ANY input and ANY partitioning, the aggregate returns exactly the
  * rows `ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) <= k` keeps, in
  * that order — merge-order independence is what makes the map-side
  * partial heaps safe. */
class TopKByScoreSpec extends SparkTestBase {

  /** The window form's ordering: nanSafeCompareDoubles semantics, i.e.
    * -0.0 == 0.0 (the `+ 0.0` normalization) and NaN greatest. */
  private def referenceTopK(rows: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    rows.sortWith { case ((sa, ia), (sb, ib)) =>
      val c = java.lang.Double.compare(sa + 0.0, sb + 0.0)
      c > 0 || (c == 0 && ia < ib)
    }.take(k)

  test("heap buffer keeps exactly the window-form top-k, any insert order") {
    val rnd = new scala.util.Random(60601)
    // heavy score-tie density (coarse draws) exercises the id tiebreak
    for (_ <- 0 until 200) {
      val n = rnd.nextInt(201)
      val rows = List.fill(n) {
        val s = if (rnd.nextBoolean()) rnd.nextInt(3).toDouble - 1.0
                else rnd.nextDouble() * 20.0 - 10.0
        (s, rnd.nextLong(51))
      }
      val k = 1 + rnd.nextInt(20)
      val buf = new TopKByScore.Buf(k)
      rows.foreach { case (s, i) => buf.add(s, i) }
      assert(buf.sortedBestFirst.toSeq == referenceTopK(rows, k),
        s"n=$n k=$k")
    }
  }

  test("merge is order-independent (partial aggregation safety)") {
    val rows = (0 until 300).map(i => (math.sin(i.toDouble), i.toLong))
    val k = 13
    def bufOf(part: Seq[(Double, Long)]) = {
      val b = new TopKByScore.Buf(k)
      part.foreach { case (s, i) => b.add(s, i) }
      b
    }
    val parts = rows.grouped(37).toSeq
    val forward = parts.map(bufOf).reduceLeft { (a, b) => b.foreach(a.add); a }
    val backward = parts.reverse.map(bufOf).reduceLeft { (a, b) => b.foreach(a.add); a }
    assert(forward.sortedBestFirst.toSeq == referenceTopK(rows, k))
    assert(backward.sortedBestFirst.toSeq == forward.sortedBestFirst.toSeq)
  }

  test("serialize/deserialize round-trips the buffer") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = TopKByScore(Literal(0.0), Literal(0L), 5)
    val buf = new TopKByScore.Buf(5)
    Seq((1.5, 3L), (2.5, 1L), (0.5, 9L), (2.5, 0L), (-1.0, 4L), (7.0, 2L))
      .foreach { case (s, i) => buf.add(s, i) }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.sortedBestFirst.toSeq == buf.sortedBestFirst.toSeq)
  }

  test("end-to-end: topk_by over a repartitioned frame equals the window form") {
    import spark.implicits._
    val df = (0 until 1000)
      .map(i => (i % 7, math.cos(i.toDouble * 0.37), i.toLong))
      .toDF("g", "score", "id")
      .repartition(8) // force multi-partition partial aggregation
    val got = df.groupBy("g")
      .agg(expr("topk_by(score, id, 4)").as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("g"), col("t.id").as("id"), (col("pos") + 1).as("rnk"),
        col("t.score").as("score"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val want = df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 4)
      .select("g", "id", "rnk", "score")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(got == want)
  }

  test("-0.0 ties with 0.0 like the window sort, stored scores stay bit-exact") {
    // ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) treats -0.0 and 0.0
    // as equal (nanSafeCompareDoubles), so the smaller id wins the last
    // slot regardless of zero sign — raw Double.compare would instead rank
    // +0.0 above -0.0 and keep the wrong row at the k boundary.
    val a = new TopKByScore.Buf(1)
    a.add(-0.0, 10L); a.add(0.0, 2L)
    assert(a.sortedBestFirst.toSeq == Seq((0.0, 2L)))
    val b = new TopKByScore.Buf(1)
    b.add(0.0, 10L); b.add(-0.0, 2L)
    val kept = b.sortedBestFirst.toSeq
    assert(kept.map(_._2) == Seq(2L))
    // the stored score is the row's own bit pattern, not a normalized copy
    assert(java.lang.Double.doubleToRawLongBits(kept.head._1) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
  }

  test("ties on score break by ascending id; nulls are ignored") {
    import spark.implicits._
    val df = Seq(
      (Some(1.0), Some(5L)), (Some(1.0), Some(2L)), (Some(1.0), Some(9L)),
      (None, Some(1L)), (Some(99.0), None))
      .toDF("score", "id")
    val got = df.agg(expr("topk_by(score, id, 2)").as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id"), col("t.score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((2L, 1.0), (5L, 1.0)))
  }
}
