package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.TextQueries

/** Contracts of the in-engine trained quality probe: the exact-integer
  * sufficient-statistics aggregate (`probe_gram`), the driver ridge
  * solve, and the row-local scorer (`probe_score`). The fit side is
  * pinned bit-exact by the DuckDB oracle; these pin the math and the
  * edges the fixture cannot reach. */
class ProbeSpec extends SparkTestBase {

  test("probe_gram: differential check against a driver-side reimplementation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the spark the merge window"),
      (2L, "spark spark spark join"),
      (3L, null: String),
      (4L, "a a of to and the")).toDF("doc_id", "text")
    val b = 16
    val fs = 8
    // independent path: buckets from the registered md5_low63, features
    // and statistics re-derived in plain Scala from the documented math
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
      .withColumn("bkt", expr(s"CAST(md5_low63(t) % $b AS INT)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val stop = Set("the", "a", "an", "of", "to", "and")
    val nf = b + 1
    val gram = Array.ofDim[Long](nf, nf)
    val xty = new Array[Long](nf)
    var n = 0L
    toks.groupBy(_._1).foreach { case (_, rows) =>
      val dl = rows.length.toLong
      val counts = rows.groupBy(_._3).map { case (bk, rs) => bk -> rs.length.toLong }
      val x = counts.map { case (bk, c) => bk -> c * fs / dl }
        .filter(_._2 > 0L) + (b -> fs.toLong)
      val nstop = rows.count(r => stop(r._2)).toLong
      val y = if (16L * nstop <= dl) 1L else 0L
      for ((bi, xi) <- x; (bj, xj) <- x if bi <= bj) gram(bi)(bj) += xi * xj
      if (y == 1L) for ((bi, xi) <- x) xty(bi) += xi
      n += 1L
    }
    val got = docs.filter(col("text").isNotNull)
      .select(expr("term_counts(text)").as("tc"))
      .select(col("tc"), expr(
        "IF(16 * aggregate(filter(tc, e -> e.term IN " +
          "('the', 'a', 'an', 'of', 'to', 'and')), 0L, (a, e) -> a + e.tf)" +
          " <= aggregate(tc, 0L, (a, e) -> a + e.tf), 1L, 0L)").as("y"))
      .agg(expr(s"probe_gram(tc, y, $b, $fs)").as("g"))
      .select(explode(col("g")).as("e"))
      .select("e.i", "e.j", "e.v")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(got.length === nf * (nf + 1) / 2 + nf + 1)
    got.foreach { case (i, j, v) =>
      val want =
        if (j <= b) gram(i)(j)
        else if (i <= b) xty(i)
        else n
      assert(v === want, s"cell ($i, $j)")
    }
  }

  test("probe fit statistics hold their closed-form invariants on the fixture") {
    val rows = TextQueries.probeFit(
      graft.tables.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val b = TextQueries.ProbeB
    val fs = TextQueries.ProbeFs.toLong
    val n = rows((b + 1, b + 1))
    assert(n > 0L)
    // the bias-bias Gram cell is exactly n·FS² and the bias row of Xᵀy is
    // FS · #positives (bias feature is the constant FS)
    assert(rows((b, b)) === n * fs * fs)
    val pos = rows((b, b + 1)) / fs
    assert(pos > 0 && pos < n, s"degenerate label balance: $pos/$n")
    // every diagonal bounds its row: gram(i,j)² ≤ gram(i,i)·gram(j,j)
    // (Cauchy-Schwarz on the exact integers)
    for (i <- 0 until b; j <- i + 1 until b) {
      val gij = rows((i, j))
      if (gij != 0L)
        assert(BigInt(gij) * BigInt(gij) <=
          BigInt(rows((i, i))) * BigInt(rows((j, j))), s"($i, $j)")
    }
  }

  test("the trained probe beats the majority class on its own label") {
    val out = TextQueries.probeScore(
      graft.tables.Tables.documents(spark, "/root/testdata/sf0.01"))
      .collect().map(r => (r.getLong(1), r.getBoolean(3)))
    val n = out.length
    val pos = out.count(_._1 == 1L)
    val majority = math.max(pos, n - pos).toDouble / n
    val agree = out.count { case (y, keep) => (y == 1L) == keep }.toDouble / n
    assert(agree > majority + 0.1,
      f"probe did not learn: agree=$agree%.3f majority=$majority%.3f")
  }

  test("the probe TRANSFERS: trained on sf0.01, it beats majority on sf0.001") {
    // generalization, not memorization: weights solved on one corpus score
    // a corpus the fit never saw (the production arrangement — train on a
    // sample, score the crawl). Both fixtures share the generator's token
    // distribution, so the stopword-density signal must carry.
    val w = TextQueries.probeWeights(
      graft.tables.Tables.documents(spark, "/root/testdata/sf0.01"))
    import org.apache.spark.sql.functions.{col, expr}
    val out = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr("term_counts(text)").as("tc"))
      .select(col("doc_id"), col("tc"),
        expr(TextQueries.probeYSql()).as("y"))
      .select(col("y"),
        call_function("probe_score", col("tc"), typedLit(w.toSeq),
          lit(TextQueries.ProbeFs)).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1) >= 0.5))
    val n = out.length
    val pos = out.count(_._1 == 1L)
    val majority = math.max(pos, n - pos).toDouble / n
    val agree = out.count { case (y, keep) => (y == 1L) == keep }.toDouble / n
    assert(agree > majority + 0.05,
      f"probe did not transfer: agree=$agree%.3f majority=$majority%.3f")
  }

  test("probe_score: null text scores null; absent docs never surface") {
    import spark.implicits._
    val w = Seq.fill(17)(0.5)
    val z = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(expr("term_counts(text)").as("tc"))
      .select(call_function("probe_score", col("tc"), typedLit(w), lit(8)))
      .collect()(0)
    assert(z.isNullAt(0))
  }
}
