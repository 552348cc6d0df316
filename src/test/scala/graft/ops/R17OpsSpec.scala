package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Semantics pins for the r17 additions. Cross-engine values are pinned
  * by the DuckDB twins at sf0.01; these tests pin the branches and
  * guarantees the fixture alone cannot prove:
  *   - q_simjoin_prefix's NO-FALSE-NEGATIVES contract on engineered
  *     pairs, including the 1-of-4-band near-dup that the LSH family is
  *     spec-DOCUMENTED to miss, and the prefix bound's tight boundary;
  *   - q_ohlc_bars' same-instant tie-break (event_id decides open/close
  *     when timestamps collide) and null hygiene;
  *   - q_colloc_lift's exact-integer lift arithmetic on hand-counted
  *     bigrams.
  */
class R17OpsSpec extends SparkTestBase {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  // --- q_simjoin_prefix ---------------------------------------------------

  test("simjoinPrefix finds the banding-missed near-dup pair and every " +
    "pair brute force finds; nothing below threshold leaks") {
    // the BeaconStreamingSpec "pinned semantic gap" construction: two
    // docs agreeing on exactly 1 of 4 MinHash bands — LSH banding with
    // r rows per band can drop it, the exact join must not. Shingle
    // overlap high (shared long run), plus unique tails.
    val shared = (1 to 40).map(i => s"s$i").mkString(" ")
    val docs = (Seq(
      (1L, s"$shared ua ub uc"),
      (2L, s"$shared va vb vc"),
      (3L, "lone doc with nothing shared at all beyond this clause"),
      (4L, s"$shared ua ub uc")) ++ // exact shingle-set dup of 1
      (10 to 30).map(i => (i.toLong, s"filler$i " * 12)))
      .toDF("doc_id", "text")
    val out = DedupQueries.simjoinPrefixOf(spark, docs)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("ni"), r.getAs[Double]("jaccard")))
    val got = out.map(p => (p._1, p._2)).toSet
    // brute force over the same universe (the twin's shape, in Spark):
    // every doc pair sharing >= 1 shingle, thresholded
    val sets = docs.select(col("doc_id"),
        expr("shingle_sig_set(text)").as("g"))
      .select(col("doc_id"), col("g.ss").as("ss"))
      .filter(col("ss").isNotNull && size(col("ss")) > 0)
    val brute = sets.alias("a").join(sets.alias("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(array_intersect(col("a.ss"), col("b.ss"))).cast("long").as("ni"),
        size(col("a.ss")).as("na"), size(col("b.ss")).as("nb"))
      .filter(col("ni") > 0)
      .select(col("doc_a"), col("doc_b"), col("ni"),
        (col("ni").cast("double") /
          (col("na") + col("nb") - col("ni"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("ni"), r.getAs[Double]("jaccard")))
    assert(out.sorted.toSeq === brute.sorted.toSeq,
      "prefix filtering must equal brute force exactly")
    assert(got.contains((1L, 2L)) && got.contains((1L, 4L)) &&
      got.contains((2L, 4L)), s"high-overlap pairs must all surface: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      "the lone doc must not pair")
    // and the exact dup pair reads jaccard 1.0 exactly
    assert(out.find(p => p._1 == 1L && p._2 == 4L).get._4 === 1.0)
  }

  test("simjoinPrefix boundary: a pair at exactly t qualifies, just " +
    "below t does not — the >= and the ceil in the prefix bound agree") {
    // token streams built so the 3-shingle sets have |A|=|B|=4 and
    // |A∩B|=2: J = 2/(4+4-2) = 1/3. With t=1/3 the pair must appear;
    // with t slightly above it must not. Shingles of "a b c d e f":
    // {abc,bcd,cde,def}; "a b c d x y": {abc,bcd,cdx,dxy} → ∩ = 2.
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d x y"))
      .toDF("doc_id", "text")
    val at = DedupQueries.simjoinPrefixOf(spark, docs, t = 1.0 / 3.0)
      .collect()
    assert(at.length === 1 && at.head.getAs[Long]("ni") === 2L)
    val above = DedupQueries.simjoinPrefixOf(spark, docs, t = 0.34)
      .collect()
    assert(above.isEmpty, "a pair below threshold must not qualify")
  }

  // --- q_lsh_recall ---------------------------------------------------------

  test("q_lsh_recall: fixture recall is sane and consistent with the " +
    "two registered pipelines; identical docs read exactly 1.0") {
    val row = DedupQueries.queries("q_lsh_recall")(spark, sfDir)
      .collect().head
    val (nt, nc, r) = (row.getAs[Long]("n_true"),
      row.getAs[Long]("n_caught"), row.getAs[Double]("recall"))
    assert(nt > 0, "fixture must have exact J >= 0.5 pairs")
    assert(nc <= nt && r > 0.0 && r <= 1.0)
    assert(r === nc.toDouble / nt.toDouble)
    // exact duplicates agree on every minhash lane — banding cannot
    // miss them, so a dup-only corpus reads recall exactly 1.0
    import spark.implicits._
    val dupOnly = (Seq(
      (1L, "p q r s t u v w x y z1 z2 z3"),
      (2L, "p q r s t u v w x y z1 z2 z3")) ++
      (10 to 20).map(i => (i.toLong, s"f${i}a f${i}b f${i}c f${i}d")))
      .toDF("doc_id", "text")
    val dir = tmpDir("lsh-recall")
    dupOnly.write.parquet(s"$dir/documents.parquet")
    val one = DedupQueries.queries("q_lsh_recall")(spark, dir)
      .collect().head
    assert(one.getAs[Long]("n_true") === 1L)
    assert(one.getAs[Double]("recall") === 1.0)
  }

  test("q_lsh_recall zero-truth guard (ADVICE r17): a corpus with no " +
    "exact pair at the threshold reads recall NULL — the twin's NULLIF " +
    "division — never NaN") {
    import spark.implicits._
    val disjoint = (1 to 12)
      .map(i => (i.toLong, s"w${i}a w${i}b w${i}c w${i}d w${i}e"))
      .toDF("doc_id", "text")
    val dir = tmpDir("lsh-recall-zero")
    disjoint.write.parquet(s"$dir/documents.parquet")
    val row = DedupQueries.queries("q_lsh_recall")(spark, dir)
      .collect().head
    assert(row.getAs[Long]("n_true") === 0L)
    assert(row.getAs[Long]("n_caught") === 0L)
    assert(row.isNullAt(row.fieldIndex("recall")),
      "0/0 must surface as NULL in both engines")
  }

  // --- q_ohlc_bars ----------------------------------------------------------

  private val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def t(sec: Long) = new java.sql.Timestamp(ts0.getTime + sec * 1000L)

  test("ohlcBars: open/close by (ts, event_id) total order incl. " +
    "same-instant ties; null ts/value rows drop; day boundary splits") {
    val ev = Seq(
      // day 0, user 1: two events at the SAME instant — event_id breaks
      // the tie for open; close is the latest ts
      (1L, Option(t(0)), 11L, "view", Option(5.0)),
      (1L, Option(t(0)), 10L, "view", Option(9.0)), // same ts, lower id → open
      (1L, Option(t(60)), 12L, "view", Option(1.0)), // latest → close
      // user 1 next day: its own bar
      (1L, Option(t(86400)), 13L, "view", Option(7.0)),
      // null hygiene
      (1L, Option.empty[java.sql.Timestamp], 14L, "view", Option(99.0)),
      (1L, Option(t(30)), 15L, "view", Option.empty[Double]))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = EventQueries.ohlcBarsOf(ev).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day")) ->
        ((r.getAs[Double]("open"), r.getAs[Double]("high"),
          r.getAs[Double]("low"), r.getAs[Double]("close"),
          r.getAs[Long]("n_events")))).toMap
    val day0 = (ts0.getTime * 1000L) / 86400000000L
    assert(out.size === 2)
    assert(out((1L, day0)) === ((9.0, 9.0, 1.0, 1.0, 3L)),
      "open = lower event_id at the tied instant, close = latest ts")
    assert(out((1L, day0 + 1)) === ((7.0, 7.0, 7.0, 7.0, 1L)))
  }

  // --- q_colloc_lift --------------------------------------------------------

  test("q_colloc_lift: hand-counted bigrams, exact integer lift") {
    // corpus: "x y x y" (bigrams xy, yx, xy) + "z z" (zz) → N unigrams 6
    // n_xy = 2, n_x = 2, n_y = 2 → lift(x,y) = 2·6/(2·2) = 3.0 exactly
    val dir = tmpDir("colloc")
    Seq((1L, "x y x y"), (2L, "z z"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // the registered query reads documents from a sf dir — point it at
    // the crafted one
    val out = TextQueries.queries("q_colloc_lift")(spark, dir)
      .collect().map(r => (r.getAs[String]("w1"), r.getAs[String]("w2")) ->
        ((r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("lift")))).toMap
    assert(out.size === 3)
    assert(out(("x", "y")) === ((2L, 2L, 2L, 3.0)))
    assert(out(("y", "x")) === ((1L, 2L, 2L, 1.5)))
    assert(out(("z", "z")) === ((1L, 2L, 2L, 1.5)))
  }

  test("q_colloc_lift on the fixture: 100 rows, counts reconcile, " +
    "selection is the top of the count order") {
    val out = TextQueries.queries("q_colloc_lift")(spark, sfDir).collect()
    assert(out.length === 100)
    assert(out.forall(r => r.getAs[Long]("n_ab") <= r.getAs[Long]("n_a") &&
      r.getAs[Long]("n_ab") <= r.getAs[Long]("n_b")),
      "a bigram cannot outnumber its unigrams")
    assert(out.forall(_.getAs[Double]("lift") > 0.0))
  }
}
