package graft.streaming

import org.apache.spark.sql.functions._

import graft.{BeaconFixtures, SparkTestBase}
import graft.model.BeaconSchemas

/** Structured-Streaming semantics (SURVEY.md §2-D): availability-triggered
  * file source, tumbling windows, dual history+latest sink, and
  * cross-batch dedup — each driven with Trigger.AvailableNow so tests are
  * bounded. */
class BeaconStreamingSpec extends SparkTestBase {

  test("file arrival triggers processing; AvailableNow drains and stops (D3)") {
    val dir = tmpDir("stream-src")
    BeaconFixtures.write(s"$dir/in/b1.json", BeaconFixtures.blockLines(64))
    val src = BeaconStreaming.fileSource(spark, BeaconSchemas.beaconBlocks, s"$dir/in")
    assert(src.isStreaming)
    val q = src.writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(s"$dir/out").count() === 64L)

    // a newly-arrived file is picked up by the next invocation (cron analog)
    BeaconFixtures.write(s"$dir/in/b2.json",
      BeaconFixtures.blockLines(96).drop(64))
    val q2 = src.writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(s"$dir/out").count() === 96L)
  }

  test("tumbling 1-hour windows aggregate event time (D1)") {
    val dir = tmpDir("stream-win")
    BeaconFixtures.write(s"$dir/in/b.json", BeaconFixtures.blockLines(600)) // ~2 h
    val src = BeaconStreaming.fileSource(spark, BeaconSchemas.beaconBlocks, s"$dir/in")
    val counts = BeaconStreaming.tumblingCounts(src, "block_timestamp", "1 hour")
    val q = counts.writeStream
      .format("memory").queryName("win_counts").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append mode emits only watermark-closed windows; with 600 slots
    // (12:00→14:00) at a 2 h watermark nothing closes — use complete-mode
    // snapshot instead for the assertion
    val q2 = BeaconStreaming.tumblingCounts(
        BeaconStreaming.fileSource(spark, BeaconSchemas.beaconBlocks, s"$dir/in"),
        "block_timestamp", "1 hour")
      .writeStream.format("memory").queryName("win_counts_c").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    val rows = spark.table("win_counts_c").orderBy("window_start").collect()
    assert(rows.length === 3) // 12:xx, 13:xx, 14:xx
    assert(rows.map(_.getAs[Long]("n_rows")).sum === 600L)
  }

  test("dual sink appends history and overwrites latest per micro-batch (D6)") {
    val dir = tmpDir("stream-dual")
    BeaconFixtures.write(s"$dir/in/v1.json",
      BeaconFixtures.validatorLines(1, 5, epochSpacingSeconds = 3600))
    val src = BeaconStreaming.fileSource(spark, BeaconSchemas.beaconValidators, s"$dir/in")
    val w = BeaconStreaming.dualSink(src, "timestamp",
      s"$dir/history", s"$dir/latest", s"$dir/chk")
    BeaconStreaming.runAvailableNow(w).awaitTermination(120000)
    assert(spark.read.parquet(s"$dir/latest").count() === 5L)

    // second hour arrives → history accumulates, latest replaced
    BeaconFixtures.write(s"$dir/in/v2.json",
      BeaconFixtures.validatorLines(2, 5, epochSpacingSeconds = 3600).drop(5))
    BeaconStreaming.runAvailableNow(w).awaitTermination(120000)
    val latest = spark.read.parquet(s"$dir/latest")
    assert(latest.count() === 5L)
    assert(latest.agg(max("epoch")).collect()(0).getLong(0) === 1L)
    assert(spark.read.parquet(s"$dir/history").count() === 10L)

    // a third landing in the hour that already holds the second one's rows
    // (a minute later) adds to that hour's history instead of replacing it
    BeaconFixtures.write(s"$dir/in/v3.json",
      BeaconFixtures.validatorLines(2, 5, epochSpacingSeconds = 3660).drop(5))
    BeaconStreaming.runAvailableNow(w).awaitTermination(120000)
    assert(spark.read.parquet(s"$dir/latest").count() === 5L)
    val history = spark.read.parquet(s"$dir/history")
    assert(history.select("block_date", "hour").distinct().count() === 2L)
    assert(history.count() === 15L)
  }

  test("dual sink: replaying one batch id leaves history at the single-run count") {
    val dir = tmpDir("stream-dual-replay")
    BeaconFixtures.write(s"$dir/in/v1.json",
      BeaconFixtures.validatorLines(2, 5, epochSpacingSeconds = 3600))
    def invoke(): Unit = BeaconStreaming.runAvailableNow(BeaconStreaming.dualSink(
      BeaconStreaming.fileSource(spark, BeaconSchemas.beaconValidators, s"$dir/in"),
      "timestamp", s"$dir/history", s"$dir/latest", s"$dir/chk"))
      .awaitTermination(120000)
    invoke()
    val once = spark.read.parquet(s"$dir/history").count()
    assert(once === 10L)
    // a crash after the sink ran but before the offset commit: the restarted
    // query runs batch 0 again, under the same batch id
    for (f <- Seq("0", ".0.crc")) new java.io.File(s"$dir/chk/commits/$f").delete()
    invoke()
    assert(spark.read.parquet(s"$dir/history").count() === once)
    assert(spark.read.parquet(s"$dir/latest").count() === 10L)
  }

  test("session windows group by inactivity gap (D8)") {
    val dir = tmpDir("stream-sess")
    // two bursts of blocks separated by a >10 min gap: slots 0..9 then 60..69
    val lines = BeaconFixtures.blockLines(70)
    BeaconFixtures.write(s"$dir/in/b.json",
      lines.take(10) ++ lines.drop(60))
    val src = BeaconStreaming.fileSource(spark, BeaconSchemas.beaconBlocks, s"$dir/in")
    val q = BeaconStreaming.sessionCounts(
        src.withColumn("one", lit(1)), "block_timestamp", "one", "5 minutes")
      .writeStream.format("memory").queryName("sess_out").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("sess_out").orderBy("session_start").collect()
    assert(rows.length === 2, "two activity bursts → two sessions")
    assert(rows.map(_.getAs[Long]("n_rows")).toSeq === Seq(10L, 10L))
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches (D7)") {
    val dir = tmpDir("stream-dedup")
    val lines = BeaconFixtures.blockLines(32)
    BeaconFixtures.write(s"$dir/in/b1.json", lines)
    BeaconFixtures.write(s"$dir/in/b2.json", lines) // exact replay of the same batch
    val src = BeaconStreaming.fileSource(spark, BeaconSchemas.beaconBlocks, s"$dir/in",
      maxFilesPerTrigger = 1)
    val deduped = BeaconStreaming.dedupAcrossBatches(src, "block_timestamp", Seq("block_slot"))
    val q = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.table("dedup_out").count() === 32L)
  }

  test("streaming near-dup dedup keys state on the per-row MinHash signature") {
    val dir = tmpDir("stream-neardup")
    // two micro-batches: b2 replays b1's docs with whitespace-only edits
    // (leading spaces, separator run-length) — different BYTES, same
    // shingles → same signature → dropped; doc 4 is genuinely new text;
    // the sub-3-token doc dedups by exact text fallback
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "ts": "2024-01-01T00:0$id:00.000Z", "text": "$text"}"""
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      doc(1, "the quick brown fox jumps"),
      doc(2, "entirely different document body here"),
      doc(3, "tiny doc")))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(
      doc(1, "  the quick  brown fox jumps"), // near-dup of b1 doc 1
      doc(3, "tiny doc"),                     // exact replay (null-sig path)
      doc(4, "a genuinely new fourth document")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val deduped = BeaconStreaming.nearDupDedup(src, "ts")
    val q = deduped.writeStream
      .format("memory").queryName("neardup_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val kept = spark.table("neardup_out").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept === Seq(1L, 2L, 3L, 4L))
  }

  test("pinned semantic gap: a 1-of-4-band batch near-dup pair passes the stream undeduped") {
    // nearDupDedup's scaladoc claims exactly this: the batch banded-LSH
    // family pairs docs on ANY agreeing band, the stream only on the
    // whole-signature key. Find (deterministically) a text pair agreeing
    // on 1..3 bands — a batch candidate pair — and show the stream keeps
    // BOTH. If the shingle hashing ever changes such that no variant
    // qualifies, the search assert fails loudly rather than pinning vacuum.
    import spark.implicits._
    val base = (1 to 30).map(i => s"alpha$i bravo$i").mkString(" ")
    val cands = (0 until 400).map(v => (v.toLong, s"$base charlie$v delta$v"))
    val baseSig = Seq(("b", base)).toDF("id", "text")
      .selectExpr("shingle_sig(text) AS s").head.getStruct(0)
    val partial = cands.toDF("id", "text")
      .selectExpr("id", "text", "shingle_sig(text) AS s")
      .collect().iterator.map { r =>
        val s = r.getStruct(2)
        val shared = (0 until 4).count(k => s.getLong(k) == baseSig.getLong(k))
        (r.getLong(0), r.getString(1), shared)
      }.find { case (_, _, sh) => sh >= 1 && sh <= 3 }
    assert(partial.nonEmpty,
      "no 1..3-band-agreeing variant in 400 candidates — hashing changed?")
    val (_, nearText, sharedBands) = partial.get
    val dir = tmpDir("stream-neardup-gap")
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "ts": "2024-01-01T00:0$id:00.000Z", "text": "$text"}"""
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(doc(1, base)))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(doc(2, nearText)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = BeaconStreaming.nearDupDedup(src, "ts").writeStream
      .format("memory").queryName("neardup_gap_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val kept = spark.table("neardup_gap_out").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    // batch would pair them (sharedBands in 1..3); the stream keeps both
    assert(sharedBands >= 1 && sharedBands <= 3)
    assert(kept === Seq(1L, 2L))
  }

  test("banded streaming dedup drops 1-of-4-band near-dups the plain stream keeps") {
    // the gap nearDupDedup pins open, nearDupDedupBanded must close: a doc
    // agreeing with an EARLIER kept doc on any single band is dropped.
    import spark.implicits._
    def sig(t: String): Seq[Long] = {
      val s = Seq(("x", t)).toDF("id", "text")
        .selectExpr("shingle_sig(text) AS s").head.getStruct(0)
      (0 until 4).map(s.getLong)
    }
    val base = (1 to 30).map(i => s"alpha$i bravo$i").mkString(" ")
    val sigA = sig(base)
    // B: agrees with A on 1..3 bands (the same search the plain-stream gap
    // test uses) — a batch candidate pair that nearDupDedup keeps
    val bCand = (0 until 400).iterator
      .map(v => s"$base charlie$v delta$v")
      .map(t => (t, sig(t)))
      .find { case (_, s) =>
        val sh = (0 until 4).count(k => s(k) == sigA(k)); sh >= 1 && sh <= 3 }
    assert(bCand.nonEmpty, "no partial-band B variant found — hashing changed?")
    val bText = bCand.get._1

    val dir = tmpDir("stream-neardup-banded")
    def doc(id: Long, ts: String, text: String) =
      s"""{"doc_id": $id, "ts": "$ts", "text": "$text"}"""
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      doc(1, "2024-01-01T00:01:00.000Z", base),
      doc(5, "2024-01-01T00:05:00.000Z", "tiny doc")))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(
      doc(2, "2024-01-01T00:02:00.000Z", bText),
      doc(6, "2024-01-01T00:06:00.000Z", "tiny doc"))) // exact tiny replay
    // pin strictly increasing mtimes so claim order is arrival order
    (1 to 2).foreach { i =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$dir/in/b$i.json"),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = BeaconStreaming.nearDupDedupBanded(src, "ts").writeStream
      .format("memory").queryName("neardup_banded_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val kept = spark.table("neardup_banded_out").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    // A kept; B dropped (1-of-4 band agreement — the pair nearDupDedup's
    // gap test proves the PLAIN stream keeps); tiny doc kept ONCE
    assert(kept === Seq(1L, 5L))
  }

  test("banded streaming dedup: a same-micro-batch duplicate pair leaves ONE survivor") {
    // the hazard that shaped the operator: with per-(band,hash) claims and
    // a count==4 keep rule, two identical docs in one batch could split
    // their band claims so NEITHER survived. The chained per-band stages
    // resolve each key's conflicts alone, so exactly one of the pair must
    // come out — never zero.
    val text = (1 to 30).map(i => s"zulu$i yankee$i").mkString(" ")
    val dir = tmpDir("stream-neardup-banded-batch")
    def doc(id: Long, ts: String, t: String) =
      s"""{"doc_id": $id, "ts": "$ts", "text": "$t"}"""
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      doc(11, "2024-01-01T00:01:00.000Z", text),
      doc(10, "2024-01-01T00:02:00.000Z", text))) // identical, same batch
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in")
    val q = BeaconStreaming.nearDupDedupBanded(src, "ts").writeStream
      .format("memory").queryName("neardup_banded_batch_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val kept = spark.table("neardup_banded_batch_out").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept.length === 1, s"exactly one of the pair must survive: $kept")
    assert(Set(10L, 11L).contains(kept.head))
  }

  test("curateStream composes gates, decontamination and dedup over micro-batches") {
    import spark.implicits._
    val dir = tmpDir("stream-curate")
    // 25 distinct words → passes the ≥20-token and repetition gates
    val good = (1 to 25).map(i => s"word$i").mkString(" ")
    val good2 = (1 to 25).map(i => s"other$i").mkString(" ")
    val repetitive = Seq.fill(25)("spam").mkString(" ") // top_count/n = 1 > 0.15
    val short = "too short"
    val benchText = (1 to 25).map(i => s"bench$i").mkString(" ")
    def doc(id: Long, text: String, lang: String = "en") =
      s"""{"doc_id": $id, "ts": "2024-01-01T00:0$id:00.000Z", "lang": "$lang", "text": "$text"}"""
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      doc(1, good),
      doc(2, short),            // quality gate
      doc(3, repetitive),       // repetition gate
      doc(4, benchText),        // contaminated (shares 13-grams with benchmark)
      doc(5, good2, lang = "zz") // language gate
    ))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(
      doc(6, s"  $good"),       // near-dup of doc 1 (whitespace-normalized)
      doc(7, good2)             // genuinely new survivor
    ))
    val benchmark = Seq(benchText).toDF("text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = BeaconStreaming.curateStream(src, benchmark, "ts").writeStream
      .format("memory").queryName("curate_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val kept = spark.table("curate_out").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept === Seq(1L, 7L))
  }

  test("streaming budget take enforces per-source UniMax allocations across batches") {
    import spark.implicits._
    // the unimax property-spec corpus: tot=507 tokens, B=253, caps asc
    // (8, 20, 800, 1200) -> tiny/small capped at 8/20, big/huge get 112
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val fit = Seq(
      (1L, "tiny", words(2)), (2L, "small", words(5)),
      (3L, "big", words(200)), (4L, "huge", words(300))
    ).toDF("doc_id", "source", "text")
    val dir = tmpDir("stream-budget")
    def doc(id: Long, src: String, n: Int) =
      s"""{"doc_id": $id, "source": "$src", "text": "${words(n)}"}"""
    // batch 1: two 60-token "big" docs (taken: before 0 and 60 < 112);
    // batch 2: a third (before 120 >= 112 -> dropped), a doc from an
    // unknown source (zero allocation -> dropped), and two "tiny" docs
    // (alloc 8: before 0 taken; before 5 < 8 taken — the overshoot doc)
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      doc(10, "big", 60), doc(11, "big", 60)))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(
      doc(12, "big", 60), doc(13, "mystery", 3),
      doc(14, "tiny", 5), doc(15, "tiny", 5)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = BeaconStreaming.budgetTakeStream(src, fit).writeStream
      .format("memory").queryName("budget_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.table("budget_out").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keySet === Set(10L, 11L, 14L, 15L))
    assert(out(10L) === (("big", 60L, 0L)))
    assert(out(11L) === (("big", 60L, 60L)))   // same-batch running sum
    assert(out(14L) === (("tiny", 5L, 0L)))
    assert(out(15L) === (("tiny", 5L, 5L)))    // the one overshoot doc
    // doc 12 dropped: cross-batch STATE says 120 >= 112; doc 13 dropped:
    // unknown source has zero allocation
  }

  test("budget take state survives a query RESTART from the checkpoint") {
    import spark.implicits._
    // same corpus as the cross-batch test above, but the two batches run
    // in two SEPARATE query incarnations sharing one checkpoint: doc 12
    // must be dropped by the SECOND query purely from the RECOVERED
    // per-source state (big already took 120 ≥ 112 in the first run) —
    // the property a nightly-restarted production pipeline leans on,
    // which the single-query test cannot distinguish from in-memory state
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val fit = Seq(
      (1L, "tiny", words(2)), (2L, "small", words(5)),
      (3L, "big", words(200)), (4L, "huge", words(300))
    ).toDF("doc_id", "source", "text")
    val dir = tmpDir("stream-budget-restart")
    def doc(id: Long, src: String, n: Int) =
      s"""{"doc_id": $id, "source": "$src", "text": "${words(n)}"}"""
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
        maxFilesPerTrigger = 1)
      val q = BeaconStreaming.budgetTakeStream(src, fit).writeStream
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/chk")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      doc(10, "big", 60), doc(11, "big", 60)))
    runOnce() // first incarnation: takes 10 and 11, state big -> 120
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(
      doc(12, "big", 60), doc(13, "mystery", 3),
      doc(14, "tiny", 5), doc(15, "tiny", 5)))
    runOnce() // second incarnation: recovered state must reject doc 12
    val out = spark.read.parquet(s"$dir/out").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keySet === Set(10L, 11L, 14L, 15L))
    assert(out(10L) === (("big", 60L, 0L)))
    assert(out(11L) === (("big", 60L, 60L)))
    assert(out(14L) === (("tiny", 5L, 0L)))
    assert(out(15L) === (("tiny", 5L, 5L)))
  }

  test("streaming BPE tokenization equals the batch tokenizer on fit-corpus rows") {
    import spark.implicits._
    // the OpPropertiesSpec BPE corpus shape: repeated words so merges are
    // non-trivial, plus singleton words
    val fit = Seq(
      (1L, "low low low lower lower newest"),
      (2L, "newest newest widest low"),
      (3L, "the quick brown fox")).toDF("doc_id", "text")
    val dir = tmpDir("stream-bpe")
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "text": ${if (text == null) "null" else s""""$text""""}}"""
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      doc(10, "low low low lower lower newest"),
      doc(11, "newest newest widest low")))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(doc(12, null)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = BeaconStreaming.bpeTokenizeStream(src, fit).writeStream
      .format("memory").queryName("bpe_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("bpe_out")
      .select("doc_id", "n_chars", "n_bpe_tokens", "compression")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(streamed.size === 3)
    val batch = graft.ops.TextQueries.queries("q_bpe_tokenize") // registration parity
    val batchRows = {
      val dirB = tmpDir("stream-bpe-batch")
      fit.withColumn("source", lit("s")).withColumn("lang", lit("en"))
        .write.mode("overwrite").parquet(s"$dirB/documents.parquet")
      batch(spark, dirB).collect().map(r => r.getLong(0) -> r).toMap
    }
    // fit members tokenize bit-identically to the batch pipeline
    for ((sid, fid) <- Seq((10L, 1L), (11L, 2L))) {
      assert(streamed(sid).getLong(1) === batchRows(fid).getAs[Long]("n_chars"))
      assert(streamed(sid).getLong(2) ===
        batchRows(fid).getAs[Long]("n_bpe_tokens"))
      assert(streamed(sid).getDouble(3) ===
        batchRows(fid).getAs[Double]("compression"))
    }
    // null text: row kept, outputs null
    assert(streamed(12L).isNullAt(1) && streamed(12L).isNullAt(2))
  }

  test("streaming line dedup: gates stateless, first arrival wins across batches") {
    val dir = tmpDir("stream-linededup")
    val keepA = "alpha beta gamma delta epsilon."
    val keepB = "one two three four five six!"
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "ts": "2024-01-01T00:0$id:00.000Z", "text": "$text"}"""
    // batch 1: doc 1 carries A (twice — in-batch dup) + a <5-word line +
    // a punct-less line; batch 2: doc 2 re-sends A (cross-batch dup, must
    // drop) and introduces B (fresh, must keep)
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      doc(1, s"$keepA\\nshort line.\\nno terminal punct at all\\n$keepA")))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(
      doc(2, s"$keepA\\n$keepB")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = BeaconStreaming.lineDedupStream(src, "ts").writeStream
      .format("memory").queryName("linededup_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.table("linededup_out")
      .select("doc_id", "idx", "line").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // doc 1: exactly ONE copy of A survives (first occurrence, idx 0);
    // the short and punct-less lines are gated out. doc 2: A is
    // cross-batch state-dropped, B survives.
    assert(out === Set((1L, 0, keepA), (2L, 1, keepB)))
  }

  test("streaming line dedup: a line re-appearing past the watermark horizon is kept again") {
    // the scaladoc's stated bounded-state delta, pinned: with a 2-hour
    // watermark, state for line A (seen at 00:00) is evictable once the
    // watermark passes 02:00 — so A re-arriving at 05:00, AFTER a batch
    // that advanced the watermark to ~03:00, must be KEPT again (bounded
    // state has a horizon; the nightly batch pass reconciles). A third
    // re-send inside the NEW horizon must still drop.
    val dir = tmpDir("stream-linededup-horizon")
    val keepA = "alpha beta gamma delta epsilon."
    val other = "one two three four five six!"
    def doc(id: Long, ts: String, text: String) =
      s"""{"doc_id": $id, "ts": "$ts", "text": "$text"}"""
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // one incarnation per batch over a shared checkpoint + parquet sink:
    // pre-writing all files lets the file source race the watermark
    // (batch order by mtime is not arrival order) and the 00:00 row
    // arrives LATE against an already-03:00 watermark
    def drain(): Unit = {
      val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
        maxFilesPerTrigger = 1)
      val q = BeaconStreaming.lineDedupStream(src, "ts").writeStream
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/chk")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      doc(1, "2024-01-01T00:00:00.000Z", keepA)))
    drain()
    // advances the watermark to 05:00 − 2 h = 03:00 > A's 00:00 state
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(
      doc(2, "2024-01-01T05:00:00.000Z", other)))
    drain()
    BeaconFixtures.write(s"$dir/in/b3.json", Seq(
      doc(3, "2024-01-01T05:30:00.000Z", keepA)))   // past horizon: KEPT
    drain()
    BeaconFixtures.write(s"$dir/in/b4.json", Seq(
      doc(4, "2024-01-01T05:40:00.000Z", keepA)))   // inside new horizon: DROPPED
    drain()
    val out = spark.read.parquet(s"$dir/out").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(out === Set(1L, 2L, 3L),
      s"expected horizon-expired re-keep of doc 3 and in-horizon drop of doc 4, got $out")
  }

  test("streaming decontamination drops 13-gram overlap with the static benchmark") {
    import spark.implicits._
    val dir = tmpDir("stream-decon")
    val benchText = (1 to 20).map(i => s"w$i").mkString(" ")
    // doc 1 embeds a verbatim 13-gram run of the benchmark inside fresh
    // text; doc 2 shares vocabulary but never 13 consecutive words;
    // doc 3 is too short to have any 13-gram (cannot be contaminated)
    def doc(id: Long, text: String) =
      s"""{"doc_id": $id, "ts": "2024-01-01T00:0$id:00.000Z", "text": "$text"}"""
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      doc(1, "prefix " + (3 to 15).map(i => s"w$i").mkString(" ") + " suffix"),
      doc(2, (1 to 12).map(i => s"w$i").mkString(" ") + " other " +
        (8 to 19).map(i => s"w$i").mkString(" "))))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(
      doc(3, "short clean doc")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val clean = BeaconStreaming.decontaminateStream(src,
      Seq(benchText).toDF("text"))
    val q = clean.writeStream
      .format("memory").queryName("decon_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val kept = spark.table("decon_out").collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept === Seq(2L, 3L))
  }

  test("the batch chunker composes with a stream unchanged (stateless)") {
    // CorpusQueries.chunks is a per-row projection + explode — no state,
    // no aggregation — so the SAME def drives both batch and streaming
    // with identical output; no separate streaming wrapper exists or is
    // needed. Proven, not asserted: stream the chunker over two
    // micro-batches and diff against the batch run on the same rows.
    val dir = tmpDir("stream-chunk")
    def doc(id: Long, n: Int) =
      s"""{"doc_id": $id, "text": "${(1 to n).map(i => s"t$i").mkString(" ")}"}"""
    // lengths straddle the window arithmetic: n=50 (one chunk — the
    // capped start), n=51 (two), n=95 (three), n=7 (short tail)
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(doc(1, 50), doc(2, 51)))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(doc(3, 95), doc(4, 7)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = graft.ops.CorpusQueries.chunks(src).writeStream
      .format("memory").queryName("chunk_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("chunk_out")
    val batch = graft.ops.CorpusQueries.chunks(
      spark.read.schema(schema).json(s"$dir/in"))
    assert(streamed.count() === 1 + 2 + 3 + 1)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming bm25 scoring equals the batch scorer on the same rows") {
    val sfDir = "/root/testdata/sf0.001"
    val fit = graft.tables.Tables.documents(spark, sfDir)
    // stream two fit-corpus docs (frozen stats coincide with the batch
    // subquery exactly) + one zero-hit doc
    val texts = fit.filter(col("doc_id").isin(3L, 7L))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dir = tmpDir("stream-bm25")
    def json(id: Long, text: String) = s"""{"doc_id": $id, "text": "$text"}"""
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      json(3, texts(3L)), json(7, texts(7L)),
      json(900, "no query terms here at all")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in")
    val q = BeaconStreaming.bm25ScoreStream(src, fit).writeStream
      .format("memory").queryName("bm25_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("bm25_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    assert(streamed.keySet === Set(3L, 7L, 900L))
    assert(streamed(900L) === 0.0)
    val batch = graft.ops.RetrievalQueries.bm25Scored(fit)
      .filter(col("doc_id").isin(3L, 7L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // bit-identical: same expression text over the same stats values
    assert(streamed(3L) === batch(3L))
    assert(streamed(7L) === batch(7L))
  }

  test("streaming fluency labeling equals the batch pipeline on fit-corpus rows") {
    import spark.implicits._
    // the batch lmFluency spec's corpus shape: fluent repetition, unique
    // gibberish, a half-and-half doc — all three buckets represented
    val fluent = (1 to 50).map(_ => "aa bb").mkString(" ")
    val fitRows = (1L to 20L).map(i => (i, fluent)) ++
      (0 to 1).map(d => (100L + d, (0 until 50).map(i => s"g${d}_$i").mkString(" "))) :+
      (200L, (1 to 25).map(_ => "aa bb").mkString(" ") + " " +
        (0 until 24).map(i => s"m_$i").mkString(" "))
    val fit = fitRows.toDF("doc_id", "text")
    val dir = tmpDir("stream-fluency")
    def json(id: Long, text: String) = s"""{"doc_id": $id, "text": "$text"}"""
    // fit members (head / tail / middle), an UNSEEN-bigram doc (smoothing
    // floor path), and a 1-token doc (no bigrams -> null labels)
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      json(300, fluent), json(301, fitRows(20)._2)))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(
      json(302, fitRows(22)._2), json(303, "zz yy xx ww"), json(304, "solo")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = BeaconStreaming.fluencyScoreStream(src, fit)
      .writeStream
      .format("memory").queryName("fluency_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("fluency_out")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(streamed.size === 5)
    val batch = graft.ops.TextQueries.lmFluency(fit)
      .collect().map(r => r.getLong(0) -> r).toMap
    // fit members label identically to batch (same frozen integers)
    for ((sid, fid) <- Seq((300L, 1L), (301L, 100L), (302L, 200L))) {
      assert(streamed(sid).getAs[Long]("n_bigrams") === batch(fid).getLong(1))
      assert(streamed(sid).getAs[Long]("fluency") === batch(fid).getLong(2))
      assert(streamed(sid).getAs[String]("bucket") === batch(fid).getString(3),
        s"stream $sid vs batch $fid")
      assert(streamed(sid).getAs[Boolean]("keep") === batch(fid).getBoolean(4))
    }
    // unseen bigrams take the smoothing floor -> scored, lowest bucket
    assert(streamed(303L).getAs[Long]("fluency") > 0L)
    assert(streamed(303L).getAs[String]("bucket") === "tail")
    // no bigrams -> null labels, row NOT swallowed
    assert(streamed(304L).isNullAt(streamed(304L).fieldIndex("bucket")))
    assert(streamed(304L).isNullAt(streamed(304L).fieldIndex("keep")))
  }

  test("fluencyScoreStream rejects streams that already carry its output columns") {
    import spark.implicits._
    val fit = Seq((1L, "aa bb aa bb")).toDF("doc_id", "text")
    // output-name clash must fail loudly (ADVICE r8: only the __-working
    // set was guarded; `fluency` etc. were silently overwritten)
    val withOutputCol = Seq((1L, "x y", true)).toDF("doc_id", "text", "keep")
    val e = intercept[IllegalArgumentException] {
      BeaconStreaming.fluencyScoreStream(withOutputCol, fit)
    }
    assert(e.getMessage.contains("keep"))
    val withWorkingCol = Seq((1L, "x y", 0L)).toDF("doc_id", "text", "__z")
    assert(intercept[IllegalArgumentException] {
      BeaconStreaming.fluencyScoreStream(withWorkingCol, fit)
    }.getMessage.contains("__z"))
  }

  test("streaming importance scoring equals the batch pipeline on the same rows") {
    import spark.implicits._
    // fit corpus with a REAL vocabulary split (target speaks A, raw speaks
    // B) so keep decisions are non-trivial in both directions
    val vocabA = Seq("alpha", "beta", "gamma", "delta")
    val vocabB = Seq("omega", "sigma", "kappa", "lambda")
    val fitRows = (0 until 20).map { i =>
      val v = if (i < 10) vocabA else vocabB
      (i.toLong, Seq.tabulate(30)(j => v((i + j) % 4)).mkString(" "),
        if (i < 10) "tgt" else "raw")
    }
    val fit = fitRows.toDF("doc_id", "text", "lang")
    val dir = tmpDir("stream-dsir")
    def json(id: Long, text: String) = s"""{"doc_id": $id, "text": "$text"}"""
    // two micro-batches; doc 101 mixes vocabularies, doc 103 is UNSEEN
    // vocabulary (smoothing default path)
    BeaconFixtures.write(s"$dir/in/b1.json", Seq(
      json(100, fitRows(0)._2), json(101, "alpha omega beta sigma")))
    BeaconFixtures.write(s"$dir/in/b2.json", Seq(
      json(102, fitRows(15)._2), json(103, "zeta theta iota")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = BeaconStreaming
      .importanceScoreStream(src, fit, col("lang") === "tgt")
      .writeStream
      .format("memory").queryName("dsir_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("dsir_out")
      .select("doc_id", "n_tokens", "score", "keep")
    assert(streamed.count() === 4)
    // pure-target doc kept, pure-raw doc dropped
    assert(streamed.filter(col("doc_id") === 100 && col("keep")).count() === 1)
    assert(streamed.filter(col("doc_id") === 102 && !col("keep")).count() === 1)
    // batch equivalence on the SEEN-vocabulary docs: score the same rows
    // through the batch pipeline (fit corpus ∪ scored docs must be the
    // fit corpus itself for the fits to coincide, so score fit members)
    val batch = graft.ops.CorpusQueries
      .importanceWeights(fit, col("lang") === "tgt")
      .withColumnRenamed("doc_id", "fit_id")
    val b0 = batch.filter(col("fit_id") === 0).select("score").head.getLong(0)
    val s100 = streamed.filter(col("doc_id") === 100).select("score").head.getLong(0)
    assert(s100 === b0, s"stream score $s100 != batch score $b0 for identical text")
    val b15 = batch.filter(col("fit_id") === 15).select("score").head.getLong(0)
    val s102 = streamed.filter(col("doc_id") === 102).select("score").head.getLong(0)
    assert(s102 === b15)
    // unseen vocabulary takes the smoothing default, never null/failure
    val s103 = streamed.filter(col("doc_id") === 103)
    assert(s103.head.getAs[Long]("score") > 0)
  }

  test("streaming probe scoring is bit-identical to batch on fit-corpus rows") {
    // fit corpus from the real fixture so the probe has signal to learn
    val fit = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val fitRows = fit.filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dir = tmpDir("stream-probe")
    def json(id: Long, text: String) =
      s"""{"doc_id": $id, "text": "${text.replace("\"", "")}"}"""
    BeaconFixtures.write(s"$dir/in/b1.json",
      fitRows.take(3).map { case (id, t) => json(id, t) })
    BeaconFixtures.write(s"$dir/in/b2.json",
      Seq(json(9001L, fitRows(3)._2), """{"doc_id": 9002, "text": null}"""))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = BeaconStreaming.probeScoreStream(src, fit)
      .writeStream
      .format("memory").queryName("probe_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("probe_out")
      .select("doc_id", "y", "score", "keep").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(streamed.size === 5)
    // same text + same frozen weights ⇒ bit-identical to the batch scorer
    val batch = graft.ops.TextQueries.probeScore(fit)
      .collect().map(r => r.getLong(0) -> r).toMap
    fitRows.take(3).foreach { case (id, _) =>
      assert(streamed(id).getLong(1) === batch(id).getLong(1), s"y for $id")
      assert(streamed(id).getDouble(2) === batch(id).getDouble(2),
        s"score for $id")
      assert(streamed(id).getBoolean(3) === batch(id).getBoolean(3))
    }
    // re-keyed doc with a fit-corpus text scores identically too
    assert(streamed(9001L).getDouble(2) ===
      batch(fitRows(3)._1).getDouble(2))
    // null text flows through with null score/keep, never dropped
    assert(streamed(9002L).isNullAt(2) && streamed(9002L).isNullAt(3))
  }

  test("streaming PQ codes are bit-identical to batch assignment") {
    val fitDir = "/root/testdata/sf0.001"
    val vecs = graft.tables.Tables.embeddings(spark, fitDir)
      .filter(col("vec_id") < 4)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val dir = tmpDir("stream-pq")
    def json(id: Long, v: Seq[Float]) =
      s"""{"vec_id": $id, "embedding": [${v.mkString(", ")}]}"""
    BeaconFixtures.write(s"$dir/in/b1.json",
      vecs.take(2).map { case (id, v) => json(id, v) })
    BeaconFixtures.write(s"$dir/in/b2.json",
      vecs.drop(2).map { case (id, v) => json(id, v) })
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val src = BeaconStreaming.fileSource(spark, schema, s"$dir/in",
      maxFilesPerTrigger = 1)
    val q = BeaconStreaming.pqCodesStream(src, fitDir)
      .drop("embedding")
      .writeStream
      .format("memory").queryName("pq_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("pq_out").collect()
      .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(streamed.size === 4)
    val batch = graft.ops.SimilarityQueries.queries("q_pq_codes")(spark, fitDir)
      .filter(col("vec_id") < 4).collect()
      .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(streamed === batch)
  }

  /** Replay the sf0.001 events history in global (ts, event_id) order as
    * three parquet slices, each drained by its own AvailableNow
    * invocation (state crosses invocations via the checkpoint — the
    * restart-survival pattern), so cross-batch boundary pairs and
    * mid-funnel state are actually exercised. */
  private def replayEventSlices(dirPrefix: String,
                                build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val dir = tmpDir(dirPrefix)
    val ev = graft.tables.Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type", "value")
    val sch = ev.schema
    val ordered = ev.orderBy("ts", "event_id").collect()
    val slices = ordered.grouped((ordered.length + 2) / 3).toSeq
    for (slice <- slices) {
      spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(slice: _*)), sch)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      val src = spark.readStream.schema(sch).parquet(s"$dir/in")
      val q = build(src).writeStream
        .format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    spark.read.parquet(s"$dir/out")
  }

  test("eventTransitionsStream over a sliced replay equals batch q_event_transitions") {
    val sfDir = "/root/testdata/sf0.001"
    val streamed = replayEventSlices("stream-trans",
        BeaconStreaming.eventTransitionsStream)
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.EventQueries
      .queries("q_event_transitions")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("funnelStream fires each step once and matches batch q_funnel totals") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = replayEventSlices("stream-funnel", BeaconStreaming.funnelStream)
      .collect()
    // a slot fires exactly once per user
    val perUserStep = rows.groupBy(r => (r.getAs[Long]("user_id"),
      r.getAs[Long]("step_no")))
    assert(perUserStep.values.forall(_.length == 1),
      "a funnel step fired more than once for some user")
    val streamedCounts = rows.groupBy(_.getAs[Long]("step_no"))
      .view.mapValues(_.length.toLong).toMap
    val batch = graft.ops.EventQueries.queries("q_funnel")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((1L to 3L).forall(s =>
      streamedCounts.getOrElse(s, 0L) === batch(s)),
      s"streamed=$streamedCounts batch=$batch")
    // and the step timestamps respect the strictly-after chain per user
    for ((user, rs) <- rows.groupBy(_.getAs[Long]("user_id"))) {
      val byStep = rs.map(r => r.getAs[Long]("step_no") ->
        r.getAs[java.sql.Timestamp]("step_ts")).toMap
      for (s <- 2L to 3L if byStep.contains(s))
        assert(byStep(s - 1).before(byStep(s)),
          s"user $user: step $s not strictly after step ${s - 1}")
    }
  }

  test("sessionizeStream sliced replay equals batch q_sessionize row-for-row") {
    val sfDir = "/root/testdata/sf0.001"
    val streamed = replayEventSlices("stream-sess",
        BeaconStreaming.sessionizeStream)
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("user_id"), r.getAs[Long]("session_no"))).toMap
    val batch = graft.ops.EventQueries.queries("q_sessionize")(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("user_id"), r.getAs[Long]("session_no"))).toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch)
  }

  test("heavyHittersStream maxima equal batch counts; checkpoints monotone") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = replayEventSlices("stream-hh", BeaconStreaming.heavyHittersStream)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // per user the emitted checkpoints are strictly increasing
    for ((u, cs) <- rows.groupBy(_._1)) {
      val sorted = cs.map(_._2).sorted
      assert(sorted.distinct.length === sorted.length,
        s"user $u emitted a duplicate checkpoint")
    }
    val streamed = rows.groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    val batch = graft.tables.Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    // the sink-side top-10 cut over the maxima equals batch q_heavy_hitters
    val topStream = streamed.toSeq.sortBy { case (u, c) => (-c, u) }.take(10)
    val topBatch = graft.ops.EventQueries
      .queries("q_heavy_hitters")(spark, sfDir)
      .collect().sortBy(_.getAs[Int]("rnk"))
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cnt"))).toSeq
    assert(topStream === topBatch)
  }

  test("clickAttributionStream sliced replay equals batch q_click_attribution") {
    val sfDir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("click_id"), r.getAs[Long]("gap_us"))
    val batch = graft.ops.EventQueries
      .queries("q_click_attribution")(spark, sfDir).collect()
    assert(batch.nonEmpty, "fixture produced no attribution pairs")
    // Slice the replay ON PURPOSE between one known pair's click and its
    // purchase (the fixture's pairs sit 1-3 positions apart in global
    // order, so equal-thirds slicing never straddles one): slice 1 ends
    // just before the purchase, so the match can only form from the
    // click buffered in the checkpointed join state across invocations.
    val ev = graft.tables.Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type", "value")
    val ordered = ev.orderBy("ts", "event_id").collect()
    val pos = ordered.map(_.getAs[Long]("event_id")).zipWithIndex.toMap
    val probe = batch.minBy(r => pos(r.getAs[Long]("purchase_id")))
    val split = pos(probe.getAs[Long]("purchase_id"))
    assert(pos(probe.getAs[Long]("click_id")) < split)
    val dir = tmpDir("stream-attr")
    for (slice <- Seq(ordered.take(split), ordered.drop(split))) {
      spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(slice: _*)),
          ev.schema)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      val q = BeaconStreaming.clickAttributionStream(
          spark.readStream.schema(ev.schema).parquet(s"$dir/in"))
        .writeStream
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    val streamed = spark.read.parquet(s"$dir/out").collect()
    assert(streamed.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
    // every pair's gap respects the (0, 1h] band
    assert(streamed.forall { r =>
      val g = r.getAs[Long]("gap_us"); g > 0 && g <= 3600000000L
    })
    // and the engineered cross-slice pair exercised the buffered state
    assert(streamed.exists(r => key(r) == key(probe)),
      "the cross-slice pair did not survive the replay")
  }

  test("clickAbandonmentStream flushed replay equals batch q_click_abandonment") {
    val sfDir = "/root/testdata/sf0.001"
    val ev = graft.tables.Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type", "value")
    val ordered = ev.orderBy("ts", "event_id").collect()
    // Far-future sentinels for a disjoint user (-1) push BOTH sides'
    // watermark past every real click's 1h horizon so the LEFT OUTER
    // join's unmatched rows all drain. One sentinel per side is needed:
    // a watermark node only advances on rows that REACH it, and each
    // side filters to one event type before its withWatermark — a
    // neutral 'view' sentinel advanced neither (the global watermark is
    // the min of both). The click sentinel itself never emits: its own
    // horizon (+1h past the future ts) is never crossed.
    // ts surfaces as Timestamp or LocalDateTime depending on the
    // fixture's physical type (NTZ at some SFs) — handle both.
    val future = ordered.last.getAs[Any]("ts") match {
      case t: java.sql.Timestamp =>
        new java.sql.Timestamp(t.getTime + 30L * 24 * 3600 * 1000)
      case t: java.time.LocalDateTime => t.plusDays(30)
      case t: java.time.Instant => t.plusSeconds(30L * 24 * 3600)
    }
    val sentinels = Array(
      org.apache.spark.sql.Row(-1L, future, 10000000L, "click", null),
      org.apache.spark.sql.Row(-1L, future, 10000001L, "purchase", null))
    val half = ordered.length / 2
    val dir = tmpDir("stream-abandon")
    for (slice <- Seq(ordered.take(half), ordered.drop(half),
        sentinels)) {
      spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(slice: _*)),
          ev.schema)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      val q = BeaconStreaming.clickAbandonmentStream(
          spark.readStream.schema(ev.schema).parquet(s"$dir/in"))
        .writeStream
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"),
        r.getAs[Long]("click_us"))
    val streamed = spark.read.parquet(s"$dir/out").collect().map(key)
    val batch = graft.ops.EventQueries
      .queries("q_click_abandonment")(spark, sfDir).collect().map(key)
    assert(batch.nonEmpty, "fixture produced no abandoned clicks")
    assert(streamed.sorted.toSeq === batch.sorted.toSeq)
    // abandonment + attribution partition the clicks: every click is
    // attributed or abandoned, never both
    val attributed = graft.ops.EventQueries
      .queries("q_click_attribution")(spark, sfDir).collect()
      .map(_.getAs[Long]("click_id")).toSet
    val abandoned = streamed.map(_._2).toSet
    assert((attributed & abandoned).isEmpty)
    val allClicks = graft.tables.Tables.events(spark, sfDir)
      .filter(col("event_type") === "click").count()
    assert(attributed.size + abandoned.size === allClicks)
  }

  test("anomalyScoreStream with frozen fixture stats equals batch q_anomaly_z") {
    val sfDir = "/root/testdata/sf0.001"
    val fit = graft.tables.Tables.events(spark, sfDir)
    val streamed = replayEventSlices("stream-anom",
      BeaconStreaming.anomalyScoreStream(_, fit)).collect()
    val batch = graft.ops.RelationalQueries
      .queries("q_anomaly_z")(spark, sfDir).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("event_id"), r.getAs[Double]("z"))
    assert(batch.nonEmpty, "fixture produced no |z|>3 outliers")
    assert(streamed.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
  }

  test("madOutlierStream with frozen fixture stats equals batch q_anomaly_mad") {
    val sfDir = "/root/testdata/sf0.001"
    val fit = graft.tables.Tables.events(spark, sfDir)
    val streamed = replayEventSlices("stream-mad",
      BeaconStreaming.madOutlierStream(_, fit)).collect()
    val batch = graft.ops.RelationalQueries
      .queries("q_anomaly_mad")(spark, sfDir).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("event_id"), r.getAs[Long]("dev_cents"),
        r.getAs[Long]("mad_cents"))
    assert(batch.nonEmpty, "fixture produced no MAD outliers")
    assert(streamed.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
  }

  test("cdcApplySink sliced replay equals batch q_cdc_merge's surviving view") {
    val sfDir = "/root/testdata/sf0.001"
    val ev = graft.tables.Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type", "value")
    val k = ev.agg(expr("CAST(FLOOR(MAX(event_id) * 0.8) AS BIGINT)"))
      .collect().head.getLong(0)
    val dir = tmpDir("stream-cdc")
    // bootstrap the snapshot from the base slice's latest rows
    BeaconStreaming.cdcSnapshotInit(ev.filter(col("event_id") < k))
      .write.mode("overwrite").parquet(s"$dir/snap")
    // replay the changelog slice in two arbitrary halves
    val delta = ev.filter(col("event_id") >= k)
      .orderBy("ts", "event_id").collect()
    for (slice <- Seq(delta.take(delta.length / 2),
      delta.drop(delta.length / 2))) {
      spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(slice: _*)),
          ev.schema)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      val q = BeaconStreaming.cdcApplySink(
          spark.readStream.schema(ev.schema).parquet(s"$dir/in"),
          s"$dir/snap", s"$dir/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[String]("state"),
        r.getAs[Double]("state_value"), r.getAs[Long]("state_ts_us"))
    val streamed = BeaconStreaming.cdcCurrentView(spark, s"$dir/snap")
      .collect()
    val batch = graft.ops.EventQueries.queries("q_cdc_merge")(spark, sfDir)
      .filter(col("action") =!= "deleted")
      .select("user_id", "state", "state_value", "state_ts_us").collect()
    assert(batch.nonEmpty, "fixture produced no surviving CDC states")
    assert(streamed.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
  }

  test("cdcApplyBatch: out-of-order arrivals lose to the stored winner; slicing is order-invariant") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(sec: Long) = new java.sql.Timestamp(ts0.getTime + sec * 1000L)
    // u1: newer upsert arrives FIRST, older tombstone limps in a batch
    //     later → tombstone must lose (state stays B)
    // u2: tombstone first, older upsert later → must NOT resurrect
    val b1 = Seq((1L, t(20), 10L, "B", 2.0), (2L, t(20), 11L, "error", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val b2 = Seq((1L, t(10), 8L, "error", 0.0), (2L, t(10), 9L, "A", 1.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    def applied(prefix: String, batches: Seq[org.apache.spark.sql.DataFrame]) = {
      val p = tmpDir(prefix) + "/snap"
      batches.foreach(b => BeaconStreaming.cdcApplyBatch(b, p))
      spark.read.parquet(p)
        .collect()
        .map(r => (r.getAs[Long]("user_id"),
          Option(r.getAs[String]("state")).getOrElse("-"),
          r.getAs[Long]("state_event_id")))
        .sortBy(_._1).toSeq
    }
    val sliced = applied("cdc-sliced", Seq(b1, b2))
    assert(sliced === Seq((1L, "B", 10L), (2L, "-", 11L)))
    // the same rows in ONE batch converge to the same snapshot
    assert(applied("cdc-oneshot", Seq(b1.union(b2))) === sliced)
    // and in the REVERSED slice order too (merge rule is associative)
    assert(applied("cdc-reversed", Seq(b2, b1)) === sliced)
  }

  test("sketchUnionSink sliced replay equals batch q_sketch_union") {
    val sfDir = "/root/testdata/sf0.001"
    val ev = graft.tables.Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type", "value")
    val dir = tmpDir("stream-sketch")
    val ordered = ev.orderBy("ts", "event_id").collect()
    for (slice <- Seq(ordered.take(ordered.length / 3),
      ordered.slice(ordered.length / 3, 2 * ordered.length / 3),
      ordered.drop(2 * ordered.length / 3))) {
      spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(slice: _*)),
          ev.schema)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      val q = BeaconStreaming.sketchUnionSink(
          spark.readStream.schema(ev.schema).parquet(s"$dir/in"),
          s"$dir/tbl", s"$dir/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("event_type"), r.getAs[Long]("n_days"),
        r.getAs[Long]("est_users"))
    val streamed = BeaconStreaming.sketchUnionView(spark, s"$dir/tbl")
      .collect().map(key).sorted.toSeq
    val batch = graft.ops.RelationalQueries
      .queries("q_sketch_union")(spark, sfDir).collect().map(key).sorted.toSeq
    assert(batch.nonEmpty)
    // HLL union is commutative + idempotent, so the 3-slice replay's
    // estimates equal the one-shot batch aggregate EXACTLY — a lost or
    // double-counted day would move some register
    assert(streamed === batch)
  }

  test("pitEnrichStream sliced replay equals batch q_pit_join (training-serving parity)") {
    val sfDir = "/root/testdata/sf0.001"
    val ev = graft.tables.Tables.events(spark, sfDir)
    // the static feature table: the SCD2 history over non-purchase
    // observations — exactly what q_pit_join derives internally
    val history = graft.ops.EventQueries.scd2Of(
      ev.filter(col("event_type") =!= "purchase"))
    val streamed = replayEventSlices("stream-pit",
      BeaconStreaming.pitEnrichStream(_, history)).collect()
    val batch = graft.ops.EventQueries.queries("q_pit_join")(spark, sfDir)
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("purchase_id"),
        Option(r.getAs[String]("state")).getOrElse("-"),
        r.getAs[Long]("ts_us"))
    assert(batch.nonEmpty)
    assert(streamed.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
    // the parity is non-trivial only if both NULL and non-NULL states occur
    assert(streamed.exists(_.isNullAt(3)) || batch.forall(!_.isNullAt(3)))
    assert(streamed.exists(!_.isNullAt(3)))
  }

  test("intervalOverlapStream sliced replay equals batch q_interval_join") {
    val sfDir = "/root/testdata/sf0.001"
    val streamed = replayEventSlices("stream-ivj",
      BeaconStreaming.intervalOverlapStream(_)).collect()
    val batch = graft.ops.EventQueries.queries("q_interval_join")(
      spark, sfDir).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("incident_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("overlap_us"))
    assert(batch.nonEmpty, "fixture produced no overlapping intervals")
    assert(streamed.map(key).sorted.toSeq === batch.map(key).sorted.toSeq)
  }

  test("intervalOverlapStream fails LOUDLY on an interval exceeding maxDurUs (r16 contract enforcement)") {
    import spark.implicits._
    val dir = tmpDir("stream-ivj-maxdur")
    // one error/view pair; the view's duration (700 s) exceeds the 600 s
    // default maxDurUs — pre-r16 its pairs silently vanished from the
    // join, now the micro-batch must fail naming the contract
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, ts0, 1L, "error", 100.0), (2L, ts0, 2L, "view", 700.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/in")
    val sch = spark.read.parquet(s"$dir/in").schema
    val q = BeaconStreaming.intervalOverlapStream(
        spark.readStream.schema(sch).parquet(s"$dir/in"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("maxDurUs")),
      s"expected a maxDurUs contract error, got: ${messages(ex)}")
  }

  test("substrDedupSink: doc_id-ordered sliced replay equals batch q_substr_dedup; redelivery is idempotent") {
    val sfDir = "/root/testdata/sf0.001"
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val sch = docs.schema
    val dir = tmpDir("stream-substr")
    // doc_id-ordered slices: the ingest order under which the standing
    // registry's first-wins reproduces the batch op's global first-wins
    val ordered = docs.orderBy("doc_id").collect()
    val slices = ordered.grouped((ordered.length + 2) / 3).toSeq
    for (slice <- slices) {
      spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(slice: _*)), sch)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
      val q = BeaconStreaming.substrDedupSink(
          spark.readStream.schema(sch).parquet(s"$dir/in"),
          s"$dir/reg", s"$dir/out", s"$dir/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_text"))
    val streamed = BeaconStreaming.substrDedupView(spark, s"$dir/out")
      .collect().map(key).sortBy(_._1).toSeq
    val batch = graft.ops.CorpusQueries.queries("q_substr_dedup")(spark, sfDir)
      .collect().map(key).sortBy(_._1).toSeq
    assert(batch.exists(_._3 > 0), "fixture must have cross-doc duplicates")
    assert(streamed === batch)
    // redelivery: re-apply the LAST slice against the advanced registry —
    // winners coalesce to their own registry entries, so the cleaned
    // output and the registry are byte-stable
    val regBefore = spark.read.parquet(s"$dir/reg").count()
    val lastSlice = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(slices.last: _*)), sch)
    BeaconStreaming.substrDedupBatch(lastSlice, s"$dir/reg",
      s"$dir/out/batch=${slices.length - 1}", 50)
    assert(spark.read.parquet(s"$dir/reg").count() === regBefore,
      "redelivery must not grow the registry")
    val replayed = BeaconStreaming.substrDedupView(spark, s"$dir/out")
      .collect().map(key).sortBy(_._1).toSeq
    assert(replayed === batch, "redelivered batch must clean identically")
  }

  test("annDriftSink: the no-drift replay reads tv EXACTLY 0; a planted one-cell drift fires") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = graft.tables.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
    val sch = emb.schema
    def replay(prefix: String, slices: Seq[Array[org.apache.spark.sql.Row]]): org.apache.spark.sql.DataFrame = {
      val dir = tmpDir(prefix)
      for (slice <- slices) {
        spark.createDataFrame(
            new java.util.ArrayList(java.util.Arrays.asList(slice: _*)), sch)
          .coalesce(1).write.mode("append").parquet(s"$dir/in")
        val q = BeaconStreaming.annDriftSink(
            spark.readStream.schema(sch).parquet(s"$dir/in"),
            sfDir, s"$dir/tbl", s"$dir/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
      }
      BeaconStreaming.annDriftView(spark, sfDir, s"$dir/tbl")
    }
    // no drift: the arrivals ARE the training corpus (any slicing) — the
    // integer cross-products cancel exactly, so tv == 0, not "≈ 0"
    val all = emb.orderBy("vec_id").collect()
    val calm = replay("ann-drift-calm",
      Seq(all.take(all.length / 3),
        all.slice(all.length / 3, 2 * all.length / 3),
        all.drop(2 * all.length / 3))).collect().head
    assert(calm.getAs[Long]("n_arrivals") === all.length.toLong)
    assert(calm.getAs[Double]("tv") === 0.0)
    assert(!calm.getAs[Boolean]("drifted"))
    // planted drift: every arrival lands in ONE cell (take the training
    // vectors of the fullest cell) — occupancy concentrates, tv ≈ 1−share
    val hot = graft.ops.SimilarityQueries.cellAssign(emb, spark, sfDir)
      .groupBy("cell").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .orderBy(col("n").desc).collect().head.getAs[Long]("cell")
    val oneCell = graft.ops.SimilarityQueries.cellAssign(emb, spark, sfDir)
      .filter(col("cell") === hot).select("vec_id", "embedding").collect()
    assert(oneCell.length > 0 && oneCell.length < all.length)
    val drifted = replay("ann-drift-hot", Seq(oneCell)).collect().head
    assert(drifted.getAs[Double]("tv") > 0.25,
      s"one-cell arrivals must concentrate occupancy, tv=${drifted.getAs[Double]("tv")}")
    assert(drifted.getAs[Boolean]("drifted"))
  }

  test("annRetrain: a planted drift re-fits the codebook and the retuned " +
    "monitor reads calm; the calm replay is a strict no-op (r17)") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = graft.tables.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
    // CALM: arrivals are the training corpus — not drifted, retrain
    // must refuse and leave no codebook behind (recall therefore holds
    // by construction: every assignment still scores the frozen index)
    val calmDir = tmpDir("ann-retrain-calm")
    BeaconStreaming.annDriftBatch(emb, sfDir, s"$calmDir/tbl", 0L)
    assert(!BeaconStreaming.annRetrain(spark, sfDir, s"$calmDir/tbl"))
    val fs = new org.apache.hadoop.fs.Path(calmDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$calmDir/tbl.codebook")), "calm retrain must not commit a codebook")
    // PLANTED DRIFT: every arrival from ONE cell's training vectors
    val hot = graft.ops.SimilarityQueries.cellAssign(emb, spark, sfDir)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).collect().head.getAs[Long]("cell")
    val oneCell = graft.ops.SimilarityQueries.cellAssign(emb, spark, sfDir)
      .filter(col("cell") === hot).select("vec_id", "embedding")
    val driftDir = tmpDir("ann-retrain-hot")
    BeaconStreaming.annDriftBatch(oneCell, sfDir, s"$driftDir/tbl", 0L)
    val fired = BeaconStreaming.annDriftView(spark, sfDir, s"$driftDir/tbl")
      .collect().head
    assert(fired.getAs[Boolean]("drifted"), "the plant must fire the signal")
    assert(BeaconStreaming.annRetrain(spark, sfDir, s"$driftDir/tbl"),
      "a fired signal must trigger the retrain")
    // the epoch swapped: codebook + baseline committed, counts reset
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$driftDir/tbl.codebook")))
    assert(spark.read.parquet(s"$driftDir/tbl").count() === 0L)
    // the re-fit codebook spreads the hot region over many cells: the
    // SAME arrivals, re-scored against the new generation, occupy > 1
    val cents = BeaconStreaming.servingCentroids(
      spark, sfDir, s"$driftDir/tbl")
    val spread = graft.ops.SimilarityQueries
      .cellAssignCents(oneCell, spark, cents)
      .select("cell").distinct().count()
    assert(spread > 1,
      s"re-fit codebook must split the hot region, got $spread cell(s)")
    // post-retrain: the same drifted stream keeps arriving — against
    // the retuned reference the monitor now reads BELOW threshold
    // (exactly 0 here: the replayed arrivals ARE the reservoir)
    BeaconStreaming.annDriftBatch(oneCell, sfDir, s"$driftDir/tbl", 1L)
    val after = BeaconStreaming.annDriftView(spark, sfDir, s"$driftDir/tbl")
      .collect().head
    assert(after.getAs[Double]("tv") < 0.25,
      s"post-retrain tv must drop below threshold, got ${after.getAs[Double]("tv")}")
    assert(!after.getAs[Boolean]("drifted"))
  }

  test("annRetrain dedups the reservoir by vec_id (ADVICE r17): a vector " +
    "stranded in two cells' reservoirs counts once in the committed " +
    "baseline") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = graft.tables.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
    val hot = graft.ops.SimilarityQueries.cellAssign(emb, spark, sfDir)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).collect().head.getAs[Long]("cell")
    val oneCell = graft.ops.SimilarityQueries.cellAssign(emb, spark, sfDir)
      .filter(col("cell") === hot).select("vec_id", "embedding")
    val dir = tmpDir("ann-retrain-dup")
    BeaconStreaming.annDriftBatch(oneCell, sfDir, s"$dir/tbl", 0L)
    // strand duplicates: the r17 failure mode is a vector persisting in
    // two cells' reservoirs after a codebook swap re-assigned it —
    // engineer it directly (same vec_id, different cell, newer seq)
    val resPath = s"$dir/tbl.reservoir"
    val res = spark.read.parquet(resPath).localCheckpoint(true)
    val nVecs = res.select("vec_id").distinct().count()
    val dup = res.limit(3)
      .withColumn("cell", col("cell") + 1L)
      .withColumn("seq", lit(99L))
    graft.io.BeaconIO.commit(res.unionByName(dup), resPath)
    assert(BeaconStreaming.annRetrain(spark, sfDir, s"$dir/tbl"),
      "the planted drift must still trigger the retrain")
    val baselineTotal = spark.read.parquet(s"$dir/tbl.baseline")
      .agg(sum(col("tn"))).head.getLong(0)
    assert(baselineTotal === nVecs,
      s"baseline must count each vector once: got $baselineTotal " +
        s"for $nVecs distinct vectors")
  }

  test("substrDedupSink arrival-order ledger: in-order clean, " +
    "out-of-order flagged, redelivery raises no false positive") {
    import spark.implicits._
    val dir = tmpDir("substr-order")
    val reg = s"$dir/reg"
    def docsDF(ids: Seq[Long]) =
      ids.map(i => (i, s"doc $i words " * 30)).toDF("doc_id", "text")
    // batches 0,1 in doc_id order: no violation
    BeaconStreaming.substrDedupBatch(docsDF(Seq(1L, 2L)), reg,
      s"$dir/out/batch=0", 50, batchId = 0L)
    BeaconStreaming.substrDedupBatch(docsDF(Seq(3L, 4L)), reg,
      s"$dir/out/batch=1", 50, batchId = 1L)
    val led1 = BeaconStreaming.substrDedupOrderView(spark, reg).collect()
    assert(led1.length === 2 && led1.forall(!_.getAs[Boolean]("violated")))
    // batch 2 arrives with doc_ids BELOW batch 1's max: flagged
    BeaconStreaming.substrDedupBatch(docsDF(Seq(2L, 5L)), reg,
      s"$dir/out/batch=2", 50, batchId = 2L)
    val led2 = BeaconStreaming.substrDedupOrderView(spark, reg)
      .collect().map(r => r.getAs[Long]("batch_id") ->
        r.getAs[Boolean]("violated")).toMap
    assert(led2(2L), "out-of-order batch must be flagged")
    assert(!led2(0L) && !led2(1L))
    // REDELIVERY of batch 1 (its min < its own recorded max, but only
    // strictly-earlier batches are compared): still unflagged, ledger
    // row count unchanged
    BeaconStreaming.substrDedupBatch(docsDF(Seq(3L, 4L)), reg,
      s"$dir/out/batch=1", 50, batchId = 1L)
    val led3 = BeaconStreaming.substrDedupOrderView(spark, reg).collect()
    assert(led3.length === 3)
    assert(!led3.find(_.getAs[Long]("batch_id") == 1L).get
      .getAs[Boolean]("violated"),
      "redelivered batch must not be flagged as out-of-order")
  }

  test("substrDedupReconcile (r18): violated ingest heals to the batch " +
    "op byte-for-byte; a calm ledger is a strict no-op") {
    import spark.implicits._
    val gram = 5
    val dir = tmpDir("substr-reconcile")
    val reg = s"$dir/reg"
    val out = s"$dir/out"
    // docs 1 and 4 share a 6-token span: batch-canonical first-wins
    // keeps doc 1's copy. Ingesting {3,4} BEFORE {1,2} registers doc 4's
    // copy first — valid single-copy dedup, but diverged from batch.
    val shared = "alpha beta gamma delta epsilon zeta"
    val all = Seq(
      (1L, s"$shared tail one p q"),
      (2L, "filler two goes here fine words"),
      (3L, "filler three goes here fine words"),
      (4L, s"$shared tail four x y")).toDF("doc_id", "text")
    def part(ids: Long*) = all.filter(col("doc_id").isin(ids: _*))
    BeaconStreaming.substrDedupBatch(part(3L, 4L), reg,
      s"$out/batch=0", gram, batchId = 0L)
    BeaconStreaming.substrDedupBatch(part(1L, 2L), reg,
      s"$out/batch=1", gram, batchId = 1L)
    def viewRows() = BeaconStreaming.substrDedupView(spark, out)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
        r.getAs[String]("clean_text"))).sortBy(_._1).toSeq
    val batchRows = graft.ops.CorpusQueries.substrDedupOf(all, gram)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
        r.getAs[String]("clean_text"))).sortBy(_._1).toSeq
    assert(batchRows.find(_._1 == 4L).get._3 > 0,
      "batch-canonical must remove doc 4's copy for this test to bite")
    assert(viewRows() !== batchRows,
      "out-of-order ingest must actually diverge (doc 1 lost its span)")
    assert(BeaconStreaming.substrDedupOrderView(spark, reg)
      .filter(col("violated")).count() === 1L)
    // the repair: detector fired → re-derive → swap → detector calm
    assert(BeaconStreaming.substrDedupReconcile(all, reg, out, gram))
    assert(viewRows() === batchRows,
      "reconciled view must equal the batch operator exactly")
    assert(BeaconStreaming.substrDedupOrderView(spark, reg)
      .filter(col("violated")).count() === 0L)
    // second reconcile: calm ledger → strict no-op
    assert(!BeaconStreaming.substrDedupReconcile(all, reg, out, gram))
    assert(viewRows() === batchRows)
    // and the swapped registry keeps serving the ingest path: a new
    // in-order batch against it stays clean and unflagged
    val more = Seq((5L, "filler five goes here fine words"))
      .toDF("doc_id", "text")
    BeaconStreaming.substrDedupBatch(more, reg,
      s"$out/batch=2", gram, batchId = 2L)
    assert(BeaconStreaming.substrDedupOrderView(spark, reg)
      .filter(col("violated")).count() === 0L)
    assert(viewRows().length === 5)
  }

  test("substrDedup registry append converges after a simulated " +
    "partial-append crash (r17 O(delta) maintenance)") {
    val dir = tmpDir("substr-partial-append")
    val reg = s"$dir/reg"
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    // batch 0 registers the corpus's grams, multi-file
    BeaconStreaming.substrDedupBatch(docs.repartition(8), reg,
      s"$dir/out/batch=0", 50, batchId = 0L)
    val full = spark.read.parquet(reg)
      .collect().map(_.toSeq).toSet
    assert(full.nonEmpty)
    // simulate a crash mid-append: only HALF the winners reached the
    // registry (task-level commits land file-atomically, so a crash
    // leaves a valid SUBSET of the appended rows) — rewrite the dir
    // holding an arbitrary half
    val half = spark.read.parquet(reg).orderBy("gh")
      .limit(full.size / 2).collect()
    val regSchema = spark.read.parquet(reg).schema
    spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(half: _*)), regSchema)
      .write.mode("overwrite").parquet(reg)
    assert(spark.read.parquet(reg).count() < full.size)
    // redelivery: registered prefix coalesces to its own entries, the
    // left_anti appends exactly the missing winners — the registry
    // converges to the full set and the cleaned output is unchanged
    val before = BeaconStreaming.substrDedupView(spark, s"$dir/out")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    BeaconStreaming.substrDedupBatch(docs.repartition(8), reg,
      s"$dir/out/batch=0", 50, batchId = 0L)
    assert(spark.read.parquet(reg).collect().map(_.toSeq).toSet === full,
      "registry must converge to the full winner set")
    val after = BeaconStreaming.substrDedupView(spark, s"$dir/out")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(after === before, "cleaned output must be replay-stable")
  }

  test("intervalOverlapStream passes NULL endpoints through to the " +
    "silent drop instead of raising (ADVICE r16)") {
    import spark.implicits._
    val dir = tmpDir("stream-ivj-null")
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    // one real overlapping pair + a null-ts error + a null-value view:
    // pre-fix the NULL condition fell into raise_error and poison-pilled
    // the stream. A null TS row drops silently (the batch twin's
    // sequence-explode semantics); a null VALUE is not a null endpoint
    // at all — durationUs's greatest(1, NULL) floors it to a 1µs
    // interval (Spark greatest ignores nulls), so event 4 legitimately
    // pairs with the error it starts inside
    Seq((1L, Option(ts0), 1L, "error", Option(300.0)),
        (2L, Option(ts1), 2L, "view", Option(300.0)),
        (3L, Option.empty[java.sql.Timestamp], 3L, "error", Option(10.0)),
        (4L, Option(ts0), 4L, "view", Option.empty[Double]))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/in")
    val sch = spark.read.parquet(s"$dir/in").schema
    val q = BeaconStreaming.intervalOverlapStream(
        spark.readStream.schema(sch).parquet(s"$dir/in"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$dir/out").collect()
    assert(out.map(r => (r.getAs[Long]("incident_id"),
      r.getAs[Long]("session_id"))).toSet === Set((1L, 2L), (1L, 4L)),
      "null-ts rows must drop silently; the 1µs-floored null-value " +
        "view and the real pair must survive")
  }
}
