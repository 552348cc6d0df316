package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{BeaconFixtures, SparkTestBase}
import graft.model.BeaconSchemas

class BeaconIOSpec extends SparkTestBase {

  test("JSONL read with declared schema: unknown keys dropped, missing keys null (A13)") {
    val dir = tmpDir("bq-semantics")
    BeaconFixtures.write(s"$dir/in.json", Seq(
      // unknown_key must be silently dropped; graffiti missing → null
      """{"block_slot":1,"block_timestamp":"2020-12-01T12:00:35Z","skipped":false,"unknown_key":"zzz"}""",
      """{"block_slot":2,"block_timestamp":"2020-12-01T12:00:47Z","skipped":true,"graffiti":"0x67"}"""))
    val df = BeaconIO.readBeaconTable(spark, "beacon_blocks", s"$dir/in.json")
    assert(df.schema === BeaconSchemas.beaconBlocks, "schema is the declared one, never inferred")
    val rows = df.orderBy("block_slot").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("graffiti") === null)
    assert(rows(1).getAs[String]("graffiti") === "0x67")
    assert(!df.columns.contains("unknown_key"))
  }

  test("nested repeated records parse: attestations explode, doubly-nested indices (C3/C4/C5)") {
    val dir = tmpDir("nested")
    BeaconFixtures.write(s"$dir/blocks.json", BeaconFixtures.blockLines(64))
    val df = BeaconIO.readBeaconTable(spark, "beacon_blocks", s"$dir/blocks.json")
    val atts = df.select(col("block_slot"), explode(col("attestations")).as("att"))
      .select(col("block_slot"), col("att.index"), col("att.target_epoch"))
    // 64 slots, every 7th-slot%3 skipped → 55 proposed x 2 attestations
    assert(atts.count() === 55L * 2)
    val nested = df
      .select(explode(col("attester_slashings")).as("sl"))
      .select(explode(col("sl.attestation_1_attesting_indices")).as("vi"))
    assert(nested.count() > 0)
    assert(nested.agg(max("vi")).collect()(0).getLong(0) === 3L)
  }

  test("daily write materializes block_date and prunes partitions on read (A8, §4.1)") {
    val dir = tmpDir("daily")
    BeaconFixtures.write(s"$dir/blocks.json", BeaconFixtures.blockLines(3700)) // spans 2 days
    val df = BeaconIO.readBeaconTable(spark, "beacon_blocks", s"$dir/blocks.json")
    commitDaily(df, "block_timestamp", s"$dir/out")

    val dirs = new java.io.File(s"$dir/out").listFiles().map(_.getName).filter(_.startsWith("block_date=")).sorted
    assert(dirs.toSeq === Seq("block_date=2020-12-01", "block_date=2020-12-02"))

    val read = spark.read.parquet(s"$dir/out").filter(col("block_date") === "2020-12-02")
    val plan = read.queryExecution.executedPlan.toString
    assert(read.count() === 3700L - 3599L)
    assert(plan.contains("block_date"), "partition filter must appear in the scan")
  }

  test("committing one date keeps the other dates intact (D5 idempotent replay)") {
    val dir = tmpDir("dyn")
    BeaconFixtures.write(s"$dir/blocks.json", BeaconFixtures.blockLines(3700))
    val all = BeaconIO.readBeaconTable(spark, "beacon_blocks", s"$dir/blocks.json")
    commitDaily(all, "block_timestamp", s"$dir/out")
    val before = spark.read.parquet(s"$dir/out").count()

    // replay only day 2: its commit must not clobber day 1
    val day2 = all.filter(to_date(col("block_timestamp")) === "2020-12-02")
    commitDaily(day2, "block_timestamp", s"$dir/out")
    val after = spark.read.parquet(s"$dir/out")
    assert(after.count() === before, "replaying one partition must not drop the others")
    assert(after.filter(col("block_date") === "2020-12-01").count() === 3599L)
  }

  test("hourly layout adds hour=HH; latest dual sink overwrites fully (A9/A10/D6)") {
    val dir = tmpDir("hourly")
    // spacing 3600 s → epoch 0 in hour=12, epoch 1 in hour=13
    BeaconFixtures.write(s"$dir/v.json",
      BeaconFixtures.validatorLines(2, 5, epochSpacingSeconds = 3600))
    val df = BeaconIO.readBeaconTable(spark, "beacon_validators", s"$dir/v.json")
    // the hourly export's validators dual sink: the hour's history
    // directory plus the whole `latest` directory
    def snapshot(rows: DataFrame, hour: String): Unit = {
      BeaconIO.commit(rows, s"$dir/history/block_date=2020-12-01/hour=$hour")
      BeaconIO.commit(rows, s"$dir/latest")
    }
    snapshot(df.filter(col("epoch") === 0), "12")
    val hist = new java.io.File(s"$dir/history/block_date=2020-12-01").listFiles()
      .map(_.getName).filter(_.startsWith("hour=")).toSeq
    assert(hist === Seq("hour=12"))

    // second snapshot: history gains an hour partition, latest is replaced
    snapshot(df.filter(col("epoch") === 1), "13")
    assert(spark.read.parquet(s"$dir/latest").count() === 5L)
    assert(spark.read.parquet(s"$dir/latest").agg(max("epoch")).collect()(0).getLong(0) === 1L)
    assert(spark.read.parquet(s"$dir/history").count() === 10L)
  }

  test("a .next or .old sibling leaves a table read unchanged: same partitions, rows") {
    val dir = tmpDir("sibling-read")
    BeaconFixtures.write(s"$dir/blocks.json", BeaconFixtures.blockLines(3700))
    val df = BeaconIO.readBeaconTable(spark, "beacon_blocks", s"$dir/blocks.json")
    commitDaily(df, "block_timestamp", s"$dir/out")
    def snapshot() = {
      val t = spark.read.parquet(s"$dir/out")
      (t.select(col("block_date").cast("string")).distinct().collect()
        .map(_.getString(0)).sorted.toSeq,
        t.select("block_slot").collect().map(_.getLong(0)).sorted.toSeq)
    }
    val before = snapshot()
    // a commit caught mid-swap: a complete next generation of one partition
    // plus a retired copy, both beside the live directory
    val part = s"$dir/out/block_date=2020-12-02"
    df.limit(7).write.parquet(BeaconIO.sibling(part, "next"))
    df.limit(3).write.parquet(BeaconIO.sibling(part, "old"))
    assert(new java.io.File(BeaconIO.sibling(part, "next")).getName === ".block_date=2020-12-02.next")
    assert(snapshot() === before)
    assert(before._1 === Seq("2020-12-01", "2020-12-02"))
    assert(before._2.length === 3700)
  }

  test("commit records the directory's facts beside its data; the reader skips them") {
    val dir = tmpDir("facts")
    BeaconFixtures.write(s"$dir/c.json", BeaconFixtures.committeeLines(8))
    val committees = BeaconIO.readBeaconTable(spark, "beacon_committees", s"$dir/c.json")
      .filter(!col("epoch").isin(3L, 4L))
      .union(BeaconIO.readBeaconTable(spark, "beacon_committees", s"$dir/c.json").limit(1)
        .withColumn("epoch_timestamp", lit(null).cast("timestamp")).withColumn("epoch", lit(99L)))
    val out = s"$dir/out"
    BeaconIO.commit(committees, out,
      facts = Some(BeaconIO.FactSpec("epoch_timestamp", "epoch", distinctKeys = true)))
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val facts = BeaconIO.Facts.read(fs, new org.apache.hadoop.fs.Path(out)).get
    // 6 epochs × 8 rows; the NULL-timestamp row is in no fact
    assert(facts.rows === 48L)
    assert(facts.maxKey === Some(7L))
    assert(facts.keyRanges === Some(Seq((0L, 2L), (5L, 7L))))
    val genesis = graft.model.BeaconFunctions.GenesisTime
    assert(facts.tsMicros === Some((genesis.getEpochSecond * 1000000L,
      genesis.plusSeconds(7 * 32 * 12).getEpochSecond * 1000000L)))
    assert(facts.files === BeaconIO.dataFiles(fs, new org.apache.hadoop.fs.Path(out)))
    assert(facts.files.keys.forall(_.startsWith("part-")) && facts.files.nonEmpty)
    assert(spark.read.parquet(out).count() === 49L)
    assert(BeaconIO.Facts.union(Seq((5L, 6L), (0L, 1L), (2L, 2L), (4L, 9L))) ===
      Seq((0L, 2L), (4L, 9L)))
  }

  test("commit crash windows: a partial .next is never adopted, a complete one is") {
    import spark.implicits._
    val dir = tmpDir("state-swap")
    val p = s"$dir/tbl"
    val next = BeaconIO.sibling(p, "next")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gen(v: Long) = Seq((1L, v)).toDF("k", "v")
    def readV() = spark.read.parquet(p).collect().map(_.getLong(1)).toSeq

    // normal path: commit g1 then g2 — table follows, no .next residue
    BeaconIO.commit(gen(1), p)
    BeaconIO.commit(gen(2), p)
    assert(readV() === Seq(2L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(next)))

    // crash DURING the .next write (partial dir, no _SUCCESS): the live
    // table is untouched and recovery must NOT adopt the partial dir
    gen(99).write.parquet(next)
    fs.delete(new org.apache.hadoop.fs.Path(next + "/_SUCCESS"), false)
    BeaconIO.recover(spark, p)
    assert(readV() === Seq(2L))

    // crash AFTER the .next write, after the old delete, BEFORE the
    // rename: recovery adopts the complete generation instead of letting
    // the next batch re-init
    fs.delete(new org.apache.hadoop.fs.Path(next), true)
    gen(3).write.parquet(next)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    BeaconIO.recover(spark, p)
    assert(readV() === Seq(3L))
    // and a subsequent commit over the recovered table works normally
    BeaconIO.commit(gen(4), p)
    assert(readV() === Seq(4L))
  }

  test("commit rename windows: .next beats .old, .old resurrects, stray .old clears") {
    import spark.implicits._
    val dir = tmpDir("state-swap-r17")
    val p = s"$dir/tbl"
    val (next, old) = (BeaconIO.sibling(p, "next"), BeaconIO.sibling(p, "old"))
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gen(v: Long) = Seq((1L, v)).toDF("k", "v")
    def readV() = spark.read.parquet(p).collect().map(_.getLong(1)).toSeq
    def path(s: String) = new org.apache.hadoop.fs.Path(s)

    // crash between RETIRE and PROMOTE with .next complete (the normal
    // mid-swap window of the rename sequence): live dir gone, old gen in
    // .old, new gen complete in .next — recovery adopts .next and drops
    // the retired copy
    BeaconIO.commit(gen(1), p)
    gen(2).write.parquet(next)
    assert(fs.rename(path(p), path(old)))
    BeaconIO.recover(spark, p)
    assert(readV() === Seq(2L))
    assert(!fs.exists(path(old)) && !fs.exists(path(next)))

    // same window but .next PARTIAL (no _SUCCESS — per the commit's own
    // ordering this cannot happen, covered anyway): the retired
    // generation is the sole complete copy and must resurrect
    gen(99).write.parquet(next)
    fs.delete(path(next + "/_SUCCESS"), false)
    assert(fs.rename(path(p), path(old)))
    BeaconIO.recover(spark, p)
    assert(readV() === Seq(2L), "retired .old must resurrect, not the partial .next")
    assert(!fs.exists(path(old)) && !fs.exists(path(next)))

    // crash mid-CLEANUP (live dir already the new generation, stray
    // .old left behind): recover clears it; a commit with the stray
    // still present must also proceed (it needs .old free as a rename
    // target)
    gen(0).write.parquet(old)
    BeaconIO.recover(spark, p)
    assert(!fs.exists(path(old)))
    assert(readV() === Seq(2L))
    gen(0).write.parquet(old)
    BeaconIO.commit(gen(3), p)
    assert(readV() === Seq(3L))
    assert(!fs.exists(path(old)) && !fs.exists(path(next)))

    // at no point above was the table ever PARTIALLY deleted: the only
    // recursive deletes in the swap touch .old/.next siblings, which is
    // the whole point of the rename-only sequence

    // a caller that skips recover and commits into the {live missing,
    // .old present (or complete .next)} window must FAIL LOUDLY before
    // touching anything — otherwise it would overwrite the complete newer
    // .next with a merge derived from a missing live table, then promote
    // it, regressing state
    gen(4).write.parquet(next)
    assert(fs.rename(path(p), path(old)))
    val ex = intercept[IllegalStateException] {
      BeaconIO.commit(gen(-1), p)
    }
    assert(ex.getMessage.contains("skipped BeaconIO.recover"))
    // both complete generations untouched by the refused commit
    assert(spark.read.parquet(next).collect()
      .map(_.getLong(1)).toSeq === Seq(4L))
    assert(spark.read.parquet(old).collect()
      .map(_.getLong(1)).toSeq === Seq(3L))
    // the documented heal path still resolves the window normally
    BeaconIO.recover(spark, p)
    assert(readV() === Seq(4L))
    assert(!fs.exists(path(old)) && !fs.exists(path(next)))
  }

  test("range sidecars go through the session's Hadoop conf (A4/A5)") {
    val dir = tmpDir("sidecar-scheme")
    val key = "fs.sidecartest.impl"
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(key, classOf[SidecarTestFs].getName)
    try {
      val base = s"sidecartest:$dir/beacon_blocks"
      val ds = BeaconFixtures.GenesisDay
      BeaconIO.writeRangeMeta(spark, base, ds, "blocks_meta.txt", (5L, 9L))
      assert(new java.io.File(s"$dir/beacon_blocks/block_date=$ds/blocks_meta.txt").isFile)
      assert(BeaconIO.readRangeMeta(spark, base, ds, "blocks_meta.txt") === ((5L, 9L)))
    } finally conf.unset(key)
  }

  test("inParallel waits for every body, then throws the first failure in argument order") {
    val finished = new java.util.concurrent.atomic.AtomicInteger()
    val ex = intercept[IllegalStateException] {
      BeaconIO.inParallel(spark)(
        () => { Thread.sleep(300); finished.incrementAndGet(); throw new IllegalStateException("first") },
        () => { finished.incrementAndGet(); throw new IllegalArgumentException("second") },
        () => { Thread.sleep(300); finished.incrementAndGet(); () })
    }
    assert(ex.getMessage === "first")
    assert(ex.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
    assert(finished.get === 3, "every body ran to its end before the call returned")
  }
}

/** The local file system under a scheme of its own, known only to a Hadoop
  * conf that maps `fs.sidecartest.impl` to this class. */
class SidecarTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sidecartest:///")
  override def getScheme: String = "sidecartest"
}
