package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. A failed query reports -1.0 (never a fake timing)
  * and its error lands on stderr — VERDICT r1 flagged silent swallowing.
  * Each query runs five times; the MEDIAN is reported. Reps are INTERLEAVED
  * round-robin across queries (rep 1 of every query, then rep 2, ...) —
  * r5 ran a query's 5 reps back-to-back, so a sustained host-contention
  * window landed ≥3 consecutive reps on ONE query and blew through its
  * median (q_cosine_topk recorded 6.39 s vs 0.35 s isolated, same code).
  * Interleaving spreads any contended minute across many queries' single
  * reps, which the per-query median then discards (VERDICT r5 #1).
  *
  * It is also the A/B harness: `SPARK_GRAFT_ONLY=q_a,q_b` restricts the
  * run to the variants under comparison (add `q_scan_filter` as the floor
  * control), every rep sees the same host drift, and the per-rep JSONL
  * sidecar holds each timing (`tools/twin_bench.py` reads it). */
object Bench {
  /** 1-minute load average from /proc/loadavg (-1.0 where unreadable —
    * non-Linux hosts). Recorded at start and end of the run: thrice now
    * (r10–r12) a committed snapshot's uniform +16–23% drift across
    * UNTOUCHED queries has had to be adjudicated as ambient contention by
    * after-the-fact re-runs; the load fields turn that archaeology into a
    * field read (VERDICT r12 #7). */
  private def load1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val loadStart = load1m()
    val benchT0 = System.nanoTime()
    val spark = GraftSession.local(cpus, appName = "graft-bench")
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // full materialization of every output row (InternalRow scan) —
      // a bare .count() lets Catalyst prune unreferenced per-row
      // expressions on projection-only queries, timing a plan that never
      // ran its md5/regexp work (VERDICT r2)
      fn(spark, sfDir).queryExecution.toRdd.count()
      val t = (System.nanoTime() - t0) / 1e9
      // block hygiene OUTSIDE the timed window: iterative queries
      // (clusterLabels / corpus_keep) return frames backed by eager
      // localCheckpoint blocks; each rep re-invokes the builder, so without
      // this the 5 reps × every such query pile blocks into the
      // BlockManager for the rest of the run — the r4 recorded bench
      // amplified 16–22× under host memory pressure from exactly that.
      // Blocking removal: the next rep must not race the cleanup.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      t
    }
    // Untimed JVM warm-up: one-time infrastructure cost (vectorized parquet
    // reader init, whole-stage-codegen compiler, shuffle machinery class
    // loading) otherwise lands inside the first queries' timed reps — the
    // alphabetically-first entries measured 3-4x their steady-state medians
    // purely by position. Three cheap representative shapes (scan+filter,
    // shuffle agg, window) touch all of it once, outside any timed window.
    Seq("q_scan_filter", "q_agg_sum_group", "q_window_rank")
      .foreach { name =>
        SparkEntry.queries.get(name) match {
          case None =>
            // a renamed warm-up must not silently vanish — the 3-4x
            // first-query position bias would return unnoticed (ADVICE r5)
            System.err.println(s"[bench] WARNING: warmup query '$name' not registered; position bias may return")
          case Some(fn) =>
            try fn(spark, sfDir).queryExecution.toRdd.count()
            catch { case e: Throwable =>
              System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
        }
      }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (an A/B set, or a local
    // iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // n_queries vs n_registered makes a partial (SPARK_GRAFT_ONLY) artifact
    // self-describing, and the sf/subset-suffixed default filename keeps a
    // subset run or a different-SF run from clobbering the full artifact
    // (ADVICE r7 #4)
    val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
    val subsetTag = if (only.isDefined) s"_sub${selected.length}" else ""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined || sfTag != "sf0.1") s"BENCH_LOCAL_$sfTag$subsetTag.json"
      else "BENCH_LOCAL.json")
    // Per-rep JSONL sidecar, written INCREMENTALLY as each rep lands:
    // `at` = seconds since bench start, `load` = 1-min loadavg at that
    // moment. A mid-run ambient shift (the r12 +16% adjudication) shows up
    // as a load step + a time step at the same `at` across ALL queries —
    // readable post-hoc without re-running anything (VERDICT r12 #7).
    val jsonlPath = outPath.stripSuffix(".json") + ".jsonl"
    val jsonl = try {
      val w = java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(jsonlPath))
      Some(w)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not open $jsonlPath: ${e.getMessage}")
      None
    }
    def emitRep(name: String, rep: Int, sec: Double): Unit = jsonl.foreach { w =>
      val at = (System.nanoTime() - benchT0) / 1e9
      w.write(f"""{"q":"$name","rep":$rep,"sec":$sec%.6f,"at":$at%.1f,"load":${load1m()}}%n""")
      w.flush()
    }
    // Round-robin: rep r of EVERY query before rep r+1 of any. A query
    // whose rep throws is marked failed and skipped for remaining rounds.
    val reps = 5
    val timings = collection.mutable.Map(selected.map(_._1 -> Vector.empty[Double]): _*)
    val failed = collection.mutable.Set.empty[String]
    for (r <- 1 to reps; (name, fn) <- selected if !failed(name)) {
      // GC fence: drain the previous query's garbage so its collection tail
      // isn't billed to this query's timing
      System.gc()
      try {
        val t = timeOnce(fn)
        timings(name) :+= t
        emitRep(name, r, t)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED (rep $r): ${e.getMessage}")
          emitRep(name, r, -1.0)
          failed += name
      }
    }
    jsonl.foreach(_.close())
    val results = selected.map { case (name, _) =>
      val (med, min) =
        if (failed(name)) (-1.0, -1.0)
        else { val s = timings(name).sorted; (s(s.length / 2), s.head) }
      (name, med, min)
    }
    val qs = results.map { case (k, med, _) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    // min-of-5 beside the median: a sustained host-contention window can
    // still blow 3 of 5 reps of one query past its isolated median (r6
    // recorded q_minhash_est at 8.83 s vs 1.54 s judge-isolated). The min is
    // contention-immune — a reader comparing the two columns can tell a plan
    // regression (both move) from ambient noise (only the median moves).
    val qsMin = results.map { case (k, _, min) => "\"" + k + "\":" + min }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, med, _) if med >= 0 => med }.sum
    val totalMin = results.collect { case (_, _, min) if min >= 0 => min }.sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"total_min":$totalMin,"queries_min":$qsMin,"reps":$reps,"sf":"$sfDir","n_queries":${selected.length},"n_registered":${SparkEntry.queries.size},"load_start":$loadStart,"load_end":${load1m()}}"""
    println(json)
    // The driver scrapes a bounded log TAIL (2000 bytes, observed in
    // BENCH_r17/r18.json): the full line above is ~12 KB (two 177-entry
    // maps; the query NAMES alone are 2.2 KB), so the tail starts mid-line
    // and the driver's parse has read null for two rounds (VERDICT r18 #1).
    // Emit a compact totals-only JSON as the FINAL stdout line — it fits
    // the tail with room for the runner's epilogue, and it is an ADDITION:
    // the full line and the file artifact above are unchanged, so
    // round-over-round comparison of both stays valid.
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","total_min":$totalMin,"reps":$reps,"sf":"$sfDir","n_queries":${selected.length},"n_registered":${SparkEntry.queries.size},"load_start":$loadStart,"load_end":${load1m()}}"""
    println(compact)
    // Also land the artifact as a FILE: BENCH_r06.json was scraped from a
    // truncated log tail and lost its "total" plus 12 queries ("parsed":
    // null). A file write is atomic-enough and self-contained.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
  }
}
