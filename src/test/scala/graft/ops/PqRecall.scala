package graft.ops

import org.apache.spark.sql.SparkSession

/** PQ retrieval-quality harness (test scope): recall@k of ADC ranking
  * against the exact dot-product ranking, driver-computed over every
  * corpus vector as a query (the 5-query registered fixture is too small
  * a sample for a recall claim). Reports raw-vector PQ (the registered
  * q_ann_pq metric) and the IVF-PQ composition's probed-cell candidate
  * restriction. Results recorded in PERF.md.
  *
  * Run: sbt "Test/runMain graft.ops.PqRecall [sfDir]"
  */
object PqRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val books = SimilarityQueries.pqCodebooksCached(spark, sfDir)
    val cents = SimilarityQueries.kmeansCentroidsCached(spark, sfDir)
    val rows = graft.tables.Tables.embeddings(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val codes = SimilarityQueries.queries("q_pq_codes")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> Array(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val cells = SimilarityQueries.kmeansAssign(
      graft.tables.Tables.embeddings(spark, sfDir)
        .select("vec_id", "embedding"), cents)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    // reconstructed vector per corpus id (ADC score == dot with recon)
    val recon = codes.map { case (id, cs) =>
      id -> (0 until 4).flatMap(m =>
        books(m).find(_._1 == cs(m)).get._2).toArray
    }

    // residual-PQ reconstruction per id: coarse(cell) + quantized residual
    val resBooks = SimilarityQueries.pqCodebooksResidual(spark, sfDir)
    val centMap = cents.toMap
    val resCodes = SimilarityQueries.pqAssign(
        SimilarityQueries.pqResiduals(
          graft.tables.Tables.embeddings(spark, sfDir)
            .select("vec_id", "embedding"), cents),
        resBooks, vecCol = "residual")
      .select("vec_id", "cent_id", "code0", "code1", "code2", "code3")
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        Array(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val reconRes = resCodes.map { case (id, (cell, cs)) =>
      val resR = (0 until 4).flatMap(m =>
        resBooks(m).find(_._1 == cs(m)).get._2)
      id -> centMap(cell).zip(resR).map { case (a, b) => a + b }
    }

    val k = 3
    val rerankR = 100
    var adcHit = 0
    var ivfpqHit = 0
    var rerankHit = 0
    var resHit = 0
    var resIvfHit = 0
    var total = 0
    for ((qid, qv) <- rows) {
      val exactAll = rows.filter(_._1 != qid)
        .map { case (id, v) => (dotD(qv, v), id) }
      val exactScore = exactAll.map { case (s, id) => id -> s }.toMap
      val exact = exactAll
        .sortBy { case (s, id) => (-s, id) }.take(k).map(_._2).toSet
      val adcAll = recon.view.filterKeys(_ != qid)
        .map { case (id, rv) => (dotD(qv, rv), id) }.toSeq
        .sortBy { case (s, id) => (-s, id) }
      val adc = adcAll.take(k).map(_._2)
      // the production arrangement: ADC shortlists R, exact re-ranks them
      val rerank = adcAll.take(rerankR).map(_._2)
        .sortBy(id => (-exactScore(id), id)).take(k)
      val probed = cents.map { case (cid, ce) =>
        (dotD(qv, ce) - dotD(ce, ce) / 2, cid)
      }.sortBy { case (s, c) => (-s, c) }.take(2).map(_._2).toSet
      val ivfpq = recon.view
        .filterKeys(id => id != qid && probed.contains(cells(id)))
        .map { case (id, rv) => (dotD(qv, rv), id) }.toSeq
        .sortBy { case (s, id) => (-s, id) }.take(k).map(_._2)
      val res = reconRes.view.filterKeys(_ != qid)
        .map { case (id, rv) => (dotD(qv, rv), id) }.toSeq
        .sortBy { case (s, id) => (-s, id) }.take(k).map(_._2)
      // the r12 registered serving composition: residual reconstruction
      // restricted to the probed cells (q_ann_ivfpq_residual's policy)
      val resIvf = reconRes.view
        .filterKeys(id => id != qid && probed.contains(resCodes(id)._1))
        .map { case (id, rv) => (dotD(qv, rv), id) }.toSeq
        .sortBy { case (s, id) => (-s, id) }.take(k).map(_._2)
      adcHit += adc.count(exact)
      ivfpqHit += ivfpq.count(exact)
      rerankHit += rerank.count(exact)
      resHit += res.count(exact)
      resIvfHit += resIvf.count(exact)
      total += k
    }
    println(f"PQRECALL n=${rows.length} recall@$k " +
      f"adc=${adcHit.toDouble / total}%.3f " +
      f"ivfpq=${ivfpqHit.toDouble / total}%.3f " +
      f"rerank@$rerankR=${rerankHit.toDouble / total}%.3f " +
      f"residual=${resHit.toDouble / total}%.3f " +
      f"resivf=${resIvfHit.toDouble / total}%.3f")

    // REGISTERED-plan confirmation (VERDICT r10 #1 last clause / r11 #3):
    // the harness arms above re-derive the policies in driver arithmetic;
    // this arm collects SparkEntry.queries("q_ann_pq_rerank") itself and
    // (a) asserts its per-query neighbor lists equal the harness's
    // rerank@R selection for the same 5 fixture queries, (b) reports
    // recall@3 computed FROM the registered rows. Any drift between the
    // registered plan and the harness policy fails loudly here.
    val registered = graft.SparkEntry.queries("q_ann_pq_rerank")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Number]("q_id").longValue,
        r.getAs[Number]("rnk").longValue,
        r.getAs[Number]("neighbor_id").longValue))
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    var regHit = 0
    var regTotal = 0
    for ((qid, got) <- registered.toSeq.sortBy(_._1)) {
      val qv = rows.find(_._1 == qid).get._2
      val exactScore = rows.filter(_._1 != qid)
        .map { case (id, v) => id -> dotD(qv, v) }.toMap
      val exact = exactScore.toSeq
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
      val harness = recon.view.filterKeys(_ != qid)
        .map { case (id, rv) => (dotD(qv, rv), id) }.toSeq
        .sortBy { case (s, id) => (-s, id) }.take(rerankR).map(_._2)
        .sortBy(id => (-exactScore(id), id)).take(k)
      require(got == harness,
        s"registered q_ann_pq_rerank diverges from harness policy for " +
          s"q=$qid: got=$got harness=$harness")
      regHit += got.count(exact)
      regTotal += k
    }
    println(f"PQRECALL registered q_ann_pq_rerank: nq=${registered.size} " +
      f"recall@$k=${regHit.toDouble / regTotal}%.3f " +
      "(neighbor lists identical to the harness rerank arm)")
    spark.stop()
  }
}
