package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Contracts of the product-quantization pair (q_pq_codes / q_ann_pq)
  * beyond the hash-green DuckDB twins: assignment optimality against an
  * independent driver-side recompute, ADC linearity, determinism, and
  * that the learned codebooks beat a degenerate quantizer. Two pins on
  * the IVF side: q_ann_recall's registered row equals a recount over the
  * two registered pipelines it grades, and q_semdedup's group-and-expand
  * equals the within-cell self-join it replaced. */
class PqSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("codes are in range, complete, and deterministic across runs") {
    def run() = SimilarityQueries.queries("q_pq_codes")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), Seq(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))))
      .sortBy(_._1).toSeq
    val a = run()
    assert(a.nonEmpty)
    a.foreach { case (id, codes) =>
      codes.foreach(c => assert(c >= 0L && c < 8L, s"vec $id code $c"))
    }
    assert(run() === a, "PQ training must be deterministic")
    // the codebooks are actually used: more than one centroid wins somewhere
    assert(a.flatMap(_._2).distinct.size > 1)
  }

  test("assignment picks the true per-subspace argmin (differential)") {
    val books = SimilarityQueries.pqCodebooks(spark, dir)
    val sub = 16
    val vecs = graft.tables.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray)).toMap
    val codes = SimilarityQueries.queries("q_pq_codes")(spark, dir)
      .filter(col("vec_id") < 10).collect()
      .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    for ((id, v) <- vecs; m <- 0 until 4) {
      val slice = v.slice(m * sub, (m + 1) * sub)
      // squared-distance argmin == argmax of dot − |c|²/2, ties to low id
      val best = books(m).map { case (cid, ce) =>
        (SimilarityQueries.dotD(slice, ce) -
          SimilarityQueries.dotD(ce, ce) / 2, -cid)
      }.max
      assert(codes(id)(m) === -best._2, s"vec $id subspace $m")
    }
  }

  test("ADC scores are exactly the dot with the reconstructed vector") {
    val books = SimilarityQueries.pqCodebooks(spark, dir)
    val sub = 16
    val vecs = graft.tables.Tables.embeddings(spark, dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val codes = SimilarityQueries.queries("q_pq_codes")(spark, dir)
      .collect().map(r => r.getLong(0) -> Array(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val out = SimilarityQueries.queries("q_ann_pq")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (q, n, score) = (r.getLong(0), r.getLong(1), r.getDouble(3))
      assert(q != n, "self-match must be excluded")
      val expected = (0 until 4).map { m =>
        val cent = books(m).find(_._1 == codes(n)(m)).get._2
        SimilarityQueries.dotD(
          vecs(q).slice(m * sub, (m + 1) * sub), cent)
      }.reduce(_ + _)
      assert(score === expected, s"q=$q n=$n")
    }
    // shape: exactly 3 neighbors per query, ranks 1..3
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(2)).sorted.toSeq === Seq(1, 2, 3))
    }
  }

  test("IVF-PQ: results come only from probed cells and re-rank q_ann_pq's scores") {
    val out = SimilarityQueries.queries("q_ann_ivfpq")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // cells from the same cached standing index the query served from
    val cents = SimilarityQueries.kmeansCentroidsCached(spark, dir)
    val cells = SimilarityQueries.kmeansAssign(
      graft.tables.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"), cents)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val queries = graft.tables.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 5)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probes = queries.map { case (qid, qv) =>
      qid -> cents.map { case (cid, ce) =>
        (SimilarityQueries.dotD(qv, ce) -
          SimilarityQueries.dotD(ce, ce) / 2, cid)
      }.sortBy { case (s, c) => (-s, c) }.take(2).map(_._2).toSet
    }.toMap
    out.foreach { case (q, n, _, _) =>
      assert(q != n)
      assert(probes(q).contains(cells(n)),
        s"neighbor $n of query $q sits in unprobed cell ${cells(n)}")
    }
    // the scores agree with the unrestricted ADC search where both rank
    // the same neighbor (the composition changes the CANDIDATE SET, not
    // the metric)
    val full = SimilarityQueries.queries("q_ann_pq")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    out.foreach { case (q, n, _, score) =>
      full.get((q, n)).foreach(s => assert(s === score))
    }
    // shape: per query, ranks are contiguous from 1
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
  }

  test("residual IVF-PQ serving: probed-cell membership and the exact score decomposition") {
    val out = SimilarityQueries.queries("q_ann_ivfpq_residual")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val cents = SimilarityQueries.kmeansCentroidsCached(spark, dir)
    val centMap = cents.toMap
    val resBooks = SimilarityQueries.pqResidualBooksCached(spark, dir)
    val cellsAndCodes = SimilarityQueries.pqAssign(
        SimilarityQueries.pqResiduals(
          graft.tables.Tables.embeddings(spark, dir)
            .select("vec_id", "embedding"), cents),
        resBooks, vecCol = "residual")
      .select("vec_id", "cent_id", "code0", "code1", "code2", "code3")
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        Array(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val queries = graft.tables.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 5)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probes = queries.map { case (qid, qv) =>
      qid -> cents.map { case (cid, ce) =>
        (SimilarityQueries.dotD(qv, ce) -
          SimilarityQueries.dotD(ce, ce) / 2, cid)
      }.sortBy { case (s, c) => (-s, c) }.take(2).map(_._2).toSet
    }.toMap
    val qMap = queries.toMap
    val sub = 16
    out.foreach { case (q, n, _, score) =>
      assert(q != n)
      val (cell, codes) = cellsAndCodes(n)
      assert(probes(q).contains(cell),
        s"neighbor $n of query $q sits in unprobed cell $cell")
      // score == dot(q, coarse(cell)) + sum_m dot(q_sub_m, resbook[code]),
      // the cdot + (((s0+s1)+s2)+s3) association, bit-for-bit
      val qv = qMap(q)
      val cdot = SimilarityQueries.dotD(qv, centMap(cell))
      val sums = (0 until 4).map { m =>
        val slice = qv.slice(m * sub, (m + 1) * sub)
        val ce = resBooks(m).find(_._1 == codes(m)).get._2
        SimilarityQueries.dotD(slice, ce)
      }
      val expect = cdot + (((sums(0) + sums(1)) + sums(2)) + sums(3))
      assert(score === expect,
        s"query $q neighbor $n: score $score != decomposition $expect")
    }
    // same coarse index as q_ann_ivfpq → identical CANDIDATE universe;
    // only the quantized metric differs
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
  }

  test("PQ re-rank: exact scores, never worse than raw ADC, exact top-k when R covers the corpus") {
    val out = SimilarityQueries.queries("q_ann_pq_rerank")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val rows = graft.tables.Tables.embeddings(spark, dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val vecs = rows.toMap
    // re-ranked scores are the EXACT full-precision dot (same
    // float-multiply/double-accumulate op sequence as vector_dot)
    out.foreach { case (q, n, _, s) =>
      assert(q != n)
      assert(s === SimilarityQueries.dotLocal(vecs(q), vecs(n)),
        s"query $q neighbor $n: score is not the exact dot")
    }
    // the re-rank only ever improves on raw ADC's picks: q_ann_pq's top-3
    // sit inside the R-wide shortlist, so the exact-dot mass of the
    // re-ranked top-3 must be >= that of the ADC top-3
    val adc = SimilarityQueries.queries("q_ann_pq")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    for (q <- adc.map(_._1).distinct) {
      val adcMass = adc.filter(_._1 == q)
        .map { case (_, n) => SimilarityQueries.dotLocal(vecs(q), vecs(n)) }.sum
      val rerankMass = out.filter(_._1 == q).map(_._4).sum
      assert(rerankMass >= adcMass,
        f"query $q: rerank mass $rerankMass%.5f < ADC mass $adcMass%.5f")
    }
    // on a corpus the shortlist covers entirely, re-rank IS the exact
    // brute-force top-3 (recall = 1 by construction); the coverage
    // condition tracks the library constant so a shortlist retune keeps
    // the guard in sync (ADVICE r11)
    if (rows.length - 1 <= SimilarityQueries.RerankShortlist) {
      for (q <- out.map(_._1).distinct) {
        val exact = rows.filter(_._1 != q)
          .map { case (id, v) => (SimilarityQueries.dotLocal(vecs(q), v), id) }
          .sortBy { case (s, id) => (-s, id) }.take(3)
          .map { case (s, id) => (id, s) }.toSeq
        val got = out.filter(_._1 == q).sortBy(_._3)
          .map(r => (r._2, r._4)).toSeq
        assert(got === exact, s"query $q: rerank != exact top-3")
      }
    }
  }

  test("q_pq_residual: coarse cell matches the standing index, codes in range, deterministic") {
    def run() = SimilarityQueries.queries("q_pq_residual")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), Seq(r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))))
      .sortBy(_._1).toSeq
    val a = run()
    assert(a.nonEmpty)
    val cents = SimilarityQueries.kmeansCentroidsCached(spark, dir)
    val cells = SimilarityQueries.kmeansAssign(
      graft.tables.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"), cents)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    a.foreach { case (id, (cell, codes)) =>
      assert(cell === cells(id),
        s"vec $id: registered cell $cell != standing-index cell ${cells(id)}")
      codes.foreach(c => assert(c >= 0L && c < 8L, s"vec $id code $c"))
    }
    // residual codes differ from raw codes somewhere (a different space
    // was actually quantized)
    val raw = SimilarityQueries.queries("q_pq_codes")(spark, dir)
      .collect().map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(a.exists { case (id, (_, codes)) => codes != raw(id) })
    assert(run() === a, "residual PQ training must be deterministic")
  }

  test("residual PQ reconstructs strictly better than raw PQ") {
    val vecs = graft.tables.Tables.embeddings(spark, dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    // raw PQ reconstruction error
    val rawBooks = SimilarityQueries.pqCodebooks(spark, dir)
    val rawCodes = SimilarityQueries.queries("q_pq_codes")(spark, dir)
      .collect().map(r => r.getLong(0) -> Array(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    def sqerr(v: Array[Float], r: Array[Float]): Double =
      v.zip(r).map { case (a, b) => (a.toDouble - b) * (a.toDouble - b) }.sum
    val rawErr = vecs.map { case (id, v) =>
      val recon = (0 until 4).flatMap(m =>
        rawBooks(m).find(_._1 == rawCodes(id)(m)).get._2)
      sqerr(v, recon.toArray)
    }.sum / vecs.size
    // residual PQ: coarse centroid + quantized residual
    val cents = SimilarityQueries.kmeansCentroidsCached(spark, dir)
    val resBooks = SimilarityQueries.pqCodebooksResidual(spark, dir)
    val resFrame = SimilarityQueries.pqResiduals(
      graft.tables.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"), cents)
    val resCodes = SimilarityQueries.pqAssign(resFrame, resBooks,
        vecCol = "residual")
      .select("vec_id", "cent_id", "code0", "code1", "code2", "code3")
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        Array(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val centMap = cents.toMap
    val resErr = vecs.map { case (id, v) =>
      val (cell, codes) = resCodes(id)
      val coarse = centMap(cell)
      val resRecon = (0 until 4).flatMap(m =>
        resBooks(m).find(_._1 == codes(m)).get._2)
      val recon = coarse.zip(resRecon).map { case (a, b) => a + b }
      sqerr(v, recon)
    }.sum / vecs.size
    assert(resErr < rawErr,
      f"residual PQ should reconstruct better: $resErr%.5f vs raw $rawErr%.5f")
  }

  test("kmeans rounds: deterministic, default-identical, inertia non-increasing") {
    val r1 = SimilarityQueries.kmeansCentroids(spark, dir)
    val r1b = SimilarityQueries.kmeansCentroids(spark, dir, rounds = 1)
    assert(r1.map(_._1).toSeq === r1b.map(_._1).toSeq)
    r1.zip(r1b).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
    val r2 = SimilarityQueries.kmeansCentroids(spark, dir, rounds = 2)
    val r2b = SimilarityQueries.kmeansCentroids(spark, dir, rounds = 2)
    r2.zip(r2b).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
    // a second round moves at least one centroid on the fixture
    assert(r1.map(_._2.toSeq) !== r2.map(_._2.toSeq))
    // Lloyd's guarantee: total within-cell squared distance does not
    // increase round over round (up to the scaled-integer mean rounding)
    val vecs = graft.tables.Tables.embeddings(spark, dir)
      .collect().map(r => r.getSeq[Float](1).toArray)
    def inertia(cents: Array[(Long, Array[Float])]): Double =
      vecs.map { v =>
        cents.map { case (_, c) =>
          v.zip(c).map { case (a, b) =>
            (a.toDouble - b) * (a.toDouble - b) }.sum
        }.min
      }.sum
    val (i1, i2) = (inertia(r1), inertia(r2))
    assert(i2 <= i1 + 1e-6, s"inertia rose: $i1 -> $i2")
  }

  test("trained codebooks reconstruct better than a single-centroid quantizer") {
    val books = SimilarityQueries.pqCodebooks(spark, dir)
    val sub = 16
    val vecs = graft.tables.Tables.embeddings(spark, dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val codes = SimilarityQueries.queries("q_pq_codes")(spark, dir)
      .collect().map(r => r.getLong(0) -> Array(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    def err(recon: (Long, Int) => Array[Float]): Double =
      vecs.map { case (id, v) =>
        (0 until 4).map { m =>
          val c = recon(id, m)
          val s = v.slice(m * sub, (m + 1) * sub)
          s.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum.toDouble
        }.sum
      }.sum / vecs.length
    val pqErr = err((id, m) => books(m).find(_._1 == codes(id)(m)).get._2)
    val oneErr = err((_, m) => books(m).head._2)
    assert(pqErr < oneErr,
      f"PQ should beat the degenerate quantizer: $pqErr%.4f vs $oneErr%.4f")
  }

  test("q_ann_recall: the registered row equals a recount over the two " +
    "registered pipelines; bounds hold") {
    val row = SimilarityQueries.queries("q_ann_recall")(spark, dir)
      .collect().head
    val (nt, nc, r) = (row.getAs[Long]("n_true"),
      row.getAs[Long]("n_caught"), row.getAs[Double]("recall"))
    // 5 queries × exact top-3 — the truth side is structurally 15
    assert(nt === 15L)
    assert(nc >= 0L && nc <= nt)
    assert(r === nc.toDouble / nt.toDouble)
    // independent recount: intersect the registered outputs directly
    val truth = SimilarityQueries.queries("q_cosine_topk")(spark, dir)
      .filter(col("rnk") <= 3)
      .select("q_id", "neighbor_id")
    val ivf = SimilarityQueries.queries("q_ann_ivf")(spark, dir)
      .select("q_id", "neighbor_id")
    val recount = truth.join(ivf, Seq("q_id", "neighbor_id")).count()
    assert(nc === recount,
      s"registered n_caught $nc must equal the pipelines' intersection " +
        s"$recount — the recall row graded something else")
  }

  test("q_semdedup: group-and-expand equals the cell self-join") {
    val got = SimilarityQueries.queries("q_semdedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // the r13 self-join form, recomputed
    val e = SimilarityQueries.ivfAssigned(spark, dir)
    val a = e.select(col("cell"), col("vec_id").as("id_a"),
      col("emb").as("ea"), col("nv").as("na"))
    val b = e.select(col("cell"), col("vec_id").as("id_b"),
      col("emb").as("eb"), col("nv").as("nb"))
    val want = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("cell"), col("id_b"),
        (expr("vector_dot(ea, eb)") / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= 0.25)
      .groupBy("id_b", "cell")
      .agg(count(lit(1)).as("n_dups"), max(col("cos")).as("max_cos"))
      .select(col("id_b"), col("cell"), col("n_dups"), col("max_cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got.nonEmpty && got === want)
  }
}
