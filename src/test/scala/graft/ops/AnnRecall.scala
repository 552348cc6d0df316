package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recall@k harness for the two ANN paths (VERDICT r5 #4) — the first
  * number a similarity-search user asks for and the one thing the
  * hash-exact oracles can't measure: oracle-green proves the bucketed
  * plans compute what they claim; this measures how much of the TRUE
  * top-k those buckets retain as the corpus scales.
  *
  * Shapes mirror the production queries on the shared [[SimCorpus]]
  * corpus at 25k/100k/400k vectors:
  * - ground truth: brute-force exact cosine top-k per query (the
  *   q_cosine_topk shape — broadcast queries, topk_by aggregate);
  * - LSH single-table: the q_ann_lsh shape at the dedup-density plane
  *   counts PERF.md uses (10/12/14 — tuned for bounded candidate mass,
  *   not retrieval);
  * - LSH banded: b bands × r planes from DISJOINT bit-groups of ONE
  *   wider signature (`shiftright(sig, b·r) & mask` — the standard
  *   OR-amplification; disjoint plane indices ⇒ independent sign
  *   families, which plane-count variation would NOT give since
  *   [[graft.functions.HyperplaneSig]]'s families are nested prefixes);
  * - IVF: per-row argmax cell assignment over broadcast centroid
  *   literals + nprobe-cell probes (the q_ann_ivf shape), cells rising
  *   with corpus. Queries are DISJOINT from the centroid set — a query
  *   that is its own centroid probes its own cell and drags every true
  *   neighbor in with it, inflating recall to ~1.0 (measured before this
  *   guard).
  *
  * recall@k = |ANN top-k ∩ true top-k| / |true top-k|, averaged over
  * queries. Absolute numbers are corpus-dependent — deterministic hash
  * vectors are near-uniform on the sphere (true neighbors barely closer
  * than random, the hardest retrieval case); the table's value is the
  * TREND with corpus growth and what bands/nprobe buy back.
  *
  * Run: sbt "Test/runMain graft.ops.AnnRecall". Results in PERF.md.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val k = 10
    val nq = 20
    val qLo = 100L // query ids [qLo, qLo+nq): never centroids (cells ≤ 64)

    def isQuery(c: org.apache.spark.sql.Column) =
      c >= qLo && c < qLo + nq

    /** exact-cosine top-k per query over a candidate stream with columns
      * (q_id, qe, nq_, neighbor_id, emb, nn) */
    def topk(cand: DataFrame): DataFrame =
      cand
        .select(col("q_id"), col("neighbor_id"),
          (expr("vector_dot(emb, qe)") / (col("nn") * col("nq_"))).as("score"))
        .groupBy("q_id")
        .agg(expr(s"topk_by(score, neighbor_id, $k)").as("top"))
        .select(col("q_id"), explode(col("top.id")).as("neighbor_id"))

    /** |a ∩ b| via inner join on (q_id, neighbor_id). */
    def overlap(a: DataFrame, b: DataFrame): Long =
      a.join(b, Seq("q_id", "neighbor_id")).count()

    println(f"${"vecs"}%8s ${"planes"}%6s ${"bandcfg"}%8s ${"cells"}%6s " +
      f"${"nprobe"}%6s ${"lsh1_r@10"}%9s ${"lshb_r@10"}%9s ${"ivf_r@10"}%9s")
    for ((n, planes, perBand, bands, cells) <-
           Seq((25000L, 10, 6, 4, 16), (100000L, 12, 6, 4, 32),
               (400000L, 14, 6, 4, 64))) {
      // the production policy (constant probed fraction), not a
      // hardcoded count — this harness is what proves the policy holds
      // recall flat (VERDICT r7 #3)
      val nprobe = SimilarityQueries.ivfNprobe(cells)
      val e = SimCorpus.emb(spark, n).select(col("vec_id"), col("embedding"),
        sqrt(expr("vector_dot(embedding, embedding)")).as("nrm"))
      val q = broadcast(e.filter(isQuery(col("vec_id")))
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("nrm").as("nq_")))

      // ground truth: every (query, corpus) pair scored once
      val gt = topk(
        e.select(col("vec_id").as("neighbor_id"), col("embedding").as("emb"),
            col("nrm").as("nn"))
          .join(q, col("neighbor_id") =!= col("q_id")))
        .localCheckpoint()
      val gtN = gt.count()

      /** LSH recall at `nb` bands × `r` planes, disjoint bit-groups of one
        * width-(nb·r) signature. nb=1, r=planes reproduces q_ann_lsh's
        * single-table shape at the PERF.md density config. */
      def lshRecall(r: Int, nb: Int): Double = {
        val width = r * nb
        val mask = (1 << r) - 1
        val banded = e
          .withColumn("sig", expr(s"hplane_sig(embedding, $width)"))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            posexplode(expr(
              s"transform(sequence(1, $nb), b -> shiftright(sig, (b-1)*$r) & $mask)"))
              .as(Seq("band", "key")))
        val qb = broadcast(banded.filter(isQuery(col("vec_id")))
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
            col("nrm").as("nq_"), col("band"), col("key")))
        val cand = banded
          .select(col("vec_id").as("neighbor_id"), col("embedding").as("emb"),
            col("nrm").as("nn"), col("band"), col("key"))
          .join(qb, Seq("band", "key"))
          .filter(col("neighbor_id") =!= col("q_id"))
          .dropDuplicates("q_id", "neighbor_id")
        overlap(topk(cand), gt).toDouble / gtN
      }
      val lsh1 = lshRecall(planes, 1)
      val lshb = lshRecall(perBand, bands)

      // IVF: first `cells` corpus vectors as centroids (q_ann_ivf's
      // deterministic quantizer), per-row argmax assignment, driver-side
      // probe selection — all replicating the production query's shape
      val cents = SimCorpus.emb(spark, cells).collect().map(r =>
        (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toArray))
        .sortBy(_._1)
        .map { case (id, ce) =>
          (id, ce, math.sqrt(SimilarityQueries.dotLocal(ce, ce))) }
      val assignCand = cents.map { case (cid, ce, nc) =>
        struct(
          (call_function("vector_dot", col("embedding"), typedLit(ce)) /
            (col("nrm") * lit(nc))).as("s"),
          lit(-cid).as("n"))
      }
      val assigned = e.select(col("vec_id"), col("embedding"), col("nrm"),
        negate(greatest(assignCand: _*).getField("n")).as("cell"))
      val qVecs = e.filter(isQuery(col("vec_id")))
        .collect().map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Float]](1).toArray, r.getDouble(2)))
      val probeRows = qVecs.flatMap { case (qid, qe, qn) =>
        cents.map { case (cid, ce, nc) =>
          (qid, SimilarityQueries.dotLocal(qe, ce) / (qn * nc), cid) }
          .sortBy { case (_, csim, cid) => (-csim, cid) }
          .take(nprobe)
          .map { case (qid2, _, cid) => (qid2, cid) }
      }
      import spark.implicits._
      val probes = broadcast(
        spark.createDataset(probeRows.toSeq).toDF("q_id", "cell"))
      val ivfCand = assigned
        .join(probes.join(q, Seq("q_id")), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("qe"), col("nq_"),
          col("vec_id").as("neighbor_id"), col("embedding").as("emb"),
          col("nrm").as("nn"))
      val ivfRecall = overlap(topk(ivfCand), gt).toDouble / gtN

      println(f"$n%8d $planes%6d ${s"${bands}x$perBand"}%8s $cells%6d " +
        f"$nprobe%6d $lsh1%9.3f $lshb%9.3f $ivfRecall%9.3f")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
