package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The curation pipeline's stage invariants: each stage keeps a subset of
  * the previous one, gates actually bite, and the final keep-list contains
  * no document the near-dup graph connects to a smaller-id survivor. */
class CorpusQueriesSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("stages are monotone subsets and every gate bites") {
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val qual = CorpusQueries.qualityGate(docs)
    val surv = CorpusQueries.exactKeep(qual)
    val keep = CorpusQueries.queries("q_corpus_keep")(spark, sfDir)

    val n = docs.count()
    assert(qual.count() < n, "quality gate must drop rows on the fixture")
    assert(surv.count() <= qual.count())
    assert(keep.count() <= surv.count())
    assert(keep.count() > 0, "pipeline must not empty the corpus")
    // subset property: every kept id is a quality survivor
    assert(keep.join(surv, "doc_id").count() === keep.count())
  }

  test("kept documents are pairwise LSH-unconnected among themselves") {
    val surv = CorpusQueries.exactKeep(
      CorpusQueries.qualityGate(graft.tables.Tables.documents(spark, sfDir)))
    val keep = CorpusQueries.queries("q_corpus_keep")(spark, sfDir)
      .select("doc_id")
    val edges = DedupQueries.lshPairsOf(surv).select("doc_a", "doc_b")
    // if two kept docs shared an LSH band they'd be in one component and
    // only the smaller id could have been kept
    val both = edges
      .join(keep.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(keep.withColumnRenamed("doc_id", "doc_b"), "doc_b")
    assert(both.isEmpty)
  }

  test("curate chain: every stage bites and no contaminated doc survives") {
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val curated = CorpusQueries.queries("q_corpus_curate")(spark, sfDir)
    val qualIds = CorpusQueries.qualityGate(docs)
      .filter(col("doc_id") >= 50).select("doc_id")
    val contaminated = CorpusQueries.decontaminate(docs, 50L).select("doc_id")

    assert(curated.count() > 0, "curation must not empty the corpus")
    assert(curated.count() < qualIds.count(),
      "repetition/decontamination/dedup must drop quality survivors")
    // subset of the quality gate, disjoint from the contaminated set,
    // and never a benchmark document
    assert(curated.join(qualIds, "doc_id").count() === curated.count())
    assert(curated.join(contaminated, "doc_id").isEmpty)
    assert(curated.filter(col("doc_id") < 50).isEmpty)
  }

  test("quality gate keeps only the declared languages and thresholds") {
    val qual = CorpusQueries.qualityGate(
      graft.tables.Tables.documents(spark, sfDir))
    assert(qual.filter(!col("lang").isin("en", "de", "fr")).isEmpty)
    assert(qual.filter(col("n_tokens") < 20).isEmpty)
    assert(qual.filter(col("density") < 0.8).isEmpty)
  }

  test("substrDedupOf: a planted cross-doc span is removed everywhere but its first occurrence; unique text survives byte-identical") {
    import spark.implicits._
    // disjoint vocabularies per role so no ACCIDENTAL 5-gram collides:
    // span = 7 tokens (with gram 5 → 3 overlapping duplicated grams that
    // must cover all 7 loser positions); fillers unique per doc
    val span = "s1 s2 s3 s4 s5 s6 s7"   // 7 tokens, duplicated across docs
    val span2 = "t1 t2 t3 t4 t5"        // 5 tokens, duplicated WITHIN doc 4
    val docs = Seq(
      (1L, s"a1 a2 $span a3 a4"),              // first occurrence — winner
      (2L, s"b1 b2 b3 $span b4"),              // cross-doc loser
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),  // unique, ≥ gram tokens
      (4L, s"$span2 d1 d2 d3 $span2"),         // within-doc repeat
      (5L, "e1 e2 e3")                         // under gram tokens
    ).toDF("doc_id", "text")
    val out = CorpusQueries.substrDedupOf(docs, gram = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text"))).toMap
    assert(out(1L) === ((11L, 0L, s"a1 a2 $span a3 a4")))
    assert(out(2L) === ((11L, 7L, "b1 b2 b3 b4")))
    assert(out(3L) === ((10L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")))
    // within-doc: FIRST copy survives, second is cut
    assert(out(4L) === ((13L, 5L, s"$span2 d1 d2 d3")))
    assert(out(5L) === ((3L, 0L, "e1 e2 e3")))
  }

  test("substrDedupOf is idempotent on the fixture: re-deduplicating the clean corpus removes nothing") {
    // after removal, every duplicated gram's sole survivor is its first
    // occurrence, so a second pass finds none of the ORIGINAL duplicated
    // grams. Caveat, stated: removal CONCATENATES across cut spans, and a
    // new seam-spanning gram could in principle duplicate surviving text
    // (Lee et al.'s one-pass removal has the same non-fixpoint property);
    // this pins that on the real fixture the seams create no such gram —
    // if a fixture change trips it, weaken to "no originally-duplicated
    // gram recurs", don't loop to a fixpoint.
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val once = CorpusQueries.substrDedupOf(docs, gram = 5)
    assert(once.filter(col("n_removed") > 0).count() > 0,
      "gram=5 must find duplicates on the fixture for this test to bite")
    val again = CorpusQueries.substrDedupOf(
      once.select(col("doc_id"), col("clean_text").as("text")), gram = 5)
    assert(again.filter(col("n_removed") > 0).isEmpty,
      "second pass must be a no-op — first pass left a duplicated gram")
  }

  test("substrDedupOf on a boilerplate-gram fixture: the bounded " +
    "min-winner plan equals the collect_list reference under hot-key skew") {
    // the VERDICT r16 #1 hazard, engineered: ONE 60-token boilerplate
    // span (license-header shaped) planted at the head of 30% of fixture
    // docs — at gram 50 that is 11 grams whose occurrence lists all
    // concentrate on the planted docs, exactly the hot key the bounded
    // plan must absorb. Equivalence oracle: the r16 collect_list
    // spelling, test-local (its unbounded buffer is fine at spec scale)
    val boiler = (1 to 60).map(i => s"lic$i").mkString(" ")
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(col("doc_id") % 10 < 3, concat(lit(boiler + " "), col("text")))
          .otherwise(col("text")).as("text"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_text"))
    val bounded = CorpusQueries.substrDedupOf(docs)
      .collect().map(key).sortBy(_._1).toSeq
    // reference: per-gram collect_list + array_min, the pre-r17 shape
    val toks = CorpusQueries.substrToks(docs, 50)
    val refKills = CorpusQueries.substrOcc(toks)
      .groupBy("gh")
      .agg(collect_list(struct(col("doc_id"), col("s"))).as("os"))
      .filter(size(col("os")) >= 2)
      .select(array_min(col("os")).as("win"), explode(col("os")).as("o"))
      .filter(col("o") =!= col("win"))
      .select(col("o.doc_id").as("doc_id"), col("o.s").as("s"))
    val reference = CorpusQueries.substrReassemble(toks, refKills, 50)
      .collect().map(key).sortBy(_._1).toSeq
    assert(bounded.count(_._3 > 0) >=
      (0.25 * bounded.length).toInt,
      "the planted boilerplate must actually bite on ≥ 25% of docs")
    assert(bounded === reference)
    // r18: the conf-gated salt hatch is RETIRED by measurement (both
    // auto-remedies cost more than the 1.09–1.63× straggler they cure —
    // adjudication in the operator's scaladoc and PERF.md). The single-exchange plan asserted against the
    // collect_list reference above is the only plan.
  }

  test("q_substr_dedup on the fixture: removal bites, counts reconcile, and a removed gram's first occurrence survives") {
    val out = CorpusQueries.queries("q_substr_dedup")(spark, sfDir)
    val rows = out.collect()
    assert(rows.length ===
      graft.tables.Tables.documents(spark, sfDir)
        .filter(col("text").isNotNull).count())
    assert(rows.exists(_.getAs[Long]("n_removed") > 0),
      "fixture must contain cross-doc duplicated 50-grams (q_repeated_spans does)")
    // clean token count = n_tokens - n_removed, on every doc (a fully
    // removed doc has clean_text = "" which splits to [""], hence 0)
    val bad = out.filter(
      when(col("clean_text") === "", 0)
        .otherwise(size(split(col("clean_text"), "\\s+"))) =!=
        col("n_tokens") - col("n_removed"))
    assert(bad.isEmpty, "token accounting must reconcile")
  }
}
