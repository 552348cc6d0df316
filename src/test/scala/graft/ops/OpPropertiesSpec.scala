package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Property tests for invariant-style operators (SURVEY.md §5.2 item 2):
  * seeded random cases (deterministic across runs), 5 trials per property —
  * each trial builds DataFrames, so trial counts stay small. */
class OpPropertiesSpec extends SparkTestBase {

  private val rnd = new scala.util.Random(42)

  private def forAll[A](gen: => A)(body: A => Unit): Unit =
    (1 to 5).foreach(_ => body(gen))

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private def intLists: List[Int] = List.fill(40)(rnd.nextInt(16))

  test("dedup is idempotent and bounded by distinct key count (C15)") {
    forAll(intLists) { xs =>
      whenever(xs.nonEmpty) {
        import spark.implicits._
        val df = xs.toDF("k")
        val once = df.dropDuplicates("k")
        assert(once.count() === xs.distinct.size.toLong)
        assert(once.dropDuplicates("k").count() === once.count())
      }
    }
  }

  test("unionAll preserves counts; union-distinct equals set union (C14)") {
    forAll((intLists, intLists)) { case (a, b) =>
      import spark.implicits._
      val da = a.toDF("k"); val db = b.toDF("k")
      assert(da.unionAll(db).count() === (a.size + b.size).toLong)
      assert(da.union(db).distinct().count() === (a.toSet ++ b.toSet).size.toLong)
      assert(da.intersect(db).count() === (a.toSet & b.toSet).size.toLong)
      assert(da.except(db).count() === (a.toSet -- b.toSet).size.toLong)
    }
  }

  test("explode is the inverse of collect_list for non-empty groups (C3)") {
    forAll(intLists) { xs =>
      whenever(xs.nonEmpty) {
        import spark.implicits._
        val df = xs.zipWithIndex.map { case (v, i) => (i % 4, v) }.toDF("g", "v")
        val rebuilt = df.groupBy("g").agg(collect_list("v").as("vs"))
          .select(col("g"), explode(col("vs")).as("v"))
        // multiset equality per group
        val before = df.groupBy("g", "v").count().orderBy("g", "v").collect().toSeq
        val after = rebuilt.groupBy("g", "v").count().orderBy("g", "v").collect().toSeq
        assert(before === after)
      }
    }
  }

  test("as-of join result is the max qualifying timestamp (C11 monotonicity)") {
    forAll(List.fill(20)((rnd.nextInt(4), rnd.nextLong(101)))) { pairs =>
      whenever(pairs.nonEmpty) {
        import spark.implicits._
        // events: (user, t); every 3rd is a signup, rest purchases
        val ev = pairs.zipWithIndex.map { case ((u, t), i) =>
          (i.toLong, u, t, if (i % 3 == 0) "signup" else "purchase")
        }.toDF("id", "u", "t", "kind")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("u").orderBy(col("t"), col("id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val asof = ev
          .withColumn("s_t", when(col("kind") === "signup", col("t")))
          .withColumn("last_s", last("s_t", ignoreNulls = true).over(w))
          .filter(col("kind") === "purchase")
          .select("id", "u", "t", "last_s").collect()
        // oracle: per purchase, max signup t' <= t (ties: window order by (t,id)
        // means a same-t signup with a LOWER id is visible)
        val signups = pairs.zipWithIndex.collect {
          case ((u, t), i) if i % 3 == 0 => (u, t, i.toLong)
        }
        asof.foreach { r =>
          val id = r.getLong(0); val u = r.getInt(1); val t = r.getLong(2)
          val expect = signups.collect {
            case (su, st, si) if su == u && (st < t || (st == t && si < id)) => st
          }.maxOption
          val got = if (r.isNullAt(3)) None else Some(r.getLong(3))
          assert(got === expect, s"purchase id=$id u=$u t=$t")
        }
      }
    }
  }

  test("MinHash signature equality ⇒ shared shingle; identical docs collide") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different sentence with other words entirely"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents_fixture")
    val sig = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 2),
           i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ',
                       element_at(w, i + 2)))""")).as("sh"))
      .groupBy("doc_id").agg(min(md5(concat(lit("0:"), col("sh")))).as("mh0"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sig(1L) === sig(2L), "identical docs must have identical signatures")
    assert(sig(1L) !== sig(3L), "disjoint shingle sets should not collide on min-hash")
  }

  test("near-dup clustering is a valid connected-components labelling") {
    val sfDir = "/root/testdata/sf0.001"
    val labels = DedupQueries.queries("q_dedup_clusters")(spark, sfDir)
    val docs = graft.tables.Tables.documents(spark, sfDir).select("doc_id")
    // total labelling: exactly one cluster per document
    assert(labels.count() === docs.count())
    val edges = DedupQueries.queries("q_lsh_pairs")(spark, sfDir)
      .select("doc_a", "doc_b")
    // every candidate edge's endpoints share a cluster (fixed point reached)
    val la = labels.withColumnRenamed("doc_id", "doc_a")
      .withColumnRenamed("cluster", "ca")
    val lb = labels.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("cluster", "cb")
    assert(edges.join(la, "doc_a").join(lb, "doc_b")
      .filter(col("ca") =!= col("cb")).isEmpty)
    // the representative is a member of its own cluster with its own label
    assert(labels.filter(col("doc_id") === col("cluster")).count() ===
      labels.select("cluster").distinct().count())
    // labels point at the minimum member: no member is smaller than its label
    assert(labels.filter(col("doc_id") < col("cluster")).isEmpty)
  }

  test("star-contraction CC converges on a 1000-node path within O(log² n) rounds") {
    // the pathological shape for min-label propagation: one chain component
    // of diameter 999 plus isolated nodes
    val n = 1000L
    val universe = spark.range(0, n + 5).select(col("id").as("doc_id"))
    val edges = spark.range(0, n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    // O(log² n) bound with headroom, enforced by the round cap (exceeding
    // it throws); a linear-diameter algorithm would need ~999 rounds here,
    // star contraction stays logarithmic. The in-memory finish takes this
    // graph whole and must agree.
    val (inMemory, star) = CcPlacements.both(spark) {
      CcPlacements.labelMap(
        DedupQueries.clusterLabels(universe, edges, maxRounds = 20))
    }
    assert(star === inMemory)
    (0L until n).foreach(i => assert(inMemory(i) === 0L, s"node $i"))
    // isolated nodes label themselves
    (n until n + 5).foreach(i => assert(inMemory(i) === i))
  }

  test("dedupDelta: corpus matches drop, first delta wins, fresh and tiny docs keep") {
    import spark.implicits._
    // ≥3 tokens → has a signature. corpusText near-dups deltaText1 exactly
    // (same text → same signature → all 4 bands agree); fresh is disjoint.
    val corpusText = "alpha beta gamma delta epsilon zeta"
    val fresh = "one two three four five six"
    val dupInDelta = "seven eight nine ten eleven twelve"
    val corpus = Seq((1L, corpusText), (2L, "some other corpus body here now"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, corpusText),   // corpus near-dup → drop
      (11L, fresh),        // fresh → keep
      (12L, dupInDelta),   // first of an in-delta pair → keep
      (13L, dupInDelta),   // second → drop (smaller-id delta match)
      (14L, "hi")          // sub-3-token: no signature, never pairs → keep
    ).toDF("doc_id", "text")
    val out = DedupQueries.dedupDelta(corpus, delta).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(10L) === ((1L, 0L, false)))
    assert(out(11L) === ((0L, 0L, true)))
    assert(out(12L) === ((0L, 0L, true)))
    assert(out(13L) === ((0L, 1L, false)))
    assert(out(14L) === ((0L, 0L, true)))
    assert(out.size === 5) // every delta doc decided, corpus docs absent
  }

  test("q_mix_unimax: caps respected, budget conserved, uncapped sources uniform") {
    import spark.implicits._
    // word counts per source chosen so the E=4 cap genuinely splits the
    // set: tiny sources hit their cap, big ones share the waterline
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "tiny", words(2)),     // cap 8
      (2L, "small", words(5)),    // cap 20
      (3L, "big", words(200)),    // cap 800
      (4L, "huge", words(300))    // cap 1200
    ).toDF("doc_id", "source", "text")
    val out = CorpusQueries.queries("q_mix_unimax")(spark, "/root/testdata/sf0.001")
    assert(out.columns.toSeq ===
      Seq("source", "n_tokens", "cap", "alloc", "epochs_used"))
    // hand-checkable allocation on the crafted corpus: tot=507, B=253,
    // caps asc (8, 20, 800, 1200) -> tiny+small capped (8+20=28),
    // remaining 225 DIV 2 = 112 each to big/huge, 1 token unallocated
    val crafted = {
      val byName = CorpusQueries.queries("q_mix_unimax")
      val dir = java.nio.file.Files.createTempDirectory("unimax").toString
      docs.withColumn("lang", lit("en")).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      byName(spark, dir).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    }
    assert(crafted("tiny") === ((2L, 8L, 8L, 4.0)))
    assert(crafted("small") === ((5L, 20L, 20L, 4.0)))
    assert(crafted("big")._3 === 112L)
    assert(crafted("huge")._3 === 112L)
    // budget conservation: allocated ≤ B and the shortfall is < S
    val alloc = crafted.values.map(_._3).sum
    assert(alloc <= 253L && 253L - alloc < 4L)
    // caps are never exceeded and epochs_used ≤ E everywhere
    crafted.values.foreach { case (n, cap, a, e) =>
      assert(a <= cap && e <= 4.0 + 1e-9)
      assert(cap === n * 4)
    }
  }

  test("unimax epochs: default identical, E=1 caps every source at one epoch") {
    val fixture = graft.tables.Tables.documents(
      spark, "/root/testdata/sf0.001")
    def alloc(epochs: Long) = CorpusQueries.unimaxAlloc(fixture, epochs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1).toSeq
    val dflt = alloc(CorpusQueries.UnimaxEpochs)
    assert(alloc(4) === dflt)
    val e1 = alloc(1)
    // at E=1 no source may be allocated beyond its own token count
    e1.foreach { case (src, nTok, cap, a, _) =>
      assert(cap === nTok, src)
      assert(a <= nTok, src)
    }
    // tighter caps can only shrink (or hold) each source's allocation
    dflt.zip(e1).foreach { case ((s4, _, _, a4, _), (s1, _, _, a1, _)) =>
      assert(s4 === s1); assert(a1 <= a4, s4)
    }
  }

  test("unimaxAllocLocal drift gate: row-equal to the declarative allocation") {
    import spark.implicits._
    // r14: q_budget_sample computes the allocation driver-side
    // (bounded model table); this gate pins the Scala fold to the
    // DataFrame arithmetic q_mix_unimax registers, on sf0.001 AND on a
    // crafted corpus with cap ties (same cap, distinct sources — the
    // (cap, source) tie-break must agree) for several E values
    def check(df: org.apache.spark.sql.DataFrame, E: Long): Unit = {
      val declared = CorpusQueries.unimaxAlloc(df, epochs = E)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      val totals = df.filter($"text".isNotNull)
        .selectExpr("source",
          "CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS n")
        .collect().groupBy(_.getString(0)).view
        .mapValues(_.map(_.getLong(1)).sum).toSeq
      assert(CorpusQueries.unimaxAllocLocal(totals, E) === declared)
    }
    val fixture = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val ties = Seq(
      ("a", "x y z"), ("b", "p q r"),          // tied caps, distinct sources
      ("c", "one two three four five six"),
      ("d", "t"), ("d", "u v w x y z a b c")).zipWithIndex
      .map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    // ADVICE r14: supplementary-plane tie — U+10000 ("𐀀")
    // sorts BEFORE U+FFFD in UTF-16 code units but AFTER it in UTF-8
    // bytes (0xf0… > 0xef…); with tied caps at the k-boundary the two
    // orders hand the cap to different sources, so the local fold must
    // compare UTF-8 bytes exactly as Spark's Window.orderBy does
    val nonAsciiTies = Seq(
      ("s\uFFFD", "a b c"), ("s\uD800\uDC00", "x y z"), // tied caps
      ("plain", "one two three four five six seven eight nine"))
      .zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    for (e <- Seq(1L, 2L, 4L)) {
      check(fixture, e); check(ties, e); check(nonAsciiTies, e)
    }
  }

  test("derivedPartsupp: exactly part x 4, keys in range, twin-identical values") {
    // the r15 TPC-H anchor: the derivation must be exactly 4 rows per
    // part with suppkeys inside [1, S] and cost/qty inside the formula's
    // ranges, and the Scala arithmetic must equal a row-by-row local
    // recomputation of the published formula (the DuckDB CTE is the same
    // text modulo the integer-division operator, so this pins both)
    val d = "/root/testdata/sf0.001"
    val nPart = graft.tables.Tables.part(spark, d).count()
    val sCnt = graft.tables.Tables.supplier(spark, d).count()
    val rows = RelationalQueries.derivedPartsupp(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 4L * nPart)
    assert(rows.forall { case (_, sk, c, q) =>
      sk >= 1 && sk <= sCnt && c >= 100 && c <= 100099 && q >= 1 && q <= 9999 })
    val expected = for {
      p <- rows.map(_._1).distinct
      i <- 0L to 3L
      sk = (p + i * (sCnt / 4 + (p - 1) / sCnt)) % sCnt + 1
    } yield (p, sk, (p * 31 + sk * 17) % 100000 + 100,
      (p * 13 + sk * 7) % 9999 + 1)
    assert(rows.sorted === expected.sorted)
  }

  test("q_budget_sample: greedy take respects the UniMax allocation per source") {
    val out = CorpusQueries.queries("q_budget_sample")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
    val alloc = CorpusQueries.queries("q_mix_unimax")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (src, rows) =>
      val a = alloc(src)
      // every kept doc started under the allocation (the take rule)...
      rows.foreach { case (_, id, _, before) =>
        assert(before < a, s"$src doc $id: before=$before alloc=$a")
      }
      // ...so the total overshoot is bounded by the LAST doc alone
      val total = rows.map(_._3).sum
      val maxDoc = rows.map(_._3).max
      assert(total - maxDoc < a,
        s"$src: total=$total maxDoc=$maxDoc alloc=$a")
      // ...and the kept set is the order PREFIX: tokens_before chains as
      // exact exclusive running sums from zero with no gaps
      val sorted = rows.sortBy(_._4).toSeq
      assert(sorted.head._4 === 0L)
      sorted.sliding(2).foreach { pair =>
        if (pair.length == 2) {
          val (_, _, n0, b0) = pair(0)
          assert(pair(1)._4 === b0 + n0)
        }
      }
    }
  }

  test("q_budget_sample: sharded prefix sum is byte-identical under 80%-mass skew") {
    import spark.implicits._
    // engineered skew: source "big" owns 80% of the corpus — the shape
    // that serialized the r9 single-per-source window through one reducer
    val df = ((1L to 400L).map(i => (i, "big",
        Seq.fill((i % 7 + 1).toInt)("tok").mkString(" "))) ++
      (401L to 500L).map(i => (i, s"s${i % 4}",
        Seq.fill((i % 5 + 1).toInt)("tok").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val out = CorpusQueries.budgetSample(df)
    // reference: the take rule computed brute-force on the driver — per
    // source, exclusive running sum in (md5 ord, doc_id) order
    val alloc = CorpusQueries.unimaxAlloc(df)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val keyed = df.selectExpr("doc_id", "source",
        "CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS n_tokens",
        "md5_low63(CAST(doc_id AS STRING)) AS ord")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = keyed.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      var before = 0L
      rows.sortBy(t => (t._4, t._1)).flatMap { case (id, _, n, _) =>
        val take = before < alloc(src)
        val b = before
        before += n
        if (take) Some((id, src, n, b)) else None
      }
    }.sortBy(t => (t._2, t._4))
    val got = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._2, t._4)).toSeq
    assert(got === expected)
    // and the giant source genuinely spreads: its docs hit many of the 64
    // ord-range shards, so no single reducer sorts the whole source
    val bigShards = df.filter($"source" === "big")
      .selectExpr("shiftright(md5_low63(CAST(doc_id AS STRING)), 57) AS shard")
      .distinct().count()
    assert(bigShards > 16, s"expected 'big' spread over many shards, got $bigShards")
    // plan shape: the corpus-scale window partitions by (source, shard);
    // only the bounded shard-offset window partitions by source alone.
    // AQE wrappers are leaves to TreeNode traversal — descend into them.
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a +: nodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: nodes(q.plan)
        case n => Seq(n)
      }
    val wins = nodes(out.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.exists(_.partitionSpec.size == 2),
      "corpus-scale window must partition by (source, shard)")
  }

  test("q_budget_sample: output is shard-count independent (N=1 vs 64 vs 256)") {
    import spark.implicits._
    // the two-level prefix sum must be an implementation detail: any
    // power-of-two shard count yields byte-identical takes (N=1 IS the
    // old single-window-per-source plan, so this also pins the r10
    // rewrite against its r9 semantics on skewed data)
    val df = ((1L to 300L).map(i => (i, "big",
        Seq.fill((i % 6 + 1).toInt)("tok").mkString(" "))) ++
      (301L to 380L).map(i => (i, s"s${i % 3}",
        Seq.fill((i % 4 + 1).toInt)("tok").mkString(" "))))
      .toDF("doc_id", "source", "text")
    def run(shards: Int) = CorpusQueries.budgetSample(df, shards = shards)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val n64 = run(64)
    assert(n64.nonEmpty)
    assert(run(1) === n64)
    assert(run(256) === n64)
    // a non-power-of-two shard count fails loudly, not silently
    intercept[IllegalArgumentException] { run(63) }
  }

  test("lineDedup: C4 line filters, corpus-wide first-wins, source-order reassembly") {
    import spark.implicits._
    val keepA = "alpha beta gamma delta epsilon."   // ≥5 words, terminal punct
    val keepB = "one two three four five six!"
    val keepC = "red orange yellow green blue?"
    val docs = Seq(
      (1L, s"$keepA\nshort line.\nno terminal punct here at all\n$keepB"),
      (2L, s"$keepA\n$keepC\n$keepA"),    // loses A to doc 1; dups A internally
      (3L, s"$keepB\n$keepA"),            // loses BOTH -> absent from output
      (4L, null: String)                  // null text -> absent
    ).toDF("doc_id", "text")
    val out = CorpusQueries.lineDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // doc 3's lines all appeared in smaller doc_ids; doc 4 null
    assert(out.keySet === Set(1L, 2L))
    // doc 1: 4 raw lines; "short line." (<5 words) and the punct-less
    // line filtered; A and B kept, in SOURCE order
    assert(out(1L) === ((4L, 2L, s"$keepA\n$keepB")))
    // doc 2: 3 raw lines; A lost to doc 1 (both copies), C kept
    assert(out(2L) === ((3L, 1L, keepC)))
  }

  test("lmFluency: fluent docs head, gibberish tail, mixed middle; keep = not tail") {
    import spark.implicits._
    // 20 docs of one endlessly repeated bigram (high hashed-bigram counts →
    // high conditional probability), 2 docs of corpus-unique tokens (every
    // bigram count 1 → probability floor), 1 doc that is half of each, and
    // a 1-token doc that has no bigrams and must not be scored at all.
    val fluent = (1 to 50).map(_ => "aa bb").mkString(" ")
    val fluentDocs = (1L to 20L).map(i => (i, fluent))
    val gibberish = (0 to 1).map(d =>
      (100L + d, (0 until 50).map(i => s"g${d}_$i").mkString(" ")))
    val mixed = (200L, (1 to 25).map(_ => "aa bb").mkString(" ") + " " +
      (0 until 24).map(i => s"m_$i").mkString(" "))
    val tiny = (300L, "solo")
    val docs = (fluentDocs ++ gibberish :+ mixed :+ tiny).toDF("doc_id", "text")
    val out = TextQueries.lmFluency(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getBoolean(4))).toMap
    assert(out.size === 23) // tiny absent, everything else scored once
    assert(!out.contains(300L))
    fluentDocs.foreach { case (id, _) =>
      assert(out(id)._1 === 99L) // 100 tokens → 99 bigrams
      assert(out(id)._3 === "head", s"doc $id: ${out(id)}")
      assert(out(id)._4)
    }
    gibberish.foreach { case (id, _) =>
      assert(out(id)._3 === "tail", s"doc $id: ${out(id)}")
      assert(!out(id)._4)
    }
    assert(out(200L)._3 === "middle", s"mixed: ${out(200L)}")
    assert(out(200L)._4)
    // bucket ordering is real: per-bigram mean decreases head → tail
    def mean(id: Long) = out(id)._2.toDouble / out(id)._1
    assert(mean(1L) > mean(200L) && mean(200L) > mean(100L))
  }

  test("lmFluencyTerciles: ~third per bucket on a spread corpus; labels follow score order") {
    import spark.implicits._
    // 30 docs with strictly increasing fluency: doc i repeats "aa bb" i
    // times then pads with unique tokens — per-doc mean score rises with
    // i, so the tercile split must put the top ~10 in head, bottom ~10 in
    // tail regardless of the (skewed) score distribution. The mean-split
    // default CANNOT guarantee that — the point of the variant.
    val docs = (1 to 30).map { i =>
      val rep = (1 to i).map(_ => "aa bb").mkString(" ")
      val pad = (0 until (31 - i)).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, s"$rep $pad")
    }.toDF("doc_id", "text")
    val out = TextQueries.lmFluencyTerciles(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getBoolean(4))).toMap
    assert(out.size === 30)
    val byBucket = out.groupBy(_._2._3).view.mapValues(_.keys.toSeq.sorted).toMap
    // each bucket holds a THIRD (±2: sketch pivots can tie at boundaries)
    Seq("head", "middle", "tail").foreach { b =>
      val n = byBucket.getOrElse(b, Nil).size
      assert(math.abs(n - 10) <= 2, s"$b holds $n of 30: $byBucket")
    }
    // label order respects score order: every head doc outscores every
    // middle doc, every middle every tail
    def means(b: String) = byBucket(b).map(id => out(id)._2.toDouble / out(id)._1)
    assert(means("head").min >= means("middle").max)
    assert(means("middle").min >= means("tail").max)
    // keep = middle or better, as in the default split
    out.foreach { case (id, (_, _, b, keep)) =>
      assert(keep === (b != "tail"), s"doc $id: $b keep=$keep")
    }
  }

  test("star and propagate strategies agree on a random edge set") {
    // star: clusterLabels under both placements; propagate: min-label
    // relaxation over the edge list, recomputed in the test
    import spark.implicits._
    forAll(List.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))) { ps =>
      val universe = spark.range(0, 40).select(col("id").as("doc_id"))
      val edges = ps.toDF("doc_a", "doc_b")
      val (inMemory, star) = CcPlacements.both(spark) {
        CcPlacements.labelMap(DedupQueries.clusterLabels(universe, edges))
      }
      val propagated = Array.range(0, 40).map(_.toLong)
      var moved = true
      while (moved) {
        moved = false
        ps.foreach { case (a, b) =>
          val m = math.min(propagated(a.toInt), propagated(b.toInt))
          if (propagated(a.toInt) != m || propagated(b.toInt) != m) {
            propagated(a.toInt) = m; propagated(b.toInt) = m; moved = true
          }
        }
      }
      assert(star === inMemory)
      assert(inMemory === propagated.indices.map(i => i.toLong -> propagated(i)).toMap)
    }
  }

  test("q_dedup_clusters: star to its fixed point matches the in-memory finish on sf0.001") {
    val sfDir = "/root/testdata/sf0.001"
    val (inMemory, star) = CcPlacements.both(spark) {
      CcPlacements.labelMap(
        DedupQueries.queries("q_dedup_clusters")(spark, sfDir))
    }
    assert(inMemory.nonEmpty && star === inMemory)
  }

  test("k-means quantizer: total assignment, valid cells, deterministic replay") {
    val sfDir = "/root/testdata/sf0.001"
    val asg = SimilarityQueries.queries("q_ivf_kmeans")(spark, sfDir)
    val n = graft.tables.Tables.embeddings(spark, sfDir).count()
    // every vector lands in exactly one of the k=16 cells
    assert(asg.count() === n)
    assert(asg.select("vec_id").distinct().count() === n)
    assert(asg.filter(col("cell") < 0 || col("cell") >= 16).isEmpty)
    // the Lloyd round actually moves assignments off the naive seed for
    // some vectors (the recomputed means differ from the seed vectors)
    val seedAsg = SimilarityQueries.ivfAssigned(spark, sfDir)
      .select(col("vec_id"), col("cell").as("seed_cell"))
    assert(!asg.join(seedAsg, "vec_id")
      .filter(col("cell") =!= col("seed_cell")).isEmpty)
    assert(asg.select(countDistinct(col("cell"))).collect()(0).getLong(0) > 1L)
    // scaled-integer means make the whole round bit-reproducible
    val replay = SimilarityQueries.queries("q_ivf_kmeans")(spark, sfDir)
    assert(asg.exceptAll(replay).isEmpty && replay.exceptAll(asg).isEmpty)
  }

  test("chunking covers every token, overlaps by stride, reassembles in order") {
    val sfDir = "/root/testdata/sf0.001"
    val chunks = CorpusQueries.queries("q_chunk")(spark, sfDir)
    // every doc's chunk count is exactly ceil(max(n_tokens - 10, 1) / 40):
    // window starts are capped at n-10 so a pure-overlap orphan tail
    // (n mod 40 in [1,10]) never becomes its own duplicate-content chunk
    val badCount = chunks.groupBy("doc_id")
      .agg(max("chunk_idx").as("last"), max("n_tokens").as("n"))
      .filter(col("last") + 1 =!=
        ceil(greatest(col("n") - 10, lit(1)) / lit(40.0)).cast("int"))
    assert(badCount.isEmpty)
    // exact window arithmetic: the chunk at index i starts at token
    // 1 + 40i and holds min(50, n - 40i) tokens — every token is covered
    // and consecutive windows overlap by min(10, what remains)
    val badLen = chunks.filter(
      col("n_chunk_tokens") =!=
        least(lit(50), col("n_tokens") - col("chunk_idx") * 40))
    assert(badLen.isEmpty)
    // deterministic replay
    val replay = CorpusQueries.queries("q_chunk")(spark, sfDir)
    assert(chunks.exceptAll(replay).isEmpty && replay.exceptAll(chunks).isEmpty)
  }

  test("packing fills sequences to the budget plus at most one straddling chunk") {
    val sfDir = "/root/testdata/sf0.001"
    val packed = CorpusQueries.queries("q_pack")(spark, sfDir)
    val perSeq = packed.groupBy("source", "shard", "seq_id")
      .agg(sum("n_chunk_tokens").as("toks"), max("seq_id").as("sid"))
    // a sequence holds at most 2048 + one straddling chunk (≤ 50 tokens);
    // every sequence except a shard's last is filled past the budget's
    // start (its first chunk began before the 2048 boundary)
    assert(perSeq.filter(col("toks") > 2048 + 50).isEmpty)
    val lastSeq = packed.groupBy("source", "shard")
      .agg(max("seq_id").as("last"))
    val nonLast = perSeq.join(lastSeq, Seq("source", "shard"))
      .filter(col("seq_id") < col("last"))
    assert(nonLast.filter(col("toks") < 2048 - 50).isEmpty,
      "an interior sequence left more than a chunk's worth of budget unused")
    // deterministic replay
    val replay = CorpusQueries.queries("q_pack")(spark, sfDir)
    assert(packed.exceptAll(replay).isEmpty && replay.exceptAll(packed).isEmpty)
  }

  test("packing fill-bounds hold at any shard count; auto N matches the formula") {
    val sfDir = "/root/testdata/sf0.001"
    def fillBoundsHold(packed: org.apache.spark.sql.DataFrame, n: Long): Unit = {
      assert(packed.filter(col("shard") < 0 || col("shard") >= n).isEmpty,
        s"shard outside [0,$n)")
      val perSeq = packed.groupBy("source", "shard", "seq_id")
        .agg(sum("n_chunk_tokens").as("toks"))
      assert(perSeq.filter(col("toks") > 2048 + 50).isEmpty)
      val lastSeq = packed.groupBy("source", "shard")
        .agg(max("seq_id").as("last"))
      val nonLast = perSeq.join(lastSeq, Seq("source", "shard"))
        .filter(col("seq_id") < col("last"))
      assert(nonLast.filter(col("toks") < 2048 - 50).isEmpty,
        s"interior sequence under-filled at N=$n")
    }
    def withShards(n: Long): org.apache.spark.sql.DataFrame =
      CorpusQueries.pack(graft.tables.Tables.documents(spark, sfDir), Some(n))
    // identical invariants at N=8 and N=64 (VERDICT r6 #3 done-criterion)
    val at8 = withShards(8)
    val at64 = withShards(64)
    fillBoundsHold(at8, 8)
    fillBoundsHold(at64, 64)
    // the chunk stream itself is N-independent: same (doc_id, chunk_idx,
    // n_chunk_tokens) multiset under any shard count
    val k8 = at8.select("doc_id", "chunk_idx", "n_chunk_tokens")
    val k64 = at64.select("doc_id", "chunk_idx", "n_chunk_tokens")
    assert(k8.exceptAll(k64).isEmpty && k64.exceptAll(k8).isEmpty)
    // auto path: N = greatest(8, ceil(count/4096)), and N=8 conf ==
    // auto output on a corpus small enough that the formula yields 8
    val nDocs = graft.tables.Tables.documents(spark, sfDir).count()
    val expectN = math.max(8L, math.ceil(nDocs / 4096.0).toLong)
    val auto = CorpusQueries.queries("q_pack")(spark, sfDir)
    fillBoundsHold(auto, expectN)
    if (expectN == 8L)
      assert(auto.exceptAll(at8).isEmpty && at8.exceptAll(auto).isEmpty,
        "auto shard derivation diverged from explicit N=8 on a small corpus")
  }

  test("stratified sample is deterministic, honors buckets, and biases by source") {
    val sfDir = "/root/testdata/sf0.001"
    val kept = CorpusQueries.queries("q_sample_stratified")(spark, sfDir)
    assert(kept.filter(col("bucket") < 0 || col("bucket") >= 100).isEmpty)
    // every kept row respects its source's rate
    assert(kept.filter(col("source") === "src0" && col("bucket") >= 25).isEmpty)
    assert(kept.filter(col("source") === "src1" && col("bucket") >= 50).isEmpty)
    // replay keeps the IDENTICAL rows (the whole point vs rand sampling)
    val replay = CorpusQueries.queries("q_sample_stratified")(spark, sfDir)
    assert(kept.exceptAll(replay).isEmpty && replay.exceptAll(kept).isEmpty)
    // the gates bite: each weighted source keeps less than it holds
    val docs = graft.tables.Tables.documents(spark, sfDir)
    for (src <- Seq("src0", "src1")) {
      val total = docs.filter(col("source") === src).count()
      val k = kept.filter(col("source") === src).count()
      assert(k > 0 && k < total, s"$src kept $k of $total")
    }
  }

  test("containment bounds: jaccard ≤ min(c_ab, c_ba) ≤ 1 on every candidate pair") {
    val sfDir = "/root/testdata/sf0.001"
    val c = DedupQueries.queries("q_containment_pairs")(spark, sfDir)
    val j = DedupQueries.queries("q_jaccard_pairs")(spark, sfDir)
    assert(c.count() > 0)
    // same candidate universe (both derive from one factored pipeline)
    assert(c.count() === j.count())
    val joined = c.join(j, Seq("doc_a", "doc_b"))
    assert(joined.filter(col("c_ab") <= 0 || col("c_ab") > 1 ||
      col("c_ba") <= 0 || col("c_ba") > 1).isEmpty)
    // J = |∩|/|∪| ≤ |∩|/max(|A|,|B|) = min(C_ab, C_ba); tiny FP tolerance
    assert(joined.filter(col("jaccard") >
      least(col("c_ab"), col("c_ba")) + lit(1e-12)).isEmpty)
  }

  test("importance weighting separates a distinct target vocabulary") {
    import spark.implicits._
    // two disjoint vocabularies: target docs speak A, raw docs speak B —
    // every A-bucket's ratio exceeds 1, every B-bucket's sits below it, so
    // DSIR must rank ALL target docs above ALL raw docs (the fixture's
    // random lang label can't show this — no real signal exists there)
    val vocabA = Seq("alpha", "beta", "gamma", "delta")
    val vocabB = Seq("omega", "sigma", "kappa", "lambda")
    val docs = (0 until 20).map { i =>
      val v = if (i < 10) vocabA else vocabB
      (i.toLong, Seq.tabulate(30)(j => v((i + j) % 4)).mkString(" "),
        if (i < 10) "tgt" else "raw")
    }.toDF("doc_id", "text", "lang")
    val w = CorpusQueries.importanceWeights(docs, col("lang") === "tgt")
      .join(docs.select("doc_id", "lang"), "doc_id")
    val minTgt = w.filter(col("lang") === "tgt")
      .agg(min(col("score"))).head.getLong(0)
    val maxRaw = w.filter(col("lang") === "raw")
      .agg(max(col("score"))).head.getLong(0)
    assert(minTgt > maxRaw,
      s"worst target score $minTgt not above best raw score $maxRaw")
    // the keep rule follows: all target docs kept, no raw doc kept
    assert(w.filter(col("lang") === "tgt" && !col("keep")).isEmpty)
    assert(w.filter(col("lang") === "raw" && col("keep")).isEmpty)
    // scores are reproducible on the real fixture (integer fixed-point —
    // no FP accumulation anywhere)
    val sfDir = "/root/testdata/sf0.001"
    val once = CorpusQueries.queries("q_importance_weights")(spark, sfDir)
    val replay = CorpusQueries.queries("q_importance_weights")(spark, sfDir)
    assert(once.select("doc_id", "score").exceptAll(
      replay.select("doc_id", "score")).isEmpty)
  }

  test("semdedup drops only ids with a lower-id twin in the same cell") {
    val sfDir = "/root/testdata/sf0.001"
    val drops = SimilarityQueries.queries("q_semdedup")(spark, sfDir)
    assert(drops.count() > 0)
    // cells come from the 16 seed centroids
    assert(drops.filter(col("cell") < 0 || col("cell") >= 16).isEmpty)
    assert(drops.filter(col("max_cos") < 0.25 || col("max_cos") > 1.0 + 1e-12).isEmpty)
    // a drop decision needs at least one better partner
    assert(drops.filter(col("n_dups") < 1).isEmpty)
    // the corpus-wide minimum vec_id can never be dropped (no lower id exists)
    val minVec = graft.tables.Tables.embeddings(spark, sfDir)
      .agg(min("vec_id")).head.getLong(0)
    assert(drops.filter(col("drop_id") <= minVec).isEmpty)
  }

  test("knn label packing is lossless: one in-domain prediction per query") {
    val sfDir = "/root/testdata/sf0.001"
    val preds = SimilarityQueries.queries("q_knn_classify")(spark, sfDir)
    assert(preds.count() === 5) // one prediction per query vector
    val labelDomain = graft.tables.Tables.embeddings(spark, sfDir)
      .select("label").distinct().collect().map(_.getInt(0)).toSet
    preds.collect().foreach { r =>
      assert(labelDomain.contains(r.getInt(1)), s"label ${r.getInt(1)} out of domain")
      val votes = r.getLong(2)
      assert(votes >= 1 && votes <= 10, s"votes $votes out of [1,10]")
    }
  }

  test("temperature mix: exact fixed-point masses, α<1 flattens the shares") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = CorpusQueries.queries("q_mix_temperature")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val tw = rows.map(_._3).sum
    val tn = rows.map(_._2).sum
    rows.foreach { case (src, n, w, share, epochs) =>
      // the mass is exactly round(n^(1/4) · 1e6) — nested sqrt, no pow
      assert(w === math.round(math.sqrt(math.sqrt(n.toDouble)) * 1e6), src)
      assert(share === w.toDouble / tw, src)
      assert(epochs === share * tn.toDouble / n.toDouble, src)
    }
    // α<1 flattening, pairwise: bigger source keeps a bigger share
    // (monotone) but a SMALLER boost over its natural share — the
    // share/natural ratio is ∝ n^(α-1), strictly decreasing in n
    for (Seq((sa, na, _, pa, _), (sb, nb, _, pb, _)) <-
           rows.sortBy(_._2).toSeq.combinations(2) if na < nb) {
      assert(pa < pb, s"$sa vs $sb: share must grow with size")
      assert(pa / (na.toDouble / tn) > pb / (nb.toDouble / tn),
        s"$sa vs $sb: smaller source must get the larger temperature boost")
    }
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9)
  }

  test("redact: hit counts equal token-level denylist counts, fp flips iff hit") {
    val sfDir = "/root/testdata/sf0.001"
    val deny = Set("customer", "supplier")
    val out = CorpusQueries.queries("q_redact")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    val texts = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === texts.keySet)
    var hits = 0
    texts.foreach { case (id, t) =>
      // space-separated word soup: \b matches exactly at token boundaries
      val expected = t.trim.split("\\s+").count(deny)
      val (n, fp) = out(id)
      assert(n === expected, s"doc $id")
      val origFp = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert((fp != origFp) === (n > 0), s"doc $id")
      hits += n
    }
    assert(hits > 0, "denylist must bite on the fixture")
  }

  test("bpe merges: hand-computed rounds on a tiny corpus, invariants on the fixture") {
    import spark.implicits._
    // corpus: "aaab" ×2, "ab" ×1.
    // round 1: pairs (a,a)=4 (two per aaab), (a,b)=3 → merge aa
    // round 2: aaab=[aa,a,b] → (aa,a)=2, (a,b)=2; ab=[a,b] → (a,b)=3 → ab
    // round 3: aaab=[aa,ab] → (aa,ab)=2 → aaab
    val tiny = Seq("aaab aaab ab").toDF("text")
    val got = TextQueries.bpeMerges(tiny)
      .orderBy("round")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got === Seq(
      (1, "a", "a", "aa", 4L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 2L)))

    val fixture = TextQueries.queries("q_bpe_merges")(
      spark, "/root/testdata/sf0.001").orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(fixture.map(_._1) === Seq(1, 2, 3))
    fixture.foreach { case (_, l, r, m, c) =>
      assert(m === l + r); assert(c > 0)
    }
    // a merge can only create pairs bounded by existing pair counts, so
    // the winning count never increases across rounds
    assert(fixture.map(_._5) === fixture.map(_._5).sorted.reverse)
    // the same pair is never learned twice
    assert(fixture.map(t => (t._2, t._3)).distinct.size === 3)
  }

  test("bpe learnedMerges: degenerate fit (all single-symbol words) stops cleanly") {
    import spark.implicits._
    // no word has an adjacent pair → round 1 is empty; learnedMerges must
    // return Nil (stop at the first empty round) rather than throw at
    // plan-build time, mirroring the batch path's null-scalar tolerance
    val degenerate = Seq("a b c", "a a b").toDF("text")
    assert(TextQueries.learnedMerges(degenerate, rounds = 3) === Nil)
    // a corpus that dries up mid-run keeps only the rounds that produced
    // a winner: "ab" ×1 learns (a,b) then has nothing left
    val dries = Seq("ab").toDF("text")
    assert(TextQueries.learnedMerges(dries, rounds = 3) === Seq(("a", "b")))
  }

  test("bpe tokenize: learned merges collapse the tiny corpus to whole words") {
    import spark.implicits._
    // with merges aa, ab, aaab (hand-derived above): aaab → 1 token,
    // ab → 1 token, so the doc "aaab aaab ab" is 3 tokens over 10 chars
    val tiny = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val row = TextQueries.bpeTokenize(tiny).head
    assert(row.getLong(1) === 10L) // n_chars
    assert(row.getLong(2) === 3L)  // n_bpe_tokens
    assert(row.getDouble(3) === 10.0 / 3L)

    // fixture invariants: every doc compresses (merges only shrink), and
    // token counts stay within [n_chars/max_sym_len, n_chars]
    val fx = TextQueries.queries("q_bpe_tokenize")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(fx.nonEmpty)
    fx.foreach { r =>
      val (chars, toks) = (r.getLong(1), r.getLong(2))
      assert(toks >= 1 && toks <= chars, s"doc ${r.getLong(0)}")
      assert(r.getDouble(3) === chars.toDouble / toks)
    }
    // the merges actually bite somewhere on the fixture
    assert(fx.exists(r => r.getLong(2) < r.getLong(1)))
  }

  test("ngram stats equal an in-memory recount of the corpus bigrams") {
    val sfDir = "/root/testdata/sf0.001"
    val got = TextQueries.queries("q_ngram_stats")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    graft.tables.Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0)).foreach { t =>
        val w = t.trim.toLowerCase.split("\\s+")
        w.iterator.zip(w.iterator.drop(1))
          .foreach { case (a, b) =>
            val bg = s"$a $b"; counts(bg) = counts.getOrElse(bg, 0L) + 1 }
      }
    val expected = counts.toSeq.sortBy { case (bg, c) => (-c, bg) }.take(20)
    assert(got.toSeq === expected)
  }

  test("q_percentile: ordered quantiles, bracketed by min/max, n adds up") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = RelationalQueries.queries("q_percentile")(spark, sfDir).collect()
    val ev = graft.tables.Tables.events(spark, sfDir)
    val n = ev.filter(col("value").isNotNull).count()
    assert(rows.map(_.getAs[Long]("n_vals")).sum === n)
    for (r <- rows) {
      val (p50, p90, p99) = (r.getAs[Double]("p50"),
        r.getAs[Double]("p90"), r.getAs[Double]("p99"))
      assert(p50 <= p90 && p90 <= p99,
        s"${r.getString(0)}: quantiles not ordered: $p50 $p90 $p99")
    }
    val (mn, mx) = ev.agg(min("value"), max("value")).collect()(0) match {
      case row => (row.getDouble(0), row.getDouble(1))
    }
    assert(rows.forall(r => r.getAs[Double]("p50") >= mn &&
      r.getAs[Double]("p99") <= mx))
  }

  test("q_pivot: cells sum to the event total and match long-format counts") {
    val sfDir = "/root/testdata/sf0.001"
    val piv = RelationalQueries.queries("q_pivot")(spark, sfDir)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val rows = piv.collect()
    val total = rows.map(r => types.map(t => r.getAs[Long](t)).sum).sum
    val ev = graft.tables.Tables.events(spark, sfDir)
    assert(total === ev.count())
    // spot-check one cell against the long-format groupBy
    val long = ev.groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .count().collect()
      .map(r => (r.getDate(0), r.getString(1)) -> r.getLong(2)).toMap
    for (r <- rows; t <- types)
      assert(r.getAs[Long](t) === long.getOrElse((r.getDate(0), t), 0L))
  }

  test("q_join_outer: segments partition the user union, counts recount") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = RelationalQueries.queries("q_join_outer")(spark, sfDir).collect()
    val ev = graft.tables.Tables.events(spark, sfDir)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val clicks = ev.filter(_._2 == "click").groupBy(_._1).map { case (u, xs) => u -> xs.length.toLong }
    val buys = ev.filter(_._2 == "purchase").groupBy(_._1).map { case (u, xs) => u -> xs.length.toLong }
    assert(rows.map(_.getAs[Long]("user_id")).toSet ===
      (clicks.keySet ++ buys.keySet))
    for (r <- rows) {
      val u = r.getAs[Long]("user_id")
      assert(r.getAs[Long]("n_clicks") === clicks.getOrElse(u, 0L))
      assert(r.getAs[Long]("n_buys") === buys.getOrElse(u, 0L))
      val seg = r.getAs[String]("seg")
      assert(seg === ((clicks.contains(u), buys.contains(u)) match {
        case (true, true) => "both"
        case (true, false) => "click_only"
        case (false, true) => "buy_only"
        case _ => fail("user from neither side")
      }))
    }
  }

  test("q_ann_hamming: matches brute-force sign-bit Hamming top-10") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = SimilarityQueries.queries("q_ann_hamming")(spark, sfDir)
      .collect()
    val vecs = graft.tables.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def bits(v: Array[Float]): Array[Boolean] = v.map(_ > 0f)
    def hd(a: Array[Float], b: Array[Float]): Int =
      bits(a).zip(bits(b)).count { case (x, y) => x != y }
    for (q <- 0L until 5L) {
      val expect = vecs.keys.filter(_ != q).toSeq
        .map(id => (hd(vecs(q), vecs(id)), id)).sorted.take(10)
      val got = rows.filter(_.getAs[Long]("q_id") == q)
        .sortBy(_.getAs[Int]("rnk"))
        .map(r => (r.getAs[Long]("hd").toInt, r.getAs[Long]("neighbor_id")))
      assert(got.toSeq === expect, s"query $q")
      assert(got.forall { case (d, _) => d >= 0 && d <= 64 })
    }
  }

  test("q_topk_diverse: one hit per source, each its source's best") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = RetrievalQueries.queries("q_topk_diverse")(spark, sfDir)
      .collect()
    val src = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = graft.tables.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    for (q <- 0L until 5L) {
      val mine = rows.filter(_.getAs[Long]("q_id") == q)
        .sortBy(_.getAs[Int]("rnk"))
      assert(mine.length === 3)
      // one result per source
      assert(mine.map(_.getAs[String]("source")).distinct.length === 3)
      // scores non-increasing in rank
      val scores = mine.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      // each hit beats (or ties within fp slack) every other doc of its source
      for (r <- mine) {
        val mySrc = r.getAs[String]("source")
        val myScore = r.getAs[Double]("score")
        val bestInSrc = vecs.keys
          .filter(id => id != q && src.get(id).contains(mySrc))
          .map(id => cos(vecs(q), vecs(id))).max
        assert(math.abs(myScore - bestInSrc) < 1e-9,
          s"q=$q src=$mySrc: $myScore vs brute $bestInSrc")
      }
    }
  }

  test("q_winsorize: w clipped into [p05, p95], flag iff outside") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = CorpusQueries.queries("q_winsorize")(spark, sfDir).collect()
    assert(rows.length === 500)
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    for ((_, rs) <- bySrc) {
      val lens = rs.map(_.getAs[Double]("len"))
      val ws = rs.map(_.getAs[Double]("w"))
      // winsorized values live strictly inside the raw range and their
      // extremes are the cut points shared by every clipped row
      assert(ws.min >= lens.min && ws.max <= lens.max)
      for (r <- rs) {
        val (len, w, clipped) =
          (r.getAs[Double]("len"), r.getAs[Double]("w"),
            r.getAs[Boolean]("clipped"))
        if (clipped) assert(w === ws.min || w === ws.max)
        else assert(w === len)
      }
      // at most ~10% clipped (5% per tail) + discreteness slack
      val fracClipped =
        rs.count(_.getAs[Boolean]("clipped")).toDouble / rs.length
      assert(fracClipped <= 0.2, s"clipped $fracClipped")
    }
  }

  test("q_novelty: equals an in-memory df recount; bounds hold") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = TextQueries.queries("q_novelty")(spark, sfDir).collect()
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1))
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.trim.split("\\s+").distinct.toSet)
    val df = scala.collection.mutable.Map.empty[String, Int]
    for ((_, ts) <- docs; t <- ts) df(t) = df.getOrElse(t, 0) + 1
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.keySet === docs.map(_._1).toSet)
    for ((id, ts) <- docs) {
      val r = byId(id)
      val uniq = ts.count(df(_) == 1).toLong
      assert(r.getAs[Long]("n_terms") === ts.size.toLong)
      assert(r.getAs[Long]("n_unique") === uniq)
      assert(r.getAs[Double]("novelty") === uniq.toDouble / ts.size)
    }
  }

  test("q_score_corr: equals a driver Pearson recount; r in [-1, 1]") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = CorpusQueries.queries("q_score_corr")(spark, sfDir).collect()
    val feats = graft.tables.Tables.documents(spark, sfDir)
      .select("source", "n_chars", "text").collect()
      .filter(!_.isNullAt(2))
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).toLowerCase.trim.split("\\s+").length.toLong))
    for (r <- rows) {
      val src = r.getAs[String]("source")
      val xs = feats.filter(_._1 == src)
      val n = xs.length.toLong
      assert(r.getAs[Long]("n") === n)
      val (sx, sy) = (xs.map(_._2).sum, xs.map(_._3).sum)
      val sxy = xs.map(t => t._2 * t._3).sum
      val sxx = xs.map(t => t._2 * t._2).sum
      val syy = xs.map(t => t._3 * t._3).sum
      val expect = (n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) *
          math.sqrt((n * syy - sy * sy).toDouble))
      assert(r.getAs[Double]("r") === expect, s"source $src")
      assert(math.abs(r.getAs[Double]("r")) <= 1.0)
    }
    // chars and tokens of the same text should correlate strongly
    assert(rows.forall(_.getAs[Double]("r") > 0.5))
  }

  test("q_media_phash: equals a driver aHash recount; collisions exist") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = MultimodalQueries.queries("q_media_phash")(spark, sfDir)
      .collect()
    val expect = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map { r =>
        val bytes = if (r.isNullAt(1)) Array.emptyByteArray
          else r.getString(1).getBytes("UTF-8")
        val b = Array.tabulate(64)(i =>
          if (bytes.isEmpty) 0L else (bytes(i % bytes.length) & 0xff).toLong)
        val sum = b.sum
        def pack(lo: Int): Long = (0 until 32).map { j =>
          if (b(lo + j) * 64 > sum) 1L << j else 0L
        }.sum
        r.getLong(0) -> (pack(0), pack(32))
      }
    val groups = expect.groupBy(_._2).map { case (code, xs) =>
      code -> (xs.length.toLong, xs.map(_._1).min)
    }
    val got = rows.map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")) ->
      (r.getAs[Long]("n_media"), r.getAs[Long]("keeper"))).toMap
    assert(got === groups)
    // the fixture has zero exact text dups, yet brightness-structure
    // collisions exist — the perceptual tier adds something exact dedup
    // can't see
    assert(rows.map(_.getAs[Long]("n_media")).sum === 500L)
    assert(rows.exists(_.getAs[Long]("n_media") > 1L))
  }

  test("q_phash_neardup: banded pairs verified; every hd<=3 pair found") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = MultimodalQueries.queries("q_phash_neardup")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("hd")))
    // driver phash recount (same derivation as the q_media_phash spec)
    val codes = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map { r =>
        val bytes = if (r.isNullAt(1)) Array.emptyByteArray
          else r.getString(1).getBytes("UTF-8")
        val b = Array.tabulate(64)(i =>
          if (bytes.isEmpty) 0L else (bytes(i % bytes.length) & 0xff).toLong)
        val sum = b.sum
        def pack(lo: Int): Long = (0 until 32).map { j =>
          if (b(lo + j) * 64 > sum) 1L << j else 0L
        }.sum
        r.getLong(0) -> (pack(0), pack(32))
      }.toMap
    def hd(x: (Long, Long), y: (Long, Long)): Long =
      (java.lang.Long.bitCount(x._1 ^ y._1) +
        java.lang.Long.bitCount(x._2 ^ y._2)).toLong
    def bandsOf(c: (Long, Long)) = Seq(c._1 & 65535L, (c._1 >> 16) & 65535L,
      c._2 & 65535L, (c._2 >> 16) & 65535L)
    val ids = codes.keys.toSeq.sorted
    val expect = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      d = hd(codes(a), codes(b))
      if d <= 6 && bandsOf(codes(a)).zip(bandsOf(codes(b)))
        .exists { case (x, y) => x == y }
    } yield (a, b, d)).toSet
    assert(rows.toSet === expect)
    // the pigeonhole guarantee: EVERY hd <= 3 pair shares a band, so the
    // banded candidates cover the close pairs with recall 1
    for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if hd(codes(a), codes(b)) <= 3
    } assert(rows.exists(r => r._1 == a && r._2 == b),
      s"missed hd<=3 pair ($a, $b)")
    assert(rows.nonEmpty)
  }

  test("q_fuzzy_match: equals a driver levenshtein recount; exact hits covered") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = CorpusQueries.queries("q_fuzzy_match")(spark, sfDir).collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val terms = Seq("customer", "supplier", "port", "joint")
    val expect = graft.tables.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1))
      .flatMap { r =>
        val toks = r.getString(1).toLowerCase.trim.split("\\s+").distinct
        for (tok <- toks; t <- terms if lev(tok, t) <= 1)
          yield (r.getLong(0), t, tok, lev(tok, t).toLong)
      }
    val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term"),
      r.getAs[String]("tok"), r.getAs[Long]("dist")))
    assert(got.sorted.toSeq === expect.sorted.toSeq)
    // the exact-redact denylist words appear, so dist-0 rows must exist,
    // and the fuzzy tier must add something beyond them
    assert(got.exists(_._4 == 0L) && got.exists(_._4 == 1L))
  }

  test("q_tpch_q5: equals an independently-composed SQL form of Q5") {
    val sfDir = "/root/testdata/sf0.001"
    val mine = RelationalQueries.queries("q_tpch_q5")(spark, sfDir).collect()
    for (t <- Seq("customer", "orders", "lineitem", "supplier", "nation",
        "region"))
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    // same semantics, written as one flat SQL join for Catalyst to plan
    // from scratch (different source text, same rows expected)
    val alt = spark.sql(
      """SELECT n_name,
                CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) *
                  (1.0 - CAST(l_discount AS DOUBLE)) * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""").collect()
    assert(mine.map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      alt.map(r => (r.getString(0), r.getDouble(1))).toSeq)
    assert(mine.forall(_.getDouble(1) > 0))
  }

  test("q_tpch_q13: custdist partitions customers; zero bucket = anti-join") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = RelationalQueries.queries("q_tpch_q13")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("c_count") ->
        r.getAs[Long]("custdist")).toMap
    val cust = graft.tables.Tables.customer(spark, sfDir)
    assert(rows.values.sum === cust.count())
    // the zero-order bucket is exactly the anti-join under the same
    // join-side predicate
    val zero = cust.join(
      graft.tables.Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") =!= "1-URGENT").select("o_custkey"),
      col("c_custkey") === col("o_custkey"), "left_anti").count()
    assert(rows.getOrElse(0L, 0L) === zero)
    // and the weighted sum of counts recounts the filtered orders
    val filteredOrders = graft.tables.Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") =!= "1-URGENT").count()
    assert(rows.map { case (c, n) => c * n }.sum === filteredOrders)
  }

  test("q_tpch_q18: every hit's quantity recounts above the cut, ordered") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = RelationalQueries.queries("q_tpch_q18")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val qty = graft.tables.Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("s"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[java.math.BigDecimal]("s").doubleValue()).toMap
    for (r <- rows) {
      val o = r.getAs[Long]("o_orderkey")
      assert(r.getAs[Double]("sum_qty") === qty(o), s"order $o")
      assert(qty(o) > 250.0)
    }
    // descending by price with the id tiebreak
    val prices = rows.map(r => (r.getAs[Double]("o_totalprice"),
      r.getAs[Long]("o_orderkey")))
    assert(prices.zip(prices.tail).forall { case ((p1, o1), (p2, o2)) =>
      p1 > p2 || (p1 == p2 && o1 < o2)
    })
    // and nothing above the cut was dropped below the LIMIT horizon
    val nBig = qty.count(_._2 > 250.0)
    assert(rows.length === math.min(100, nBig))
  }

  test("q_dist_drift: equals a driver-recomputed bucketed KS per source") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = CorpusQueries.queries("q_dist_drift")(spark, sfDir).collect()
    val docs = graft.tables.Tables.documents(spark, sfDir)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1) / 32))
    val buckets = docs.map(_._2).distinct.sorted
    val nAll = docs.length.toLong
    val bySrc = docs.groupBy(_._1)
    assert(rows.map(_.getAs[String]("source")).toSet === bySrc.keySet)
    for (r <- rows) {
      val src = r.getAs[String]("source")
      val mine = bySrc(src).map(_._2)
      val nS = mine.length.toLong
      assert(r.getAs[Long]("n_s") === nS)
      var cumS = 0L; var cumC = 0L; var dNum = 0L
      for (b <- buckets) {
        cumS += mine.count(_ == b)
        cumC += docs.count(_._2 == b)
        dNum = math.max(dNum, math.abs(cumS * nAll - cumC * nS))
      }
      assert(r.getAs[Double]("ks") === dNum.toDouble / (nS * nAll).toDouble,
        s"source $src")
      assert(r.getAs[Double]("ks") >= 0.0 && r.getAs[Double]("ks") <= 1.0)
    }
  }

  test("q_entropy: hand-computed values, bounds, and the constant-doc/uniform-doc extremes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b"),          // H = ln3 - (2 ln2)/3
      (2L, "x x x x"),        // constant doc: H = 0
      (3L, "p q r s"),        // uniform: H = ln4
      (4L, "w")               // single token: H = 0
    ).toDF("doc_id", "text")
    val out = graft.ops.TextQueries.queries("q_entropy")(
      spark, "/root/testdata/sf0.001")
    // hand values go through entropyOf — the SAME expression chain the
    // registered query runs over the fixture corpus
    val hand = graft.ops.TextQueries.entropyOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("entropy"))).toMap
    assert(hand(1L)._1 === 3L && hand(1L)._2 === 2L)
    assert(math.abs(hand(1L)._3 - (math.log(3) - 2 * math.log(2) / 3)) < 1e-15)
    assert(hand(2L) === ((4L, 1L, 0.0)))
    assert(math.abs(hand(3L)._3 - math.log(4)) < 1e-15)
    assert(hand(4L) === ((1L, 1L, 0.0)))
    // fixture-wide bounds: 0 <= H <= ln(n_distinct) (Jensen), and the
    // registered rows reconcile n_distinct <= n_tokens
    val bad = out.filter(col("entropy") < -1e-12 ||
      col("entropy") > log(col("n_distinct").cast("double")) + lit(1e-12) ||
      col("n_distinct") > col("n_tokens"))
    assert(bad.isEmpty)
  }
}
