package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

class MinHashSketchSpec extends SparkTestBase {

  private def expectedSig(tokens: Seq[String], k: Int): Seq[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    tokens.foreach { t =>
      val u = UTF8String.fromString(t)
      val base = XxHash64Function.hash(u, org.apache.spark.sql.types.StringType, 42L)
      (0 until k).foreach { i =>
        val h = base * MinHashSketch.oddA(i) + MinHashSketch.addB(i)
        if (h < sig(i)) sig(i) = h
      }
    }
    sig.toSeq
  }

  test("signature matches the per-token linear-permutation reference") {
    import spark.implicits._
    val data = Seq(
      ("a", "the"), ("a", "quick"), ("a", "fox"),
      ("b", "lazy"), ("b", "dog"))
    val out = data.toDF("doc", "token")
      .groupBy("doc").agg(expr("minhash_sketch(token, 8)").as("sig"))
      .orderBy("doc").collect()
    assert(out(0).getSeq[Long](1) === expectedSig(Seq("the", "quick", "fox"), 8))
    assert(out(1).getSeq[Long](1) === expectedSig(Seq("lazy", "dog"), 8))
  }

  test("result is partitioning-invariant (serialize/merge path)") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i % 7, s"tok$i")).toDF("g", "token")
    def sigs(parts: Int) = df.repartition(parts)
      .groupBy("g").agg(expr("minhash_sketch(token, 16)").as("sig"))
      .orderBy("g").collect().map(_.getSeq[Long](1)).toSeq
    assert(sigs(1) === sigs(13))
  }

  test("identical token multisets agree; nulls are ignored") {
    import spark.implicits._
    val df = Seq(
      ("x", "a"), ("x", "b"), ("x", "b"),           // dup token: min unaffected
      ("y", "a"), ("y", "b"), ("y", null))          // null ignored
      .toDF("doc", "token")
    val out = df.groupBy("doc").agg(expr("minhash_sketch(token, 32)").as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("x") === out("y"))
  }

  test("md5p mode matches the modular-permutation reference and stays in [0, p)") {
    import spark.implicits._
    def expectedMd5p(tokens: Seq[String], k: Int): Seq[Long] = {
      val sig = Array.fill(k)(Long.MaxValue)
      tokens.foreach { t =>
        val b = MinHashSketch.md5BaseModP(UTF8String.fromString(t))
        (0 until k).foreach { i =>
          val h = (MinHashSketch.mulA(i) * b + MinHashSketch.incB(i)) % MinHashSketch.P
          if (h < sig(i)) sig(i) = h
        }
      }
      sig.toSeq
    }
    val data = Seq(("a", "the"), ("a", "quick"), ("b", "lazy"))
    val out = data.toDF("doc", "token")
      .groupBy("doc").agg(expr("minhash_sketch(token, 8, 'md5p')").as("sig"))
      .orderBy("doc").collect()
    assert(out(0).getSeq[Long](1) === expectedMd5p(Seq("the", "quick"), 8))
    assert(out(1).getSeq[Long](1) === expectedMd5p(Seq("lazy"), 8))
    out.foreach(_.getSeq[Long](1).foreach(v =>
      assert(v >= 0 && v < MinHashSketch.P)))
    // base hash agrees with DuckDB md5_number_lower('x') = 11990653779475613941
    assert(MinHashSketch.md5BaseModP(UTF8String.fromString("x")) ===
      java.lang.Long.remainderUnsigned(
        java.lang.Long.parseUnsignedLong("11990653779475613941"), MinHashSketch.P))
  }

  test("signature agreement estimates Jaccard similarity") {
    import spark.implicits._
    // doc p and q share half their tokens (J = 1/3); r is disjoint
    val p = (1 to 100).map(i => ("p", s"t$i"))
    val q = (51 to 150).map(i => ("q", s"t$i"))
    val r = (1000 to 1100).map(i => ("r", s"t$i"))
    val out = (p ++ q ++ r).toDF("doc", "token")
      .groupBy("doc").agg(expr("minhash_sketch(token, 256)").as("sig"))
      .collect().map(row => row.getString(0) -> row.getSeq[Long](1)).toMap
    def est(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    val jPQ = est(out("p"), out("q"))
    assert(jPQ > 0.2 && jPQ < 0.5, s"expected ~1/3, got $jPQ") // J = 1/3
    assert(est(out("p"), out("r")) < 0.05)
  }
}
