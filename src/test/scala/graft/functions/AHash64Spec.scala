package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins native `ahash64` bit-identical to the r12 composed three-HOF chain
  * it replaced (transform→bytes, aggregate→sum, two 32-iteration pack
  * folds) — the claim the unchanged DuckDB oracle rests on. */
class AHash64Spec extends SparkTestBase {

  test("ahash64 equals the composed HOF chain on fixture features + edges") {
    val feats = graft.ops.Multimodal.extractFeatures(
        graft.ops.Multimodal.fromDocuments(spark, "/root/testdata/sf0.001"),
        dim = 64)
      .select(col("media_id"), col("features"))
    // 64-element edge rows (the decode contract — the composed reference
    // chain indexes b[0..63] and THROWS under ANSI on shorter arrays, so
    // sub-64 behavior is native-only, asserted separately below):
    // constant array (b_i·64 == sum — strict > keeps every bit clear) and
    // a half-bright/half-dark split (exactly lo bits 0..31 set)
    val edges = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(-2L, Seq.fill(64)(0.5f)),
      org.apache.spark.sql.Row(-4L, Seq.fill(32)(0.9f) ++ Seq.fill(32)(0.1f))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("features",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    val all = feats.unionByName(edges)
    val both = all.select(col("media_id"),
        posexplode(array(struct(
          expr("transform(features, x -> " +
            "CAST(round(CAST(x AS DOUBLE) * 255) AS BIGINT))").as("b"),
          expr("aggregate(transform(features, x -> " +
            "CAST(round(CAST(x AS DOUBLE) * 255) AS BIGINT)), 0L, " +
            "(a, x) -> a + x)").as("sumb")))).as(Seq("_p", "t")))
      .select(col("media_id"), col("t.b").as("b"), col("t.sumb").as("sumb"))
      .select(col("media_id"),
        expr("aggregate(sequence(0, 31), 0L, (acc, i) -> " +
          "acc + IF(b[i] * 64 > sumb, shiftleft(1L, i), 0L))").as("lo_ref"),
        expr("aggregate(sequence(32, 63), 0L, (acc, i) -> " +
          "acc + IF(b[i] * 64 > sumb, shiftleft(1L, i - 32), 0L))")
          .as("hi_ref"))
      .join(all.select(col("media_id"),
        posexplode(array(expr("ahash64(features)"))).as(Seq("_p", "h")))
        .select(col("media_id"), col("h.lo").as("lo"), col("h.hi").as("hi")),
        "media_id")
    val bad = both.filter(col("lo") =!= col("lo_ref") ||
      col("hi") =!= col("hi_ref")).count()
    assert(bad === 0L)
    // the engineered edges land where predicted
    val byId = both.filter(col("media_id") < 0).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toMap
    assert(byId(-2L) === ((0L, 0L)), "b_i*64 == sum must NOT set bits (strict >)")
    assert(byId(-4L)._1 === 0xFFFFFFFFL, "bright half sets exactly lo bits 0..31")
    assert(byId(-4L)._2 === 0L)
  }

  test("ahash64 on sub-contract arrays: bits for i < len, empty = zero") {
    // the composed chain indexes b[0..63] and throws under ANSI on arrays
    // shorter than the 64-element decode contract; the native expression
    // defines the natural extension (bits only for existing elements)
    import spark.implicits._
    // NOTE the threshold stays the 64-slot mean convention (b_i·64 > sum),
    // so a 3-element array compares each byte against sum/64 — all three
    // clear it here → bits 0..2
    val out = Seq(
      (1L, Seq.empty[Float]),
      (2L, Seq(0.9f, 0.1f, 0.1f)))
      .toDF("id", "features")
      .select(col("id"),
        posexplode(array(expr("ahash64(features)"))).as(Seq("_p", "h")))
      .select(col("id"), col("h.lo"), col("h.hi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((0L, 0L)))
    assert(out(2L) === ((7L, 0L)))
  }
}
