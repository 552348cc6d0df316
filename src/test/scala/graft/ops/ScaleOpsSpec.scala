package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class ScaleOpsSpec extends SparkTestBase {

  test("bucketed tables join without a shuffle (co-located join)") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      ScaleOps.writeBucketed(a, "bkt_a", "k", 8, sortCols = Seq("k"))
      ScaleOps.writeBucketed(b, "bkt_b", "k", 8, sortCols = Seq("k"))
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle, got:\n$plan")
      assert(joined.count() === 1000L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // 90% of fact rows hit one hot key
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 7 else 1L, i))
      .toDF("k", "v")
    val dim = (0L to 6L).map(k => (k, s"d$k")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).groupBy("k").count()
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val salted = ScaleOps.saltedJoin(fact, dim, "k", salts = 8)
      .groupBy("k").count()
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(salted === plain)
  }

  test("salted left join keeps unmatched fact rows exactly once") {
    import spark.implicits._
    val fact = Seq((1L, "x"), (99L, "orphan")).toDF("k", "v")
    val dim = Seq((1L, "d1")).toDF("k", "name")
    val out = ScaleOps.saltedJoin(fact, dim, "k", salts = 4, joinType = "left")
      .orderBy("k").collect()
    assert(out.length === 2)
    assert(out(1).getLong(0) === 99L && out(1).isNullAt(2))
  }

  test("sortedLayout range-partitions and sorts within partitions") {
    val df = ScaleOps.sortedLayout(
      spark.range(1000).select((col("id") * 37 % 1000).as("k")), col("k"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning") || plan.contains("RangePartitioning"))
    // partition-local sortedness
    val parts = df.select("k").rdd.mapPartitions { it =>
      val xs = it.map(_.getLong(0)).toVector
      Iterator.single(xs == xs.sorted)
    }.collect()
    assert(parts.forall(identity))
  }

  test("banded interval join equals the nested-loop join and hash-joins (C10)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val probe = (1 to 500).map(i => (i.toLong, rnd.nextDouble() * 1000))
      .toDF("id", "value")
    // intervals of varied width, some spanning many bands, some empty,
    // some ending exactly on band edges
    val build = Seq(
      (1L, 0.0, 100.0), (2L, 95.0, 405.0), (3L, 200.0, 200.0), // empty
      (4L, 400.0, 1000.0), (5L, 50.0, 50.0000001), (6L, 999.0, 2000.0))
      .toDF("iv_id", "lo", "hi")
    val banded = ScaleOps.bandedIntervalJoin(probe, build, "value", "lo", "hi",
      bandWidth = 100.0)
    val nested = probe.join(build,
      col("value") >= col("lo") && col("value") < col("hi"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted
    assert(canon(banded) === canon(nested))
    assert(banded.count() > 0)
    // the point: a hash join on the band key, not a nested loop
    val plan = banded.queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("three-part table names resolve through the session catalog (B1)") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS crypto_ethereum2")
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite")
      .saveAsTable("crypto_ethereum2.b1_probe")
    try {
      val n = spark.sql("SELECT COUNT(*) AS c FROM spark_catalog.crypto_ethereum2.b1_probe")
        .collect()(0).getLong(0)
      assert(n === 1L)
      assert(spark.catalog.tableExists("crypto_ethereum2.b1_probe"))
    } finally spark.sql("DROP TABLE crypto_ethereum2.b1_probe")
  }
}
