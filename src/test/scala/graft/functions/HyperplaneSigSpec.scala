package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class HyperplaneSigSpec extends SparkTestBase {

  test("signature matches a driver-side recompute of the sign family") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (1 to 30).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    val got = vecs.toDF("id", "e")
      .select(col("id"), expr("hplane_sig(e, 8)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val m = HyperplaneSig.matrix(8, 16)
    vecs.foreach { case (id, e) =>
      var expect = 0
      for (p <- 0 until 8) {
        var acc = 0.0
        for (j <- 0 until 16) acc += e(j).toDouble * m(p)(j)
        if (acc >= 0) expect |= 1 << p
      }
      assert(got(id) === expect, s"vec $id")
    }
  }

  test("empty array yields NULL (oracle UNNEST emits no rows for it)") {
    val out = spark.sql(
      "SELECT hplane_sig(CAST(array() AS ARRAY<FLOAT>), 8) AS sig")
    assert(out.collect()(0).isNullAt(0))
  }

  test("all-null elements yield bucket 0 (oracle SUM-of-NULLs per plane)") {
    // every per-plane dot is NULL on the oracle side -> CASE not-true ->
    // ELSE 0 for every bit; Spark must agree instead of setting all bits
    val out = spark.sql(
      "SELECT hplane_sig(array(CAST(NULL AS FLOAT), CAST(NULL AS FLOAT)), 8) AS sig")
    assert(out.collect()(0).getInt(0) === 0)
  }

  test("a partly-null element vector skips nulls like the oracle's SUM") {
    val withNull = spark.sql(
      "SELECT hplane_sig(array(CAST(0.5 AS FLOAT), CAST(NULL AS FLOAT)), 8) AS sig")
      .collect()(0).getInt(0)
    // same vector with the null element contributing exactly 0
    val zeroed = spark.sql(
      "SELECT hplane_sig(array(CAST(0.5 AS FLOAT), CAST(0 AS FLOAT)), 8) AS sig")
      .collect()(0).getInt(0)
    assert(withNull === zeroed)
  }

  test("null array input yields NULL") {
    val out = spark.sql("SELECT hplane_sig(CAST(NULL AS ARRAY<FLOAT>), 8) AS sig")
    assert(out.collect()(0).isNullAt(0))
  }

  test("the expression compiles into whole-stage codegen") {
    // spark.range source so ConvertToLocalRelation can't constant-fold the
    // query into a LocalTableScan
    val arr = (0 until 16).map(i => s"CAST(id + $i AS FLOAT)")
      .mkString("array(", ", ", ")")
    val df = spark.range(100).selectExpr(s"$arr AS e")
      .select(expr("hplane_sig(e, 8)").as("sig"))
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(codegenStages.exists(_.toString.contains("hplane_sig")))
    assert(df.count() === 100L)
  }
}
