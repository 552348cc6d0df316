package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class FloatVectorDotSpec extends SparkTestBase {

  private def withDf[A](body: org.apache.spark.sql.DataFrame => A): A = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { i =>
      (i.toLong,
        Seq.fill(64)(rnd.nextFloat() * 2 - 1),
        Seq.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    body(rows.toDF("id", "a", "b"))
  }

  test("vector_dot is bit-identical to the aggregate(zip_with(...)) HOF form") {
    withDf { df =>
      val both = df.select(
        expr("vector_dot(a, b)").as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, p) -> acc + p)").as("hof"))
      val bad = both.filter(col("native") =!= col("hof")).count()
      assert(bad === 0L, "native and HOF dot products must agree bit-for-bit")
    }
  }

  test("null array, null element and length mismatch all yield null") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),
      (2L, null.asInstanceOf[Seq[Float]], Seq(1.0f, 1.0f)),
      (3L, Seq(1.0f, 2.0f), Seq(1.0f)) // mismatched dims
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), expr("vector_dot(a, b)").as("d"))
      .orderBy("id").collect()
    assert(out(0).getDouble(1) === 11.0)
    assert(out(1).isNullAt(1))
    assert(out(2).isNullAt(1))
    // null element inside the array
    val withNullEl = spark.sql(
      "SELECT vector_dot(array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)), array(CAST(1 AS FLOAT), CAST(1 AS FLOAT))) AS d")
    assert(withNullEl.collect()(0).isNullAt(0))
  }

  test("the expression compiles into whole-stage codegen") {
    // spark.range source (not a local Seq) so ConvertToLocalRelation can't
    // constant-fold the whole query into a LocalTableScan
    val mk = (op: String) =>
      (0 until 64).map(i => s"CAST(id $op $i AS FLOAT)").mkString("array(", ", ", ")")
    val df = spark.range(100).selectExpr(s"${mk("+")} AS a", s"${mk("-")} AS b")
    val out = df.select(expr("vector_dot(a, b)").as("d"))
    val codegenStages = out.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty, out.queryExecution.executedPlan.toString)
    // and the vector_dot projection is INSIDE a codegen stage, not fallback
    assert(codegenStages.exists(_.toString.contains("vector_dot")))
    assert(out.count() === 100L)
  }

  test("extensions-injected registration works on a GraftSession") {
    // SparkTestBase's session is built by GraftSession.local, whose conf
    // names GraftExtensions: a fresh session derived from it gets every
    // function and the optimizer rule with no per-session call
    val fresh = spark.newSession()
    val n = fresh.sql(
      "SELECT vector_dot(array(CAST(2 AS FLOAT)), array(CAST(3 AS FLOAT))) AS d")
      .collect()(0).getDouble(0)
    assert(n === 6.0)
    val missing = GraftFunctions.functions.map(_._1.funcName)
      .filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"not resolvable on a new session: $missing")
    assert(fresh.sessionState.optimizer.batches.flatMap(_.rules)
      .contains(graft.plans.PartitionDateRewrite))
  }
}
