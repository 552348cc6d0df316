package graft.ops

import graft.SparkTestBase

class ScaleOpsSpec extends SparkTestBase {

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
