package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Bisect the 64× simjoin verify section: candidate join alone vs with
  * the array lookups. Run:
  *   sbt "Test/runMain graft.ops.R18VerifyBisect [n]"
  */
object R18VerifyBisect {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(64)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    val docs0 = Tables.documents(spark, sfDir).select("doc_id", "text")
    val maxDoc = docs0.agg(max("doc_id")).head.getLong(0) + 1L
    val docs = (0 until n).map { c =>
      docs0.select((col("doc_id") + lit(c * maxDoc)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"c${c}_$$1").as("text"))
    }.reduce(_ union _)

    val t0w = System.nanoTime()
    val clean = ScaleOps.spread(docs)
      .select(col("doc_id"), expr("shingle_set(text)").as("ss"))
      .filter(col("ss").isNotNull && size(col("ss")) > 0)
    val occ = clean.select(col("doc_id"), explode(col("ss")).as("sh"))
    val dfreq = occ.groupBy("sh").agg(count(lit(1)).as("df"))
    val t = 0.5
    val ordered = occ.join(dfreq, Seq("sh"))
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(df, sh)))," +
        " x -> x.sh)").as("arr"))
      .select(col("doc_id"), col("arr"), size(col("arr")).as("n"))
      .withColumn("p",
        (col("n") - ceil(lit(t) * col("n")).cast("int") + 1))
      .localCheckpoint(true)
    println(f"ordered build: ${(System.nanoTime() - t0w) / 1e9}%.3f s")

    def time(label: String)(body: => Long): Unit = {
      System.gc()
      val t0 = System.nanoTime()
      val r = body
      println(f"$label%-30s ${(System.nanoTime() - t0) / 1e9}%8.3f s rows=$r")
    }
    val prefix = ordered.select(Seq(col("doc_id"), col("n")) :+
      posexplode(expr("slice(arr, 1, p)")).as(Seq("pos0", "sh")): _*)
    val cands = prefix.alias("a").join(prefix.alias("b"),
        col("a.sh") === col("b.sh") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n") >= lit(t) * col("b.n") &&
          col("b.n") >= lit(t) * col("a.n") &&
          least(col("a.n") - col("a.pos0"), col("b.n") - col("b.pos0"))
            .cast("double") >=
            lit(t) * (col("a.n") + col("b.n")) / lit(1.0 + t) - lit(1e-9))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh"))
    for (_ <- 1 to 2) {
      time("prefix explode only") { prefix.queryExecution.toRdd.count() }
      time("cands (prefix join)") { cands.queryExecution.toRdd.count() }
      val arrs = ordered.select(col("doc_id"), col("arr"), col("n"))
      time("+ one arrs join") {
        cands.join(arrs.alias("x"), col("doc_a") === col("x.doc_id"))
          .queryExecution.toRdd.count() }
      time("+ both arrs + verify") {
        cands.join(arrs.alias("x"), col("doc_a") === col("x.doc_id"))
          .join(arrs.alias("y"), col("doc_b") === col("y.doc_id"))
          .select(col("doc_a"), col("doc_b"), col("sh"),
            col("x.n").as("na"), col("y.n").as("nb"),
            explode(expr("transform(array(array_intersect(x.arr, y.arr))," +
              " ix -> named_struct('first', ix[0]," +
              " 'ni', CAST(size(ix) AS BIGINT)))")).as("r"))
          .filter(col("r.first") === col("sh"))
          .queryExecution.toRdd.count() }
    }
    spark.stop()
  }
}
