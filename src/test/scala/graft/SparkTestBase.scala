package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local session for ScalaTest suites — one JVM-wide session (Spark
  * reuses via getOrCreate), small shuffle-partition count for test speed. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  def mkDf(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Fixture writer for a date-partitioned table: one
    * [[graft.io.BeaconIO.commit]] of `base/block_date=d` per date `d` of
    * `tsCol` in `df`, recording `facts` when given. Rows with a NULL
    * `tsCol` belong to no date and are not written. */
  def commitDaily(df: DataFrame, tsCol: String, base: String,
                  facts: Option[graft.io.BeaconIO.FactSpec] = None): Unit = {
    val dated = graft.io.BeaconIO.withBlockDate(df, tsCol)
    for (r <- dated.select("block_date").distinct().collect() if !r.isNullAt(0))
      graft.io.BeaconIO.commit(
        dated.filter(dated("block_date") === r.getString(0)).drop("block_date"),
        s"$base/block_date=${r.getString(0)}", facts = facts)
  }
}

object SparkTestBase {
  lazy val session: SparkSession =
    GraftSession.local(cores = 4, appName = "graft-test")
}
