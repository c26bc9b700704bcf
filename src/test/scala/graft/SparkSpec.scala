package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // session is shared across suites; don't stop it here
    super.afterAll()
  }

  /** Run a registered query closure (`X.queries(name)`) over `docs`,
    * laid out as the one-table data dir the closure reads. */
  def runRegistered(query: (SparkSession, String) => DataFrame, docs: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-registered").toString
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    query(spark, dir)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
