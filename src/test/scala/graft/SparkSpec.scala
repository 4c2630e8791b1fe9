package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. One session per JVM
  * (tests fork once); small shuffle partition count keeps tiny-data
  * tests fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def rows(df: DataFrame): Set[Row] = df.collect().toSet

  def rowSeqs(df: DataFrame): Set[Seq[Any]] =
    df.collect().toSet[Row].map(_.toSeq)
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the shipped session, so the suite runs the confs the bench measures
    val s = Bench.session("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
