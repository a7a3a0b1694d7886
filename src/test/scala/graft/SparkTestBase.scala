package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  /** The sf0.001 tables the specs read: the copy the benchmark ships. */
  protected final val sf: String =
    new java.io.File("perfbench/data/sf0.001").getAbsolutePath

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  // One shared session across all suites (sbt forks a single test JVM),
  // planned the way the harnesses plan; 4 cores whatever the box has.
  lazy val session: SparkSession = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    GraftSession.local(4)
  }
}
