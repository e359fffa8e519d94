package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, built by the same factory as
  * the mains (io.Scratch.session) on local[4]. The first suite to
  * touch it creates it; every later suite in the JVM reuses it. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.io.Scratch.session(cpus = 4)

  override def afterAll(): Unit = {
    // keep the session alive for other suites in the same JVM
    super.afterAll()
  }
}
