package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local SparkSession per suite, built by
  * the engine's own `Sessions.builder` at a fixed 4 cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.Sessions
    .builder(getClass.getSimpleName, cores = 4)
    // fresh warehouse per JVM: saveAsTable leftovers from a previous
    // run would collide with a new (empty) in-memory metastore
    .config("spark.sql.warehouse.dir", java.nio.file.Files
      .createTempDirectory("graft_warehouse").toString)
    .getOrCreate()

  /** sf0.001 testdata — the smoke-scale fixtures. */
  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // One JVM per forked suite; let the last stop win quietly.
    spark.stop()
    super.afterAll()
  }
}
