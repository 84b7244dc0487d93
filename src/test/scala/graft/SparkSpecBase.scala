package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite (one JVM-wide session keeps the
  * suite fast; tests must not mutate global conf destructively). Stateful
  * streams run on the RocksDB state store, as the benchmarked sessions do.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  override def afterAll(): Unit = { /* keep session for sibling suites */ }
}

object SparkSpecBase {
  lazy val session: SparkSession = Sessions.local(4)
}
