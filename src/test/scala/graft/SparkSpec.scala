package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session — keeps the
  * suite wall-time dominated by the tests, not session startup). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession =
    graft.Session.local("4", "4", conf = Map("spark.app.name" -> "graft-test"))
}
