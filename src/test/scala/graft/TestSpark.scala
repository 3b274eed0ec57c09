package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide; suites use `lazy`).
  * Built through [[Session.start]], so the graft extensions are
  * registered before any suite runs, whatever the suite order. */
object TestSpark {
  val conf = Session.verify(8) + ("spark.app.name" -> "graft-tests")
  lazy val spark: SparkSession = Session.start(conf)
  val sf0001 = "/root/testdata/sf0.001"
}
