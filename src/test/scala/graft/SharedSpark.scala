package graft

import org.apache.spark.sql.SparkSession
import graft.engine.GraftSession

/** One SparkSession shared across all suites (local[4], tiny SF), built by
  * the engine's own factory so tests run with the production confs. */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.build("graft-test", 4,
    Map("spark.sql.warehouse.dir" -> "/tmp/graft-warehouse"))
  val sf: String = "/root/testdata/sf0.001"
}
