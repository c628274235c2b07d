package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs, built the way
  * every main builds its session. */
object TestSpark {
  lazy val spark: SparkSession = {
    // a static conf: the session reads it from the system properties
    // when it is built (saveAsTable specs write under the scratch root)
    sys.props("spark.sql.warehouse.dir") = graft.Scratch.dir("wh").toString
    val s = GraftSession.build("local[4]", 4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
