package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one per suite, lazy). */
trait WithSpark {
  lazy val spark: SparkSession = WithSpark.session
}

object WithSpark {
  lazy val session: SparkSession = {
    val s = graft.core.Session.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
