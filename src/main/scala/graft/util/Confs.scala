package graft.util

import org.apache.spark.sql.SparkSession

object Confs {
  /** Set/restore session confs around `body`, synchronized on the session:
    * a concurrent caller serializes here instead of silently planning under
    * someone else's toggles. A conf that was unset before is unset again. */
  def withConfs[T](spark: SparkSession, pairs: (String, String)*)(body: => T): T =
    spark.synchronized {
      val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
}
