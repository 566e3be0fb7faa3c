package graft

import org.apache.spark.sql.SparkSession

object TestConfs {

  /** Run `body` with `confs` set on the session, restoring prior values
    * after. Session-wide: not for sessions that other threads query. */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
