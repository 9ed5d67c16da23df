package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps
  * total test time dominated by queries, not startup).
  */
object SparkSpecBase {
  lazy val spark: SparkSession = GraftSession.get("4")
}

trait SparkSpecBase extends AnyFunSuite {
  // stable identifier (val, not def) so `import spark.implicits._` works
  lazy val spark: SparkSession = SparkSpecBase.spark
  def resource(name: String): String =
    getClass.getResource(name).getPath

  /** Runs `body` with the driver fast paths on or off (the
    * [[graft.operators.DriverResolve]] switch) and returns its result
    * with the registry counts it added: site → engaged, site/reason →
    * fallbacks. Off, every site takes its distributed path and records
    * nothing.
    */
  def withDriverResolve[A](on: Boolean)(body: => A): (A, Map[String, Long]) = {
    import graft.operators.DriverResolve
    val prev = spark.conf.getOption(DriverResolve.Key)
    spark.conf.set(DriverResolve.Key, on.toString)
    val before = DriverResolve.snapshot()
    try {
      val out = body
      (out, DriverResolve.snapshot()
        .map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
        .filter(_._2 != 0L))
    } finally prev match {
      case Some(v) => spark.conf.set(DriverResolve.Key, v)
      case None => spark.conf.unset(DriverResolve.Key)
    }
  }
}
