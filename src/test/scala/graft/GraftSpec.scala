package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (Spark sessions are
  * expensive; ScalaTest suites run sequentially in the forked JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the cluster-wide registration path: native expressions, table
      // functions, and the SQL DML lowering rule ride on every session
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // deliberately NO mapKeyDedupPolicy override: mergeHeaders is
      // policy-independent and the default EXCEPTION must stay the
      // fail-loud contract the tests run under
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfTiny = "/root/testdata/sf0.001"
}

abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfTiny: String = TestSession.sfTiny

  /** The row predicate of the closed numeric band [lo, hi] on `c` —
    * how a key-band DELETE or UPDATE spells its WHERE. */
  def band(c: String, lo: BigDecimal, hi: BigDecimal): Column =
    col(c) >= lit(lo.underlying) && col(c) <= lit(hi.underlying)

  /** [[band]] with string bounds, compared in the column's own order. */
  def lexBand(c: String, lo: String, hi: String): Column =
    col(c) >= lit(lo) && col(c) <= lit(hi)

  /** Run `f` with session confs set, restoring prior values after —
    * the shared session makes leaked conf changes cross-suite hazards. */
  def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
