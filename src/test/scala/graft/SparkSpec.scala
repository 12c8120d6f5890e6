package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite via lazy val),
  * carrying the engine's shared confs ([[GraftSession.shared]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold` at -1, which
    * turns off the driver-side finish of the iterative operators along
    * with broadcast joins (forcing their distributed loops), then
    * restores the setting. */
  def distributed[A](f: => A): A = withBroadcastThreshold(-1L)(f)

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold` at `bytes`,
    * then restores the setting. */
  def withBroadcastThreshold[A](bytes: Long)(f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `f` under the session's settings (a small input finishes on the
    * driver), then forced onto the distributed loops. */
  def onBothPaths[A](f: => A): (A, A) = (f, distributed(f))
}

object SparkSpec {
  /** Pinned at four cores, whatever the host, so job budgets and
    * partition-dependent results do not move with it. */
  lazy val session: SparkSession = GraftSession.local("graft-tests", 4)
}
