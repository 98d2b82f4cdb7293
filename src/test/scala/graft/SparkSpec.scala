package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites are cheap). */
object TestSpark {
  // local[4] with 4 partitions whatever SPARK_GRAFT_CPUS says: plan-shape
  // and partition-count assertions are written against this session
  lazy val spark: SparkSession = Sessions.build("local[4]", partitions = 4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** `f` over an operator's result frame, then the frames backing it
    * released — `f` must consume (collect/count) the lazy frame, which
    * reads the released blocks. */
  def consume[T](r: graft.ops.Checkpoints.CachedResult)(f: DataFrame => T): T =
    try f(r.df) finally r.release()
}
