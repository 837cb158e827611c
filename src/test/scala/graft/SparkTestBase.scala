package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — one JVM-wide SparkSession (sbt
  * runs suites in one forked JVM; per-suite sessions would pay ~5 s
  * startup each).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Runs `df` and asserts that its final adaptive plan has exactly one
    * broadcast exchange and that it carries no array column: the shape
    * of the near-dup verify, which broadcasts candidate ids and streams
    * the shingle sets. */
  def assertOneIdBroadcast(df: DataFrame): Unit = {
    df.collect()
    val ran = df.queryExecution.executedPlan
    val broadcasts = new AdaptiveSparkPlanHelper {}.collect(ran) {
      case e: BroadcastExchangeLike => e
    }
    assert(broadcasts.length == 1, s"expected one broadcast exchange:\n$ran")
    assert(!broadcasts.head.output.exists(_.dataType.isInstanceOf[ArrayType]),
      s"the broadcast must carry ids, not arrays:\n$ran")
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
