package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Guards the timing protocol: the timed action must produce every column
  * of the entry's result. A `count()` action lets the optimizer drop the
  * final sort and every output-only column, so it would time a different
  * program; this check catches that shape.
  *
  * During the warmup pass it compares the executed plan of each entry's
  * `noop` write with the entry's schema, and once per run it confirms
  * that a `count()` of an entry fails the same comparison. */
final class SelfTest(spark: SparkSession) extends QueryExecutionListener {
  @volatile private var last: Option[QueryExecution] = None
  private var checked = 0
  val mismatched = mutable.ArrayBuffer.empty[String]
  private var countCaught = false

  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
    last = Some(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(): Unit = spark.listenerManager.register(this)
  def detach(): Unit = spark.listenerManager.unregister(this)

  private def lastOutput(): Option[StructType] = {
    PerfbenchBus.drain(spark.sparkContext)
    last.map { qe =>
      qe.executedPlan.collectFirst { case w: V2TableWriteExec => w.query.schema }
        .getOrElse(qe.executedPlan.schema)
    }
  }

  private def sameColumns(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).sameElements(
      b.fields.map(f => (f.name, f.dataType)))

  /** Called right after `name` was materialized with the listener on. */
  def check(name: String, schema: StructType): Unit = {
    checked += 1
    if (!lastOutput().exists(sameColumns(_, schema))) mismatched += name
  }

  /** A `count()` action must not pass the check above. */
  def checkCountIsCaught(df: org.apache.spark.sql.DataFrame): Unit = {
    attach()
    last = None
    df.count()
    countCaught = lastOutput().exists(out => !sameColumns(out, df.schema))
    detach()
  }

  def ok: Boolean = mismatched.isEmpty && countCaught

  def report: Map[String, Any] = Map(
    "checked" -> checked, "mismatched" -> mismatched.toSeq,
    "count_caught" -> countCaught)
}
