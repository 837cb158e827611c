package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Outside-in trace of the traced passes.
  *
  * Three listeners (a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener) feed spans and counters. Spans nest
  * pass -> entry -> construct | action -> Spark job -> stage and carry
  * parent ids, so the self time of each span follows from the file.
  * Spark events are attributed to the entry running when they fired: the
  * main thread drains the listener bus at every phase boundary before it
  * moves on. Counters are kept per entry and summed into per-layer metrics
  * through `Layers`, which maps each registry entry to the engine modules
  * its lambda calls. */
final class Tracer(spark: SparkSession, root: Path, names: Seq[String]) {
  final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
      val start: Double) {
    var end: Double = Double.NaN
    val attrs = mutable.LinkedHashMap.empty[String, Any]
  }

  /** Per-entry counters, summed over the traced passes. */
  final class Counters {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = synchronized { c(k) += v }
    def max(k: String, v: Double): Unit = synchronized { c(k) = math.max(c(k), v) }
    def snapshot: Map[String, Double] = synchronized { c.toMap }
  }

  private val epoch0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  private def relMs(epochMs: Long): Double = (epochMs - epoch0Ms).toDouble

  private val spans = mutable.ArrayBuffer.empty[Span]
  private def open(parent: Int, kind: String, name: String, start: Double): Span =
    spans.synchronized {
      val s = new Span(spans.size + 1, parent, kind, name, start)
      spans += s
      s
    }

  private val counters = names.map(_ -> new Counters).toMap
  private val probes = mutable.LinkedHashMap.empty[String, Double]

  // main-thread state, read by the listener threads
  @volatile private var entry: String = null
  @volatile private var phaseSpan: Span = null
  private var passSpan: Span = null
  private var entrySpan: Span = null

  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageSpans = mutable.Map.empty[(Int, Int), Span]
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.Map.empty[String, (Double, String)]
  private var blockTotal = 0.0

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs = gcBeans.map(_.getCollectionTime).sum.toDouble
  private def gcCount = gcBeans.map(_.getCollectionCount).sum.toDouble
  private var jvmAtEntry = (0.0, 0.0, 0.0)
  private var countersAtEntry = Map.empty[String, Double]

  private def cur: Option[Counters] = Option(entry).map(counters)

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(phaseSpan).map(_.id).getOrElse(0)
      val s = open(parent, "job", s"job ${e.jobId}", relMs(e.time))
      s.attrs("stages") = e.stageIds
      jobSpans(e.jobId) = s
      e.stageIds.foreach(stageJob(_) = s)
      cur.foreach(_.add("spark.jobs", 1))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpans.remove(e.jobId).foreach { s =>
        s.end = relMs(e.time)
        s.attrs("ok") = e.jobResult == JobSucceeded
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      val parent = stageJob.get(i.stageId).map(_.id).getOrElse(0)
      val s = open(parent, "stage", s"stage ${i.stageId}.${i.attemptNumber()}",
        i.submissionTime.map(relMs).getOrElse(nowMs))
      s.attrs("tasks") = i.numTasks
      stageSpans((i.stageId, i.attemptNumber())) = s
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stageSpans.remove((i.stageId, i.attemptNumber())).foreach { s =>
        s.end = i.completionTime.map(relMs).getOrElse(nowMs)
        i.failureReason.foreach(s.attrs("failure") = _)
      }
      cur.foreach(_.add("spark.stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cur.foreach { c =>
      val info = e.taskInfo
      c.add("spark.tasks", 1)
      c.add("spark.task_s", (info.finishTime - info.launchTime) / 1e3)
      if (e.reason != Success) c.add("spark.tasks_failed", 1)
      taskIntervals += ((info.launchTime, info.finishTime))
      Option(e.taskMetrics).foreach { m =>
        c.add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        c.add("spark.task_gc_s", m.jvmGCTime / 1e3)
        c.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        c.add("spark.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
        c.add("spark.spill_mb", m.diskBytesSpilled / 1e6)
        c.max("spark.peak_exec_mem_mb", m.peakExecutionMemory / 1e6)
        c.add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
        c.add("output_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId]) {
        val key = b.blockId.name
        blocks.remove(key).foreach { case (mb, _) => blockTotal -= mb }
        if (b.storageLevel.isValid) {
          val mb = (b.memSize + b.diskSize) / 1e6
          blocks(key) = (mb, entry)
          blockTotal += mb
          cur.foreach { c =>
            c.add("cache.written_mb", mb)
            c.max("cache.peak_mb", blockTotal)
          }
        }
      }
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      cur.foreach { c =>
        c.add("plan.queries", 1)
        c.add("plan.s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
        val nodes = flatten(qe.executedPlan)
        def count(k: String)(p: SparkPlan => Boolean): Unit = c.add(k, nodes.count(p))
        count("plan.exchanges")(_.isInstanceOf[Exchange])
        count("plan.sorts")(_.isInstanceOf[SortExec])
        count("plan.smj")(_.isInstanceOf[SortMergeJoinExec])
        count("plan.bhj")(_.isInstanceOf[BroadcastHashJoinExec])
        count("plan.windows")(_.isInstanceOf[WindowExec])
        count("plan.inmem_scans")(_.isInstanceOf[InMemoryTableScanExec])
        c.add("sinks.files", nodes.flatMap(_.metrics.get("numFiles")).map(_.value).sum)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Every executed node, through adaptive wrappers and subqueries, but
    * not into the plans behind in-memory relations (they ran earlier). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      cur.foreach { c =>
        val p = e.progress
        def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        c.add("stream.batches", 1)
        c.add("stream.rows", p.numInputRows.toDouble)
        c.max("stream.state_rows_peak", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        c.max("stream.state_mb_peak", p.stateOperators.map(_.memoryUsedBytes).sum / 1e6)
        c.add("stream.commit_ms", ms("commitOffsets") + ms("walCommit"))
        c.add("stream.trigger_ms", ms("triggerExecution"))
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def beginPass(n: Int): Unit = passSpan = open(0, "pass", s"pass $n", nowMs)
  def endPass(): Unit = passSpan.end = nowMs

  def beginEntry(name: String): Unit = {
    drain()
    entrySpan = open(passSpan.id, "entry", name, nowMs)
    taskIntervals.clear()
    jvmAtEntry = (gcMs, gcCount, jit.getTotalCompilationTime.toDouble)
    countersAtEntry = counters(name).snapshot
    entry = name
  }

  /** Ends the running phase (if any) and starts `kind` ("" starts none). */
  def phase(kind: String): Unit = {
    val now = nowMs
    if (phaseSpan != null) {
      drain()
      phaseSpan.end = now
    }
    phaseSpan = if (kind.isEmpty) null else open(entrySpan.id, kind, entrySpan.name, now)
  }

  def endEntry(name: String): Unit = {
    phase("")
    drain()
    entrySpan.end = nowMs
    val c = counters(name)
    val durS = (entrySpan.end - entrySpan.start) / 1e3
    spans.reverseIterator.find(s => s.parent == entrySpan.id && s.kind == "construct")
      .foreach(s => c.add("entry.construct_s", (s.end - s.start) / 1e3))
    spans.reverseIterator.find(s => s.parent == entrySpan.id && s.kind == "action")
      .foreach(s => c.add("entry.action_s", (s.end - s.start) / 1e3))
    c.add("entry.s", durS)
    val busyS = union(taskIntervals.toSeq) / 1e3
    c.add("spark.driver_only_s", math.max(0.0, durS - busyS))
    val left = blocks.valuesIterator.filter(_._2 == name).map(_._1).sum
    c.add("cache.left_mb", left)
    if (left > 0) c.add("cache.leaking_entries", 1)
    c.add("jvm.gc_s", (gcMs - jvmAtEntry._1) / 1e3)
    c.add("jvm.gc_count", gcCount - jvmAtEntry._2)
    c.add("jvm.jit_s", (jit.getTotalCompilationTime - jvmAtEntry._3) / 1e3)
    entrySpan.attrs("counters") = c.snapshot.map { case (k, v) =>
      k -> (if (k.endsWith("_peak") || k.startsWith("spark.peak") || k == "cache.peak_mb") v
            else v - countersAtEntry.getOrElse(k, 0.0))
    }
    entry = null
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var (s0, e0) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > e0) {
        if (e0 > s0) total += e0 - s0
        s0 = s; e0 = e
      } else e0 = math.max(e0, e)
    }
    if (e0 > s0) total += e0 - s0
    total.toDouble
  }

  /** Records a direct timing of a layer function (see `Probes`). */
  def probe(metric: String, value: Double): Unit = probes(metric) = value

  def write(path: Path): Unit = {
    val lines = spans.map { s =>
      Main.json.writeValueAsString(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs)
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  /** Per-layer metrics, each a mean per traced pass. */
  def summary(passes: Int): Map[String, Any] = {
    val n = math.max(1, passes).toDouble
    val layers = Layers.of(names)
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val peaks = Set("spark.peak_exec_mem_mb", "cache.peak_mb",
      "stream.state_rows_peak", "stream.state_mb_peak")
    for ((name, c) <- counters; (k, v) <- c.snapshot) {
      if (peaks(k)) out(k) = math.max(out(k), v)
      else if (!k.startsWith("sinks.") && k != "output_mb" && k != "entry.s") out(k) += v / n
      // layer times and layer-scoped counters
      for (layer <- layers(name)) {
        if (k == "entry.s") out(s"$layer.s") += v / n
        if (layer == "sources" && k == "spark.input_mb") out("sources.input_mb") += v / n
        if (layer == "sinks" && k == "output_mb") out("sinks.output_mb") += v / n
        if (layer == "sinks" && k == "sinks.files") out("sinks.files") += v / n
      }
    }
    val leftOnDisk = Main.diskBytes(root, Set(root.resolve("input"), root.resolve("local"))) / 1e6
    if (out("sinks.output_mb") > 0 && leftOnDisk > 0)
      out("sinks.write_amp") = out("sinks.output_mb") / leftOnDisk
    out ++= probes
    (out.toMap ++ Map("layers" -> layers, "self_s" -> selfTimes(n))).toMap
  }

  /** Self time per span kind: each span's duration less the union of its
    * children's intervals (per traced pass). */
  private def selfTimes(n: Double): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).filterNot(_.end.isNaN)
          .map(k => ((k.start * 1000).toLong, (k.end * 1000).toLong))
        if (s.end.isNaN) 0.0
        else math.max(0.0, (s.end - s.start) - union(iv.toSeq) / 1000) / 1e3
      }.sum / n
    }
  }
}
