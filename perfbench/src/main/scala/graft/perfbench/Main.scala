package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark run: one workload, one JVM, one closed-loop client.
  *
  * The run builds each entry through `SparkEntry.queries(name)(spark, dir)`
  * and fully materializes it into Spark's `noop` sink, one entry at a time
  * in a fixed order. One untimed warmup pass comes first; it also runs the
  * materialization self-test. Timed passes follow until `seconds` have
  * elapsed. With `trace=1` untraced and traced passes alternate (U T U),
  * so the tracing overhead is measured in the same JVM. Last, the entries' outputs
  * are dumped through `graft.Verify` for the oracle check, which the
  * launcher runs after this JVM has exited.
  *
  * Arguments are `key=value` pairs; `perfbench/run.py` passes them.
  */
object Main {
  final case class EntryTime(construct: Double, action: Double, cpu: Double) {
    def total: Double = construct + action
  }

  final class Pass {
    val times = mutable.LinkedHashMap.empty[String, EntryTime]
    var heapPeakMb = 0.0
    var diskMb = 0.0
    def wall: Double = times.valuesIterator.map(_.total).sum
    def cpu: Double = times.valuesIterator.map(_.cpu).sum
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The fewest untraced timed passes; a traced run takes U T U at least. */
  val MinPasses = 1

  private val mx = ManagementFactory.getMemoryMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val vmThreads = sun.management.ManagementFactoryHelper.getHotspotThreadMBean

  /** Process CPU nanoseconds, less the JIT compiler threads': compiling is
    * warmup work whose amount depends on compile-queue timing, not on the
    * entry, and it made CPU time the noisiest number of a run. */
  def cpuNanos(): Long =
    os.getProcessCpuTime - vmThreads.getInternalThreadCpuTimes.asScala
      .collect { case (name, ns) if name.contains("CompilerThread") => ns.longValue }.sum

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val root = Paths.get(opt("root")).toAbsolutePath
    val input = opt("input")
    val names = opt("entries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val startMs = opt("start_ms").toLong

    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registry entries: ${unknown.mkString(",")}")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${opt("workload")}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(root.resolve("checkpoint").toString)
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3

    // the launcher writes the input while this JVM starts; wait for it
    val ready = Paths.get(opt("ready"))
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!Files.exists(ready)) {
      require(System.nanoTime() < deadline, s"input not ready: $ready")
      Thread.sleep(10)
    }

    val failed = mutable.LinkedHashMap.empty[String, String]
    def runEntry(name: String, tracer: Option[Tracer] = None): Option[(EntryTime, StructType)] =
      if (failed.contains(name)) None
      else try Some(timeEntry(spark, name, input, tracer)) catch {
        case NonFatal(e) =>
          failed(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
      }
    def runPass(tracer: Option[Tracer], passNo: Int): Pass = {
      val pass = new Pass
      tracer.foreach(_.beginPass(passNo))
      names.foreach { name =>
        System.gc()
        pass.heapPeakMb = math.max(pass.heapPeakMb, mx.getHeapMemoryUsage.getUsed / 1e6)
        tracer.foreach(_.beginEntry(name))
        runEntry(name, tracer).foreach { case (t, _) => pass.times(name) = t }
        tracer.foreach(_.endEntry(name))
      }
      System.gc()
      pass.heapPeakMb = math.max(pass.heapPeakMb, mx.getHeapMemoryUsage.getUsed / 1e6)
      tracer.foreach(_.endPass())
      // Spark's own block-manager scratch (shuffle files) is left out: it
      // is cleaned up asynchronously, so its size at any instant is noise
      pass.diskMb = diskBytes(root, Set(root.resolve("local"))) / 1e6
      pass
    }

    // the warmup pass, with the materialization self-test riding along
    val w0 = System.nanoTime()
    val selfTest = new SelfTest(spark)
    selfTest.attach()
    val warm = names.flatMap { name =>
      runEntry(name).map { case (t, schema) =>
        selfTest.check(name, schema)
        name -> t.total
      }
    }
    selfTest.detach()
    selfTest.mismatched.foreach(n => failed(n) = "timed action does not produce the entry's columns")
    require(warm.nonEmpty, s"every entry failed: ${failed.mkString("; ")}")
    val cheapest = warm.minBy(_._2)._1
    selfTest.checkCountIsCaught(graft.SparkEntry.queries(cheapest)(spark, input))
    require(selfTest.ok, s"materialization self-test failed: ${selfTest.report}")
    val warmupS = (System.nanoTime() - w0) / 1e9

    val setupS = (System.currentTimeMillis() - startMs) / 1e3
    val tracer = if (traced) Some(new Tracer(spark, root, names)) else None
    val plain = mutable.ArrayBuffer.empty[Pass]
    val tracedPasses = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var passNo = 0
    // a traced run alternates untraced and traced passes, U T U at least:
    // the first pass is still warming up, so the overhead compares the
    // traced passes with the untraced ones after it
    while (elapsed < seconds || plain.size < MinPasses ||
        (traced && (tracedPasses.isEmpty || plain.size < 2))) {
      passNo += 1
      if (traced && passNo % 2 == 0) {
        tracer.get.attach()
        tracedPasses += runPass(tracer, passNo)
        tracer.get.detach()
      } else plain += runPass(None, passNo)
    }

    val traceOut = tracer.map { t =>
      Probes.run(spark, opt("workload"), input, t)
      t.write(Paths.get(opt("spans")))
      t.summary(tracedPasses.size)
    }

    // untimed output dump for the oracle check; Verify stops the session
    val v0 = System.nanoTime()
    graft.Verify.main(Array(input, opt("verify"),
      names.filterNot(failed.contains).mkString(",")))
    val verifyS = (System.nanoTime() - v0) / 1e9

    def perPass(ps: Seq[Pass]) = Map(
      "wall_s" -> ps.map(_.wall), "cpu_s" -> ps.map(_.cpu),
      "retained_heap_mb" -> ps.map(_.heapPeakMb), "disk_mb" -> ps.map(_.diskMb))
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"),
      "cores" -> cores,
      "setup_s" -> setupS,
      // where the untimed time of a run goes
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "verify_s" -> verifyS,
      "passes" -> perPass(plain.toSeq),
      "entries" -> names.map { n =>
        n -> Map(
          "construct_s" -> plain.flatMap(_.times.get(n)).map(_.construct),
          "action_s" -> plain.flatMap(_.times.get(n)).map(_.action))
      }.toMap,
      "failed" -> failed.toMap,
      "selftest" -> selfTest.report)
    if (traced) {
      out("traced_passes") = perPass(tracedPasses.toSeq)
      out("trace") = traceOut.get
    }
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(out))
  }

  /** Builds one entry and materializes every row and column of it. */
  def timeEntry(spark: SparkSession, name: String, input: String,
      tracer: Option[Tracer]): (EntryTime, StructType) = {
    val c0 = cpuNanos()
    tracer.foreach(_.phase("construct"))
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries(name)(spark, input)
    val t1 = System.nanoTime()
    tracer.foreach(_.phase("action"))
    materialize(df)
    val t2 = System.nanoTime()
    tracer.foreach(_.phase(""))
    (EntryTime((t1 - t0) / 1e9, (t2 - t1) / 1e9, (cpuNanos() - c0) / 1e9), df.schema)
  }

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Bytes of the regular files under `root`, skipping the `skip` subtrees.
    * Files that vanish during the walk (Spark cleans up asynchronously)
    * are not counted. */
  def diskBytes(root: Path, skip: Set[Path]): Long = {
    var total = 0L
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes) =
        if (skip(d)) FileVisitResult.SKIP_SUBTREE else FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes) = {
        if (a.isRegularFile) total += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException) =
        FileVisitResult.CONTINUE
    })
    total
  }
}
