package graft
import org.apache.spark.GraftBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.storage.BlockId
import java.nio.file.{Files, Paths}

/** Plan dump: `.explain("formatted")` of named queries → one text file per
  * query, for the optimization rounds' before/after plan artifacts
  * (plans/rNN/<query>_{before,after}.txt). The first line of each file is
  * `jobs: N`, the Spark jobs the entry ran while its frame was built (the
  * eager checkpoints of its loops), which the plan of the final frame
  * does not show. The second line is
  * `blocks: <MB> rdd, <MB> broadcast, <MB> catalog`: the block-manager
  * bytes of the blocks the build created and left behind (checkpoints and
  * caches it did not release, broadcast variables), read right after the
  * build, so blocks the ContextCleaner has not collected yet still count;
  * then the bytes of the `MergeableCatalog` pages and deletion bitmaps
  * the build added to the catalog's tables, over all their versions. The
  * frame is then run once through the `noop` sink, and the third line is
  * `action blocks: <MB> rdd, <MB> broadcast, <MB> largest`: the blocks
  * that action created and left behind, the last figure the largest
  * single broadcast block among them. A lazy entry makes its broadcast
  * relations only when it runs, so only this line sees them. The fourth
  * line is `codegen: N compiles, <ms> ms build; M compiles, <ms> ms
  * action`: the Janino compiles of generated classes, and their compile
  * time, while the frame was built and while it ran. A class Spark's
  * codegen cache still holds costs no compile, so an entry reads lower
  * after others that ran the same code. Usage:
  *   runMain graft.Explain <sfDir> <outDir> <suffix> [names,comma,separated]
  * Environment mirrors Bench (SPARK_GRAFT_CPUS master/shuffle width) so the
  * dumped plans are the ones the bench actually executes.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val sc = spark.sparkContext
          val before = GraftBus.blocks(sc).keySet
          val compiledBefore = compiled()
          val storedBefore = graft.plans.MergeableCatalog.stored
          sc.setJobGroup(name, name)
          val df = try fn(spark, sfDir) finally sc.clearJobGroup()
          GraftBus.drain(sc)
          val compiledBuilt = compiled()
          val jobs = sc.statusTracker.getJobIdsForGroup(name).length
          val built = GraftBus.blocks(sc)
          val left = built.filter { case (id, _) => !before(id) }
          def mb(blocks: Map[BlockId, Long], kind: BlockId => Boolean) =
            blocks.collect { case (id, bytes) if kind(id) => bytes }.sum / 1e6
          val catalog = (graft.plans.MergeableCatalog.stored -- storedBefore.keySet)
            .values.sum / 1e6
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          df.write.format("noop").mode("overwrite").save()
          val compiledRan = compiled()
          def compiles(from: (Long, Long), to: (Long, Long)) =
            f"${to._1 - from._1} compiles, ${(to._2 - from._2) / 1e6}%.0f ms"
          val ran = GraftBus.blocks(sc).filter { case (id, _) => !built.contains(id) }
          val largest =
            ran.collect { case (id, b) if id.isBroadcast => b }.foldLeft(0L)(math.max) / 1e6
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
            f"jobs: $jobs\nblocks: ${mb(left, _.isRDD)}%.1f rdd, " +
              f"${mb(left, _.isBroadcast)}%.1f broadcast, $catalog%.1f catalog\n" +
              f"action blocks: ${mb(ran, _.isRDD)}%.2f rdd, " +
              f"${mb(ran, _.isBroadcast)}%.2f broadcast, $largest%.2f largest\n" +
              s"codegen: ${compiles(compiledBefore, compiledBuilt)} build; " +
              s"${compiles(compiledBuilt, compiledRan)} action\n$plan")
          System.err.println(s"[explain] $name -> ${name}_$suffix.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }

  /** The generated classes this JVM has compiled so far, and their
    * total compile time in ns. */
  private def compiled(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
