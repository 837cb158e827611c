package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of cache lifetimes and scratch space. The code that
  * persists or checkpoints a frame releases it here, also when its body
  * throws; every scratch directory lives under one root and every tree
  * delete is the one below.
  */
object Materialize {

  /** Runs `body` over the persisted `cached` and unpersists it when the
    * body returns or throws. A frame `body` returns must not read the
    * cache lazily: checkpoint what outlives it.
    */
  def releasing[T](cached: DataFrame)(body: DataFrame => T): T =
    try body(cached) finally cached.unpersist()

  /** Drops the blocks behind `checkpointed`, a frame `localCheckpoint`
    * returned (its plan is the `LogicalRDD` over the checkpointed RDD),
    * and waits until they are gone. Anything that still reads the frame
    * fails afterwards: release only a checkpoint nothing reads any more.
    */
  def releaseCheckpoint(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
      case other => throw new IllegalArgumentException(
        s"not a localCheckpoint frame: ${other.nodeName}")
    }

  /** `<java.io.tmpdir>/graft_etl/<sfKey>/<tag>`: the scratch location of
    * `tag` for the inputs in `sfDir` (sfKey is sfDir with every
    * non-alphanumeric character replaced by `_`).
    */
  def scratchPath(sfDir: String, tag: String): Path =
    Paths.get(sys.props("java.io.tmpdir"), "graft_etl",
      sfDir.replaceAll("[^a-zA-Z0-9]", "_"), tag)

  /** [[scratchPath]], emptied and created — recreated per call so query
    * results are deterministic run-over-run.
    */
  def scratchDir(sfDir: String, tag: String): Path = {
    val p = scratchPath(sfDir, tag)
    deleteTree(p)
    Files.createDirectories(p)
  }

  /** The entries of directory `dir`, with the listing's stream closed —
    * a bare `Files.list` stream holds a directory handle until collected.
    */
  def listDir(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toVector)

  /** Deletes `p` and everything under it; a missing `p` is a no-op. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p)) { files =>
        files.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      }
}
