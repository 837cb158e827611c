package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The stored bucketed layouts — the named tables that later reads are
  * served from (the adjacency, co-purchase and kNN-graph layouts and the
  * join_bucketed sides). Every one is written here and nowhere else.
  *
  * A layout is written `bucketBy(n)` on its key, where n is the writing
  * session's `spark.sql.shuffle.partitions`: a bucketed scan reports n
  * partitions, and that count then sets the width of everything joined
  * against it (every per-hop checkpoint and state exchange of the graph
  * loops). The width is part of the table name, so a session with
  * another width builds its own layout instead of reusing one whose
  * partitioning it does not match.
  */
private[graft] object StoredLayout {

  /** Build-or-reuse: returns the layout's table name,
    * `graft_<kind>_<n>[_<scope>]` (n = the session's shuffle width;
    * `scope`, an sfDir, keeps layouts of different inputs apart),
    * writing `frame` bucketed and sorted on `key` unless this session
    * already holds the table or `rebuild` is set. */
  def ensure(spark: SparkSession, kind: String, scope: String, key: String,
      rebuild: Boolean = false)(frame: => DataFrame): String = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val name = s"graft_${kind}_$n" +
      (if (scope.isEmpty) "" else "_" + scope.replaceAll("[^a-zA-Z0-9]", "_"))
    if (!rebuild && spark.catalog.tableExists(name)) return name
    drop(spark, name)
    frame.write.bucketBy(n, key).sortBy(key)
      .mode("overwrite").saveAsTable(name)
    name
  }

  /** Drop `name` and delete its warehouse directory: the in-memory
    * catalog forgets tables between JVMs while their files remain, and
    * a leftover directory fails the next `saveAsTable`. */
  def drop(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = java.nio.file.Paths.get(
      new java.net.URI(wh).getPath match { case "" => wh; case p => p }, name)
    graft.Materialize.deleteTree(loc)
  }
}
