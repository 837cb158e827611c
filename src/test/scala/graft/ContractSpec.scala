package graft

/** Driver-contract invariants: every declared oracle pairs with a query,
  * every query executes on real (smallest-sf) data, and the flagship
  * entry point is non-empty — the reference's "ensure consistent
  * insertion" validation (/root/reference/README.md:33, 103–106) applied
  * to our own harness surface.
  */
class ContractSpec extends SparkTestBase {

  test("oracleSql keys are a subset of queries keys") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("Bench headline names all exist in queries") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline entries missing from queries: $missing")
  }

  test("Bench compact line: 105 results fit in 1900 chars, failures kept as -1") {
    val failed = Set(3, 100)
    val results = (0 until 105).map { i =>
      val t = 0.5 + (i * 37 % 105) / 10.0
      val reps = if (failed(i)) Seq(-1.0, t) else Seq(t, t * 1.1)
      f"headline_entry_synthetic_$i%03d" -> reps
    }
    val line = Bench.compactLine(results, "/data/sf0.1", "4", 4096L, "/tmp/graft_bench.json")
    assert(line.length <= 1900, s"compact line is ${line.length} chars")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val queries = json.get("queries")
    failed.foreach { i =>
      val q = queries.get(f"headline_entry_synthetic_$i%03d")
      assert(q != null && q.asDouble == -1.0, s"failed entry $i not reported as -1: $q")
    }
    assert(queries.size < 105, "105 entries should not fit, so some must be omitted")
    assert(json.get("queries_omitted").asInt == 105 - queries.size)
  }

  test("entry (flagship) returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 with a non-empty schema") {
    // the query sql_cache_table returns scans its own CACHE TABLE by design
    val holdsCache = Set("sql_cache_table")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        spark.catalog.clearCache()
        val df = fn(spark, sf0001)
        assert(df.schema.nonEmpty, s"$name: empty schema")
        df.count() // forces full execution
        assert(holdsCache(name) || spark.sharedState.cacheManager.isEmpty,
          s"$name: leaves a cached frame behind")
        None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("cache releases, tree walks and the temp root appear only in Materialize") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val owner = root.resolve("graft/Materialize.scala")
    val sources = scala.util.Using.resource(java.nio.file.Files.walk(root))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(sources.contains(owner), s"no $owner among ${sources.size} sources")
    val strays = for {
      f <- sources if f != owner
      text = java.nio.file.Files.readString(f)
      needle <- Seq(".unpersist(", "LogicalRDD", "Files.walk(", "Files.list(", "java.io.tmpdir")
      if text.contains(needle)
    } yield s"$f: $needle"
    assert(strays.isEmpty, strays.mkString("\n"))
  }

  test("the checkpoint cadence, the observed exit and its backstop appear only in Supersteps") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val owner = root.resolve("graft/operators/Supersteps.scala")
    val needles = Seq("% 2 == 0 ||", "exitRound", "Observation(")
    val sources = scala.util.Using.resource(java.nio.file.Files.walk(root))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    val ownerText = java.nio.file.Files.readString(owner)
    assert(needles.forall(ownerText.contains), s"$owner lacks one of $needles")
    // the ETL load audit observes a scan, not a loop
    val strays = for {
      f <- sources if f != owner
      text = java.nio.file.Files.readString(f).replace("Observation(\"load_audit\")", "")
      needle <- needles if text.contains(needle)
    } yield s"$f: $needle"
    assert(strays.isEmpty, strays.mkString("\n"))
  }
}
