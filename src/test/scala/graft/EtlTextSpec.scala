package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.EtlOps

/** ETL pipeline semantics and text-analysis invariants not covered by the
  * oracle rows: connector stage ordering, append accumulation, fingerprint
  * order-sensitivity, quality bounds, langid tie determinism.
  */
class EtlTextSpec extends SparkTestBase {
  import spark.implicits._

  test("Connector runs extract -> transform -> load in order") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val c = EtlOps.Connector(
      name = "probe",
      source = s => { order += "E"; Seq((1L, "x")).toDF("id", "v") },
      transform = df => { order += "T"; df.withColumn("t", lit(true)) },
      sink = df => { order += "L"; assert(df.columns.contains("t")); df.count() })
    c.run(spark)
    assert(order.toSeq === Seq("E", "T", "L"))
  }

  test("withRetry: transient failure retried to success, attempts bounded") {
    var calls = 0
    val got = EtlOps.withRetry(maxAttempts = 3) { attempt =>
      calls += 1
      if (attempt < 2) throw new RuntimeException("simulated 503")
      attempt
    }
    assert(got === 2)
    assert(calls === 2)
  }

  test("RatePacer: burst requests are spaced at exactly the min interval") {
    // virtual clock: advances ONLY via recorded sleeps, so the asserted
    // spacing is the pacer's arithmetic, not wall-clock noise
    var now = 1000L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pacer = new graft.sources.RatePacer(
      minIntervalMs = 100L,
      clock = () => now,
      sleeper = ms => { sleeps += ms; now += ms })
    val issuedAt = (1 to 5).map { _ => pacer.acquire(); now }
    // first request immediate, no sleep before it
    assert(issuedAt.head === 1000L)
    // every successive request exactly 100 ms after the previous one —
    // a burst drains at the contracted rate with zero drift
    assert(issuedAt.sliding(2).forall { case Seq(a, b) => b - a == 100L })
    assert(sleeps.toSeq === Seq(100L, 100L, 100L, 100L))
  }

  test("RatePacer: a slow consumer never sleeps; partial gaps pay the remainder") {
    var now = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pacer = new graft.sources.RatePacer(100L, () => now, ms => { sleeps += ms; now += ms })
    pacer.acquire()                 // t=0, schedule next at 100
    now += 250                      // consumer took longer than the interval
    pacer.acquire()                 // t=250: slot free, no sleep
    assert(sleeps.isEmpty)
    now += 60                       // only 60 of the 100 ms elapsed
    pacer.acquire()                 // t=310 -> must wait the 40 ms remainder
    assert(sleeps.toSeq === Seq(40L))
    assert(now === 350L)            // issued exactly 100 ms after the t=250 request
  }

  test("RatePacer.forInterval registry shares exactly one bucket per interval") {
    val pacer = graft.sources.RatePacer.forInterval(7L)
    assert(pacer eq graft.sources.RatePacer.forInterval(7L),
      "registry must share one bucket per interval")
    assert(!(pacer eq graft.sources.RatePacer.forInterval(8L)),
      "distinct intervals must get distinct buckets")
  }

  test("PagedJsonSource pacing: every DSv2 reader open acquires from the paceMs bucket") {
    // drives the REAL plumbing — option("paceMs") -> PageReaderFactory
    // .createReader -> RatePacer.forInterval(...).acquire() — and asserts
    // via the bucket's acquire counter, not wall-clock (no flake surface).
    // interval 13 is unique to this test so no other suite shares the
    // bucket; local-mode executors are in-JVM, so the registry is visible.
    val dir = java.nio.file.Files.createTempDirectory("graft_paced_pages")
    Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L), (4L, "d", 4L), (5L, "e", 0L))
      .toDF("event_id", "event_type", "user_id")
      .withColumn("page", pmod(col("event_id"), lit(5)))
      .write.mode("overwrite").partitionBy("page").json(dir.toString)
    val pacer = graft.sources.RatePacer.forInterval(13L)
    val before = pacer.acquireCount
    val n = spark.read.format("graft.sources.PagedJsonSource")
      .option("pages", "5").option("paceMs", "13")
      .load(dir.toString)
      .count()
    assert(n === 5)
    assert(pacer.acquireCount - before === 5L,
      "each of the 5 page reader opens must take a slot from the shared 13ms bucket")
  }

  test("source_api_auth: provisioned token passes; missing or wrong token is 401-rejected") {
    val sfDir = sf0001
    // happy path: token resolved from the provisioned dotenv file equals
    // the plain un-paginated read — auth is invisible in the data
    val authed = EtlOps.sourceApiAuth(spark, sfDir).collect()
    val plain = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy("event_type").collect()
    assert(authed.toSeq === plain.toSeq)
    // no Authorization header at all -> 401 before any data is served
    val noHeader = intercept[RuntimeException] {
      EtlOps.sourceApiAuthWith(spark, sfDir, headerFor = _ => None)
    }
    assert(noHeader.getMessage.contains("401"))
    // header present but wrong secret -> same rejection
    val badToken = intercept[RuntimeException] {
      EtlOps.sourceApiAuthWith(spark, sfDir, headerFor = _ => Some("Bearer wrong-token"))
    }
    assert(badToken.getMessage.contains("401"))
  }

  test("source_api_ratelimit: compliant client drains all pages; ignoring Retry-After starves") {
    import graft.sources.{RateLimitException, RateLimitedEndpoint}
    val sfDir = sf0001
    // virtual clock: request processing costs 0 virtual ms, honoring the
    // Retry-After hint advances time — the whole 429 schedule is exact
    var now = 0L
    val endpoint = new RateLimitedEndpoint(
      capacity = 2, refillIntervalMs = 250L, clock = () => now)
    val out = EtlOps.sourceApiRatelimitWith(
      spark, sfDir, endpoint, sleeper = ms => now += ms).collect()
    val plain = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy("event_type").collect()
    // throttling is invisible in the data: delayed pages, never dropped
    assert(out.toSeq === plain.toSeq)
    // exact burst schedule: pages 0,1 ride the capacity-2 burst; pages
    // 2,3,4 each hit one 429 and clear after honoring exactly one refill
    assert(endpoint.servedCount === 5L)
    assert(endpoint.rejectedCount === 3L)
    assert(now === 750L, "3 honored Retry-After sleeps x 250ms refill")

    // a client that IGNORES Retry-After (sleeper advances nothing) keeps
    // bouncing off the same empty bucket and must fail, not hang or skip
    var now2 = 0L
    val endpoint2 = new RateLimitedEndpoint(
      capacity = 2, refillIntervalMs = 250L, clock = () => now2)
    val starved = intercept[RateLimitException] {
      EtlOps.sourceApiRatelimitWith(spark, sfDir, endpoint2, sleeper = _ => ())
    }
    assert(starved.getMessage.contains("429"))
    assert(endpoint2.servedCount === 2L, "only the burst is ever served")
  }

  test("source_api_circuit_breaker: exact transition trace, zero calls while open, lossless census") {
    // outage = first 4 real calls. Deterministic trace on the tick
    // clock: 3 fails trip OPEN at tick 2; ticks 3-6 short-circuit;
    // the tick-7 half-open probe is real call 4 (still in the outage)
    // and RE-OPENS; ticks 8-11 short-circuit; the tick-12 probe is
    // call 5 (healthy) and CLOSES; 4 drains follow → 9 real calls, 8
    // short-circuits. The endpoint never sees a call while open — the
    // breaker's whole point (9 = 3 trips + 2 probes + 4 drains).
    val (census, breaker, realCalls) =
      EtlOps.sourceApiCircuitBreakerWith(spark, sf0001, outageCalls = 4)
    val out = census.collect()
    assert(breaker.transitions.toList === List(
      ("open", 2L), ("half_open", 7L), ("open", 7L),
      ("half_open", 12L), ("closed", 12L)),
      s"got ${breaker.transitions}")
    assert(breaker.shortCircuitCount === 8L)
    assert(realCalls === 9L, "endpoint must see only trips, probes, drains")
    val plain = spark.read.parquet(s"$sf0001/events.parquet")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy("event_type").collect()
    assert(out.toSeq === plain.toSeq, "an outage ridden out is not data loss")

    // an endpoint that never recovers must kill the job inside the
    // attempt budget — spinning forever or dropping pages are both worse
    val dead = intercept[IllegalArgumentException] {
      EtlOps.sourceApiCircuitBreakerWith(spark, sf0001, outageCalls = 100000)
    }
    assert(dead.getMessage.contains("never closed"))
  }

  test("circuit breaker: exactly ONE half-open probe passes under concurrency") {
    var tick = 0L
    val br = new graft.sources.CircuitBreaker(
      failThreshold = 1, cooldownMs = 5L, clock = () => tick)
    intercept[RuntimeException] {
      br.call { throw new RuntimeException("boom") } // trips OPEN at tick 0
    }
    tick = 10L // cooldown elapsed: next caller becomes THE half-open probe
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val probe = new Thread(() =>
      br.call { entered.countDown(); release.await(); "ok" })
    probe.start()
    entered.await() // probe is in flight inside the dependency
    // a second caller arriving mid-probe must be rejected WITHOUT touching
    // the dependency (pre-fix it passed through — several probes at once)
    var touched = false
    intercept[graft.sources.CircuitOpenException] { br.call { touched = true } }
    assert(!touched, "concurrent caller must not reach the dependency")
    release.countDown()
    probe.join()
    assert(br.currentState === "closed", "successful probe closes the breaker")
    // and once closed, callers flow again
    assert(br.call("through") === "through")
  }

  test("circuit breaker: a straggler finishing after the trip cannot steal or reset the probe") {
    // the r12-verdict interleaving: a call admitted while CLOSED that
    // completes after the breaker trips must neither clear another
    // thread's in-flight probe flag (admitting a second probe) nor drive
    // the half_open transition itself — only the call ADMITTED AS the
    // probe may do either
    var tick = 0L
    val br = new graft.sources.CircuitBreaker(
      failThreshold = 1, cooldownMs = 5L, clock = () => tick)
    val stragglerIn = new java.util.concurrent.CountDownLatch(1)
    val stragglerGo = new java.util.concurrent.CountDownLatch(1)
    val straggler = new Thread(() =>
      br.call { stragglerIn.countDown(); stragglerGo.await(); "late-ok" })
    straggler.start()
    stragglerIn.await() // admitted while CLOSED, still in flight
    intercept[RuntimeException] {
      br.call { throw new RuntimeException("boom") } // trips OPEN
    }
    tick = 10L // cooldown elapsed
    val probeIn = new java.util.concurrent.CountDownLatch(1)
    val probeGo = new java.util.concurrent.CountDownLatch(1)
    val probe = new Thread(() =>
      br.call { probeIn.countDown(); probeGo.await(); "ok" })
    probe.start()
    probeIn.await() // THE half-open probe is in flight
    stragglerGo.countDown()
    straggler.join() // straggler completes (successfully) MID-probe
    // the probe slot must still be held: a fresh caller is rejected
    // without touching the dependency, and the state hasn't settled
    var touched = false
    intercept[graft.sources.CircuitOpenException] { br.call { touched = true } }
    assert(!touched, "straggler freed the probe slot: a second probe was admitted")
    assert(br.currentState !== "closed",
      "straggler must not drive the half_open transition")
    probeGo.countDown()
    probe.join()
    assert(br.currentState === "closed", "the true probe drives the close")
  }

  test("sql_merge_into: all three MERGE verbs apply; plan is delta-based WriteDelta") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    spark.sql("DROP TABLE IF EXISTS graftcat.spec.t")
    spark.sql("CREATE TABLE graftcat.spec.t (k BIGINT, v DOUBLE, load_id INT)")
    Seq((1L, 10.0, 1), (2L, 20.0, 1), (3L, 500000.0, 1))
      .toDF("k", "v", "load_id").writeTo("graftcat.spec.t").append()
    Seq((2L, 999.0, 2), (3L, 500001.0, 2), (4L, 40.0, 2))
      .toDF("k", "v", "load_id").createOrReplaceTempView("spec_merge_src")
    val stmt =
      """MERGE INTO graftcat.spec.t t
         USING spec_merge_src s
         ON t.k = s.k
         WHEN MATCHED AND s.v > 400000.0 THEN DELETE
         WHEN MATCHED THEN UPDATE SET v = s.v, load_id = s.load_id
         WHEN NOT MATCHED THEN INSERT (k, v, load_id) VALUES (s.k, s.v, s.load_id)"""
    // plan pin BEFORE executing: the rewrite must produce the delta-based
    // row-level plan (WriteDelta over the v2 table), not a fallback.
    // `.analyzed` only — optimizedPlan/executedPlan EXECUTE commands
    // eagerly (QueryExecution.commandExecuted), and MERGE isn't idempotent
    val analyzed = spark.sessionState
      .executePlan(spark.sessionState.sqlParser.parsePlan(stmt))
      .analyzed.toString
    assert(analyzed.contains("WriteDelta") && !analyzed.contains("ReplaceData"),
      s"expected delta-based WriteDelta rewrite, got:\n$analyzed")
    spark.sql(stmt)
    val out = spark.table("graftcat.spec.t").orderBy("k")
      .as[(Long, Double, Int)].collect().toSeq
    // k=1 untouched (target-only), k=2 updated, k=3 deleted by the
    // matched guard, k=4 inserted (source-only)
    assert(out === Seq((1L, 10.0, 1), (2L, 999.0, 2), (4L, 40.0, 2)))
  }

  test("sql UPDATE and DELETE rewrite delta-based over the v2 table and apply exactly") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    spark.sql("DROP TABLE IF EXISTS graftcat.spec.dml")
    spark.sql("CREATE TABLE graftcat.spec.dml (k BIGINT, v DOUBLE)")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("k", "v").writeTo("graftcat.spec.dml").append()
    val upd = "UPDATE graftcat.spec.dml SET v = v + 0.5 WHERE k % 2 = 0"
    val del = "DELETE FROM graftcat.spec.dml WHERE v > 35.0"
    for (stmt <- Seq(upd, del)) {
      val analyzed = spark.sessionState
        .executePlan(spark.sessionState.sqlParser.parsePlan(stmt))
        .analyzed.toString
      assert(analyzed.contains("WriteDelta") && !analyzed.contains("ReplaceData"),
        s"expected delta-based WriteDelta rewrite for: $stmt\n$analyzed")
    }
    spark.sql(upd)
    assert(spark.table("graftcat.spec.dml").orderBy("k").as[(Long, Double)]
      .collect().toSeq === Seq((1L, 10.0), (2L, 20.5), (3L, 30.0), (4L, 40.5)))
    spark.sql(del)
    assert(spark.table("graftcat.spec.dml").orderBy("k").as[(Long, Double)]
      .collect().toSeq === Seq((1L, 10.0), (2L, 20.5), (3L, 30.0)))
  }

  test("VERSION AS OF reads every committed snapshot; unknown version errors") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    spark.sql("DROP TABLE IF EXISTS graftcat.spec.hist")
    spark.sql("CREATE TABLE graftcat.spec.hist (k BIGINT)")
    Seq(1L).toDF("k").writeTo("graftcat.spec.hist").append()  // v1
    Seq(2L).toDF("k").writeTo("graftcat.spec.hist").append()  // v2
    def at(v: Int): Seq[Long] =
      spark.sql(s"SELECT k FROM graftcat.spec.hist VERSION AS OF $v ORDER BY k")
        .as[Long].collect().toSeq
    assert(at(0) === Seq.empty, "version 0 is the empty table at creation")
    assert(at(1) === Seq(1L))
    assert(at(2) === Seq(1L, 2L))
    assert(spark.table("graftcat.spec.hist").as[Long].collect().toSeq.sorted
      === Seq(1L, 2L), "current read unaffected by history")
    val e = intercept[Exception] { at(9) }
    assert(e.getMessage.contains("no snapshot 9"))
  }

  test("ALTER TABLE ADD COLUMNS: NULL backfill reaches history; non-append changes rejected") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    spark.sql("DROP TABLE IF EXISTS graftcat.spec.evo")
    spark.sql("CREATE TABLE graftcat.spec.evo (k BIGINT)")
    Seq(1L).toDF("k").writeTo("graftcat.spec.evo").append() // v1, pre-ALTER
    spark.sql("ALTER TABLE graftcat.spec.evo ADD COLUMNS (tag STRING)")
    Seq((2L, "new")).toDF("k", "tag").writeTo("graftcat.spec.evo").append()
    // current read: old row NULL-backfilled, new row carries the column
    assert(spark.table("graftcat.spec.evo").orderBy("k")
      .as[(Long, Option[String])].collect().toSeq
      === Seq((1L, None), (2L, Some("new"))))
    // the PRE-evolution snapshot stays time-travelable, read under the
    // evolved schema with the same NULL backfill
    assert(spark.sql(
      "SELECT k, tag FROM graftcat.spec.evo VERSION AS OF 1")
      .as[(Long, Option[String])].collect().toSeq === Seq((1L, None)))
    // anything other than a top-level appended ADD COLUMNS fails loudly
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graftcat.spec.evo RENAME COLUMN tag TO label")
    }
    assert(e.getMessage.contains("only top-level appended ADD COLUMNS"))
  }

  test("TIMESTAMP AS OF floors to the latest commit <= t; pre-history timestamps error") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    spark.sql("DROP TABLE IF EXISTS graftcat.spec.tts")
    spark.sql("CREATE TABLE graftcat.spec.tts (k BIGINT)")
    Seq(1L).toDF("k").writeTo("graftcat.spec.tts").append() // v1 @ 00:01
    Seq(2L).toDF("k").writeTo("graftcat.spec.tts").append() // v2 @ 00:02
    def at(ts: String): Seq[Long] =
      spark.sql(s"SELECT k FROM graftcat.spec.tts TIMESTAMP AS OF '$ts' ORDER BY k")
        .as[Long].collect().toSeq
    // between commits 1 and 2 -> floor to v1, never round up
    assert(at("2024-06-01 00:01:30") === Seq(1L))
    // exactly on commit 2 -> v2; far future -> latest
    assert(at("2024-06-01 00:02:00") === Seq(1L, 2L))
    assert(at("2024-06-01 09:00:00") === Seq(1L, 2L))
    val e = intercept[Exception] { at("2024-05-31 23:59:59") }
    assert(e.getMessage.contains("precedes the first snapshot"))
  }

  test("MergeableCatalog: INSERT appends, read sees committed snapshot, DROP removes") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    spark.sql("DROP TABLE IF EXISTS graftcat.spec.lifecycle")
    spark.sql("CREATE TABLE graftcat.spec.lifecycle (k BIGINT, v STRING)")
    Seq((1L, "a")).toDF("k", "v").writeTo("graftcat.spec.lifecycle").append()
    Seq((2L, "b")).toDF("k", "v").writeTo("graftcat.spec.lifecycle").append()
    val rows = spark.table("graftcat.spec.lifecycle").orderBy("k")
      .as[(Long, String)].collect().toSeq
    assert(rows === Seq((1L, "a"), (2L, "b")), "appends must accumulate")
    spark.sql("DROP TABLE graftcat.spec.lifecycle")
    assert(!spark.catalog.tableExists("graftcat.spec.lifecycle"))
  }

  /** A graftcat table as stored, for the page-level pins below. */
  private def catalogTable(ns: String, name: String) =
    new graft.plans.MergeableCatalog()
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(ns), name))
      .asInstanceOf[graft.plans.MergeableMemTable]

  test("MergeableCatalog round trip: every DML verb, ALTER and every version read back exactly") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    val t = "graftcat.spec.rt"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, note STRING, x DOUBLE)")
    type R = (Long, Option[String], Double, Option[String])
    def r(k: Long, note: String, x: Double, extra: String = null): R =
      (k, Option(note), x, Option(extra))
    // three write tasks, so versions hold several pages
    Seq[(Long, String, Double)]((1L, "a", 1.0), (2L, null, 2.0), (3L, "", 3.0),
      (4L, "dd", 4.0), (5L, null, 5.0))
      .toDF("k", "note", "x").repartition(3).writeTo(t).append() // v1
    spark.sql(
      s"""UPDATE $t SET x = x + 10, note = CASE WHEN k = 1 THEN NULL
            WHEN k = 2 THEN '' ELSE concat(note, 'u') END
          WHERE k <= 3""") // v2
    spark.sql(s"DELETE FROM $t WHERE k = 5") // v3
    Seq[(Long, String, Double)]((2L, "m", -1.0), (3L, null, 30.0), (6L, "", 6.0),
      (7L, null, 7.0)).toDF("k", "note", "x").createOrReplaceTempView("spec_rt_src")
    spark.sql(
      s"""MERGE INTO $t t USING spec_rt_src s ON t.k = s.k
          WHEN MATCHED AND s.x < 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET note = s.note, x = s.x
          WHEN NOT MATCHED THEN INSERT (k, note, x) VALUES (s.k, s.note, s.x)""") // v4
    Seq[(Long, String, Double)]((8L, "h", 8.0), (9L, null, 9.0))
      .toDF("k", "note", "x").writeTo(t).append() // v5
    spark.sql(s"INSERT OVERWRITE $t VALUES (10, '', 10.0), (11, NULL, 11.0), (1, 'z', 1.5)") // v6
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (extra STRING)")
    Seq[(Long, String, Double, String)]((12L, "l", 12.0, ""), (13L, "", 13.0, null),
      (14L, null, 14.0, "e")).toDF("k", "note", "x", "extra").writeTo(t).append() // v7
    val v4 = Seq(r(1, null, 11.0), r(3, null, 30.0), r(4, "dd", 4.0), r(6, "", 6.0),
      r(7, null, 7.0))
    val v6 = Seq(r(1, "z", 1.5), r(10, "", 10.0), r(11, null, 11.0))
    val expected: Seq[Seq[R]] = Seq(
      Seq.empty,
      Seq(r(1, "a", 1.0), r(2, null, 2.0), r(3, "", 3.0), r(4, "dd", 4.0), r(5, null, 5.0)),
      Seq(r(1, null, 11.0), r(2, "", 12.0), r(3, "u", 13.0), r(4, "dd", 4.0), r(5, null, 5.0)),
      Seq(r(1, null, 11.0), r(2, "", 12.0), r(3, "u", 13.0), r(4, "dd", 4.0)),
      v4,
      v4 ++ Seq(r(8, "h", 8.0), r(9, null, 9.0)),
      v6,
      v6 ++ Seq(r(12, "l", 12.0, ""), r(13, "", 13.0), r(14, null, 14.0, "e")))
    def read(asOf: String): Seq[R] =
      spark.sql(s"SELECT k, note, x, extra FROM $t $asOf ORDER BY k")
        .as[(Long, Option[String], Double, Option[String])].collect().toSeq
    for ((rows, v) <- expected.zipWithIndex) {
      assert(read(s"VERSION AS OF $v") === rows, s"VERSION AS OF $v")
      assert(read(s"TIMESTAMP AS OF '2024-06-01 00:0$v:30'") === rows,
        s"TIMESTAMP AS OF version $v")
    }
    assert(read("") === expected.last, "current read")
    assert(catalogTable("spec", "rt").snapshotAt(1)._2.length > 1,
      "the round trip must cover a version of several pages")
  }

  test("MergeableCatalog packs committed rows: ≤ 40 B per (bigint, double, int) row") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    spark.sql("DROP TABLE IF EXISTS graftcat.spec.compact")
    spark.sql("CREATE TABLE graftcat.spec.compact (k BIGINT, v DOUBLE, n INT)")
    spark.range(10000)
      .selectExpr("id AS k", "id * 0.5 AS v", "CAST(id % 7 AS INT) AS n")
      .writeTo("graftcat.spec.compact").append()
    val bytes = catalogTable("spec", "compact").snapshotAt(1)._2.map(_.sizeInBytes).sum
    // 32 B of UnsafeRow (null bits + three 8 B slots) + a 4 B offset
    assert(bytes / 10000.0 <= 40.0, s"$bytes B stored for 10,000 rows")
    assert(spark.table("graftcat.spec.compact").agg(sum("k"), sum("n")).as[(Long, Long)]
      .head() === ((49995000L, (0 until 10000).map(_ % 7).sum.toLong)))
  }

  test("MergeableCatalog bucketed table: every page holds rows of one bucket") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    val t = "graftcat.spec.bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.range(-50, 50).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .repartition(3).writeTo(t).append() // v1
    spark.range(-10, 60, 5).selectExpr("id AS k", "'m' AS v")
      .createOrReplaceTempView("spec_bucketed_src")
    spark.sql(
      s"""MERGE INTO $t t USING spec_bucketed_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v
          WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""") // v2
    val table = catalogTable("spec", "bucketed")
    for (v <- 1 to 2) {
      val pages = table.snapshotAt(v)._2
      assert(pages.map(_.bucket).toSet === (0 until 4).toSet, s"version $v")
      for (p <- pages; row <- p.rows(2))
        assert(Math.floorMod(row.getLong(0), 4L) === p.bucket.toLong,
          s"version $v: key ${row.getLong(0)} in a page of bucket ${p.bucket}")
    }
    val got = spark.table(t).as[(Long, String)].collect().toMap
    assert(got.size === 102 && got(-10L) === "m" && got(55L) === "m" && got(-49L) === "-49")
  }

  /** The pages version `v` of `table` adds over version v - 1, and the
    * bytes of the bitmaps it does not share with v - 1.
    */
  private def addedAt(table: graft.plans.MergeableMemTable, v: Int)
      : (Seq[graft.plans.LivePage], Long) = {
    val (prev, cur) = (table.snapshotAt(v - 1)._2, table.snapshotAt(v)._2)
    val prevIds = prev.map(_.id).toSet
    val prevBitmaps = prev.flatMap(p => Option(p.deleted)).toSet
    (cur.filterNot(p => prevIds(p.id)),
      cur.flatMap(p => Option(p.deleted)).filterNot(prevBitmaps).map(8L * _.length).sum)
  }

  test("MergeableCatalog delta writes: UPDATE, DELETE and MERGE store only the rows they change") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    val t = "graftcat.spec.delta"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE, n INT)")
    val n = 10240 // four seed pages of 2,560 rows
    spark.range(0, n, 1, 4)
      .selectExpr("id AS k", "id * 0.5 AS v", "CAST(id % 7 AS INT) AS n")
      .writeTo(t).append() // v1
    val table = catalogTable("spec", "delta")
    def keys(pages: Seq[graft.plans.LivePage]): Seq[Long] =
      pages.flatMap(_.rows(3).map(_.getLong(0))).sorted
    // UPDATE of k rows: one page set of the k new images, ≤ n/8 B of bitmap
    spark.sql(s"UPDATE $t SET v = -v, n = 99 WHERE k % 10 = 0") // v2
    val (upd, updBits) = addedAt(table, 2)
    val k = n / 10
    assert(keys(upd) === (0L until n by 10), "the UPDATE stores its rows and no other")
    assert(upd.map(_.sizeInBytes).sum <= 40L * k, s"${upd.map(_.sizeInBytes).sum} B for $k rows")
    assert(updBits > 0 && updBits <= n / 8, s"$updBits B of bitmap for $n rows")
    assert(table.snapshotAt(1)._2.map(_.page).forall(table.snapshotAt(2)._2.map(_.page).contains),
      "the seed pages are shared, not copied")
    // DELETE in one seed page: no page added, one bitmap copied
    spark.sql(s"DELETE FROM $t WHERE k >= 7680 AND k % 2 = 1") // v3
    val (del, delBits) = addedAt(table, 3)
    assert(del.isEmpty, "a DELETE adds no page")
    assert(delBits === 2560 / 8, "only the touched page's bitmap is new")
    assert(table.snapshotAt(3)._2.count(p => table.snapshotAt(2)._2.contains(p)) ===
      table.snapshotAt(2)._2.length - 1, "untouched pages and bitmaps are shared")
    // MERGE: 200 updates, 100 guarded deletes, 300 inserts
    spark.range(0, 300).selectExpr("id * 7 + 1 AS k", "CAST(id AS DOUBLE) AS v")
      .union(spark.range(n, n + 300).selectExpr("id AS k", "1.0 AS v"))
      .createOrReplaceTempView("spec_delta_src")
    spark.sql(
      s"""MERGE INTO $t t USING spec_delta_src s ON t.k = s.k
          WHEN MATCHED AND s.v >= 200 THEN DELETE
          WHEN MATCHED THEN UPDATE SET v = s.v, n = 7
          WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, 0)""") // v4
    val (merged, _) = addedAt(table, 4)
    assert(keys(merged) === ((0L until 200).map(_ * 7 + 1) ++ (n.toLong until n + 300L)).sorted,
      "the MERGE stores its updated and inserted rows and no other")
    val deleted = (7680L until n by 2).map(_ + 1).toSet ++ (200L until 300).map(_ * 7 + 1)
    val updated = (0L until 200).map(i => (i * 7 + 1) -> i.toDouble).toMap
    val expected = ((0L until n).filterNot(deleted).map { key =>
      key -> updated.getOrElse(key, if (key % 10 == 0) -key * 0.5 else key * 0.5)
    } ++ (n.toLong until n + 300L).map(_ -> 1.0)).sorted
    assert(spark.table(t).schema.fieldNames.toSeq === Seq("k", "v", "n"),
      "plain reads do not carry the row position")
    assert(spark.table(t).orderBy("k").select("k", "v").as[(Long, Double)].collect().toSeq
      === expected)
  }

  test("MergeableCatalog bucketed MERGE: each new page holds one bucket and only merged rows") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    val t = "graftcat.spec.bucketed_delta"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.range(-50, 50).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .repartition(3).writeTo(t).append() // v1
    spark.range(-10, 60, 5).selectExpr("id AS k", "'m' AS v")
      .createOrReplaceTempView("spec_bucketed_delta_src")
    spark.sql(
      s"""MERGE INTO $t t USING spec_bucketed_delta_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v
          WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""") // v2
    val table = catalogTable("spec", "bucketed_delta")
    val (added, _) = addedAt(table, 2)
    assert(added.nonEmpty)
    for (p <- added; row <- p.rows(2))
      assert(Math.floorMod(row.getLong(0), 4L) === p.bucket.toLong,
        s"key ${row.getLong(0)} in a new page of bucket ${p.bucket}")
    assert(added.flatMap(_.rows(2).map(_.getLong(0))).sorted === (-10L until 60 by 5),
      "the new pages hold the merged rows and no other")
    val got = spark.table(t).as[(Long, String)].collect().toMap
    assert(got.size === 102 && got(-10L) === "m" && got(55L) === "m" && got(-49L) === "-49")
  }

  test("configValue precedence: SparkConf beats env beats default") {
    val env = Map("GRAFT_TEST_KNOB" -> "from-env")
    spark.conf.set("spark.graft.test.knob", "from-conf")
    try
      assert(EtlOps.configValue(spark, "test.knob", "dflt", env) === "from-conf")
    finally spark.conf.unset("spark.graft.test.knob")
    assert(EtlOps.configValue(spark, "test.knob", "dflt", env) === "from-env")
    assert(EtlOps.configValue(spark, "test.knob", "dflt", Map.empty) === "dflt")
  }

  test("configValue reads a .env file; env var and conf still win over it") {
    val f = java.nio.file.Files.createTempFile("graft_dotenv", ".env")
    java.nio.file.Files.writeString(f,
      """# connector settings
        |GRAFT_TEST_KNOB = from-file
        |GRAFT_QUOTED="  padded value  "
        |GRAFT_SINGLE='single'
        |malformed line without equals
        |=no-key
        |GRAFT_DUP=first
        |GRAFT_DUP=second
        |""".stripMargin)
    val fileEnv = Map("GRAFT_ENV_FILE" -> f.toString)
    try {
      // .env layer resolves when conf and env lack the key
      assert(EtlOps.configValue(spark, "test.knob", "dflt", fileEnv) === "from-file")
      // quotes stripped, inner whitespace kept; later duplicate wins
      assert(EtlOps.configValue(spark, "quoted", "d", fileEnv) === "  padded value  ")
      assert(EtlOps.configValue(spark, "single", "d", fileEnv) === "single")
      assert(EtlOps.configValue(spark, "dup", "d", fileEnv) === "second")
      // malformed lines are skipped, not fatal; absent keys fall through
      assert(EtlOps.configValue(spark, "missing.key", "d", fileEnv) === "d")
      // a real env var beats the file
      assert(EtlOps.configValue(spark, "test.knob", "dflt",
        fileEnv + ("GRAFT_TEST_KNOB" -> "from-env")) === "from-env")
      // conf beats everything
      spark.conf.set("spark.graft.test.knob", "from-conf")
      try assert(EtlOps.configValue(spark, "test.knob", "dflt", fileEnv) === "from-conf")
      finally spark.conf.unset("spark.graft.test.knob")
      // conf can also point at the file (no env var involved)
      spark.conf.set("spark.graft.env.file", f.toString)
      try assert(EtlOps.configValue(spark, "test.knob", "dflt", Map.empty) === "from-file")
      finally spark.conf.unset("spark.graft.env.file")
      // unreadable path degrades to empty layer
      assert(EtlOps.configValue(spark, "test.knob", "dflt",
        Map("GRAFT_ENV_FILE" -> "/nonexistent/.env")) === "dflt")
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("source_env_config: conf-driven page count re-shards without changing the data") {
    val clean = EtlOps.sourceApiPaginated(spark, sf0001).collect().toSeq
    spark.conf.set("spark.graft.pages.count", "3")
    try {
      val got = EtlOps.sourceConfigured(spark, sf0001).collect().toSeq
      assert(got === clean, "page-count config changed the aggregated data")
    } finally spark.conf.unset("spark.graft.pages.count")
    // and the default path (no conf set) agrees too
    assert(EtlOps.sourceConfigured(spark, sf0001).collect().toSeq === clean)
  }

  test("zorder16 is the Morton interleave of the binned dimensions") {
    def morton(u: Long, v: Double): Int = {
      val ub = math.min((u / 8).toInt, 255)
      val vb = math.min((v / 4).toInt, 255)
      (0 until 8).map { b =>
        (((ub >> b) & 1) << (2 * b + 1)) | (((vb >> b) & 1) << (2 * b))
      }.sum
    }
    val rows = Seq((0L, 0.0), (7L, 3.9), (8L, 4.0), (123L, 250.5),
      (2047L, 1020.0), (99999L, 99999.0))
    val got = rows.toDF("u", "v")
      .select(EtlOps.zorder16(col("u"), col("v")).cast("int")).as[Int]
      .collect().toSeq
    assert(got === rows.map { case (u, v) => morton(u, v) })
    // both dims clamp to 8 bits: the key never exceeds 16 bits
    assert(got.last === 0xFFFF)
  }

  test("sink_zorder layout: a 2-D box touches fewer files than a hash layout") {
    // uniform spread over both dims so every hash-laid file spans the
    // full range of each
    val df = spark.range(1 << 14).select(
      (col("id") % 2048).as("user_id"),
      (col("id") * 997 % 1021).cast("double").as("value"))
    val zdir = java.nio.file.Files.createTempDirectory("graft_zspec").toString
    val hdir = java.nio.file.Files.createTempDirectory("graft_hspec").toString
    df.withColumn("z", EtlOps.zorder16(col("user_id"), col("value")))
      .repartitionByRange(16, col("z")).sortWithinPartitions("z")
      .drop("z").write.mode("overwrite").parquet(zdir)
    df.repartition(16, col("user_id")).write.mode("overwrite").parquet(hdir)
    // per-file min/max boxes (the information parquet footer stats carry)
    // that intersect the query box user_id [256,320] x value [100,200)
    def filesTouched(dir: String): Long =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("user_id").as("umin"), max("user_id").as("umax"),
          min("value").as("vmin"), max("value").as("vmax"))
        .filter(col("umin") <= 320 && col("umax") >= 256 &&
          col("vmin") < 200.0 && col("vmax") >= 100.0)
        .count()
    val (z, h) = (filesTouched(zdir), filesTouched(hdir))
    assert(h === 16, s"hash layout should leave every file un-prunable, got $h")
    assert(z <= h / 4, s"z-order pruned to $z of $h files — expected <= ${h / 4}")
  }

  test("sink_zorder audit equals the same box aggregate on the raw table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val expected = spark.read.parquet(s"$sf0001/events.parquet")
      .filter(col("user_id").between(4, 11) &&
        col("value") >= 100.0 && col("value") < 150.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy("event_type").collect().toSeq
    val got = EtlOps.sinkZorder(spark, sf0001).collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty, "box query must select rows at sf0.001")
  }

  test("withRetry: backoff is exponential and sleeps only between failed attempts") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val got = EtlOps.withRetry(maxAttempts = 4, backoffMs = 100L,
        sleeper = sleeps += _) { attempt =>
      calls += 1
      if (attempt < 4) throw new RuntimeException(s"simulated 429 attempt $attempt")
      "ok"
    }
    assert(got === "ok")
    assert(calls === 4)
    // doubling per failed attempt; no sleep before attempt 1 or after success
    assert(sleeps.toSeq === Seq(100L, 200L, 400L))
    sleeps.clear()
    EtlOps.withRetry(maxAttempts = 3, backoffMs = 100L, sleeper = sleeps += _)(_ => "ok")
    assert(sleeps.isEmpty, "first-attempt success must not sleep")
    // a poisoned fetch spends maxAttempts-1 backoffs, then propagates
    intercept[RuntimeException] {
      EtlOps.withRetry(maxAttempts = 3, backoffMs = 50L, sleeper = sleeps += _) { _ =>
        throw new RuntimeException("permanent 429")
      }
    }
    assert(sleeps.toSeq === Seq(50L, 100L))
  }

  test("withRetry: poisoned page fails the job after maxAttempts, never skips") {
    var calls = 0
    val e = intercept[RuntimeException] {
      EtlOps.withRetry(maxAttempts = 3) { _ =>
        calls += 1
        throw new RuntimeException("permanent 503")
      }
    }
    assert(e.getMessage === "permanent 503")
    assert(calls === 3) // all attempts spent, then the failure PROPAGATES
  }

  test("source_api_retry equals the clean paginated read (no loss, no dupes)") {
    val clean = EtlOps.sourceApiPaginated(spark, sf0001).collect().toSeq
    val retried = EtlOps.sourceApiRetry(spark, sf0001).collect().toSeq
    assert(retried === clean)
  }

  test("scan_json_corrupt: bad rows quarantined with payload, good rows typed") {
    val out = EtlOps.scanJsonCorrupt(spark, sf0001).cache()
    val quarantined = out.filter(col("quarantined"))
    val good = out.filter(!col("quarantined"))
    // every quarantined row keeps its raw payload and has no typed fields
    assert(quarantined.filter(col("raw").isNull || col("n_nationkey").isNotNull).count() === 0)
    // every good row is fully typed with no raw payload
    assert(good.filter(col("n_nationkey").isNull || col("raw").isNotNull).count() === 0)
    // nothing silently dropped: 25 nations -> 5 corrupt + 20 good
    assert(quarantined.count() === 5)
    assert(good.count() === 20)
    out.unpersist()
  }

  test("sink_compact: fragments collapse to <= 4 files, data intact") {
    val row = EtlOps.sinkCompact(spark, sf0001).collect()(0)
    assert(row.getBoolean(3), "compacted flag false: output file count above target")
    val expected = spark.read.parquet(s"$sf0001/orders.parquet").count()
    assert(row.getLong(0) === expected, "compaction lost or duplicated rows")
    def parquetFiles(tag: String): Int =
      Option(Materialize.scratchPath(sf0001, tag).toFile.listFiles())
        .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(parquetFiles("orders_frag") > 16, "fragmented input not actually fragmented")
    assert(parquetFiles("orders_compact") <= 4)
  }

  test("sink_scd2: overlapping keys keep both versions, exactly one current per key") {
    val hist = EtlOps.sinkScd2(spark, sf0001).cache()
    // keys divisible by 6 are in both loads -> exactly 2 versions, the
    // load-1 row closed by load 2, the load-2 row current
    val overlap = hist.filter(col("o_orderkey") % 6 === 0)
    assert(overlap.filter(col("valid_from") === 1 &&
      (col("valid_to") =!= 2 || col("is_current"))).count() === 0)
    assert(overlap.filter(col("valid_from") === 2 &&
      (col("valid_to").isNotNull || !col("is_current"))).count() === 0)
    // every key has exactly one current version
    val badKeys = hist.groupBy("o_orderkey")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_cur"))
      .filter(col("n_cur") =!= 1).count()
    assert(badKeys === 0)
    hist.unpersist()
  }

  test("sink_raw_append accumulates: every key loaded exactly twice, all stamped") {
    val out = EtlOps.sinkRawAppend(spark, sf0001)
    val bad = out.filter(col("n_loads") =!= 2 || col("n_stamped") =!= 2).count()
    assert(bad === 0)
    assert(out.count() > 0)
  }

  test("sink_upsert: load-2 rows win on overlapping keys, others retain load 1") {
    val up = EtlOps.sinkUpsert(spark, sf0001).cache()
    // keys divisible by 6 are in both loads -> load_id 2 must win
    assert(up.filter(col("o_orderkey") % 6 === 0 && col("load_id") =!= 2).count() === 0)
    // keys divisible by 2 but not 3 exist only in load 1
    assert(up.filter(col("o_orderkey") % 2 === 0 && col("o_orderkey") % 3 =!= 0 &&
      col("load_id") =!= 1).count() === 0)
    // one row per key
    assert(up.groupBy("o_orderkey").count().filter(col("count") > 1).count() === 0)
    up.unpersist()
  }

  test("text_fingerprint is order-sensitive: same bag, different order, different hash") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"), // same tokens, reversed
      (3L, "alpha beta gamma delta")) // identical to 1
      .toDF("doc_id", "text")
    val fp = TextOps.textFingerprint(docs)
      .select("doc_id", "fingerprint").as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(3L), "identical docs must fingerprint equal")
    assert(fp(1L) !== fp(2L), "reordered doc must fingerprint differently")
  }

  test("text_quality score stays within [0, 1] on the corpus") {
    val q = TextOps.textQuality(Tables.documents(spark, sf0001))
    assert(q.filter(col("quality") < 0 || col("quality") > 1).count() === 0)
    assert(q.filter(col("alpha_ratio") < 0 || col("alpha_ratio") > 1).count() === 0)
  }

  test("text_repetition: hand-computed dup fractions, short docs never divide by zero") {
    val docs = Seq(
      (1L, "a a a a"),             // 4 words/1 distinct; bigrams 3/1; trigrams 2/1
      (2L, "w x y z"),             // no repetition at any width
      (3L, "solo"),                // too short for any gram
      (4L, "to be or not to be"))  // 6/4 words; bigrams 5/4; trigrams 4/4
      .toDF("doc_id", "text")
    val got = TextOps.textRepetition(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) === ((4, 0.75, 0.6667, 0.5)))
    assert(got(2L) === ((4, 0.0, 0.0, 0.0)))
    assert(got(3L) === ((1, 0.0, 0.0, 0.0)))
    assert(got(4L) === ((6, 0.3333, 0.2, 0.0)))
  }

  test("text_repetition fractions stay within [0, 1] on the corpus") {
    val r = TextOps.textRepetition(Tables.documents(spark, sf0001))
    for (c <- Seq("dup_word_frac", "dup_bigram_frac", "dup_trigram_frac"))
      assert(r.filter(col(c) < 0 || col(c) > 1).count() === 0, s"$c out of range")
  }

  test("text_langid breaks score ties deterministically (larger code wins)") {
    // 'de' appears in both the es ('de' is an es marker too) and zh marker
    // sets; a doc of only 'de' ties es/zh/de-marker scores — struct max
    // must resolve to the lexicographically largest code among the tied
    val docs = Seq((1L, "de de de", "xx")).toDF("doc_id", "text", "lang")
    val pred = TextOps.textLangid(docs).select("lang_pred").as[String].head()
    assert(pred === "zh") // es, fr(no), zh all score 1 via 'de'; zh sorts last
  }

  test("text_novelty: a verbatim copy scores zero; a half-new doc splits exactly") {
    val docs = Seq(
      (1L, "a b c d e"),          // 3 grams, all first-seen → ppm 1e6
      (2L, "a b c d e"),          // verbatim copy → 0 novel
      (3L, "a b c x y z")         // grams: abc (seen), bcx, cxy, xyz → 3/4
    ).toDF("doc_id", "text")
    val got = TextOps.textNovelty(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === ((3L, 3L, 1000000L)))
    assert(got(2L) === ((3L, 0L, 0L)))
    assert(got(3L) === ((4L, 3L, 750000L)))
  }

  test("text_langid_confusion: planted marker docs land on the diagonal; mislabels off it") {
    val docs = Seq(
      (1L, "the and of something", "en"), (2L, "the and of more", "en"),
      (3L, "der die und was", "de"),
      // labeled en but written in de markers — must land in the
      // (en, de) off-diagonal cell, which is the audit's whole point
      (4L, "der die und nicht", "en")
    ).toDF("doc_id", "text", "lang")
    val cells = TextOps.textLangidConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getInt(3))))
      .toMap
    assert(cells(("en", "en")) === ((2L, 1)))
    assert(cells(("de", "de")) === ((1L, 1)))
    assert(cells(("en", "de")) === ((1L, 0)))
    assert(cells.size === 3)
  }

  test("fn_json yields nulls (not errors) for missing keys and malformed JSON") {
    val ev = Seq(
      (1L, """{"k": 5}"""),
      (2L, """{"other": 1}"""),
      (3L, "not json at all"))
      .toDF("event_id", "props")
    val out = graft.functions.FuncOps.jsonFns(ev).orderBy("event_id").collect()
    assert(out(0).getAs[Int]("k_int") === 5)
    assert(out(1).isNullAt(out(1).fieldIndex("k_int")))
    assert(out(2).isNullAt(out(2).fieldIndex("k_int")))
  }

  test("scan_json re-types inferred columns losslessly") {
    val out = EtlOps.scanJson(spark, sf0001)
    val orig = Tables.nation(spark, sf0001)
      .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
    assert(out.count() === orig.count())
    assert(out.exceptAll(orig).isEmpty && orig.exceptAll(out).isEmpty)
  }

  test("scan_observed: in-flight metrics equal an independent recomputation of the raw feed") {
    val obs = org.apache.spark.sql.Observation("load_audit_spec")
    EtlOps.scanObservedWith(spark, sf0001, obs).count() // any action completes the observation
    val raw = spark.read.parquet(s"$sf0001/orders.parquet")
    val expect = raw.agg(
      count(lit(1)), round(sum(col("o_totalprice")), 2),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L))).head()
    assert(obs.get("rows_loaded") === expect.getLong(0), s"rows: ${obs.get}")
    assert(obs.get("value_loaded") === expect.getDouble(1), s"value: ${obs.get}")
    assert(obs.get("null_keys") === expect.getLong(2), s"nulls: ${obs.get}")
    // metrics describe the feed BEFORE cleaning: the observed row count
    // must cover rows the price filter then drops (raw >= cleaned)
    assert(expect.getLong(0) >= EtlOps.scanObserved(spark, sf0001).count())
  }
}
