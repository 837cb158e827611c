package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** Streaming semantics that the oracle cannot pin down: watermark
  * late-data dropping (micro-batch dependent) and append-prefix behavior.
  * Batch-equivalence of the deterministic streaming ops is already
  * enforced by their DuckDB oracles.
  */
class StreamSpec extends SparkTestBase {
  import spark.implicits._

  test("maxFilesPerTrigger throttles a backlog into one-file micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_throttle_spec").toString
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"t$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val q = spark.readStream
      .schema("id BIGINT, v STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream.format("memory").queryName("graft_throttle")
      .outputMode("append").start()
    q.processAllAvailable()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(spark.table("graft_throttle").count() === 3, "throttling lost rows")
    assert(dataBatches >= 3, s"3-file backlog drained in $dataBatches batches, expected one per file")
  }

  test("stream_watermark output is a subset of the tumbling (complete) result") {
    val sealed_ = StreamOps.streamWatermark(spark, sf0001)
      .as[(Long, String, Long)].collect().toSet
    val all = StreamOps.streamTumbling(spark, sf0001)
      .as[(Long, String, Long)].collect().toSet
    assert(sealed_.nonEmpty, "watermark run emitted nothing at sf0.001")
    assert(sealed_.subsetOf(all), "sealed windows disagree with tumbling counts")
  }

  test("watermark drops late rows beyond the bound across micro-batches") {
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark, 1)
    val counts = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "10 seconds"))
      .count()
    val q = counts.writeStream.format("memory")
      .queryName("graft_wm_test").outputMode("append").start()
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    input.addData((t(5), 1L), (t(8), 2L))     // window [0,10)
    q.processAllAvailable()
    input.addData((t(100), 3L))               // advances watermark to 90 -> seals [0,10)
    q.processAllAvailable()
    input.addData((t(7), 4L))                 // LATE: before watermark, must be dropped
    q.processAllAvailable()
    input.addData((t(200), 5L))               // seals [100,110)
    q.processAllAvailable()
    q.stop()
    val out = spark.table("graft_wm_test")
      .select(unix_micros(col("window.start")).divide(lit(1000000L)).cast("long"), col("count"))
      .as[(Long, Long)].collect().toMap
    assert(out(0L) === 2L, s"late row leaked into sealed window: $out")
    assert(out(100L) === 1L)
  }

  test("stream_timer_sessions: gap seals inline, the timer seals the trailing session, unsealed stays back") {
    import graft.streaming.StreamOps
    spark.conf.set( // transformWithState requires the RocksDB store
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark, 1)
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val evs = input.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 seconds")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[StreamOps.EvT]
    val q = StreamOps.timerSessionsOf(evs, gapUs = 20L * 1000000L)
      .toDF().writeStream.format("memory")
      .queryName("graft_timer_sess_test").outputMode("append").start()
    // batch 1: session A (0,5) gap-sealed inline once 100 opens B
    input.addData((t(0), 1L), (t(5), 1L), (t(100), 1L))
    q.processAllAvailable()
    // batch 2: 110 EXTENDS open B across the batch boundary (no split);
    // 300 gap-seals B inline and opens C (timer at 320)
    input.addData((t(110), 1L), (t(300), 1L))
    q.processAllAvailable()
    // batch 3: user 2 at 500 pushes the watermark to 490 > 320 → C's
    // timer fires; user 2's own trailing session (timer 520) stays open
    input.addData((t(500), 2L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("graft_timer_sess_test")
      .select(col("user_id"), col("session_start_s"), col("n_events"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(out === Seq((1L, 0L, 2L), (1L, 100L, 2L), (1L, 300L, 1L)),
      s"got $out")
  }

  test("stream_recent_events: ListState buffer survives batches, keeps exactly the top-5") {
    import graft.streaming.StreamOps
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, Long, Long)](spark, 1)
    val evs = input.toDF().toDF("user_id", "event_id", "ts_us")
      .as[StreamOps.EvIdT]
    val q = StreamOps.recentEventsOf(evs).toDF()
      .writeStream.format("memory")
      .queryName("graft_recent_test").outputMode("update").start()
    // batch 1: events 1..4 (ts = id); batch 2: 5..7 — the buffer must
    // carry 3,4 across the batch boundary and evict 1,2
    input.addData((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L), (1L, 4L, 4L))
    q.processAllAvailable()
    input.addData((1L, 5L, 5L), (1L, 6L, 6L), (1L, 7L, 7L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("graft_recent_test")
      .as[(Long, Long, String)].collect().sortBy(_._2)
    assert(rows.last === ((1L, 7L, "7,6,5,4,3")),
      s"final state wrong: ${rows.toSeq}")
    assert(rows.head === ((1L, 4L, "4,3,2,1")), s"batch-1 state: ${rows.toSeq}")
  }

  test("stream_type_counts: MapState counters accumulate across batches per key") {
    import graft.streaming.StreamOps
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, String)](spark, 1)
    val evs = input.toDF().toDF("user_id", "event_type").as[StreamOps.EvTypeT]
    val q = StreamOps.typeCountsOf(evs).toDF()
      .writeStream.format("memory")
      .queryName("graft_typecount_test").outputMode("update").start()
    input.addData((1L, "click"), (1L, "click"), (1L, "view"))
    q.processAllAvailable()
    input.addData((1L, "click"), (2L, "view"))
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("graft_typecount_test")
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(fin === Seq((1L, "click", 3L), (1L, "view", 1L), (2L, "view", 1L)),
      s"got $fin")
  }

  test("streaming dedup of a doubled log equals single-copy counts") {
    val out = StreamOps.streamDedup(spark, sf0001)
      .select(col("event_type"), col("n")).as[(String, Long)].collect().toMap
    val batch = Tables.events(spark, sf0001)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(out === batch)
  }

  test("stream_dedup_near: pairs form across micro-batches, equal the batch LSH replay") {
    val out = StreamOps.streamDedupNear(spark, sf0001)
      .as[(Long, Long, Int)].collect().toSet
    assert(out.nonEmpty, "fixture must produce near-dup pairs")
    // batch replay of the streaming state machine IN SPARK (independent
    // of the DuckDB oracle): first-64-by-id bucket members, in-bucket
    // pairs at >= 20/32 matching signature slots
    graft.plans.TextKernels.register(spark)
    graft.plans.MinHashSig.register(spark)
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val m = docs.withColumn("mh",
      graft.plans.MinHashSig.minhashSig(
        graft.plans.TextKernels.shingleSet(col("text"))))
    val bm = m.select(col("doc_id"), col("mh"),
        graft.operators.LlmOps.lshBands(col("mh")).as("bs"))
      .select(col("doc_id"), col("mh"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("band", "sig").orderBy("doc_id")))
      .filter(col("rn") <= graft.operators.LlmOps.LshMaxBucket)
    val nMatch = aggregate(
      zip_with(col("a.mh"), col("c.mh"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, z) => acc + z)
    val expect = bm.as("a").join(bm.as("c"),
        col("a.band") === col("c.band") && col("a.sig") === col("c.sig") &&
          col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"),
        nMatch.as("n_match"))
      .filter(col("n_match") >= 20)
      .groupBy("doc_a", "doc_b").agg(max("n_match").as("n_match"))
      .as[(Long, Long, Int)].collect().toSet
    assert(out === expect,
      s"stream pairs != batch replay: onlyStream=${(out -- expect).take(3)} " +
        s"onlyBatch=${(expect -- out).take(3)}")
    // the staging splits the corpus into 4 id-ranged micro-batches;
    // pairs spanning DIFFERENT quarters prove the LSH index lives in
    // state across batch boundaries (18/28 pairs cross at this SF)
    val n = docs.count()
    val ranks = docs.select(col("doc_id"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
      .as[(Long, Int)].collect().toMap
    def quarter(d: Long): Long = math.min(3L, (ranks(d) - 1L) * 4 / n)
    assert(out.exists(p => quarter(p._1) != quarter(p._2)),
      "no pair crossed a micro-batch boundary — state did not persist")
  }

  test("stream_dedup_near_verified: exact-Jaccard reconciliation flags a signature-only false positive") {
    // Crafted pair (searched offline over the exact shingle/minhash/band
    // kernels): 22/32 minhash slots match AND a full LSH band collides,
    // so the streaming form emits it on signature evidence — but the
    // true 3-shingle Jaccard is 5/9 ≈ 0.5556 < 0.6. The reconciliation
    // pass must surface it with verified = 0.
    val fpA = "golf delta sierra yankee one papa kilo uniform uniform"
    val fpB = "golf delta sierra yankee one papa kilo seven uniform"
    val dupA = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, fpA), (2L, dupA), (3L, fpB), (4L, dupA),
      (5L, "completely unrelated filler text one two"),
      (6L, "another unrelated document with different words entirely"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_sdnv").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = StreamOps.streamDedupNearVerified(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getDouble(3), r.getInt(4)))).toMap
    val fp = out((1L, 3L))
    assert(fp._1 >= 20, s"crafted pair must carry signature evidence: $fp")
    assert(fp._2 < 0.6 && fp._3 === 0,
      s"signature-only false positive must be flagged verified=0: $fp")
    // the quartered staging puts docs 1 and 3 in DIFFERENT micro-batches,
    // so the flagged pair also proves cross-batch state; the identical
    // pair (2,4) is the control: full signature match AND exact match
    val dup = out((2L, 4L))
    assert(dup._1 === 32 && dup._2 === 1.0 && dup._3 === 1,
      s"true duplicate must verify: $dup")
  }

  test("stream_recovery: resume neither loses nor re-emits; idle restart is a no-op") {
    val base = StreamOps.streamRecovery(spark, sf0001).collect().toSeq
    // no duplicates: distinct ids == rows in every group
    base.foreach(r => assert(r.getLong(2) === r.getLong(1),
      s"recovery re-emitted committed rows: $r"))
    // no loss: per-type totals equal the batch table's
    val batch = Tables.events(spark, sf0001)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(base.map(r => r.getString(0) -> r.getLong(1)).toMap === batch)
    // two more restarts with no new data must not change the sink
    val redo = StreamOps.streamRecovery(spark, sf0001, extraRuns = 2).collect().toSeq
    assert(redo === base)
  }

  test("stream_upsert: multi-batch foreachBatch merge equals the one-pass batch argmax") {
    val out = StreamOps.streamUpsert(spark, sf0001).collect().toSeq
    // latest-wins over the (ts, event_id) total order, computed in one
    // batch pass — the stream merged it across >= 2 micro-batches
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    val batch = Tables.events(spark, sf0001)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        unix_micros(col("ts")).as("last_ts_us"), col("event_type").as("last_type"))
      .orderBy("user_id").collect().toSeq
    assert(out === batch)
    // one row per user, total users preserved
    val nUsers = Tables.events(spark, sf0001).select("user_id").distinct().count()
    assert(out.size.toLong === nUsers)
  }

  test("stream_merge: per-batch MERGE equals the whole-log CDC apply") {
    val out = StreamOps.streamMerge(spark, sf0001)
      .as[(Long, Double, Long)].collect().toSeq
    val whole = graft.sources.EtlOps.sinkCdcApply(Tables.events(spark, sf0001))
      .as[(Long, Double, Long)].collect().toSeq
    // the stream applied >= 2 parity-split (NOT time-ordered) batches;
    // tombstone retention makes the result batch-boundary-independent
    assert(out === whole)
  }

  test("stream_ann_ingest: store is cell-partitioned; totals survive the stream") {
    val out = graft.operators.SimOps.streamAnnIngest(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val total = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(out.map(_._2).sum === total, "every streamed vector must land in a cell")
    assert(out.map(_._1).distinct.size === out.size, "one row per cell")
    // the store layout IS the index: cell=N directories on disk
    val store = Materialize.scratchPath(sf0001, "ann_ingest_store")
    val dirs = java.nio.file.Files.list(store).iterator()
    val cellDirs = Iterator.continually(dirs)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString)
      .count(_.startsWith("cell="))
    assert(cellDirs === out.size, s"expected ${out.size} cell= partitions, got $cellDirs")
  }

  test("stream_ann_search: every query answers itself first; hits stay inside probed cells") {
    val out = graft.operators.SimOps.streamAnnSearch(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // 8 queries x top-10, contiguous ranks per query
    assert(out.map(_._1).distinct.sorted === (0L to 7L), s"queries: ${out.map(_._1).distinct}")
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted === (1L to 10L), s"query $q ranks: ${rows.map(_._2)}")
      // the query vector is in the corpus, its own cell is always probed
      // (ccos(self, cell) is maximal among... its assigned cell is its
      // nearest centroid, which is also its top probe) => rank 1 = self
      val r1 = rows.find(_._2 == 1L).get
      assert(r1._3 === q && r1._4 === 1.0, s"query $q rank-1 must be itself: $r1")
    }
    // pruning is real: every returned hit's stored cell is one of its
    // query's 4 probes (recomputed here from the same frozen codebook)
    import org.apache.spark.sql.functions._
    val all = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = all.filter(col("vec_id") < 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val vecs = all.filter(col("vec_id") < 8 || col("vec_id").isin(out.map(_._3): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def nearestCells(v: Array[Double], n: Int): Seq[Long] = cents.toSeq
      .map { case (cid, cv) =>
        (BigDecimal(cos(v, cv)).setScale(9, BigDecimal.RoundingMode.HALF_UP), cid) }
      .sortBy { case (c, cid) => (-c, cid) }.take(n).map(_._2)
    out.foreach { case (q, _, hit, _) =>
      val probes = nearestCells(vecs(q), 4)
      val hitCell = nearestCells(vecs(hit), 1).head
      assert(probes.contains(hitCell),
        s"query $q hit $hit lives in cell $hitCell outside probes $probes")
    }
  }

  test("stream_state_inspect: batch-0 state is exactly half the backlog; final state is the full aggregate") {
    val out = StreamOps.streamStateInspect(spark, sf0001)
      .as[(String, Long, Long)].collect().toSeq
    import org.apache.spark.sql.functions._
    def agg(half: Option[Int]) = {
      val e = spark.read.parquet(s"$sf0001/events.parquet")
      half.fold(e)(h => e.filter(pmod(col("event_id"), lit(2)) === h))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("total"))
        .orderBy("event_type")
        .as[(String, Long, Long)].collect().toSeq
    }
    assert(out === agg(None), "final state must equal the full batch aggregate")
    // the state data source can open ANY committed batch: batch 0 saw
    // only the first staged half — proof the inspection reads true
    // INTERMEDIATE state, not a replay of the input
    val ckpt = Materialize.scratchPath(sf0001, "state_inspect_ckpt").toString
    val b0 = spark.read.format("statestore").option("batchId", 0).load(ckpt)
      .select(col("key.event_type"), col("value.count"), col("value.sum"))
      .orderBy("event_type")
      .as[(String, Long, Long)].collect().toSeq
    assert(b0 === agg(Some(0)), "batch-0 state must be exactly the first half")
  }

  test("stream_merge tombstones: a delete survives an older upsert arriving later") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.plans.MergeableCatalog")
    spark.sql("DROP TABLE IF EXISTS graftcat.spec.cdc")
    spark.sql("""CREATE TABLE graftcat.spec.cdc (
      user_id BIGINT, value DOUBLE, ts_us BIGINT, event_id BIGINT, op STRING)""")
    def mergeBatch(rows: Seq[(Long, Double, Long, Long, String)]): Unit = {
      rows.toDF("user_id", "value", "ts_us", "event_id", "op")
        .createOrReplaceTempView("cdc_batch")
      spark.sql("""MERGE INTO graftcat.spec.cdc t USING cdc_batch s
        ON t.user_id = s.user_id
        WHEN MATCHED AND (s.ts_us > t.ts_us OR
          (s.ts_us = t.ts_us AND s.event_id > t.event_id))
          THEN UPDATE SET value = s.value, ts_us = s.ts_us,
            event_id = s.event_id, op = s.op
        WHEN NOT MATCHED THEN INSERT (user_id, value, ts_us, event_id, op)
          VALUES (s.user_id, s.value, s.ts_us, s.event_id, s.op)""")
    }
    // batch 1: the DELETE (newest op for user 1) arrives FIRST
    mergeBatch(Seq((1L, 0.0, 100L, 10L, "D"), (2L, 5.0, 50L, 11L, "U")))
    // batch 2: an OLDER out-of-order upsert for user 1 arrives later —
    // without the tombstone it would wrongly resurrect the key
    mergeBatch(Seq((1L, 9.0, 90L, 9L, "U"), (2L, 7.0, 60L, 12L, "U")))
    val state = spark.table("graftcat.spec.cdc")
      .filter(col("op") =!= "D")
      .select("user_id", "value").as[(Long, Double)].collect().toSeq.sorted
    assert(state === Seq((2L, 7.0)), s"user 1 must stay deleted, got $state")
  }

  test("stream_outer_join: emits null-extended rows AND matched rows in the sealed region") {
    val out = StreamOps.streamOuterJoin(spark, sf0001).cache()
    val nNull = out.filter(col("click_id").isNull).count()
    val nMatched = out.filter(col("click_id").isNotNull).count()
    assert(nNull > 0, "outer part is vacuous: every purchase had a click")
    assert(nMatched > 0, "join part is vacuous: no purchase matched any click")
    // matched subset must equal the inner stream-stream join on the same region
    val inner = StreamOps.streamStreamJoin(spark, sf0001)
      .join(out.filter(col("click_id").isNull).select(col("purchase_id")),
        Seq("purchase_id"), "left_semi").count()
    assert(inner === 0, "a purchase cannot be both matched and null-extended")
    out.unpersist()
  }

  test("state-shard rule: tracks state size across regimes, monotone, capped") {
    // tuned regime (sf0.1-scale state, ~10^3..10^5 keys): the rule must
    // reproduce the measured-best constant 4 — the value the round-7
    // timings were taken at
    assert(StreamOps.stateShardsFor(1000) === 4)
    assert(StreamOps.stateShardsFor(60000) === 4)
    // 100x-state regime: shards GROW with keys (per-shard state stays
    // ~keysPerShard), so the shard-count-misfit cliff cannot return
    assert(StreamOps.stateShardsFor(25_000_000L) === 100)
    assert(StreamOps.stateShardsFor(1_000_000_000L) === 4000)
    // bounded above: delta-file commit overhead is linear in shards
    assert(StreamOps.stateShardsFor(10_000_000_000L) === 4096)
    // the keysPerShard parameter rescales the whole curve
    assert(StreamOps.stateShardsFor(1_000_000L, keysPerShard = 100_000L) === 10)
    // monotone in estimated keys (sampled)
    val samples = Seq(1L, 100L, 10_000L, 1_000_000L, 50_000_000L,
      2_000_000_000L, 20_000_000_000L)
    val shards = samples.map(StreamOps.stateShardsFor(_))
    assert(shards === shards.sorted, s"rule not monotone: $shards")
  }

  test("stageSlices: one file per slice, rows equal the slice filter, mtimes in slice order") {
    import scala.jdk.CollectionConverters._
    // duplicate (k, v) rows, so the per-file compare is a multiset compare
    val df = spark.range(0, 60)
      .select((col("id") % 10).as("k"), (col("id") % 2).cast("string").as("v"))
    val n = 3
    val sliceCol = col("k") % n
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stage_slices_spec")
    StreamOps.stageSlices(df, sliceCol, n, "stage_slices_spec", "spec", srcDir,
      prefix = "part")
    val names = {
      val s = java.nio.file.Files.list(srcDir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    assert(names === (0 until n).map(i => s"part-$i.parquet").toSet)
    def rows(frame: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      frame.as[(Long, String)].collect().toSeq.sorted
    val mtimes = (0 until n).map { i =>
      val f = srcDir.resolve(s"part-$i.parquet")
      assert(rows(spark.read.parquet(f.toString)) === rows(df.filter(sliceCol === i)),
        s"slice $i rows differ from df.filter(sliceCol === $i)")
      java.nio.file.Files.getLastModifiedTime(f).toMillis
    }
    assert(mtimes.sliding(2).forall { case Seq(a, b) => a < b },
      s"mtimes not strictly increasing in slice order: $mtimes")
    // a slice value outside [0, n) fails instead of being dropped
    val badDir = java.nio.file.Files.createTempDirectory("graft_stage_slices_spec_bad")
    val err = intercept[IllegalArgumentException] {
      StreamOps.stageSlices(df, col("k") % (n + 1), n, "stage_slices_spec", "spec_bad",
        badDir, prefix = "part")
    }
    assert(err.getMessage.contains(s"outside [0, $n)"), err.getMessage)
  }

  test("stream_anomaly output is bit-identical to the batch detector") {
    val streamed = StreamOps.streamAnomaly(spark, sf0001).collect().toSeq
    val batch = graft.operators.QualityOps.qualityAnomaly(
      Tables.events(spark, sf0001)).collect().toSeq
    assert(streamed === batch,
      "incremental histogram + shared scorer must equal the batch entry")
  }

  test("stream_seasonal output is bit-identical to the batch decomposition") {
    val streamed = StreamOps.streamSeasonal(spark, sf0001).collect().toSeq
    val batch = graft.operators.QualityOps.tsSeasonalDecompose(
      Tables.events(spark, sf0001)).collect().toSeq
    assert(streamed === batch,
      "incremental histogram + shared kernel must equal the batch entry")
  }

  test("stream_cusum output is bit-identical to the batch detector") {
    val streamed = StreamOps.streamCusum(spark, sf0001).collect().toSeq
    val batch = graft.operators.QualityOps.qualityCusum(
      Tables.events(spark, sf0001)).collect().toSeq
    assert(streamed === batch,
      "incremental histogram + shared CUSUM kernel must equal the batch entry")
  }

  test("stream_holt output is bit-identical to the batch tracker") {
    val streamed = StreamOps.streamHolt(spark, sf0001).collect().toSeq
    val batch = graft.operators.QualityOps.tsHolt(
      Tables.events(spark, sf0001)).collect().toSeq
    assert(streamed === batch,
      "incremental histogram + shared Holt kernel must equal the batch entry")
  }

  test("stream_funnel: the stateful fold equals the batch funnel row for row") {
    val streamed = StreamOps.streamFunnel(spark, sf0001).collect().toSeq
    val batch = graft.operators.AggOps.eventsFunnel(
      Tables.events(spark, sf0001)).collect().toSeq
    assert(streamed === batch,
      "monotone first-touch bindings + event-time arrival must reproduce the batch funnel")
  }

  test("stream_transitions: the per-user last-event state emits the batch matrix exactly") {
    val streamed = StreamOps.streamTransitions(spark, sf0001).collect().toSeq
    val batch = graft.operators.AggOps.eventsTransitions(
      Tables.events(spark, sf0001)).collect().toSeq
    assert(streamed === batch,
      "state-emitted pairs through the shared kernel must equal the batch census")
  }

  test("stream_funnel_ooo: watermark-buffered fold equals the batch funnel under disordered arrival") {
    // the staging deliberately interleaves quarters q1,q0,q3,q2 — this
    // spec is the r13 verdict's "proven under deliberately shuffled
    // arrival" gate. (The ordered entry's oracle could pass by luck of
    // first-touch bindings concentrating early; here the later-proven
    // half of every user's history only folds when event-time timers
    // fire, so equality pins the whole mechanism.)
    val streamed = StreamOps.streamFunnelOoo(spark, sf0001).collect().toSeq
    val batch = graft.operators.AggOps.eventsFunnel(
      Tables.events(spark, sf0001)).collect().toSeq
    assert(streamed === batch,
      "watermark-proven folding must reproduce the batch funnel row for row")
  }

  test("stream_transitions_ooo: watermark-buffered pairs equal the batch matrix under disordered arrival") {
    val streamed = StreamOps.streamTransitionsOoo(spark, sf0001).collect().toSeq
    val batch = graft.operators.AggOps.eventsTransitions(
      Tables.events(spark, sf0001)).collect().toSeq
    assert(streamed === batch,
      "watermark-proven pair emission must equal the batch census exactly")
  }

  test("stream ooo staging: arrival really is out of event-time order") {
    // guard the adversarial harness itself: if a refactor ever stages
    // the quarters back in order, the _ooo specs would silently stop
    // testing disorder tolerance
    val (_, delayMs) = StreamOps.stagedOooQuarterStream(
      spark, sf0001, "spec_ooo_probe")
    assert(delayMs > 60000L, "measured disorder should be nonzero")
    // the staging dir the helper just wrote (same layout as its scratch)
    val dir = Materialize.scratchPath(sf0001, "spec_ooo_probe_src").toFile
    // the staged quarters are the non-sentinel arrivals (stageSlices
    // names them arrival-<k>.parquet since r14; the watermark-flush
    // sentinel is the only other file)
    val files = dir.listFiles().sortBy(_.lastModified)
      .filterNot(_.getName.contains("sentinel"))
    assert(files.length == 4, s"expected 4 staged quarters, saw ${files.length}")
    val bounds = files.map { f =>
      val df = spark.read.parquet(f.getAbsolutePath)
      val mm = df.agg(
        org.apache.spark.sql.functions.min(unix_micros(col("ts").cast("timestamp"))),
        org.apache.spark.sql.functions.max(unix_micros(col("ts").cast("timestamp")))).head()
      (mm.getLong(0), mm.getLong(1))
    }
    val disordered = bounds.sliding(2).exists {
      case Array((_, hiA), (loB, _)) => loB < hiA
      case _ => false
    }
    assert(disordered,
      "staged arrival order must violate event-time order somewhere")
  }

  // ---- event-time TTL eviction (r13 verdict item 2) ----------------
  // The TTL runs on the EVENT-TIME axis: a key evicts when the
  // watermark passes its last event + TTL. These specs drive the
  // watermark explicitly (the timerSessions pattern) — deterministic,
  // no wall-clock sleeps. (A ProcessingTimeTimeout variant cannot even
  // drain: shouldRunAnotherBatch is permanently true under it and both
  // the interval-0 trigger and AvailableNow loop no-data batches
  // forever — measured at 1166 epochs before the harness killed it.)

  private def drainTtl(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String)(phases: (() => Unit)*): Unit = {
    spark.catalog.dropTempView(name)
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    phases.foreach { p => p(); q.processAllAvailable() }
    q.stop()
  }

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  test("stateful TTL: a user idle past the event-time TTL evicts (emit-on-expire) and refolds from scratch") {
    import graft.streaming.StreamOps
    val input = MemoryStream[(Long, Double, java.sql.Timestamp)](spark, 1)
    val evs = input.toDF().toDF("user_id", "value", "ts")
      .withWatermark("ts", "5 seconds").as[StreamOps.EvTs]
    drainTtl(StreamOps.statefulFoldOf(evs, ttlMs = 10000L).toDF(),
      "graft_ttl_stateful_test", "update")(
      () => input.addData((1L, 5.0, ts(10)), (1L, 7.0, ts(15))), // n=2, timer 25 s
      () => input.addData((2L, 1.0, ts(100))), // watermark → 95 s: timer fires
      () => input.addData((1L, 9.0, ts(97)))) // user 1 returns AFTER eviction
    val u1 = spark.table("graft_ttl_stateful_test")
      .filter(col("user_id") === 1L)
      .select(col("n_events"), col("max_value"))
      .as[(Long, Double)].collect().toSeq.sorted
    // batch-1 fold (n=2), the expiry snapshot (n=2 again), then a
    // RESTARTED fold (n=1, max 9) — an n=3 row would mean state survived
    assert(u1 === Seq((1L, 9.0), (2L, 7.0), (2L, 7.0)),
      s"expected emit-on-expire then a fresh fold, got $u1")
  }

  test("transitions TTL: idle last-event state drops, no pair across the idle gap") {
    import graft.streaming.StreamOps
    val input = MemoryStream[(Long, String, java.sql.Timestamp, Long)](spark, 1)
    val evs = input.toDF().toDF("user_id", "event_type", "ts", "event_id")
      .withWatermark("ts", "5 seconds")
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("tsu"), col("event_id"))
      .as[StreamOps.FunnelEvW]
    drainTtl(StreamOps.transitionPairsOf(evs, ttlMs = 10000L).toDF(),
      "graft_ttl_trans_test", "append")(
      () => input.addData((1L, "view", ts(10), 1L), (1L, "click", ts(15), 2L)),
      () => input.addData((2L, "view", ts(100), 3L)), // watermark: user 1 drops
      () => input.addData((1L, "purchase", ts(97), 4L))) // after the gap
    val pairs = spark.table("graft_ttl_trans_test")
      .as[(String, String)].collect().toSeq
    // WITHOUT eviction there would also be (click → purchase)
    assert(pairs === Seq(("view", "click")),
      s"chain must end at the idle gap, got $pairs")
  }

  test("funnel TTL: an evicted user restarts the funnel from scratch") {
    import graft.streaming.StreamOps
    val input = MemoryStream[(Long, String, java.sql.Timestamp, Long)](spark, 1)
    val evs = input.toDF().toDF("user_id", "event_type", "ts", "event_id")
      .withWatermark("ts", "5 seconds")
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("tsu"), col("event_id"))
      .as[StreamOps.FunnelEvW]
    drainTtl(
      StreamOps.funnelFoldOf(evs, w = 48L * 3600L * 1000000L,
        ttlMs = 10000L).toDF(),
      "graft_ttl_funnel_test", "update")(
      () => input.addData((1L, "view", ts(10), 1L)), // binds t1 = 10 s
      () => input.addData((2L, "view", ts(100), 2L)), // watermark: user 1 expires
      () => input.addData((1L, "view", ts(97), 3L))) // fresh funnel, t1 = 97 s
    val t1s = spark.table("graft_ttl_funnel_test")
      .filter(col("user_id") === 1L).select(col("t1_us"))
      .as[Long].collect().toSeq.sorted
    // batch-1 binding, the expiry snapshot, then the REBOUND t1 — a
    // surviving state would keep t1 = 10 s (first touch never rebinds)
    assert(t1s === Seq(10000000L, 10000000L, 97000000L),
      s"expected emit-on-expire then a rebound first touch, got $t1s")
  }

  test("dedup-near TTL: an idle LSH bucket forgets its members") {
    import graft.streaming.StreamOps
    val sig = (0 until 32).map(i => s"s$i")
    val input = MemoryStream[(String, Long, Seq[String], java.sql.Timestamp)](spark, 1)
    val docs = input.toDF().toDF("bkey", "doc_id", "mh", "ats")
      .withWatermark("ats", "5 seconds").as[StreamOps.BandDocT]
    drainTtl(StreamOps.nearPairsOf(docs, cap = 16, ttlMs = 10000L).toDF(),
      "graft_ttl_near_test", "append")(
      () => input.addData(("K", 1L, sig, ts(10)), ("K", 2L, sig, ts(15))),
      () => input.addData(("L", 9L, sig, ts(100))), // watermark: K evicts
      () => input.addData(("K", 3L, sig, ts(97)))) // same signature, later
    val pairs = spark.table("graft_ttl_near_test")
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSeq
    // a surviving bucket would also emit (1,3) and (2,3)
    assert(pairs === Seq((1L, 2L)),
      s"bucket must forget members past the TTL, got $pairs")
  }

  test("stream_quality: slices partition the corpus; SLA failures surface") {
    val got = StreamOps.streamQuality(spark, sf0001).collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(0, 1, 2, 3))
    val total = Tables.events(spark, sf0001).count()
    assert(got.map(_.getLong(1)).sum === total,
      "quarter counters must partition the corpus exactly")
    // structural checks hold on the fixture; the tight value SLA fails
    // on real rows in every quarter (the validator demonstrably fires)
    assert(got.forall(_.getInt(5) === 1))
    assert(got.forall(_.getLong(4) > 0L))
  }
}
