package graft

import graft.stream.{Ingest, Replay, SubRegistry}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** T1-T4 slice: file-source streaming ingest into the partitioned
  * store, live pub/sub fan-out with prefix matching, ordered replay,
  * and partition pruning on the read path. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("subject", StringType), StructField("t", LongType),
    StructField("v", DoubleType)))

  test("multi-micro-batch availableNow ingest: fan-out and store accumulate per batch") {
    val root = Files.createTempDirectory("graft_stream_mb").toString
    val src = s"$root/src"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(src).mkdirs()
    (1 to 3).foreach { b =>
      Seq((s"SH60060$b", b * 1000L, b.toDouble), (s"SZ00000$b", b * 1000L + 1, b * 10.0))
        .toDF("subject", "t", "v").coalesce(1).write.parquet(s"$src/b$b")
    }
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    val subs = new SubRegistry
    subs.subscribe("all", Seq("*")) { df =>
      val n = df.count()
      if (n > 0) { batches.incrementAndGet(); rows.addAndGet(n) }
    }
    // one file per trigger → 3 micro-batches, each fanned out separately
    val q = Ingest.start(spark, s"$src/*", schema, store, ckpt,
      subjectCol = "subject", timeCol = "t",
      dayCol = lit("2024-01-02"), subs = subs,
      maxFilesPerTrigger = Some(1))
    q.awaitTermination(120000)
    assert(batches.get() == 3, s"expected 3 micro-batches, saw ${batches.get()}")
    assert(rows.get() == 6)
    assert(Ingest.read(spark, store).count() == 6)
    // compaction folds the 3 __batch generations into one, preserving
    // the two-level layout so further ingest still composes
    Ingest.compact(spark, store, "subject", "t", targetFiles = 1)
    assert(Ingest.read(spark, store).count() == 6)
    assert(new java.io.File(store).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("__batch=")) == 1,
      "compaction left multiple batch generations")
    Seq(("SH600609", 9000L, 9.0)).toDF("subject", "t", "v")
      .coalesce(1).write.parquet(s"$src/b9")
    val q2 = Ingest.start(spark, s"$src/*", schema, store, ckpt,
      subjectCol = "subject", timeCol = "t",
      dayCol = lit("2024-01-02"), subs = subs)
    q2.awaitTermination(120000)
    assert(Ingest.read(spark, store).count() == 7,
      "post-compaction ingest broke the store layout")
  }

  test("ingest → store → pub/sub → replay, end to end") {
    val root = Files.createTempDirectory("graft_stream").toString
    val src = s"$root/src"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(src).mkdirs()

    // batch 1 lands before the stream starts; AvailableNow drains it
    Seq(("SH600600", 1000L, 1.0), ("SH600601", 2000L, 2.0),
        ("SZ000001", 1500L, 3.0))
      .toDF("subject", "t", "v").coalesce(1).write.parquet(s"$src/b1")
    Seq(("SH600600", 3000L, 4.0), ("SZ000001", 2500L, 5.0))
      .toDF("subject", "t", "v").coalesce(1).write.parquet(s"$src/b2")

    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val all = new java.util.concurrent.atomic.AtomicLong(0)
    val subs = new SubRegistry
    subs.subscribe("c1", Seq("SH6*"))(df => seen.addAndGet(df.count()))
    subs.subscribe("c2", Seq("*"))(df => all.addAndGet(df.count()))

    val q = Ingest.start(spark, s"$src/*", schema, store, ckpt,
      subjectCol = "subject", timeCol = "t",
      dayCol = lit("2024-01-01"), subs = subs)
    q.awaitTermination(60000)

    // store holds every row, day-partitioned
    val stored = Ingest.read(spark, store)
    assert(stored.count() == 5)
    // prefix subscriber saw only SH6*; wildcard saw everything
    assert(seen.get() == 3, s"prefix subscriber saw ${seen.get()}")
    assert(all.get() == 5)
    // pruned read: day filter must reach PartitionFilters
    val pruned = Ingest.read(spark, store, day = Some("2024-01-01"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__day"),
      s"day filter not pushed to partition pruning:\n$plan")
    // replay: full day in (t, seq) order
    val replayed = scala.collection.mutable.ArrayBuffer[Long]()
    val n = Replay.replayDay(spark, store, "2024-01-01", "t",
      seqCol = Some("__ingest_seq"))(
      onRow = r => replayed += r.getAs[Long]("t"), onStart = (), onStop = ())
    assert(n == 5)
    assert(replayed.toSeq == replayed.toSeq.sorted, s"out of order: $replayed")
    // server-shape fan-out: per-subscriber refilter runs in Spark, rows
    // arrive sliced in time order, each exactly once
    val sh = scala.collection.mutable.ArrayBuffer[Long]()
    val everything = new java.util.concurrent.atomic.AtomicLong(0)
    val replaySubs = new SubRegistry
    replaySubs.subscribe("sh6", Seq("SH6*"))(df =>
      sh ++= df.select("t").collect().map(_.getLong(0)))
    replaySubs.subscribe("all", Seq("*"))(df => everything.addAndGet(df.count()))
    val total = Replay.replayDayTo(spark, store, "2024-01-01", "t",
      "subject", replaySubs, slices = 3, seqCol = Some("__ingest_seq"))
    assert(total == 5)
    assert(everything.get() == 5, s"wildcard subscriber saw ${everything.get()}")
    assert(sh.toSeq == sh.toSeq.sorted && sh.size == 3,
      s"prefix subscriber misdelivered: $sh")
  }

  test("windowed streaming agg with watermark: closed windows equal batch") {
    val root = Files.createTempDirectory("graft_stream3").toString
    val src = s"$root/src"
    new java.io.File(src).mkdirs()
    val evSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("etype", StringType),
      StructField("v", DoubleType)))
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val early = Seq(
      (ts("2024-01-01T01:00:00Z"), "a", 1.0), (ts("2024-01-01T02:00:00Z"), "a", 2.0),
      (ts("2024-01-01T07:00:00Z"), "b", 3.0), (ts("2024-01-01T08:00:00Z"), "a", 4.0))
    val stream = spark.readStream.schema(evSchema).parquet(s"$src/*")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("etype"))
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
    val q = stream.writeStream.format("memory").queryName("st2_win")
      .outputMode("append").start()
    try {
      early.toDF("ts", "etype", "v").coalesce(1).write.parquet(s"$src/b1")
      q.processAllAvailable()
      // closer events push the watermark past the first two windows...
      Seq((ts("2024-01-01T13:00:00Z"), "a", 9.0)).toDF("ts", "etype", "v")
        .coalesce(1).write.parquet(s"$src/b2")
      q.processAllAvailable()
      // ...and the NEXT batch (watermark advances between batches) emits
      Seq((ts("2024-01-01T13:30:00Z"), "a", 9.5)).toDF("ts", "etype", "v")
        .coalesce(1).write.parquet(s"$src/b3")
      q.processAllAvailable()
      val emitted = spark.table("st2_win")
        .select(col("window.start").cast("long").as("w"), col("etype"),
          col("n"), col("total"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batchShadow = early.toDF("ts", "etype", "v")
        .groupBy(window(col("ts"), "6 hours"), col("etype"))
        .agg(count(lit(1)).as("n"), sum("v").as("total"))
        .select(col("window.start").cast("long").as("w"), col("etype"),
          col("n"), col("total"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      // every window fully before the watermark emitted exactly the
      // batch answer; the still-open 12:00-18:00 window did not
      assert(batchShadow.subsetOf(emitted), s"$emitted vs $batchShadow")
      assert(!emitted.exists(_._4 == 9.0), "open window emitted early")
    } finally q.stop()
  }

  test("late second batch: restart drains only new files (checkpoint WAL)") {
    val root = Files.createTempDirectory("graft_stream2").toString
    val src = s"$root/src"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(src).mkdirs()
    Seq(("A", 1L, 1.0)).toDF("subject", "t", "v")
      .coalesce(1).write.parquet(s"$src/b1")
    val q1 = Ingest.start(spark, s"$src/*", schema, store, ckpt,
      "subject", "t", lit("d1"))
    q1.awaitTermination(60000)
    assert(Ingest.read(spark, store).count() == 1)
    // new file arrives; a restarted stream picks up ONLY it
    Seq(("B", 2L, 2.0)).toDF("subject", "t", "v")
      .coalesce(1).write.parquet(s"$src/b2")
    val q2 = Ingest.start(spark, s"$src/*", schema, store, ckpt,
      "subject", "t", lit("d1"))
    q2.awaitTermination(60000)
    val subjects = Ingest.read(spark, store).select("subject")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(subjects == Seq("A", "B"), s"got $subjects")
  }

  test("live rollup: open-bar state survives across runs from the checkpoint") {
    import graft.stream.LiveRollup
    val root = Files.createTempDirectory("graft_livebar").toString
    val src = s"$root/src"; val ckpt = s"$root/ckpt"
    new java.io.File(src).mkdirs()
    def feed() = spark.readStream
      .schema(StructType(Seq(StructField("subject", StringType),
        StructField("k", LongType), StructField("t", LongType),
        StructField("v", DoubleType))))
      .parquet(s"$src/*")
    def run(name: String): Seq[LiveRollup.Bar] = {
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[LiveRollup.Bar]()
      val q = LiveRollup.finalizedBars(feed(), barMs = 1000L)
        .writeStream
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[LiveRollup.Bar], _: Long) =>
          ds.collect().foreach(buf.add)
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      buf.toArray(Array.empty[LiveRollup.Bar]).toSeq.sortBy(_.bar_start)
    }
    // run 1: bar0 complete (two ticks), bar1 opened by its first tick
    Seq(("A", 100L, 100L, 1.0), ("A", 900L, 900L, 5.0), ("A", 1100L, 1100L, 3.0))
      .toDF("subject", "k", "t", "v").coalesce(1).write.parquet(s"$src/b1")
    assert(run("lr1") == Seq(LiveRollup.Bar("A", 0L, 1.0, 5.0, 1.0, 5.0, 2L)))
    // run 2, same checkpoint: bar1's CLOSE comes from run 1's state —
    // a second tick extends it, then bar2's tick finalizes it
    Seq(("A", 1900L, 1900L, 7.0), ("A", 2100L, 2100L, 4.0))
      .toDF("subject", "k", "t", "v").coalesce(1).write.parquet(s"$src/b2")
    assert(run("lr2") == Seq(LiveRollup.Bar("A", 1000L, 3.0, 7.0, 3.0, 7.0, 2L)),
      "open-bar state did not carry across the restart")
  }

  test("crash between store write and checkpoint commit: replay heals, no duplicates") {
    val root = Files.createTempDirectory("graft_stream_wal").toString
    val src = s"$root/src"; val store = s"$root/store"; val ckpt = s"$root/ckpt"
    new java.io.File(src).mkdirs()
    (1 to 3).foreach { b =>
      Seq((s"S$b", b.toLong, b.toDouble), (s"T$b", b.toLong, b * 10.0))
        .toDF("subject", "t", "v").coalesce(1).write.parquet(s"$src/b$b")
    }
    // run 1: batch 0 commits; batch 1's files land, then the "kill"
    val q1 = Ingest.start(spark, s"$src/*", schema, store, ckpt,
      "subject", "t", lit("d1"), maxFilesPerTrigger = Some(1),
      crashAfterBatch = Some(1L))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    // torn state: batch 1 present in the store but not committed
    assert(spark.read.parquet(store).filter(col("__batch") === 1).count() > 0,
      "crash did not leave batch-1 files — nothing to heal")
    // run 2: replay batch 1 (idempotent overwrite), then batch 2
    val q2 = Ingest.start(spark, s"$src/*", schema, store, ckpt,
      "subject", "t", lit("d1"), maxFilesPerTrigger = Some(1))
    q2.awaitTermination(120000)
    val got = Ingest.read(spark, store).select("subject")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(got == Seq("S1", "S2", "S3", "T1", "T2", "T3"),
      s"crash+resume diverged from the single-run answer: $got")
  }

  test("stream admission: screened against index + prior admissions only") {
    import graft.stream.StreamAdmit
    val root = Files.createTempDirectory("streamadmit").toString
    def doc(words: Seq[String]) = words.mkString(" ")
    val w = (1 to 40).map(i => s"base_$i")     // curated doc X's text
    val u = (1 to 40).map(i => s"other_$i")    // unrelated admitted text
    val v = (1 to 40).map(i => s"third_$i")    // batch-0 novel text
    // curated index: doc 1 = X
    val index = Seq((1L, doc(w))).toDF("doc_id", "text")
    StreamAdmit.seedIndex(
      graft.ops.Dedup.minhash(index, "text", 3, 32), "doc_id",
      s"$root/index", bands = 16, sigLen = 32)
    // batch 0: 10 = near-dup of X (reject), 11 = novel v (admit),
    //          12 = novel u (admit)
    val b0 = Seq(
      (10L, doc(w.updated(0, "zap"))),
      (11L, doc(v)),
      (12L, doc(u))).toDF("doc_id", "text")
    // batch 1: 20 = near-dup of ADMITTED 12 (reject — the index grew),
    //          21 = near-dup of REJECTED 10 but novel vs the curated
    //               set... 10 was a dup of X, so 21 ~ X too; instead:
    //          21 = near-dup of 10's REJECTING edit only — build a doc
    //               close to nothing admitted (admit), 22 = dup of X
    //               still rejected via the ORIGINAL index
    val b1 = Seq(
      (20L, doc(u.updated(39, "tail"))),
      (21L, doc((1 to 40).map(i => s"fresh_$i"))),
      (22L, doc(w.updated(5, "mid")))).toDF("doc_id", "text")
    StreamAdmit.admitBatch(b0, "doc_id", "text", s"$root/index",
      s"$root/admitted", 0L, 16, 32, 3, 0.5)
    StreamAdmit.admitBatch(b1, "doc_id", "text", s"$root/index",
      s"$root/admitted", 1L, 16, 32, 3, 0.5)
    val got = spark.read.parquet(s"$root/admitted")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((11L, 0L), (12L, 0L), (21L, 1L)),
      s"admitted: $got")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("stream admission replay: every crash window is idempotent") {
    import graft.stream.StreamAdmit
    import graft.ops.Dedup
    val root = Files.createTempDirectory("streamadmit_replay").toString
    val w = (1 to 40).map(i => s"base_$i").mkString(" ")
    val index = Seq((1L, w)).toDF("doc_id", "text")
    StreamAdmit.seedIndex(Dedup.minhash(index, "text", 3, 32), "doc_id",
      s"$root/index", bands = 16, sigLen = 32)
    val batch = Seq(
      (10L, (1 to 40).map(i => s"novel_$i").mkString(" ")),
      (11L, w.replace("base_1 ", "zap "))).toDF("doc_id", "text")
    def admitted() = spark.read.parquet(s"$root/admitted")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def run() = StreamAdmit.admitBatch(batch, "doc_id", "text",
      s"$root/index", s"$root/admitted", 0L, 16, 32, 3, 0.5)
    // crash window A: sigs appended, buckets + admitted lost — replay
    val batchSigs = Dedup.minhash(batch, "text", 3, 32)
      .select(col("doc_id"), col("minhash"))
    batchSigs.filter(col("doc_id") === 10L)
      .write.mode("append").parquet(s"$root/index/sigs")
    run()
    assert(admitted() == Seq((10L, 0L)), s"after window-A replay: ${admitted()}")
    // crash window B: sigs AND buckets appended, admitted lost — the
    // doc must not self-match on replay. Wipe the admitted log to
    // simulate the pre-commit state, then replay the whole batch.
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$root/admitted"))
    run()
    assert(admitted() == Seq((10L, 0L)),
      s"after window-B replay (self-match?): ${admitted()}")
    // crash window C: a batch holding an INTRA-batch near-dup pair
    // (both novel vs the curated set — the pinned contract admits
    // both; intra-batch screening is the upstream stage's job). After
    // a crash past the buckets append, the replayed batch finds the
    // WHOLE batch's rows in the index — excluding only exact
    // self-pairs would screen 30 against 31's partial append (and
    // vice versa) and reject both, making the admitted set depend on
    // crash timing. The full-batch anti-join must re-admit both.
    val twin = (1 to 40).map(i => s"twin_$i").mkString(" ")
    val batch2 = Seq((30L, twin), (31L, twin.replace("twin_1 ", "edit ")))
      .toDF("doc_id", "text")
    val sigs2 = Dedup.minhash(batch2, "text", 3, 32)
      .select(col("doc_id"), col("minhash"))
    sigs2.write.mode("append").parquet(s"$root/index/sigs")
    Dedup.bandBuckets(sigs2, "doc_id", bands = 16, sigLen = 32,
        as = "index_id")
      .write.mode("append").parquet(s"$root/index/buckets")
    StreamAdmit.admitBatch(batch2, "doc_id", "text", s"$root/index",
      s"$root/admitted", 1L, 16, 32, 3, 0.5)
    assert(admitted() == Seq((10L, 0L), (30L, 1L), (31L, 1L)),
      s"intra-batch near-dups rejected against their own partial " +
        s"append: ${admitted()}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("maintained-stream housekeeping: slot growth stays bounded; compaction crash-rolls-forward") {
    val root = Files.createTempDirectory("graft_stream_hk").toString
    val e = new graft.api.Engine(spark, s"$root/eng")
    e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.ev", """{"t":"2024-01-01T00:30:00Z","value":0.5}""")
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    e.bootstrapRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    // 8 one-row feed files, mtime-ordered, 6 of them on the SAME day —
    // the worst case for slot growth on a long-running maintained
    // stream (one insert slot per round, forever, without housekeeping)
    val feed = s"$root/feed"; new java.io.File(feed).mkdirs()
    val now = System.currentTimeMillis()
    (1 to 8).foreach { b =>
      val day = if (b <= 6) "2024-01-01" else "2024-01-02"
      val tmp = s"$root/tmp_$b"
      Seq(("u1",
          java.sql.Timestamp.from(java.time.Instant.parse(
            f"${day}T$b%02d:00:00Z")), b.toDouble))
        .toDF("subject", "t", "value").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$feed/b$b.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(now - (9 - b) * 60000L)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    e.startIngestMaintained("ev", feed, s"$root/ckpt", barRoot, grp,
        okey, col("value"), col("value"), availableNow = true,
        housekeepEveryBatches = 3, housekeepGroupCols = Seq("g"),
        maxFilesPerTrigger = Some(1))
      .awaitTermination(300000)
    def slotsOf(day: String): Seq[String] =
      Option(new java.io.File(s"$barRoot/day=$day").listFiles())
        .fold(Seq.empty[String])(_.map(_.getName)
          .filter(_.startsWith("batch=")).sorted.toSeq)
    // 8 rounds landed on day 1 (bootstrap + 6 inserts); without the
    // cadence it would hold 7 slots — with compaction every 3 batches
    // (after batch ids 2 and 5) at most 1 + (8 mod 3) survive
    val d1 = slotsOf("2024-01-01")
    assert(d1.nonEmpty && d1.size <= 3, s"day-1 slots unbounded: $d1")
    assert(graft.ops.Rollup.pendingBarCompaction(spark, barRoot).isEmpty)
    assert(graft.ops.Rollup.pendingMaintenance(spark, barRoot).isEmpty)
    // the folded store still equals the from-scratch rollup
    def barsEqualFresh(): Unit = {
      val merged = graft.ops.Rollup.finalizeBars(
        spark.read.parquet(barRoot)
          .withColumn("day", col("day").cast("string")).drop("batch"),
        Seq("g", "day")).orderBy("day")
        .select("day", "open", "high", "low", "close", "cnt", "volume")
        .collect().map(_.toString).toSeq
      val st = e.openSnapshot("ev").get
      val fresh = graft.ops.Rollup.ohlc(
        st.withColumn("g", lit("all")).withColumn("day", col("__day")),
        Seq(col("g"), col("day")), okey, col("value"),
        volume = Some(col("value"))).orderBy("day")
        .select("day", "open", "high", "low", "close", "cnt", "volume")
        .collect().map(_.toString).toSeq
      assert(merged == fresh, s"maintained $merged != fresh $fresh")
    }
    barsEqualFresh()
    // CRASH DRILL — reproduce the exact on-disk states an interrupted
    // compaction leaves, and prove each rolls forward:
    // (1) died between a day's delete and its staged rename: the day
    // dir is gone, the staged merge and the marker survive
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.mkdirs(p(s"$barRoot/__compact_stage"))
    assert(fs.rename(p(s"$barRoot/day=2024-01-01/batch=0"),
      p(s"$barRoot/__compact_stage/__d=2024-01-01")))
    fs.delete(p(s"$barRoot/day=2024-01-01"), true)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$barRoot/_compact_round.json"),
      """{"days":["2024-01-01"]}""".getBytes)
    assert(graft.ops.Rollup.pendingBarCompaction(spark, barRoot)
      .contains(Seq("2024-01-01")), "the detector missed the crash")
    graft.ops.Rollup.recoverBarCompaction(spark, barRoot)
    assert(graft.ops.Rollup.pendingBarCompaction(spark, barRoot).isEmpty)
    assert(slotsOf("2024-01-01").nonEmpty, "roll-forward lost the day")
    barsEqualFresh()
    // (2) died after every swap, before the marker clear: recovery
    // just releases the marker (the staged dirs are gone)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$barRoot/_compact_round.json"),
      """{"days":["2024-01-01"]}""".getBytes)
    graft.ops.Rollup.recoverBarCompaction(spark, barRoot)
    assert(graft.ops.Rollup.pendingBarCompaction(spark, barRoot).isEmpty)
    barsEqualFresh()
    // (3) a maintenance round also rolls a crashed compaction forward
    // (its entry recovery): compact day 2 to a single slot (a direct
    // call — the same fold the cadence runs), fabricate the mid-swap
    // state from it, then land a write and run the round
    assert(slotsOf("2024-01-02").size >= 2,
      "day 2 should hold multiple slots before the direct compaction")
    assert(graft.ops.Rollup.compactMaintainedBars(spark, barRoot,
      Seq("g")) == Seq("2024-01-02"))
    assert(slotsOf("2024-01-02") == Seq("batch=0"))
    barsEqualFresh()
    fs.mkdirs(p(s"$barRoot/__compact_stage"))
    assert(fs.rename(p(s"$barRoot/day=2024-01-02/batch=0"),
      p(s"$barRoot/__compact_stage/__d=2024-01-02")))
    fs.delete(p(s"$barRoot/day=2024-01-02"), true)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$barRoot/_compact_round.json"),
      """{"days":["2024-01-02"]}""".getBytes)
    e.set("u1.ev", """{"t":"2024-01-03T01:00:00Z","value":9.0}""")
    e.save("ev")
    e.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    assert(graft.ops.Rollup.pendingBarCompaction(spark, barRoot).isEmpty,
      "the maintenance round did not roll the crashed compaction forward")
    barsEqualFresh()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
