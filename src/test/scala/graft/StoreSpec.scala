package graft

import graft.catalog.Catalog
import graft.store.TsStore
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** TsStore hot∪cold semantics, save/pack lifecycle, partition pruning;
  * Catalog dictionary round-trip. */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def mkStore(path: String) =
    new TsStore(spark, path, subject = "code", time = "t",
      soleCols = Nil, dayCol = col("day"))

  /** A day's LIVE version dir (the one the manifest references). */
  private def liveDir(st: TsStore, day: String): java.io.File = {
    val v = st.snapshotDays.toMap.getOrElse(s"__day=$day",
      throw new AssertionError(s"$day is not in the manifest"))
    new java.io.File(s"${st.path}/__day=$day/__v=$v")
  }

  /** The live manifest's data files as (name, mtime) per day. */
  private def liveFiles(st: TsStore, day: String): Seq[(String, Long)] =
    liveDir(st, day).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified)).toSeq

  /** The live manifest's physical rows (tombstoned ones included). */
  private def liveRaw(root: String) = TsStore.openSnapshot(spark, root).get

  test("hot-only read, save, cold read, hot-shadows-cold upsert") {
    val root = Files.createTempDirectory("graft_store").toString + "/t1"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 10.0, "d1"), ("B", 2L, 20.0, "d1"))
      .toDF("code", "t", "v", "day"))
    // hot only
    assert(st.read().count() == 2)
    st.save()
    // cold only
    val cold = st.read()
    assert(cold.count() == 2 && cold.columns.contains("v"))
    // same (code, day, t) arrives again → replaces the cold row
    st.set(Seq(("A", 1L, 11.0, "d1")).toDF("code", "t", "v", "day"))
    val merged = st.read().orderBy("code").collect()
    assert(merged.map(r => (r.getAs[String]("code"), r.getAs[Double]("v"))).toSeq ==
      Seq(("A", 11.0), ("B", 20.0)))
    // save again → cold holds the replacement
    st.save()
    val after = st.read().orderBy("code").collect()
    assert(after.map(_.getAs[Double]("v")).toSeq == Seq(11.0, 20.0))
  }

  test("day-pruned read hits PartitionFilters; pack bounds file count") {
    val root = Files.createTempDirectory("graft_store").toString + "/t2"
    val st = mkStore(root)
    st.set((1 to 100).map(i => (s"K${i % 7}", i.toLong, i * 1.0,
      if (i % 2 == 0) "d1" else "d2")).toDF("code", "t", "v", "day"))
    st.save()
    val pruned = st.read(Some("d1"), Some("d1"))
    assert(pruned.count() == 50)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__day"),
      s"no pruning in:\n$plan")
    st.pack(targetFiles = 1)
    assert(st.read(Some("d1"), Some("d1")).count() == 50) // unchanged answers
    val files = liveFiles(st, "d1").size
    assert(files == 1, s"pack left $files files")
  }

  test("bounded hot tail: batch cap auto-flushes; reads stay deduped-by-seq") {
    val root = Files.createTempDirectory("graft_store").toString + "/t_evict"
    // tiny caps so the policy fires within a handful of sets
    val st = new TsStore(spark, root, subject = "code", time = "t",
      soleCols = Nil, dayCol = col("day"), maxHotBatches = 3)
    // interleaved sets re-writing the SAME (code, day, t) key: each
    // crossing of the batch cap flushes, and last-seq must win across
    // hot/cold boundaries regardless of where the flush landed
    (1 to 7).foreach { i =>
      st.set(Seq(("A", 1L, i * 1.0, "d1"), (s"B$i", i.toLong, i * 10.0, "d1"))
        .toDF("code", "t", "v", "day"))
    }
    // caps: 7 sets with maxHotBatches=3 → at least two auto-saves
    assert(st.hotSize <= 4, s"hot tail unbounded: ${st.hotSize} rows staged")
    val a = st.read().filter(col("code") === "A").collect()
    assert(a.length == 1 && a(0).getAs[Double]("v") == 7.0,
      s"last-write-wins broken across flush boundary: ${a.toSeq}")
    assert(st.read().count() == 8) // A + B1..B7
    // row cap fires too
    val st2 = new TsStore(spark, root + "2", subject = "code", time = "t",
      soleCols = Nil, dayCol = col("day"), maxHotRows = 5)
    st2.set((1 to 6).map(i => (s"K$i", i.toLong, 1.0, "d1"))
      .toDF("code", "t", "v", "day"))
    assert(st2.hotSize == 0, "row cap did not flush")
    assert(st2.read().count() == 6)
  }

  test("set rejects null-day rows instead of clobbering the null partition") {
    val root = Files.createTempDirectory("graft_store").toString + "/t_nullday"
    val st = mkStore(root)
    // a null day would stage rows `save`'s isin(dirtyDays) can never
    // match (SQL null semantics) — the store must refuse them up front
    val ex = intercept[IllegalArgumentException] {
      st.set(Seq(("A", 1L, 1.0, null), ("B", 2L, 2.0, "d1"))
        .toDF("code", "t", "v", "day"))
    }
    assert(ex.getMessage.contains("null day"))
    // the failed set left nothing behind: store is still empty and a
    // valid set + save round-trips normally
    assert(st.isEmpty && st.hotSize == 0)
    st.set(Seq(("C", 3L, 3.0, "d1")).toDF("code", "t", "v", "day"))
    st.save()
    assert(st.read().count() == 1)
  }

  test("incremental save touches only dirty days") {
    val root = Files.createTempDirectory("graft_store").toString + "/t_dirty"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1"), ("B", 1L, 2.0, "d2"))
      .toDF("code", "t", "v", "day"))
    st.save()
    val d2Before = liveFiles(st, "d2")
    assert(d2Before.nonEmpty)
    // second save only stages d1 rows → the d2 partition's files must
    // be byte-identical (never read, never rewritten)
    st.set(Seq(("A", 2L, 3.0, "d1")).toDF("code", "t", "v", "day"))
    st.save()
    // the manifest still points d2 at its first version, whose files
    // are untouched; only d1 moved to a new version
    assert(liveDir(st, "d2").getName == "__v=1" &&
      liveDir(st, "d1").getName == "__v=2")
    assert(liveFiles(st, "d2") == d2Before,
      "clean day partition was rewritten by save")
    assert(st.read().count() == 3)
    assert(st.read(Some("d2"), Some("d2")).count() == 1)
  }

  test("deleteWhere rewrites ONLY the day partitions the range touches") {
    val root = Files.createTempDirectory("graft_store").toString + "/t_del"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1"), ("A", 2L, 2.0, "d2"), ("A", 3L, 3.0, "d3"),
      ("B", 2L, 9.0, "d2")).toDF("code", "t", "v", "day"))
    st.save()
    val untouched = Seq("d1", "d3").map(d => d -> liveFiles(st, d))
    // delete A's row in d2 only — d1/d3 files must be byte-identical
    st.deleteWhere(col("code") === "A" && col("t") === 2L, _ == "d2")
    untouched.foreach { case (d, before) =>
      assert(before.nonEmpty && liveDir(st, d).getName == "__v=1" &&
        liveFiles(st, d) == before,
        s"unaffected day $d was rewritten by delete")
    }
    val left = st.read().orderBy("code", "t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(left == Seq(("A", 1L), ("A", 3L), ("B", 2L)))

    // deleting the last row of a day removes its partition from the
    // manifest (its version dirs wait for vacuum, like any superseded one)
    st.deleteWhere(col("code") === "B", _ == "d2")
    assert(!st.snapshotDays.exists(_._1 == "__day=d2"),
      "emptied day partition was left behind")
    assert(st.read().count() == 2)
  }

  test("deleteWhere filters the hot tail without flushing it") {
    val root = Files.createTempDirectory("graft_store").toString + "/t_delhot"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1"), ("B", 2L, 2.0, "d1"))
      .toDF("code", "t", "v", "day"))
    st.deleteWhere(col("code") === "A", _ => true)
    assert(st.read().collect().map(_.getString(0)).toSeq == Seq("B"))
    assert(!new java.io.File(root).exists() ||
      new java.io.File(root).listFiles() == null ||
      !new java.io.File(root).listFiles().exists(_.getName.startsWith("__day=")),
      "hot-only delete flushed cold files")
    st.save()
    assert(st.read().count() == 1)
  }

  test("deleteWhere persists the sequence watermark: drop after restart still deletes") {
    val root = Files.createTempDirectory("graft_store").toString + "/t_wm"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1"), ("A", 2L, 2.0, "d2"), ("C", 2L, 9.0, "d2"))
      .toDF("code", "t", "v", "day"))                       // seq=1
    st.save()                                               // meta seq=1
    st.set(Seq(("B", 3L, 3.0, "d1")).toDF("code", "t", "v", "day")) // seq=2 (hot)
    st.set(Seq(("B", 4L, 4.0, "d1")).toDF("code", "t", "v", "day")) // seq=3 (hot)
    // rewrites d2, stamping C's surviving row __seq=3 — the watermark
    // must persist NOW, or a restart reloads seq=1 and the next drop's
    // tombstone (seq=2) ranks BELOW the row it is meant to kill
    st.deleteWhere(col("code") === "A" && col("t") === 2L, _ == "d2")
    val st2 = mkStore(root) // restart (hot B rows gone by design)
    st2.dropSubject("C")
    assert(!st2.read().collect().map(_.getString(0)).contains("C"),
      "drop after restart failed to delete rows stamped before the restart")
  }

  test("dropSubject: O(1) tombstone, no file rewrite; pack erases; restart persists") {
    val root = Files.createTempDirectory("graft_store").toString + "/t_tomb"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1"), ("A", 2L, 2.0, "d2"), ("B", 1L, 9.0, "d1"))
      .toDF("code", "t", "v", "day"))
    st.save()
    val gen = st.currentGeneration
    val before = Seq("d1", "d2").map(d => liveFiles(st, d))
    st.dropSubject("A")
    val after = Seq("d1", "d2").map(d => liveFiles(st, d))
    assert(before.forall(_.nonEmpty) && after == before &&
      st.currentGeneration == gen,
      "drop rewrote data files — must be metadata-only")
    assert(st.read().collect().map(_.getString(0)).toSeq == Seq("B"))

    // a RESTARTED store (fresh instance, same path) still sees the drop
    val st2 = mkStore(root)
    assert(st2.read().collect().map(_.getString(0)).toSeq == Seq("B"),
      "tombstone did not survive restart")

    // re-creating the subject after the drop works (new rows outrank
    // the tombstone) and survives a save
    st2.set(Seq(("A", 5L, 5.0, "d1")).toDF("code", "t", "v", "day"))
    assert(st2.read().orderBy("code").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("A", 5L), ("B", 1L)))
    st2.save()
    assert(st2.read().orderBy("code").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("A", 5L), ("B", 1L)), "resurrected subject lost at save")

    // pack materializes the tombstone: dead rows physically gone,
    // tombstone cleared, data unchanged
    st2.pack(targetFiles = 1)
    assert(st2.tombstoneList.isEmpty, "pack did not clear tombstones")
    assert(st2.read().orderBy("code").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("A", 5L), ("B", 1L)))
    val rawAfterPack = liveRaw(root)
    assert(rawAfterPack.filter(col("code") === "A").count() == 1,
      "pack left tombstoned rows in the files")
  }

  // ── crash-recovery: fabricate the exact on-disk states an
  // interrupted commit leaves behind (the protocol makes each state
  // reachable only by a crash at one specific point) and assert a
  // reopened store finishes or discards the commit before serving reads
  private def hfs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  test("recovery: save crash mid-WRITE (no _SUCCESS) discards the tmp; live intact") {
    val root = Files.createTempDirectory("graft_store").toString + "/rec5"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1")).toDF("code", "t", "v", "day"))
    st.save()
    // a partially-written tmp: day dir present, no _SUCCESS marker —
    // rolling it forward would replace good data with a torn write
    Seq(("A", 1L, 666.0, "d1")).toDF("code", "t", "v", "day")
      .withColumn("__day", col("day")).withColumn("__seq", lit(9L))
      .write.partitionBy("__day").parquet(root + "__deleting")
    hfs.delete(hp(root + "__deleting/_SUCCESS"), false)
    val st2 = mkStore(root)
    assert(st2.read().collect().map(_.getAs[Double]("v")).toSeq == Seq(1.0),
      "torn tmp write was rolled forward over good data")
    assert(!hfs.exists(hp(root + "__deleting")))
  }

  test("recovery: completed __deleting WITHOUT its manifest is discarded (unacknowledged)") {
    val root = Files.createTempDirectory("graft_store").toString + "/rec7"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1"), ("B", 2L, 2.0, "d2"))
      .toDF("code", "t", "v", "day"))
    st.save()
    // fabricate: the delete's tmp job committed (_SUCCESS present) but
    // the crash hit before the affected-day manifest landed. The tmp
    // dirs alone cannot distinguish an emptied day from an untouched
    // one, so rolling forward would commit HALF the delete — recovery
    // must discard it instead (the delete was never acknowledged and
    // is idempotent to re-issue).
    Seq(("B", 2L, 2.0, "d2")).toDF("code", "t", "v", "day")
      .withColumn("__day", col("day")).withColumn("__seq", lit(9L))
      .write.partitionBy("__day").parquet(root + "__deleting")
    val st2 = mkStore(root)
    assert(st2.read().orderBy("code").collect().map(_.getString(0)).toSeq ==
      Seq("A", "B"), "unacknowledged delete was partially committed")
    assert(!hfs.exists(hp(root + "__deleting")))
  }

  test("recovery: __deleting manifest also removes the days the delete emptied") {
    val root = Files.createTempDirectory("graft_store").toString + "/rec8"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1"), ("B", 2L, 2.0, "d2"), ("C", 3L, 3.0, "d2"))
      .toDF("code", "t", "v", "day"))
    st.save() // generation 1
    // fabricate the crash state of `del v <= 2` after its reservation
    // landed, before the slot claim: d1 is EMPTIED (absent from the
    // tmp), d2's replacement keeps only C — the instruction is what
    // tells recovery d1 must leave the manifest, not stay
    Seq(("C", 3L, 3.0, "d2")).toDF("code", "t", "v", "day")
      .withColumn("__day", col("day")).withColumn("__seq", lit(9L))
      .write.partitionBy("__day").parquet(root + "__deleting")
    val m = s"""{"v":2,"token":"crashed-writer","tmp":"${root}__deleting",""" +
      """"kind":"deleting","place":["__day=d2"],"days":{"__day=d2":2},""" +
      """"removed":{"__day=d1":1},"seq":9,"tombstones":{}}"""
    val out = hfs.create(hp(root + "__resv.2.json"), true)
    try out.write(m.getBytes("UTF-8")) finally out.close()
    val st2 = mkStore(root)
    val got = st2.read().orderBy("code").collect().map(_.getString(0)).toSeq
    assert(got == Seq("C"),
      s"instruction roll-forward applied the delete partially: $got")
    assert(!st2.snapshotDays.exists(_._1 == "__day=d1"),
      "emptied day survived recovery")
    assert(st2.watermark >= 9L, "replay did not raise the watermark")
    assert(!hfs.exists(hp(root + "__deleting")))
  }

  test("deleteWhere end-to-end: emptied day removed, watermark durable before the tmp") {
    val root = Files.createTempDirectory("graft_store").toString + "/rec9"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1"), ("B", 2L, 2.0, "d2"))
      .toDF("code", "t", "v", "day"))
    st.save()
    st.deleteWhere(col("day") === "d1", _ == "d1")
    assert(!st.snapshotDays.exists(_._1 == "__day=d1"), "emptied day not removed")
    // the watermark invariant: no cold row's __seq may exceed the
    // durable watermark — a restarted store + tombstone must always
    // outrank every cold row. The watermark rides in the reservation
    // and manifest that commit the rows, so a reopened store loads it
    val maxSeq = liveRaw(root).agg(max("__seq")).head().getLong(0)
    val persisted = mkStore(root).watermark
    assert(persisted >= maxSeq,
      s"persisted watermark $persisted below cold max __seq $maxSeq")
  }

  test("pack never leaves the path without a committed store (protocol order)") {
    // end-to-end: a pack with tombstones commits a new generation —
    // verify the final state AND that no staging tmp is left behind
    val root = Files.createTempDirectory("graft_store").toString + "/rec6"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1"), ("B", 2L, 2.0, "d1"))
      .toDF("code", "t", "v", "day"))
    st.save()
    st.dropSubject("A")
    st.pack(targetFiles = 1)
    assert(st.read().collect().map(_.getString(0)).toSeq == Seq("B"))
    assert(!hfs.exists(hp(root + "__old")) && !hfs.exists(hp(root + "__packed")))
    // and the meta sidecar is the committed (renamed) one, no tmp left
    assert(!hfs.exists(hp(root + "__meta.json.tmp")))
    assert(hfs.exists(hp(root + "__meta.json")))
  }

  test("KV store: ONE last-write-wins, MUL ordered list, keys matching") {
    import graft.store.KvStore
    val kv = Seq(("a", 1L, "v1"), ("a", 2L, "v2"), ("b", 1L, "x"),
      ("list", 1L, "e1"), ("list", 2L, "e2"))
      .toDF("key", "seq", "value")
    assert(KvStore.getOne(kv, "a").collect()(0).getAs[String]("value") == "v2")
    assert(KvStore.getMul(kv, "list").collect().map(_.getAs[String]("value")).toSeq ==
      Seq("e1", "e2"))
    val set = KvStore.setOne(kv, "a", lit("v3"), lit(3L))
    assert(KvStore.getOne(set, "a").collect()(0).getAs[String]("value") == "v3")
    val subjects = Seq("SH600600", "SH600601", "SZ000001").toDF("code")
    assert(KvStore.keys(subjects, "code", "SH6*").count() == 2)
    assert(KvStore.keys(subjects, "code", "SZ000001,SH600600").count() == 2)
    assert(KvStore.keys(subjects, "code", "*").count() == 3)
  }

  test("factor series: fset/fget") {
    import graft.store.KvStore
    val f1 = Seq(("00001.macd", 1000L, 12.60)).toDF("subject", "time", "value")
    val f2 = Seq(("00001.macd", 2000L, 12.70)).toDF("subject", "time", "value")
    val all = KvStore.factorSet(Some(KvStore.factorSet(None, f1)), f2)
    val got = KvStore.factorGet(all, "00001.macd", 0L, 1500L).collect()
    assert(got.length == 1 && got(0).getAs[Double]("value") == 12.60)
  }

  test("model check: random set/save/delete/drop/pack/restart agree with a Map model") {
    // the store's whole mutation algebra vs an in-memory last-write-
    // wins map — randomized, seeded, covering the interactions the
    // unit tests can't enumerate (delete of hot+cold mixes, drop→
    // resurrect→drop, tombstones across pack and restart, watermark
    // persistence)
    val rnd = new scala.util.Random(1031)
    val codes = Vector("A", "B", "C")
    val days = Vector("d1", "d2", "d3")
    for (trial <- 1 to 3) {
      val root = Files.createTempDirectory("graft_store").toString + s"/model$trial"
      var st = mkStore(root)
      var model = Map.empty[(String, String, Long), Double]
      def check(at: String): Unit = {
        val got =
          try st.read().collect()
            .map(r => (r.getString(0), r.getAs[String]("day"),
              r.getLong(1)) -> r.getAs[Double]("v")).toMap
          catch { case _: IllegalStateException => Map.empty } // empty store
        assert(got == model,
          s"trial $trial $at:\n store=${got.toSeq.sortBy(_._1.toString)}" +
            s"\n model=${model.toSeq.sortBy(_._1.toString)}")
      }
      for (step <- 1 to 24) {
        rnd.nextInt(8) match {
          case 0 | 1 | 2 => // set a batch with DISTINCT keys (same-key
            // rows in one batch share an ingest seq — ties undefined)
            val ks = rnd.shuffle(
              for { c <- codes; d <- days; t <- 0L to 2L } yield (c, d, t))
              .take(1 + rnd.nextInt(4))
            val rows = ks.map { case (c, d, t) => (c, t, rnd.nextInt(100) / 1.0, d) }
            st.set(rows.toDF("code", "t", "v", "day"))
            rows.foreach { case (c, t, v, d) => model += (c, d, t) -> v }
          case 3 => st.save()
          case 4 =>
            val (c, d) = (codes(rnd.nextInt(3)), days(rnd.nextInt(3)))
            st.deleteWhere(col("code") === c && col("day") === d, _ == d)
            model = model.filterNot { case ((mc, md, _), _) => mc == c && md == d }
          case 5 =>
            val c = codes(rnd.nextInt(3))
            st.dropSubject(c)
            model = model.filterNot(_._1._1 == c)
          case 6 =>
            st.save(); st.pack(targetFiles = 1)
          case 7 => // restart (flush first — the hot tail is process
            // memory and legitimately dies with it)
            st.save(); st = mkStore(root)
        }
        if (step % 6 == 0) check(s"step $step")
      }
      st.save()
      check("final")
    }
  }

  test("lagCorrBest follows the reference's greedy walk") {
    val rnd = new scala.util.Random(31)
    val xs = Seq.fill(80)(rnd.nextDouble())
    val rows = xs.zipWithIndex.map { case (x, i) =>
      (i, x, if (i >= 2) xs(i - 2) else rnd.nextDouble())
    }
    val (off, corr) = graft.ops.Analytics.lagCorrBest(
      rows.toDF("d", "y", "x"), "x", "y", "d", 4)
    // corr(offset 1) < corr(offset 0) stops the walk before the planted
    // lag at 2 — exactly the reference's early-exit behavior
    assert(off == 0 || off == 2, s"unexpected offset $off corr $corr")
  }

  test("catalog: schema registry and dictionary encode/decode") {
    val cat = new graft.catalog.Catalog
    cat.register("{stk_day:{fields:{time:[D,4],close:[P,4,1,2]}}}")
    assert(cat.tables == Seq("stk_day"))
    assert(cat.get("stk_day").get.dotOf("close") == 2)

    val df = Seq(("SH600600", 1.0), ("SH600601", 2.0), ("SH600600", 3.0))
      .toDF("code", "v")
    val dict = Catalog.dictionary(df, "code")
    assert(dict.count() == 2)
    val encoded = Catalog.encode(df, dict, "code")
    assert(encoded.columns.toSet == Set("v", "id"))
    val decoded = Catalog.decode(encoded, dict, "code")
    assert(decoded.select("code").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("SH600600", "SH600600", "SH600601"))
  }

  test("pack zorderBy: per-file stats selective on BOTH dims, content unchanged") {
    val root = Files.createTempDirectory("graft_store").toString + "/zp"
    val st = mkStore(root)
    // 32 subjects x 64 times over 2 days — enough rows for 8 files
    // per day to each cover a compact (code, t) rectangle
    val rows = for (s <- 0 until 32; t <- 0 until 64) yield
      (f"s$s%02d", t.toLong, s * 64.0 + t, if (t % 2 == 0) "d1" else "d2")
    st.set(rows.toDF("code", "t", "v", "day"))
    st.save()
    val before = st.read().orderBy("code", "t", "day")
      .select("code", "t", "v", "day").collect().toSeq
    st.pack(8, zorderBy = Some(("code", "t")))
    // content is untouched by the layout change
    assert(st.read().orderBy("code", "t", "day")
      .select("code", "t", "v", "day").collect().toSeq == before)
    // footer-stat selectivity, the pruning an engine actually does:
    // per-file (min, max) on both dims, box = 4/32 subjects x 16/64 ts
    val stats = liveRaw(root)
      .groupBy(col("_metadata.file_name").as("f"))
      .agg(min("code").as("mnS"), max("code").as("mxS"),
        min("t").as("mnT"), max("t").as("mxT"))
      .collect()
    assert(stats.length >= 8, s"too few files (${stats.length}) to prove layout")
    def hits(p: org.apache.spark.sql.Row => Boolean) = stats.count(p)
    val sOnly = hits(r => r.getString(2) >= "s08" && r.getString(1) <= "s11")
    val tOnly = hits(r => r.getLong(4) >= 16L && r.getLong(3) <= 31L)
    val both = hits(r => r.getString(2) >= "s08" && r.getString(1) <= "s11" &&
      r.getLong(4) >= 16L && r.getLong(3) <= 31L)
    // each dim must prune ON ITS OWN (a 1-D sort gives full-domain
    // ranges on the non-leading dim: every file hits), and the 2-D box
    // must beat either single dim
    assert(sOnly < stats.length, s"subject dim pruned nothing: $sOnly/${stats.length}")
    assert(tOnly < stats.length, s"time dim pruned nothing: $tOnly/${stats.length}")
    assert(both < stats.length / 2,
      s"2-D box not selective: $both/${stats.length}")
    // the default layout on the same data: subject-sorted files — the
    // non-leading t dim's per-file range spans the domain, so the t
    // predicate prunes NOTHING (what z-order exists to fix)
    val root2 = Files.createTempDirectory("graft_store").toString + "/flat"
    val st2 = mkStore(root2)
    st2.set(rows.toDF("code", "t", "v", "day")); st2.save(); st2.pack(8)
    val stats2 = liveRaw(root2)
      .groupBy(col("_metadata.file_name").as("f"))
      .agg(min("t").as("mnT"), max("t").as("mxT")).collect()
    val tOnly2 = stats2.count(r => r.getLong(2) >= 16L && r.getLong(1) <= 31L)
    assert(tOnly2 == stats2.length,
      s"expected the 1-D layout to prune nothing on t: $tOnly2/${stats2.length}")
    // null z-dim values must survive the layout rewrite (the string
    // rank is a LEFT join; an inner join would silently delete them)
    val root3 = Files.createTempDirectory("graft_store").toString + "/znull"
    val st3 = mkStore(root3)
    val tagged = (0 until 64).map(i =>
      ("s0", i.toLong, i.toDouble, "d1",
        if (i % 4 == 0) null else s"g${i % 3}"))
      .toDF("code", "t", "v", "day", "tag")
    st3.set(tagged); st3.save()
    st3.pack(4, zorderBy = Some(("tag", "t")))
    assert(st3.read().count() == 64,
      "z-pack on a nullable dim lost rows")
    assert(st3.read().filter(col("tag").isNull).count() == 16,
      "null-dim rows missing after z-pack")
  }

  test("atomicReplace: one-rename replace on file:// — no absent-dest window, no stale-checksum poisoning") {
    val dir = Files.createTempDirectory("graft_store").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(s"$dir/$n")
    def write(path: org.apache.hadoop.fs.Path, s: String): Unit = {
      val out = fs.create(path, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    // dest written through the CHECKSUMMED local fs first — this is
    // the mixed-history case: a `.dest.crc` sidecar exists on disk
    // and records the OLD bytes' checksum
    write(p("dest.json"), """{"generation":1}""")
    assert(new java.io.File(s"$dir/.dest.json.crc").exists(),
      "precondition: the local fs should have produced a crc sidecar")
    write(p("dest.json.tmp"), """{"generation":2}""")
    TsStore.atomicReplace(fs, p("dest.json.tmp"), p("dest.json"))
    // the stale checksum must not poison the read of the NEW bytes
    val got = new String(TsStore.readJsonBytes(fs, p("dest.json")), "UTF-8")
    assert(got == """{"generation":2}""", got)
    assert(!fs.exists(p("dest.json.tmp")), "tmp survived the replace")
    // replace is also the CREATE path (first-ever cursor/manifest)
    write(p("fresh.json.tmp"), "A")
    TsStore.atomicReplace(fs, p("fresh.json.tmp"), p("fresh.json"))
    assert(new String(TsStore.readJsonBytes(fs, p("fresh.json")),
      "UTF-8") == "A")
    // and repeated replaces keep converging (cursor-advance cadence)
    (3 to 5).foreach { i =>
      write(p("dest.json.tmp"), s"""{"generation":$i}""")
      TsStore.atomicReplace(fs, p("dest.json.tmp"), p("dest.json"))
      assert(new String(TsStore.readJsonBytes(fs, p("dest.json")),
        "UTF-8") == s"""{"generation":$i}""")
    }
  }
}
