package graft

import graft.store.TsStore
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** TsStore's versioned day dirs + manifest commit point. The contract
  * under test: a reader pinned to a committed manifest sees that
  * snapshot IN FULL
  * for as long as it runs — through multi-day deletes, saves, packs —
  * because commits only ADD version dirs and swap the manifest;
  * a writer crash before the manifest swap changes nothing visible;
  * vacuum (and only vacuum) reclaims superseded versions. */
class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  private def mkStore(path: String) =
    new TsStore(spark, path, subject = "code", time = "t",
      soleCols = Nil, dayCol = col("day"))

  private def hfs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Fabricate generation `v`'s reservation — the commit instruction a
    * writer records before placing (a crash leaves it behind). */
  private def writeInstr(root: String, v: Long, tmp: String,
      place: Seq[String], days: Map[String, Long], kind: String = "saving",
      tombstones: String = "{}"): Unit = {
    def obj(m: Map[String, Long]) =
      m.toSeq.sorted.map { case (k, x) => s""""$k":$x""" }.mkString("{", ",", "}")
    val json = s"""{"v":$v,"token":"crashed-writer","tmp":"$tmp",""" +
      s""""kind":"$kind","place":${place.map("\"" + _ + "\"")
        .mkString("[", ",", "]")},"days":${obj(days)},"removed":{},""" +
      s""""seq":99,"tombstones":$tombstones}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${root}__resv.$v.json"),
      json.getBytes("UTF-8"))
  }

  private def rows3days = Seq(
    ("A", 1L, 10.0, "d1"), ("B", 2L, 20.0, "d1"),
    ("A", 3L, 30.0, "d2"), ("B", 4L, 40.0, "d2"),
    ("A", 5L, 50.0, "d3"), ("B", 6L, 60.0, "d3"))
    .toDF("code", "t", "v", "day")

  test("snapshot round-trip: save versions days, reads the upserted corpus, upsert wins") {
    val base = Files.createTempDirectory("graft_snap").toString
    val snap = mkStore(s"$base/snap")
    snap.set(rows3days); snap.save()
    // second-generation write: replace one row, add one
    snap.set(Seq(("A", 1L, 11.0, "d1"), ("C", 7L, 70.0, "d1"))
      .toDF("code", "t", "v", "day"))
    snap.save()
    val dump = snap.read().orderBy("code", "t")
      .select("code", "t", "v", "day").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(dump == Seq(("A", 1L, 11.0, "d1"), ("A", 3L, 30.0, "d2"),
      ("A", 5L, 50.0, "d3"), ("B", 2L, 20.0, "d1"), ("B", 4L, 40.0, "d2"),
      ("B", 6L, 60.0, "d3"), ("C", 7L, 70.0, "d1")), s"$dump")
    // layout: d1 has two versions (both generations), d2/d3 one
    assert(hfs.exists(hp(s"$base/snap/__day=d1/__v=1")) &&
      hfs.exists(hp(s"$base/snap/__day=d1/__v=2")))
    assert(hfs.exists(hp(s"$base/snap/__day=d2/__v=1")) &&
      !hfs.exists(hp(s"$base/snap/__day=d2/__v=2")))
    // a placing commit writes its reservation and manifest slot and
    // nothing else: no stamp inside version dirs, no instruction file
    // left in them, the reservation became the history record
    assert(!new java.io.File(s"$base/snap/__day=d1/__v=2").list()
      .exists(_.startsWith("_placed")))
    assert(hfs.exists(hp(s"$base/snap__snaphist/v=2.json")) &&
      !hfs.exists(hp(s"$base/snap__resv.2.json")))
    // day-pruned read still hits PartitionFilters through basePath
    val pruned = snap.read(Some("d2"), Some("d2"))
    assert(pruned.count() == 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__day"),
      s"no pruning in:\n$plan")
  }

  test("pinned reader survives a multi-day delete (rewritten + emptied days)") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save()
    val pinned = TsStore.openSnapshot(spark, root, "code").get
    // delete everything in d3 and half of d2 — multi-day, one emptied
    st.deleteWhere(col("t") >= 4L, d => d == "d2" || d == "d3")
    // the pinned frame still serves the FULL pre-delete snapshot
    assert(pinned.count() == 6,
      "pinned reader lost rows during a multi-day delete")
    // a fresh pin (and the owning store) see the delete atomically
    val fresh = TsStore.openSnapshot(spark, root, "code").get
    assert(fresh.count() == 3 && st.read().count() == 3)
    // nothing the old manifest referenced was deleted by the commit
    assert(hfs.exists(hp(s"$root/__day=d3/__v=1")),
      "commit deleted a version dir a pinned reader may hold")
  }

  test("pinned reader survives pack with tombstone materialization") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save()
    val pinned = TsStore.openSnapshot(spark, root, "code").get
    st.dropSubject("A")
    st.pack(targetFiles = 1)
    assert(pinned.count() == 6, "pinned reader lost rows during pack")
    val fresh = TsStore.openSnapshot(spark, root, "code").get
    assert(fresh.count() == 3 &&
      fresh.filter(col("code") === "A").count() == 0)
    assert(st.read().count() == 3)
    // the raw (no-subject) pin of the PRE-pack snapshot still had A;
    // post-pack snapshots exclude it physically
    assert(TsStore.openSnapshot(spark, root).get.count() == 3)
  }

  test("crash before manifest swap is invisible; acknowledged commit recovers") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days.filter(col("day") === "d1")); st.save()
    assert(st.read().count() == 2)
    // fabricate a save tmp for day d9 that crashed AFTER the parquet
    // job (_SUCCESS) but BEFORE its reservation (the commit
    // instruction) was claimed — recovery must discard it (the save
    // was never acknowledgeable)
    def writeTmp(): Unit =
      Seq(("C", 9L, 90.0, "d9")).toDF("code", "t", "v", "day")
        .withColumn("__day", col("day")).withColumn("__seq", lit(99L))
        .write.mode("overwrite").partitionBy("__day")
        .parquet(root + "__saving")
    writeTmp()
    val reopened = mkStore(root)
    assert(reopened.read().count() == 2 &&
      !hfs.exists(hp(root + "__saving")),
      "unacknowledged save tmp was not discarded")
    // now the same crash WITH the reservation (claimed after
    // _SUCCESS) — acknowledged: recovery must finish the commit
    writeTmp()
    writeInstr(root, 2L, root + "__saving", Seq("__day=d9"),
      Map("__day=d1" -> 1L, "__day=d9" -> 2L))
    val recovered = mkStore(root)
    assert(recovered.read().count() == 3 &&
      recovered.read().filter(col("code") === "C").count() == 1,
      "acknowledged save tmp was not rolled forward")
    assert(!hfs.exists(hp(root + "__saving")))
  }

  test("crash mid-commit (one day placed, manifest not swapped) redoes idempotently") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days.filter(col("day") === "d1")); st.save() // v=1
    // fabricate a two-day acknowledged save tmp...
    Seq(("C", 9L, 90.0, "d8"), ("D", 9L, 91.0, "d9"))
      .toDF("code", "t", "v", "day")
      .withColumn("__day", col("day")).withColumn("__seq", lit(99L))
      .write.mode("overwrite").partitionBy("__day")
      .parquet(root + "__saving")
    writeInstr(root, 2L, root + "__saving", Seq("__day=d8", "__day=d9"),
      Map("__day=d1" -> 1L, "__day=d8" -> 2L, "__day=d9" -> 2L))
    // ...whose commit crashed after placing ONE of the two days
    hfs.mkdirs(hp(s"$root/__day=d8"))
    assert(hfs.rename(hp(root + "__saving/__day=d8"),
      hp(s"$root/__day=d8/__v=2")))
    val recovered = mkStore(root)
    val got = recovered.read().orderBy("code")
      .select("code").collect().map(_.getString(0)).toSeq
    assert(got == Seq("A", "B", "C", "D"),
      s"mid-commit redo lost or duplicated days: $got")
  }

  test("vacuum reclaims superseded and unreferenced versions; reads unchanged") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save() // v=1 for d1-d3
    st.set(Seq(("A", 1L, 11.0, "d1")).toDF("code", "t", "v", "day"))
    st.save() // d1 at v=2
    st.deleteWhere(col("t") >= 5L, _ == "d3") // d3 leaves the manifest
    val before = st.read().orderBy("code", "t")
      .select("code", "t", "v").collect().toSeq
    // removed days obey the TIME grace, not the count — reclaim needs
    // the grace passed (the removal-grace spec covers the window)
    st.vacuum(keepSuperseded = 0, removedDayGraceMs = 0L)
    assert(!hfs.exists(hp(s"$root/__day=d1/__v=1")), "superseded version kept")
    assert(hfs.exists(hp(s"$root/__day=d1/__v=2")))
    assert(!hfs.exists(hp(s"$root/__day=d3")), "unreferenced day kept")
    val after = st.read().orderBy("code", "t")
      .select("code", "t", "v").collect().toSeq
    assert(after == before, "vacuum changed read results")
    // grace: keepSuperseded=1 keeps one superseded generation around
    st.set(Seq(("A", 1L, 12.0, "d1")).toDF("code", "t", "v", "day"))
    st.save() // d1 at v=4 (delete bumped the generation to 3)
    st.vacuum(keepSuperseded = 1)
    assert(hfs.exists(hp(s"$root/__day=d1/__v=2")) &&
      hfs.exists(hp(s"$root/__day=d1/__v=4")))
  }

  test("commit replay after the manifest swap does not mint a phantom version") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save() // v=1, all days placed, manifest swapped
    // fabricate the one crash state the placed/swapped dirs cannot
    // distinguish from "never committed": the save fully committed
    // (days renamed out, manifest at v=1) but the process died before
    // deleting the tmp or moving its reservation into the history
    // record — recovery sees the commit instruction again. Re-deriving
    // the target from the (already bumped) manifest here would commit
    // days -> v=2, dirs that do not exist, and a later vacuum would
    // then delete the real v=1 dirs as "superseded".
    val all = Map("__day=d1" -> 1L, "__day=d2" -> 1L, "__day=d3" -> 1L)
    hfs.mkdirs(hp(root + "__saving"))
    hfs.create(hp(root + "__saving/_SUCCESS"), true).close()
    writeInstr(root, 1L, root + "__saving", all.keys.toSeq, all)
    val re = mkStore(root)
    assert(re.read().count() == 6, "post-swap replay lost the store")
    assert(!hfs.exists(hp(s"$root/__day=d1/__v=2")),
      "replay minted a phantom version dir")
    assert(!hfs.exists(hp(root + "__saving")))
    // vacuum after the replay must keep the live data
    re.vacuum(keepSuperseded = 0)
    assert(re.read().count() == 6, "vacuum after replay deleted live data")
    // same window for pack: a fully-committed __packed tmp replays at
    // its recorded version, not a re-derived one
    hfs.mkdirs(hp(root + "__packed"))
    hfs.create(hp(root + "__packed/_SUCCESS"), true).close()
    writeInstr(root, 1L, root + "__packed", all.keys.toSeq, all, "packed")
    val re2 = mkStore(root)
    assert(re2.read().count() == 6, "post-swap pack replay lost the store")
    assert(!hfs.exists(hp(s"$root/__day=d1/__v=2")))
  }

  test("pack mints a generation the pinned-plan cache then serves (no cached None)") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save() // gen 1
    // poison the pinned cache: generation 2 does not exist yet
    assert(st.openPinned(2L, "code").isEmpty)
    st.pack(targetFiles = 1) // mints generation 2
    assert(st.openPinned(2L, "code").nonEmpty,
      "pinned cache kept serving a stale None for the generation pack minted")
  }

  test("steady-state GC probes above the recorded sub count: a foreign sub-slot is swept, not leaked") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save()                                   // gen 1
    st.set(Seq(("A", 1L, 11.0, "d1")).toDF("code", "t", "v", "day"))
    st.save()                                                      // gen 2
    // a foreign writer's bookkeeping rewrite minted (2,1) — this
    // handle's recentSubs still says gen 2 has sub count 0 (the stale
    // state a lease retake leaves). Valid content: same corpus, sub=1.
    val base = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root + "__snapshot.2.0.json")), "UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root + "__snapshot.2.1.json"),
      base.replace("\"sub\":0", "\"sub\":1").getBytes("UTF-8"))
    st.set(Seq(("C", 9L, 21.0, "d1")).toDF("code", "t", "v", "day"))
    st.save()                                                      // gen 3
    st.set(Seq(("D", 9L, 31.0, "d2")).toDF("code", "t", "v", "day"))
    st.save()                      // gen 4 → GC retires generation 2
    assert(!hfs.exists(hp(root + "__snapshot.2.0.json")),
      "gen-2 base slot leaked past GC")
    assert(!hfs.exists(hp(root + "__snapshot.2.1.json")),
      "foreign sub-slot above the recorded count leaked past GC")
    assert(hfs.exists(hp(root + "__snapshot.3.0.json")),
      "GC must keep one generation behind the committed slot")
    assert(st.read().count() == 8)
  }

  test("vacuum reclaims a manifest-removed day only after the removal grace") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save()
    st.deleteWhere(col("t") >= 5L, _ == "d3") // d3 leaves the manifest
    // inside the grace window (default 24h) the final version dirs
    // survive for readers pinned to manifests that still reference
    // them — even though no later version will ever supersede them
    st.vacuum(keepSuperseded = 1)
    assert(hfs.exists(hp(s"$root/__day=d3/__v=1")),
      "vacuum reclaimed a removed day inside its grace window")
    // past the grace the WHOLE day goes — the count-based keep alone
    // would leak it forever (nothing ever supersedes a removed day)
    st.vacuum(keepSuperseded = 1, removedDayGraceMs = 0L)
    assert(!hfs.exists(hp(s"$root/__day=d3")),
      "vacuum leaked a removed day past its grace")
    // live days keep their superseded-count grace in the same call,
    // reads are unchanged, and the removal record is retired
    assert(st.read().count() == 4)
    st.vacuum(keepSuperseded = 1, removedDayGraceMs = 0L) // idempotent
    assert(st.read().count() == 4)
  }

  test("meta mode record guards a store with zero committed day dirs") {
    val base = Files.createTempDirectory("graft_snap").toString
    // a root of the retired flat layout: its meta sidecar recorded the
    // mode, and it may hold no day dirs (a crashed first save) — the
    // record alone must refuse the open, before recovery touches it
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/flat__meta.json"),
      """{"seq":3,"snapshots":false,"tombstones":{}}""".getBytes("UTF-8"))
    val err = intercept[IllegalArgumentException] { mkStore(s"$base/flat") }
    assert(err.getMessage.contains("flat"), err.getMessage)
    // sidecars of the one layout (with or without the old mode field)
    // open fine
    val snap = mkStore(s"$base/snap")
    snap.set(rows3days); snap.save(); snap.dropSubject("A")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/snap__meta.json"),
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        s"$base/snap__meta.json")), "UTF-8")
        .replaceFirst("\\{", "{\"snapshots\":true,").getBytes("UTF-8"))
    assert(mkStore(s"$base/snap").read().count() == 3)
  }

  test("restart: snapshot store reloads manifest, watermark, tombstones") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save()
    st.dropSubject("B")
    val re = mkStore(root)
    assert(re.read().count() == 3 &&
      re.read().filter(col("code") === "B").count() == 0,
      "tombstone lost across restart")
    // re-created subject outranks the old tombstone after restart
    re.set(Seq(("B", 9L, 99.0, "d1")).toDF("code", "t", "v", "day"))
    re.save()
    assert(re.read().filter(col("code") === "B").count() == 1)
  }

  test("time travel: each generation reads exactly as committed, drops do not rewrite history") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save() // generation 1
    val gen1 = st.read().select("code", "t", "v", "day")
      .orderBy("code", "t").collect().toSeq
    st.set(Seq(("A", 1L, 11.0, "d1"), ("C", 7L, 70.0, "d1"))
      .toDF("code", "t", "v", "day"))
    st.save() // generation 2
    st.dropSubject("B") // O(1) tombstone, NO generation
    st.set(Seq(("C", 8L, 80.0, "d2")).toDF("code", "t", "v", "day"))
    st.save() // generation 3: first commit that records B's tombstone
    assert(st.snapshotVersions == Seq(1L, 2L, 3L))
    val at1 = TsStore.openSnapshotAt(spark, root, 1L, "code").get
    assert(at1.select("code", "t", "v", "day").orderBy("code", "t")
      .collect().toSeq == gen1,
      "generation 1 did not read back exactly as committed")
    // generation 2 committed BEFORE the drop: B is still visible there
    val at2 = TsStore.openSnapshotAt(spark, root, 2L, "code").get
    assert(at2.filter(col("code") === "B").count() == 3,
      "a later drop rewrote generation 2's history")
    assert(at2.count() == 7) // 6 − A@1 replaced + C@7 added
    // generation 3 carries the tombstone; live read agrees
    val at3 = TsStore.openSnapshotAt(spark, root, 3L, "code").get
    assert(at3.filter(col("code") === "B").count() == 0)
    assert(at3.count() === st.read().count())
    // unknown generation: None, never a guess
    assert(TsStore.openSnapshotAt(spark, root, 99L, "code").isEmpty)
  }

  test("vacuum keepHistory pins retained generations' files; 0 reclaims records") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save() // gen 1
    st.set(Seq(("A", 1L, 11.0, "d1")).toDF("code", "t", "v", "day"))
    st.save() // gen 2: d1 at __v=2, gen-1's __v=1 superseded
    st.set(Seq(("A", 1L, 12.0, "d1")).toDF("code", "t", "v", "day"))
    st.save() // gen 3
    val gen1 = TsStore.openSnapshotAt(spark, root, 1L, "code").get
      .orderBy("code", "t").select("v").collect().map(_.getDouble(0)).toSeq
    // keepSuperseded=0 would reclaim d1 __v=1/__v=2 — but keepHistory=3
    // retains all three generation records, which pin their versions
    st.vacuum(keepSuperseded = 0, removedDayGraceMs = 0L, keepHistory = 3)
    assert(st.snapshotVersions == Seq(1L, 2L, 3L))
    assert(TsStore.openSnapshotAt(spark, root, 1L, "code").get
      .orderBy("code", "t").select("v").collect().map(_.getDouble(0)).toSeq
      == gen1, "vacuum reclaimed files a retained generation references")
    // retention 1: only the newest record survives; gen-1/2 records go
    // FIRST, then their now-unreferenced dirs fall to the count grace
    st.vacuum(keepSuperseded = 0, removedDayGraceMs = 0L, keepHistory = 1)
    assert(st.snapshotVersions == Seq(3L))
    assert(TsStore.openSnapshotAt(spark, root, 1L, "code").isEmpty,
      "unretained generation still readable (record should be gone)")
    assert(!hfs.exists(hp(s"$root/__day=d1/__v=1")) &&
      !hfs.exists(hp(s"$root/__day=d1/__v=2")),
      "unreferenced superseded versions survived keepSuperseded=0")
    // the live read and the retained generation are untouched
    assert(st.read().count() == 6)
    assert(TsStore.openSnapshotAt(spark, root, 3L, "code").get.count() == 6)
  }

  test("an empty day dir (mid-place or mid-vacuum crash) does not brick the open") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save()
    // fabricate the crash residue: a day dir created by placeVersions'
    // mkdirs whose rename never ran (no __v= inside, no files at all)
    hfs.mkdirs(hp(s"$root/__day=d0aaa"))
    val re = mkStore(root) // must not trip over the empty dir
    assert(re.read().count() == 6)
  }

  test("a stale complete tmp replay never stomps a version slot a later commit reused") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days.filter(col("day") === "d1")); st.save() // gen 1
    st.set(Seq(("A", 1L, 11.0, "d1")).toDF("code", "t", "v", "day"))
    st.save() // gen 2: d1 at __v=2, vol... v=11.0 is live
    // fabricate a STALE complete save tmp recorded at v=2 (as if an
    // earlier attempt at gen 2 failed mid-place, the writer retried
    // through another code path, and the tmp lingered): its replay
    // must place NOTHING — the guard is snap.v < targetV, placement
    // included — or it would overwrite the live __v=2 with stale rows
    Seq(("Z", 9L, 999.0, "d1")).toDF("code", "t", "v", "day")
      .withColumn("__day", col("day")).withColumn("__seq", lit(1L))
      .write.mode("overwrite").partitionBy("__day")
      .parquet(root + "__saving")
    writeInstr(root, 2L, root + "__saving", Seq("__day=d1"),
      Map("__day=d1" -> 2L))
    val re = mkStore(root)
    val a1 = re.read().filter(col("code") === "A" && col("t") === 1)
      .select("v").collect().map(_.getDouble(0)).toSeq
    assert(a1 == Seq(11.0),
      s"stale tmp replay overwrote the live version slot: $a1")
    assert(re.read().filter(col("code") === "Z").count() == 0)
  }

  test("legacy (no-v) drained tmp after its swap does not mint a phantom generation") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days.filter(col("day") === "d1")); st.save() // gen 1
    // fabricate: a pre-upgrade tmp whose day dirs were ALL placed and
    // whose manifest swap ALSO ran (d1 maps to the current generation)
    // but whose tmp delete never happened — no "v" in the instruction
    hfs.mkdirs(hp(root + "__saving"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root + "__saving", "_SUCCESS"),
      Array.empty[Byte])
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root + "__saving", "__commit.json"),
      """{"days":["__day=d1"]}""".getBytes("UTF-8"))
    val re = mkStore(root)
    // a phantom re-swap would point d1 at __v=2 (never created) and
    // every read would die with path-not-found
    assert(re.read().count() == 2,
      "legacy drained tmp minted a phantom generation")
  }

  test("supersededGraceMs keeps superseded live-day versions inside the time grace") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days.filter(col("day") === "d1")); st.save() // __v=1
    st.set(Seq(("A", 1L, 11.0, "d1")).toDF("code", "t", "v", "day"))
    st.save() // __v=2
    // count grace alone would reclaim __v=1; the time grace keeps it
    st.vacuum(keepSuperseded = 0, removedDayGraceMs = 0L,
      supersededGraceMs = 3600L * 1000)
    assert(hfs.exists(hp(s"$root/__day=d1/__v=1")),
      "time grace did not keep a just-superseded version")
    st.vacuum(keepSuperseded = 0, removedDayGraceMs = 0L)
    assert(!hfs.exists(hp(s"$root/__day=d1/__v=1")),
      "superseded version survived with no grace")
    assert(st.read().count() == 2)
  }

  test("recovery-minted generation records carry the live tombstones, not empty ones") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days.filter(col("day") === "d1")); st.save() // gen 1
    st.dropSubject("B") // tombstone persisted to the meta sidecar
    // crash a save after its reservation and placements, before the
    // slot claim — the NEXT writer adopts the commit and mints
    // generation 2's history record; it must embed B's tombstone
    // exactly as an uncrashed save would
    st.onBeforeSnapshotClaim = () =>
      throw new RuntimeException("injected crash before the slot claim")
    st.set(Seq(("C", 9L, 90.0, "d9")).toDF("code", "t", "v", "day"))
    assert(scala.util.Try(st.save()).isFailure)
    val recovered = mkStore(root)
    recovered.set(Seq(("D", 9L, 91.0, "d8")).toDF("code", "t", "v", "day"))
    recovered.save() // first mutation: adopt generation 2, commit gen 3
    assert(recovered.snapshotVersions.contains(2L))
    val at2 = TsStore.openSnapshotAt(spark, root, 2L, "code").get
    assert(at2.filter(col("code") === "B").count() == 0,
      "a recovery-minted generation record lost the live tombstones")
    assert(at2.filter(col("code") === "C").count() == 1)
  }

  test("vacuum's same-generation bookkeeping never re-mints a reclaimed history record") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save() // gen 1
    // empty d1 via delete: its removal is recorded for the grace
    st.deleteWhere(col("day") === "d1", _ == "d1") // gen 2
    st.vacuum(keepSuperseded = 0, removedDayGraceMs = 0L, keepHistory = 0)
    // the vacuum reclaimed BOTH history records AND d1's dirs, then
    // retired the removal record via a same-generation manifest
    // rewrite — which must NOT resurrect gen 2's history record (it
    // would carry current tombstones, not as-of-commit ones)
    assert(st.snapshotVersions.isEmpty,
      s"retirement re-minted history: ${st.snapshotVersions}")
    assert(TsStore.openSnapshotAt(spark, root, 2L, "code").isEmpty)
    assert(st.read().count() == 4) // d2 + d3 live rows unaffected
  }

  test("writer fence: a second WRITER takes over the root; the superseded handle fails loudly; readers never fence") {
    locally {
      val root = Files.createTempDirectory("graft_snap").toString + "/fence"
      def open() = mkStore(root)
      val a = open()
      a.set(rows3days); a.save()
      // a second handle that only READS must not fence the active
      // writer (acquisition is lazy, at first mutation): the writer's
      // next save proceeds
      val reader = open()
      assert(reader.read().count() == 6)
      a.set(Seq(("R", 50L, 5.0, "d3")).toDF("code", "t", "v", "day"))
      a.save() // must NOT throw — nobody else wrote
      val before = a.read().orderBy("code", "t")
        .select("code", "t", "v", "day").collect().toSeq
      // a second WRITER process on the same root: simulated in-process
      // (the lease lives on the shared filesystem, so the mechanism is
      // identical cross-process). Its first mutation takes the lease.
      val b = open()
      b.set(Seq(("C", 9L, 9.0, "d2")).toDF("code", "t", "v", "day"))
      b.save()
      // the SUPERSEDED handle is fenced at its next mutation — before
      // anything of its touches disk
      a.set(Seq(("Z", 99L, 1.0, "d1")).toDF("code", "t", "v", "day"))
      val ex = intercept[IllegalStateException] { a.save() }
      assert(ex.getMessage.contains("FENCED"), ex.getMessage)
      intercept[IllegalStateException] { a.dropSubject("A") }
      intercept[IllegalStateException] { a.pack(1) }
      intercept[IllegalStateException] { a.vacuum() }
      // the store's content is the takeover's view plus its own write —
      // nothing from the fenced handle's rejected writes leaked in
      assert(b.read().orderBy("code", "t")
        .select("code", "t", "v", "day").collect().toSeq.size ==
        before.size + 1)
      assert(b.read().filter(col("code") === "Z").count() == 0,
        "a rejected write leaked into the store")
    }
  }

  test("takeover landing INSIDE the commit window: the in-flight commit linearizes atomically, the next write is fenced") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val a = mkStore(root)
    a.set(rows3days); a.save() // generation 1; a holds the lease
    // hook the window between a's entry fence check and its manifest
    // slot claim: another PROCESS takes over the lease (written
    // directly — it performs no write of its own yet). Under the
    // claimed-slot protocol there is no verify-and-rollback: the claim
    // is the single arbiter. With no competing claim, a's in-flight
    // commit wins its slot and is LINEARIZED BEFORE the takeover's
    // first write — fully published, fully consistent, nothing for
    // the new writer to trip over.
    a.onBeforeSnapshotClaim = () => {
      val lease =
        """{"epoch":999,"token":"foreign-takeover","owner":"other@host"}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root.stripSuffix("/") + "__lease.json"),
        lease.getBytes("UTF-8"))
    }
    a.set(Seq(("A", 1L, 99.0, "d1")).toDF("code", "t", "v", "day"))
    a.save() // commits cleanly: the claim landed before any foreign write
    a.onBeforeSnapshotClaim = () => ()
    val live = TsStore.openSnapshot(spark, root, "code").get
    assert(live.filter(col("v") === 99.0).count() == 1 && live.count() == 6,
      "the in-flight commit did not linearize")
    // no half-state left behind: the staging tmp is gone and exactly
    // one manifest slot per generation exists
    assert(hfs.listStatus(hp(root).getParent)
      .forall(s => !s.getPath.getName.contains("__saving")),
      "a committed save left a staging tmp behind")
    // the superseded handle fails LOUDLY at its next mutation — the
    // fence still decides who may keep writing; the claim only decides
    // that whatever committed, committed atomically
    a.set(Seq(("Z", 99L, 1.0, "d1")).toDF("code", "t", "v", "day"))
    val ex = intercept[IllegalStateException] { a.save() }
    assert(ex.getMessage.contains("FENCED"), ex.getMessage)
    // and the refused write left nothing: same row count, no Z
    val after = TsStore.openSnapshot(spark, root, "code").get
    assert(after.filter(col("code") === "Z").count() == 0 &&
      after.count() == 6, "a fenced write published data")
  }

  test("takeover mid-commit via a second handle: the pending slot is adopted, both writers' data survives, zero lost updates") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val a = mkStore(root)
    a.set(rows3days); a.save() // generation 1; a holds the lease
    // a full second writer handle takes over INSIDE a's commit window
    // (a has reserved generation 2 and placed its day dirs; its slot
    // claim has not run). b's first mutation seals-or-adopts pending
    // reservations: a's commit instruction is complete on disk, so b
    // ADOPTS it — rolls generation 2 forward byte-identically — and
    // then commits its own generation 3 on top. a's claim then finds
    // its slot already committed with ITS OWN content and reports
    // success: the in-flight commit linearized before the takeover's
    // first write, through whichever hand got there first.
    var b: TsStore = null
    a.onBeforeSnapshotClaim = () => if (b == null) {
      b = mkStore(root)
      b.set(Seq(("C", 9L, 90.0, "d9")).toDF("code", "t", "v", "day"))
      b.save()
    }
    a.set(Seq(("A", 1L, 99.0, "d1")).toDF("code", "t", "v", "day"))
    a.save() // acknowledged: the adopted slot carries exactly this commit
    a.onBeforeSnapshotClaim = () => ()
    val live = TsStore.openSnapshot(spark, root, "code").get
    assert(live.filter(col("code") === "C").count() == 1,
      "the takeover's interleaved commit was lost")
    assert(live.filter(col("v") === 99.0).count() == 1,
      "the adopted in-flight commit was lost")
    assert(live.count() == 7) // 6 seed rows (A,1 upserted to 99) + C
    // the superseded handle is fenced at its NEXT write, loudly
    a.set(Seq(("Y", 11L, 2.0, "d1")).toDF("code", "t", "v", "day"))
    val ex = intercept[IllegalStateException] { a.save() }
    assert(ex.getMessage.contains("FENCED"), ex.getMessage)
    // b keeps writing normally
    b.set(Seq(("D", 10L, 1.0, "d9")).toDF("code", "t", "v", "day"))
    b.save()
    assert(b.read().count() == 8)
  }

  test("takeover saving the same day before the reservation claim: the superseded save is FENCED, not acknowledged") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val a = mkStore(root)
    a.set(rows3days); a.save() // generation 1; a holds the lease
    // a has staged its merge of d1 but not yet claimed generation 2's
    // reservation. b takes over and saves the SAME day: generation 2
    // lands with the days map a's instruction also carries, and b's
    // reservation is renamed into the history record — freeing the
    // name a claims next. Equal content is not a's commit landing.
    var b: TsStore = null
    a.onBeforeResvClaim = () => if (b == null) {
      b = mkStore(root)
      b.set(Seq(("E", 7L, 70.0, "d1")).toDF("code", "t", "v", "day"))
      b.save()
    }
    a.set(Seq(("A", 1L, 99.0, "d1")).toDF("code", "t", "v", "day"))
    val ex = intercept[IllegalStateException] { a.save() }
    a.onBeforeResvClaim = () => ()
    assert(ex.getMessage.contains("FENCED"), ex.getMessage)
    // the refused save kept its hot tail: nothing was dropped unseen
    assert(a.hotSize == 1, s"a FENCED save cleared ${1 - a.hotSize} hot rows")
    assert(!hfs.exists(hp(root + "__resv.2.json")),
      "the withdrawn reservation claim was left behind")
    val live = TsStore.openSnapshot(spark, root, "code").get
    assert(live.filter(col("code") === "E").count() == 1 &&
      live.filter(col("v") === 99.0).count() == 0 && live.count() == 7)
    assert(b.currentGeneration == 2L)
  }

  test("claimed generations: a crashed in-flight commit is ADOPTED when its instruction is complete, SEALED when not") {
    // CASE 1 — complete instruction: crash between placement and the
    // slot claim. The next writer's first mutation rolls the commit
    // forward byte-identically (it was acknowledged-able work in
    // flight — adoption linearizes it before the takeover's writes).
    val root1 = Files.createTempDirectory("graft_snap").toString + "/s"
    val a1 = mkStore(root1)
    a1.set(rows3days); a1.save() // generation 1
    a1.onBeforeSnapshotClaim = () =>
      throw new RuntimeException("injected crash before the slot claim")
    a1.set(Seq(("A", 1L, 99.0, "d1")).toDF("code", "t", "v", "day"))
    assert(scala.util.Try(a1.save()).isFailure)
    // the crash left the reservation + placed dirs + complete tmp;
    // nothing is visible yet
    assert(TsStore.openSnapshot(spark, root1, "code").get
      .filter(col("v") === 99.0).count() == 0,
      "an unclaimed commit is visible")
    val b1 = mkStore(root1)
    b1.set(Seq(("C", 9L, 90.0, "d9")).toDF("code", "t", "v", "day"))
    b1.save() // first mutation: adopt generation 2, commit own gen 3
    val live1 = b1.read()
    assert(live1.filter(col("v") === 99.0).count() == 1,
      "the complete in-flight commit was not adopted")
    assert(live1.filter(col("code") === "C").count() == 1 &&
      live1.count() == 7)

    // CASE 2 — incomplete instruction (the tmp's job marker gone):
    // the reserved generation is SEALED with an empty advance; the
    // crashed data is discarded (it was never acknowledged), the next
    // writer's own commits proceed cleanly above the sealed slot.
    val root2 = Files.createTempDirectory("graft_snap").toString + "/s"
    val a2 = mkStore(root2)
    a2.set(rows3days); a2.save()
    a2.onBeforeSnapshotClaim = () =>
      throw new RuntimeException("injected crash before the slot claim")
    a2.set(Seq(("A", 1L, 99.0, "d1")).toDF("code", "t", "v", "day"))
    assert(scala.util.Try(a2.save()).isFailure)
    // mutilate the instruction: the staged tmp loses its _SUCCESS
    hfs.listStatus(hp(root2).getParent)
      .filter(_.getPath.getName.startsWith("s__saving."))
      .foreach(t => hfs.delete(
        new org.apache.hadoop.fs.Path(t.getPath, "_SUCCESS"), false))
    val b2 = mkStore(root2)
    b2.set(Seq(("C", 9L, 90.0, "d9")).toDF("code", "t", "v", "day"))
    b2.save() // seal gen 2 (empty advance), commit own data at gen 3
    val live2 = b2.read()
    assert(live2.filter(col("v") === 99.0).count() == 0,
      "an incomplete (never acknowledged) commit leaked through the seal")
    assert(live2.filter(col("code") === "C").count() == 1 &&
      live2.count() == 7)
    // the sealed generation is a real, time-travelable empty advance
    assert(b2.currentGeneration == 3L,
      s"seal + own commit should land at generation 3, " +
        s"got ${b2.currentGeneration}")
    // and the crashed writer, if it resumes, is fenced loudly
    a2.onBeforeSnapshotClaim = () => ()
    a2.set(Seq(("Z", 99L, 1.0, "d1")).toDF("code", "t", "v", "day"))
    val ex = intercept[IllegalStateException] { a2.save() }
    assert(ex.getMessage.contains("FENCED"), ex.getMessage)
  }

  test("claimed generations: GC retires old slots behind a floor record; the legacy single-file manifest migrates") {
    val base = Files.createTempDirectory("graft_snap").toString
    val root = s"$base/s"
    val st = mkStore(root)
    st.set(rows3days); st.save() // gen 1
    for (i <- 2 to 5) {
      st.set(Seq(("A", 1L, i * 1.0, "d1")).toDF("code", "t", "v", "day"))
      st.save()
    } // gens 2..5
    def slotNames = hfs.listStatus(hp(base)).map(_.getPath.getName)
      .filter(n => n.startsWith("s__snapshot.") && n.endsWith(".json")).toSeq
    // retention: committed + one predecessor (the probe-walk's
    // soundness window); everything older is freed behind the floor
    assert(slotNames.sorted == Seq("s__snapshot.4.0.json",
      "s__snapshot.5.0.json"), s"unexpected slots: $slotNames")
    assert(TsStore.readFloor(hfs, root) == 3L,
      s"floor should record the highest freed generation, " +
        s"got ${TsStore.readFloor(hfs, root)}")
    // reservations below the kept window are freed too
    assert(!hfs.listStatus(hp(base)).map(_.getPath.getName)
      .exists(_.startsWith("s__resv.3")), "stale reservations leaked")

    // legacy migration: simulate a pre-claim store by rewriting its
    // manifest as the old single file and dropping the numbered slots
    val legacyRoot = s"$base/leg"
    val lst = mkStore(legacyRoot)
    lst.set(rows3days); lst.save()
    val slot1 = new org.apache.hadoop.fs.Path(s"$base/leg__snapshot.1.0.json")
    val bytes = TsStore.readJsonBytes(hfs, slot1)
    val out = hfs.create(hp(s"$base/leg__snapshot.json"), true)
    try out.write(bytes) finally out.close()
    hfs.delete(slot1, false)
    val reopened = mkStore(legacyRoot)
    assert(reopened.read().count() == 6, "legacy manifest did not resolve")
    reopened.set(Seq(("C", 9L, 90.0, "d9")).toDF("code", "t", "v", "day"))
    reopened.save() // first claim commits slot 2.0 and retires the legacy file
    assert(reopened.read().count() == 7)
    assert(!hfs.exists(hp(s"$base/leg__snapshot.json")),
      "the legacy manifest was not retired after the first numbered claim")
    assert(hfs.exists(hp(s"$base/leg__snapshot.2.0.json")),
      "the migrating commit did not claim the next numbered slot")
  }

  test("scheduled vacuum is incremental (O(touched days)); manual vacuum sweeps all") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.autoVacuum = Some(TsStore.AutoVacuum(everyGenerations = 1,
      keepSuperseded = 0, removedDayGraceMs = 0L))
    // 12 days in one commit; the FIRST scheduled run after open is a
    // full sweep (the pending set is in-memory, a restart loses it)
    val seed = (1 to 12).map(i => ("A", i.toLong, i * 1.0, f"d$i%02d"))
      .toDF("code", "t", "v", "day")
    st.set(seed); st.save()
    assert(st.lastVacuumDaysListed == 12,
      s"first scheduled vacuum should sweep all 12 days, " +
        s"listed ${st.lastVacuumDaysListed}")
    // now touch TWO days — the scheduled run must list only those
    st.set(Seq(("A", 1L, 9.0, "d01"), ("A", 2L, 9.0, "d02"))
      .toDF("code", "t", "v", "day"))
    st.save()
    assert(st.lastVacuumDaysListed == 2,
      s"scheduled vacuum listed ${st.lastVacuumDaysListed} day dirs " +
        "for a 2-day commit — not incremental")
    // and it reclaimed the touched days' superseded versions
    assert(!hfs.exists(hp(s"$root/__day=d01/__v=1")) &&
      hfs.exists(hp(s"$root/__day=d01/__v=2")),
      "scoped vacuum did not reclaim a touched day's superseded version")
    // a day kept ONLY by a time grace stays on the worklist: wall
    // clock (not a commit) makes it reclaimable
    st.autoVacuum = Some(TsStore.AutoVacuum(everyGenerations = 1,
      keepSuperseded = 0, removedDayGraceMs = 0L,
      supersededGraceMs = 3600L * 1000))
    st.set(Seq(("A", 3L, 9.0, "d03")).toDF("code", "t", "v", "day"))
    st.save() // d03's superseded version survives on the time grace
    assert(st.lastVacuumDaysListed == 1)
    assert(hfs.exists(hp(s"$root/__day=d03/__v=1")),
      "time grace did not hold the superseded version")
    st.set(Seq(("A", 4L, 9.0, "d04")).toDF("code", "t", "v", "day"))
    st.save() // scope = touched d04 + still-graced d03
    assert(st.lastVacuumDaysListed == 2,
      s"a grace-pending day fell off the scheduled worklist " +
        s"(listed ${st.lastVacuumDaysListed})")
    // manual vacuum is always the full sweep
    st.vacuum(keepSuperseded = 0)
    assert(st.lastVacuumDaysListed == 12,
      s"manual vacuum listed ${st.lastVacuumDaysListed} of 12 days")
  }

  test("supersededGraceMs dates a version by its data files, not the dir mtime") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(Seq(("A", 1L, 1.0, "d1")).toDF("code", "t", "v", "day")); st.save()
    st.set(Seq(("A", 1L, 2.0, "d1")).toDF("code", "t", "v", "day")); st.save()
    val v1 = s"$root/__day=d1/__v=1"
    val files = new java.io.File(v1).listFiles().filter(_.isFile)
    assert(files.exists(_.getName.endsWith(".parquet")))
    // object-store scenario: dir mtimes are meaningless — make the dir
    // LOOK ancient while its data files carry the true write instant;
    // the grace must still hold the version
    new java.io.File(v1).setLastModified(1000L)
    st.vacuum(keepSuperseded = 0, supersededGraceMs = 3600L * 1000)
    assert(hfs.exists(hp(v1)),
      "grace trusted the dir mtime over the version's data files")
    // the grace counts from the NEWEST data file's write instant: one
    // file still inside the grace holds the version, however old the
    // others are
    val grace = 3600L * 1000
    files.foreach(_.setLastModified(1000L))
    files.find(_.getName.endsWith(".parquet")).get
      .setLastModified(System.currentTimeMillis() - grace + 600000L)
    st.vacuum(keepSuperseded = 0, supersededGraceMs = grace)
    assert(hfs.exists(hp(v1)),
      "grace did not count from the newest data file's write instant")
    // ancient DATA FILES mean the grace really has passed → reclaimed
    files.foreach(_.setLastModified(1000L))
    st.vacuum(keepSuperseded = 0, supersededGraceMs = 3600L * 1000)
    assert(!hfs.exists(hp(v1)),
      "an expired version was not released")
  }

  test("restoreTo: rollback is roll-forward, discards hot, survives restart, refuses vacuumed targets") {
    val root = Files.createTempDirectory("graft_snap").toString + "/s"
    val st = mkStore(root)
    st.set(rows3days); st.save() // gen 1: the good corpus
    val gen1 = st.read().select("code", "t", "v", "day")
      .orderBy("code", "t").collect().toSeq
    // post-cut damage: a bad upsert (gen 2), a drop, a poisoned hot tail
    st.set(Seq(("A", 1L, -99.0, "d1"), ("Z", 9L, 1.0, "d3"))
      .toDF("code", "t", "v", "day"))
    st.save() // gen 2
    st.dropSubject("B")
    st.set(Seq(("A", 3L, -1.0, "d2")).toDF("code", "t", "v", "day"))
    assert(st.restoreTo(1L) == 3L, "restore must mint the NEXT generation")
    // live == gen 1 exactly: bad rows gone, B resurrected, hot discarded
    assert(st.read().select("code", "t", "v", "day")
      .orderBy("code", "t").collect().toSeq == gen1)
    // history intact: gen 2 still serves the damage
    val at2 = TsStore.openSnapshotAt(spark, root, 2L, "code").get
    assert(at2.filter(col("code") === "Z").count() == 1,
      "restore rewrote generation 2's history")
    // restart: the restored state rehydrates from disk
    val st2 = mkStore(root)
    assert(st2.read().select("code", "t", "v", "day")
      .orderBy("code", "t").collect().toSeq == gen1,
      "restored state did not survive a restart")
    // restore-of-restore: rolling forward again to gen 2 re-serves the
    // damage (the undo of a mistaken rollback)
    assert(st2.restoreTo(2L) == 4L)
    assert(st2.read().filter(col("code") === "Z").count() == 1)
    // a vacuumed generation refuses to restore rather than serving a
    // silently different corpus (keepHistory=0 reclaims records)
    st2.vacuum(keepSuperseded = 0, keepHistory = 0)
    val err = intercept[IllegalArgumentException](st2.restoreTo(1L))
    assert(err.getMessage.contains("cannot restore"))
  }
}
