package graft.store

import graft.ops.Write
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's memory-first, disk-persistent table store
  * (workers/sisdb: in-memory hot series + per-day SDB files, daily
  * `save`, weekly `pack`) re-shaped for Spark:
  *
  *  - **cold**: parquet partitioned by a derived day column — pruned
  *    reads are Catalyst `PartitionFilters` (the engine's main scale
  *    lever, disk/readme.md types 4/6)
  *  - **hot**: the un-flushed tail held as eagerly-materialized
  *    (persisted) micro-batches (reference: the resident series,
  *    sisdb_fmap.h:57-61). The tail is BOUNDED: when the staged rows
  *    exceed `maxHotRows` or the staged batch count exceeds
  *    `maxHotBatches`, the store flushes itself — the Spark analogue of
  *    the reference's idle eviction / read-counter decay
  *    (sisdb_fmap.h:57-61: 36 h unread series are dropped from memory;
  *    here memory pressure, not wall-clock, is the budget that a
  *    1000-executor deployment actually cares about). The batch cap
  *    also bounds the union-plan depth, which would otherwise grow
  *    linearly in the number of `set` calls.
  *  - **read** = cold ∪ hot with last-write-wins dedupe by
  *    (subject, solely…, time) on the ingest sequence — the union the
  *    reference gets implicitly because memory shadows disk
  *    (SURVEY.md §7.5.5)
  *  - **save** flushes hot into ONLY the day partitions the tail
  *    touches (cmd `save`, sisdb.c:563-584 — the reference likewise
  *    rewrites dirty day files, not the whole store); **pack** rewrites
  *    partitions to bounded file counts (cmd `pack`, sisdb.c:586-602)
  *
  * Writes are serialized by the caller exactly like the reference's
  * single dispatcher thread (sisdb_server.c:474-476) — the store keeps
  * one writer's view consistent, it is not a concurrency layer.
  *
  * ==On-disk layout and the concurrent-reader contract==
  * One layout: every cold rewrite (save, delete, pack) writes NEW
  * versioned day dirs `__day=X/__v=N` and commits them by an
  * EXCLUSIVE CLAIM of the next numbered manifest slot
  * (`__snapshot.<v>.<k>.json`, day → version inside) — exactly one of
  * N concurrent claimants of a slot wins, so a commit either
  * linearizes fully or fails loudly with nothing published; readers
  * resolve the max slot. Nothing a committed manifest references is
  * ever deleted by a later commit — a reader that pinned a manifest
  * ([[TsStore.openSnapshot]], also an out-of-process SQL engine over
  * the pinned dirs) reads immutable dirs for as long as it runs, a
  * multi-day delete/save/pack is all-or-nothing (readers see the old
  * snapshot in full until the slot claim, the new one in full after),
  * and a writer crash before the claim is a no-op (orphan version
  * dirs are inert). Superseded versions are reclaimed ONLY by
  * [[vacuum]] (or its opt-in scheduled form, [[autoVacuum]] /
  * [[graft.api.Engine.autoVacuum]] — off unless configured): a store
  * that is never vacuumed keeps every version it ever wrote. The
  * operator runs it with a grace ≥ the longest reader runtime — the
  * same retention contract Iceberg/Delta expire-snapshots carry.
  *
  * A placing commit writes two small sidecars: the generation's
  * RESERVATION (`__resv.<v>.json` — the complete commit instruction:
  * staged tmp, days to place, the next manifest with its ingest
  * watermark, the tombstones of its history record) and the manifest
  * slot. After the claim the reservation is renamed into the
  * generation's time-travel record, and the slot GC retires is
  * renamed over the floor record — no further file writes.
  * PORTABILITY: the commit protocol assumes atomic rename (HDFS/posix
  * true, S3 false — object stores need a manifest-committer deployment
  * regardless); it does NOT assume meaningful directory mtimes — the
  * reader grace dates a version by when its data files were written
  * ([[TsStore.placedAt]]). The root's filesystem is resolved from `path` itself,
  * so a root on a non-default scheme works. Roots written by the
  * retired flat layout (meta sidecar `"snapshots": false`) are refused
  * at open.
  */
final class TsStore(
    val spark: SparkSession,
    val path: String,
    val subject: String,
    val time: String,
    val soleCols: Seq[String],
    val dayCol: org.apache.spark.sql.Column,
    val schema: Option[org.apache.spark.sql.types.StructType] = None,
    val maxHotRows: Long = 4L << 20,
    val maxHotBatches: Int = 64) {

  private var hotFrames: Vector[DataFrame] = Vector.empty
  // the PERSISTED originals behind hotFrames: deleteWhere/dropSubject
  // wrap hotFrames in filter views, and unpersisting a wrapper is a
  // no-op (the cache is keyed on the original plan) — so the cache
  // handles are kept separately and released here on clearHot
  private var hotCached: Vector[DataFrame] = Vector.empty
  private var hotRows: Long = 0L
  // exact day set of the hot tail, tracked at set() time when the
  // batch is driver-local and __day is a string (the engine paths) —
  // lets save()/stageSave() skip a distinct().collect() Spark job per
  // flush. None = unknown (a distributed batch, or a hot-tail filter
  // from deleteWhere/dropSubject may have emptied a day): fall back
  // to computing. Exactness matters: save REQUIREs produced day dirs
  // == dirty days, so an overcount is an error, never "just slower".
  private var hotDays: Option[Set[String]] = Some(Set.empty)
  // the ingest-sequence watermark. Durable in two places: every
  // placing commit carries it in its reservation and manifest (so the
  // rows a commit stamps and the watermark covering them land in ONE
  // atomic claim), and the meta sidecar carries it whenever the
  // tombstones change. Open takes the max of both.
  private var seq: Long = 0L
  // M6 tombstones: subject → drop-sequence. A `drop` is an O(1)
  // metadata write (the reference marks blocks moved and erases them at
  // save/pack, sisdb_io.c:297-306, sisdb_fmap_write.c:135-146); every
  // cold row of that subject stamped at-or-before the drop sequence is
  // dead to reads until `pack` erases it physically. Cold rewrites
  // stamp `__seq` with the CURRENT ingest sequence, so rows written
  // after the drop (a re-created subject) always outrank the tombstone.
  private var tombstones: Map[String, Long] = Map.empty
  // ── cross-process writer fence. The reference cannot have two
  // writer processes by construction (one dispatcher thread,
  // sisdb_server.c:474-476); here the single-writer contract is
  // ENFORCED by two layers with distinct jobs:
  //
  //  POLICY — the lease: a handle's FIRST MUTATION takes over a lease
  //  sidecar (a unique token — the fencing identity — plus a
  //  diagnostic epoch, committed by atomic rename-over), and every
  //  later mutation re-checks the token, so of two writer handles on
  //  one root the superseded one fails loudly at its next write.
  //  Acquisition is lazy, so a process that only READS never fences
  //  the writer. Takeover (not mutual exclusion) is deliberate: a
  //  crashed writer must never brick the store behind a stale lock,
  //  and a restart is indistinguishable from a takeover. Acquiring
  //  over a RESERVED-but-uncommitted generation first seals or adopts
  //  it ([[sealOrAdoptPendingSlots]]).
  //
  //  SAFETY — the claims: the commit point is an EXCLUSIVE CLAIM of a
  //  numbered manifest slot ([[commitSnapshot]]), and every placement
  //  is preceded by an exclusive claim of its generation
  //  ([[claimOrAdoptResv]]) with writer-token-unique staging paths.
  //  Whatever happens between a lease check and an action, every
  //  commit linearizes fully or fails loudly with nothing published —
  //  no lost update, no mixed slot, no rollback. A superseded writer's
  //  ALREADY-IN-FLIGHT commit may still win its claim and land,
  //  linearized before the takeover's first write; the fence stops
  //  its NEXT mutation. Recovery that rolls a commit forward takes the
  //  lease — replaying a pending commit IS writing.
  @volatile private var leaseToken: Option[String] = None
  @volatile private var leaseEpoch: Long = 0L

  // ── incremental-vacuum bookkeeping: the commit path records which
  // day dirs it touched since the last vacuum, so the SCHEDULED
  // vacuum ([[maybeAutoVacuum]]) lists only those — O(touched days)
  // directory listings per run, not O(all days a store holding years
  // accumulates). A day stays pending while a TIME grace is the only
  // thing keeping its reclaimable dirs (the grace expires by
  // wall-clock, not by a commit that would re-dirty the day). The set
  // is in-memory: a restarted store's first scheduled vacuum does one
  // full sweep (fullVacuumNeeded), then goes incremental. Manual
  // [[vacuum]] always sweeps everything. Declared BEFORE the recovery
  // call below — recovery replays commits, which record dirty days.
  private var dirtyDaysSinceVacuum: Set[String] = Set.empty
  private var fullVacuumNeeded: Boolean = true
  /** Spec instrumentation: day dirs whose contents the last vacuum
    * actually listed. */
  private[graft] var lastVacuumDaysListed: Int = 0

  private def noteDirtyDays(days: Iterable[String]): Unit =
    dirtyDaysSinceVacuum ++= days

  // ── in-memory protocol state, declared BEFORE the recovery call in
  // the constructor body below (recovery can commit, and a commit
  // touches every one of these — a later declaration would NPE or be
  // reset by its own initializer mid-recovery):
  @volatile private var slotHint: Option[TsStore.SnapSlot] = None
  // the CONTENT behind the hint: when the probe walk lands on the
  // same slot the handle already read, the JSON re-read is skipped —
  // committed slots are immutable, so slot identity implies content
  @volatile private var snapCache: Option[(TsStore.SnapSlot, TsStore.Snapshot)] =
    None
  // cached GC floor (-1 = not yet read). Pre-claim resurrection
  // checks read this (cheap); every claim WINNER re-reads the real
  // file post-claim (the authoritative check), which also refreshes
  // the cache. GC's own floor advances refresh it too.
  private var floorCache: Long = -1L
  private def cachedFloor: Long = {
    if (floorCache < 0L) floorCache = TsStore.readFloor(fs, path)
    floorCache
  }
  // sub-slot counts of recently committed generations (GC needs the
  // count to delete a generation's slots without probing upward)
  private var recentSubs: Map[Long, Int] = Map.empty
  // GC watermark: generations strictly below this are KNOWN clean
  // (no slot, no reservation). Unset (-1) until the first GC of this
  // handle, which does one listing sweep — that sweep also heals any
  // backlog a predecessor's crash mid-walk orphaned below an empty
  // generation (the probe-driven walk could never resume past one).
  private var gcCleanBelow: Long = -1L
  // probed once per handle: after the first numbered commit deletes
  // it, the legacy single-file manifest can never reappear
  private var legacySnapMayExist: Boolean = true
  private var coldCacheKey: Option[(Long, Long, Int, Int)] = None
  private var coldCacheFrame: Option[DataFrame] = None
  private var coldEpoch: Long = 0L
  // pinned-read (time-travel) plan cache: a generation's referenced
  // version dirs are immutable, so the constructed frame is reusable
  // until something epoch-bumping happens (commit minting the
  // generation later, vacuum reclaiming records/dirs, restore).
  // Bounded; caches None too (an unknown generation stays unknown
  // within an epoch). Plan metadata only — actions still scan.
  private var pinnedCache: Map[Long, Option[DataFrame]] = Map.empty

  /** Test-only hooks, invoked just before the manifest slot CLAIM and
    * just before a placing commit's generation RESERVATION claim — they
    * let a spec land a competing takeover inside the commit window.
    * Either order is safe: the claims are the single arbiter, so the
    * in-flight commit linearizes fully or fails loudly (nothing
    * published). Declared before the recovery call below. */
  private[graft] var onBeforeSnapshotClaim: () => Unit = () => ()
  private[graft] var onBeforeResvClaim: () => Unit = () => ()

  // meta BEFORE recovery: a seal during recovery mints its
  // generation's time-travel record from the live tombstone map —
  // replaying with the sidecar not yet loaded would stamp the record
  // with EMPTY tombstones, silently rewriting the as-of history a
  // clean run records
  loadMeta()
  recover()

  // ── schema eras (the reference's version-tolerant convert,
  // sis_dynamic.h:12-51; rule sis_dynamic.h:110-117 — same style
  // carries/widens, different style → 0/empty). An EVOLVED store keeps
  // one record per era in a `__schemas` sidecar dir (`e=N.json` =
  // {era, fromGeneration, dsl}). A day-version dir `__v=V` is only
  // ever written by the commit that advanced to generation V, and
  // [[evolveSchema]] flushes before recording `fromGeneration =
  // current generation + 1` — so a dir's era is a pure function of
  // its version number ([[TsStore.eraOfGen]]). Cold reads group day
  // dirs by era and [[graft.ops.Convert.alignKeeping]] every non-target
  // group (live reads → latest era; time travel → the era live AT that
  // generation). Never-evolved stores have no `__schemas` dir.
  private var eraRecords: Seq[TsStore.EraRecord] =
    TsStore.readEras(fs, path)

  /** The latest era's declared schema — the store-authoritative table
    * declaration an owning engine heals its catalog from after a
    * crash between the store-side evolve commit and the engine-side
    * catalog persist. None for a never-evolved store. */
  private[graft] def latestEraSdb: Option[graft.schema.SdbSchema.Sdb] =
    eraRecords.lastOption.map(_.sdb)

  /** The era new writes land in (0 for a never-evolved store). */
  private[graft] def currentEra: Int =
    eraRecords.lastOption.map(_.era).getOrElse(0)

  /** True once the store spans more than one schema era. */
  private[graft] def hasEras: Boolean = eraRecords.size > 1

  /** The era a day-version dir committed at generation `v` was
    * written under ([[TsStore.eraOfGen]] over this store's records). */
  private[graft] def eraOfVersion(v: Long): Int =
    TsStore.eraOfGen(eraRecords, v)

  /** The declared schema LIVE at generation `v` — what a time-travel
    * pin of that generation serves. None for a never-evolved store
    * (whose reads have no era machinery at all). The cross-era face
    * of [[eraOfVersion]]: an engine diffing two pins across an evolve
    * boundary aligns the older era to the newer with this. */
  private[graft] def eraSdbAt(v: Long): Option[graft.schema.SdbSchema.Sdb] =
    if (eraRecords.isEmpty) None
    else {
      val e = TsStore.eraOfGen(eraRecords, v)
      eraRecords.find(_.era == e).map(_.sdb)
    }

  // the read-view schema of the LATEST era (empty-store reads must
  // serve the evolved struct after a restart, not the constructor's)
  private var liveReadSchema: Option[org.apache.spark.sql.types.StructType] =
    eraRecords.lastOption.map(r => TsStore.withSystemCols(r.sdb)).orElse(schema)

  private def leaseFile =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__lease.json")

  private def readLease(): Option[com.fasterxml.jackson.databind.JsonNode] =
    scala.util.Try(TsStore.readJsonOpt(fs, leaseFile)).toOption.flatten

  private def acquireLease(): String = {
    val f = fs
    // best-effort epoch bump: the read-modify-write is not atomic, so
    // two SIMULTANEOUS takeovers can both read N and write N+1 — the
    // rename-over picks a winner and the TOKEN (unique per takeover)
    // is what fences the loser. The epoch is diagnostics (FENCED
    // messages, the manifest's writer record), not the identity.
    val epoch = readLease().map(_.path("epoch").asLong(0L)).getOrElse(0L) + 1
    val token = java.util.UUID.randomUUID().toString
    val root = TsStore.Json.createObjectNode()
    root.put("epoch", epoch)
    root.put("token", token)
    root.put("owner", s"${ProcessHandle.current().pid()}@" +
      java.net.InetAddress.getLocalHost.getHostName)
    root.put("acquiredAt", System.currentTimeMillis())
    val tmp = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__lease.json.tmp")
    TsStore.writeBytes(f, tmp, TsStore.Json.writeValueAsBytes(root))
    TsStore.atomicReplace(f, tmp, leaseFile)
    leaseEpoch = epoch
    // the token must be set BEFORE the seal/adopt pass: sealing
    // commits (and adoption replays commit routines), whose fence
    // checks must see this writer as the live lease holder
    leaseToken = Some(token)
    sealOrAdoptPendingSlots()
    token
  }

  /** The new lease holder's first duty: resolve every RESERVED but
    * UNCOMMITTED generation above the live manifest (ascending — they
    * chain densely from the committed generation):
    *  - the instruction is COMPLETE (its staged tmp still holds the
    *    job's `_SUCCESS`) → ADOPT: [[replay]] it; the in-flight commit
    *    is linearized BEFORE this takeover;
    *  - incomplete/vanished → SEAL: claim the slot with an empty
    *    advance, so the old writer's eventual claim fails atomically —
    *    FENCED with nothing published.
    * If the old writer's real commit wins a race against our seal, the
    * loop re-reads and builds on it. One listing when nothing pends. */
  private def sealOrAdoptPendingSlots(): Unit = {
    val f = fs
    var guard = 0
    var done = false
    while (!done) {
      guard += 1
      if (guard > 64) throw new IllegalStateException(
        s"$path: pending-reservation churn beyond any plausible " +
          "concurrent-writer count — refusing to fight it blind")
      val snap = loadSnapshot()
      val pending = TsStore.listSlotsAndResvs(f, path)._2.filter(_ > snap.v)
      if (pending.isEmpty) done = true
      else {
        val rv = pending.min
        if (rv != snap.v + 1) throw new IllegalStateException(
          s"$path: reservation for generation $rv pends over a live " +
            s"manifest at ${snap.v} with a gap — protocol corruption " +
            "(reservations chain densely from the committed generation)")
        TsStore.readInstr(f, path, rv).filter(complete) match {
          case Some(i) => replay(i)
          case None =>
            // SEAL: consume the reserved slot with an empty advance. If
            // the reservation's owner commits the real slot first, our
            // claim loses — benign: the loop re-reads and the owner's
            // commit (linearized before this takeover's first write)
            // becomes our baseline.
            try commitSnapshot(snap.copy(v = rv, sub = 0),
              advance = true, cur0 = Some(snap))
            catch {
              case e: IllegalStateException =>
                if (!holdsWriteLease) throw e // a THIRD writer took over
            }
        }
      }
    }
  }

  /** True while this handle can still write: it never wrote (no lease
    * taken — readers always pass) or its lease token is still the
    * live one. The engine checks this before ITS shared artifact (the
    * catalog sidecar) — a superseded engine must not overwrite the
    * winner's declarations either. */
  private[graft] def holdsWriteLease: Boolean = leaseToken match {
    case None => true
    case Some(mine) =>
      readLease().exists(_.path("token").asText() == mine)
  }

  /** Fail loudly if another writer took over this root since this
    * handle FIRST WROTE; the first check a handle makes acquires the
    * lease instead (lazy: read-only handles never touch it). A public
    * mutator checks ONCE at entry ([[fenced]]), before its tmp job;
    * the protocol steps it nests (stagingTmp, claimOrAdoptResv,
    * commitSnapshot) skip the re-read. That narrows no safety property:
    * the lease check is advisory check-then-act — the exclusive slot
    * and reservation CLAIMS make a superseded writer's commit
    * linearize fully or fail loudly. */
  private var fenceDepth: Int = 0
  private def fenced[A](body: => A): A = synchronized {
    checkFence()
    fenceDepth += 1
    try body finally fenceDepth -= 1
  }
  private def checkFence(): Unit =
    if (fenceDepth == 0 || leaseToken.isEmpty) checkFenceNow()
  private def checkFenceNow(): Unit = leaseToken match {
    case None => acquireLease() // sets leaseToken itself, BEFORE its
      // seal/adopt pass commits anything under the new lease
    case Some(mine) =>
      val lease = readLease()
      if (!lease.exists(_.path("token").asText() == mine)) {
        val owner = lease.map(_.path("owner").asText()).getOrElse("unknown")
        val epoch = lease.map(_.path("epoch").asLong(0L)).getOrElse(-1L)
        throw new IllegalStateException(
          s"$path: this writer handle is FENCED — the store root was " +
            s"taken over by '$owner' (lease epoch $epoch). The store " +
            "keeps one writer's view consistent; re-open the store to " +
            "take the root back (the other writer is then fenced).")
      }
  }

  /** Opt-in scheduled vacuum ([[TsStore.AutoVacuum]]): when set, each
    * completed cold mutation whose committed generation is a multiple
    * of `everyGenerations` runs [[vacuum]] with the configured dials —
    * a deployment that never calls vacuum() manually would otherwise
    * accumulate superseded version dirs and generation records without
    * bound (the reference schedules its own save/pack housekeeping the
    * same way, sisdb.c:137-169). Runs AFTER the commit and its
    * onColdChange sync, so it never adds latency inside a commit and
    * the reader-grace dials apply exactly as a manual vacuum's. */
  @volatile var autoVacuum: Option[TsStore.AutoVacuum] = None

  /** Engine-wired cut-staleness audit ([[graft.api.Engine
    * .staleCutWarnings]]): cuts live at the engine (they span tables),
    * but the scheduled vacuum is where a deployment that never calls
    * vacuum() manually would notice a forgotten cut — so when the
    * [[TsStore.AutoVacuum]] dials carry a `cutMaxAgeMs`, each auto run
    * invokes this and logs the warnings. Identity default: a store
    * without an owning engine has no cuts to audit. */
  @volatile var staleCutAuditor: Long => Seq[String] = _ => Seq.empty

  /** Run the configured auto-vacuum if the live generation hit the
    * cadence. Called at the END of the public mutators (never from
    * inside a commit — vacuum itself drains pending commits, and a
    * commit-path trigger would recurse). */
  private def maybeAutoVacuum(): Unit = autoVacuum.foreach { av =>
    if (av.everyGenerations > 0 &&
      loadSnapshot().v % av.everyGenerations == 0) {
      // scoped: the scheduled path lists only the days commits touched
      // since the last vacuum (plus days a wall-clock grace left
      // pending) — O(touched), with the full sweep reserved for manual
      // vacuum() and the first run after a restart
      vacuumScoped(av.keepSuperseded, av.removedDayGraceMs, av.keepHistory,
        av.supersededGraceMs, scoped = true)
      if (av.cutMaxAgeMs > 0L)
        staleCutAuditor(av.cutMaxAgeMs).foreach(w =>
          System.err.println(s"[graft] auto-vacuum $path: $w"))
    }
  }

  /** Invoked after any operation that changes what cold reads see
    * (save / deleteWhere / dropSubject / pack) — lets an owner holding
    * external views of the store (e.g. a registered SQL catalog table)
    * refresh them.
    * The [[TsStore.ColdChange]] says *what* changed so the owner can
    * sync proportionally to the change (O(dirty days) for a save)
    * instead of re-listing every partition of a store holding years
    * of days on each hot-tail auto-flush. */
  @volatile private[graft] var onColdChange: TsStore.ColdChange => Unit = _ => ()

  private def hotUnion: Option[DataFrame] =
    hotFrames.reduceOption(_ unionByName _)

  private def clearHot(): Unit = {
    hotCached.foreach(_.unpersist())
    hotCached = Vector.empty
    hotFrames = Vector.empty
    hotRows = 0L
    hotDays = Some(Set.empty)
  }

  // "exists" = the live manifest holds at least one day
  private def coldExists: Boolean = loadSnapshot().days.nonEmpty

  // ── persisted store metadata (sidecar JSON next to the parquet root):
  // the live tombstones plus the ingest-sequence watermark. Persisted
  // whenever the tombstones change (drop, pack, restore) so a
  // restarted store keeps dropped subjects dead and keeps issuing
  // sequences above every recorded drop.
  private def metaFile =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__meta.json")

  private def loadMeta(): Unit =
    TsStore.readJsonOpt(fs, metaFile).foreach { node =>
      // the retired flat layout recorded its mode here; its day dirs
      // hold data files directly, which this layout would read as an
      // empty store and then bury under version dirs — refuse it
      require(!(node.has("snapshots") && !node.path("snapshots").asBoolean()),
        s"$path was written by the retired flat store layout " +
          "(\"snapshots\": false) — rewrite it into a new root through " +
          "set/save; it cannot be opened in place")
      seq = math.max(seq, node.path("seq").asLong(0L))
      tombstones = TsStore.longMap(node, "tombstones")
    }

  private def persistMeta(): Unit = {
    checkFence() // before the sidecar write
    val root = TsStore.Json.createObjectNode()
    root.put("seq", seq)
    val t = root.putObject("tombstones")
    tombstones.toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, v) }
    // write-tmp + atomic rename-over: an overwrite interrupted mid-write
    // would corrupt the watermark/tombstones the store loads at open
    val tmp = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__meta.json.tmp")
    TsStore.writeBytes(fs, tmp, TsStore.Json.writeValueAsBytes(root))
    TsStore.atomicReplace(fs, tmp, metaFile)
  }

  /** The ingest-sequence watermark this handle issues above. */
  private[graft] def watermark: Long = synchronized(seq)

  // ── the commit protocol (see the class doc): produced days rename
  // into `__day=X/__v=(v+1)`, then the manifest slot
  // `__snapshot.<v>.<k>.json` is claimed; readers resolve the max slot.

  /** The LEGACY single-file manifest: read as a fallback while no
    * numbered slot exists (stores written before the claim protocol),
    * retired by the first numbered commit. New code never writes it. */
  private def snapFile =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__snapshot.json")

  private def histDir =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__snaphist")

  /** The live committed manifest. The last slot this handle resolved
    * is a probe hint only, never trusted: the walk goes FORWARD from it
    * (slots are dense: every advance is v+1, every bookkeeping rewrite
    * k+1, and a takeover seals skipped reservations, so the walk
    * cannot jump a commit), and a hint whose file GC already retired
    * falls back to the full listing. Stale reads are impossible either
    * way; the hint only trades a directory listing for two existence
    * probes on the steady path. */
  private def loadSnapshot(): TsStore.Snapshot = {
    val f = fs
    slotHint match {
      case Some(h) if f.exists(TsStore.slotFile(path, h)) =>
        var cur = h
        var moved = true
        while (moved) {
          val adv = TsStore.SnapSlot(cur.v + 1, 0)
          val bk = TsStore.SnapSlot(cur.v, cur.k + 1)
          if (f.exists(TsStore.slotFile(path, adv))) cur = adv
          else if (f.exists(TsStore.slotFile(path, bk))) cur = bk
          else moved = false
        }
        snapCache match {
          case Some((slot, snap)) if slot == cur =>
            slotHint = Some(cur)
            snap
          case _ =>
            try {
              val s = TsStore.readSnapshot(f, TsStore.slotFile(path, cur))
                .copy(sub = cur.k)
              slotHint = Some(cur)
              snapCache = Some((cur, s))
              s
            } catch { // GC retired it mid-walk: resolve from a fresh list
              case _: java.io.FileNotFoundException => resolveLive()
            }
        }
      case _ => resolveLive()
    }
  }

  private def resolveLive(): TsStore.Snapshot = {
    val s = TsStore.readLiveSnapshot(fs, path)
    // legacy single-file manifests resolve with sub=0 and no hint —
    // the first numbered claim then seeds the hint
    if (s.v > 0L || s.days.nonEmpty) {
      slotHint = Some(TsStore.SnapSlot(s.v, s.sub))
      snapCache = Some((TsStore.SnapSlot(s.v, s.sub), s))
    }
    s
  }

  /** Record a committed generation for time travel:
    * `__snaphist/v=N.json` holds its day→version map AND the
    * tombstones live at commit, so [[TsStore.openSnapshotAt]]
    * reproduces exactly what a reader pinned at that commit saw.
    * First writer wins (an exclusive claim). Written AFTER the slot
    * claim — a crash in between leaves generation N committed but not
    * time-travelable until [[recover]] finishes the move, never the
    * reverse. `fromResv`: a placing commit's reservation already holds
    * exactly this record, so it is renamed into place — no file
    * write; every other commit (seal, restore, tombstone-only) writes
    * the record. */
  private def writeHistory(s: TsStore.Snapshot, fromResv: Boolean = false): Unit = {
    val f = fs
    val dest = new org.apache.hadoop.fs.Path(histDir, s"v=${s.v}.json")
    val moved = fromResv && scala.util.Try(TsStore.commitExclusive(f,
      TsStore.resvFile(path, s.v), dest)).getOrElse(false)
    if (!moved && !f.exists(dest)) {
      val root = TsStore.Json.createObjectNode()
      root.put("v", s.v)
      val d = root.putObject("days")
      s.days.toSeq.sortBy(_._1).foreach { case (k, ver) => d.put(k, ver) }
      val tb = root.putObject("tombstones")
      tombstoneList.foreach { case (sub, g) => tb.put(sub, g) }
      val tmp = new org.apache.hadoop.fs.Path(histDir,
        s"v=${s.v}.json.tmp.${leaseToken.getOrElse("anon")}")
      TsStore.writeBytes(f, tmp, TsStore.Json.writeValueAsBytes(root))
      TsStore.commitExclusive(f, tmp, dest) // lost the race: fine
    }
  }

  /** [[TsStore.readHistRecord]] for this store's root. */
  private[graft] def historyRecord(v: Long)
      : Option[(Map[String, Long], Map[String, Long])] =
    TsStore.readHistRecord(fs, path, v)

  /** The live manifest's committed generation (0 before the first
    * commit). The number an engine-wide cut records per table. */
  private[graft] def currentGeneration: Long = synchronized(loadSnapshot().v)

  /** Commit a TOMBSTONE-ONLY generation when the live tombstone map
    * has moved past the last committed generation's record. [[save]]
    * flushes hot ROWS, but [[dropSubject]] on a fully-flushed store
    * mutates only the meta sidecar — no commit — so a consistent cut
    * ([[graft.api.Engine.snapshotAll]]) "flushed" through save()
    * alone would record a generation whose as-of tombstones PREDATE
    * the drop and resurrect the dropped subject on every cut read
    * (caught by e16's manifest round-trip REQUIRE). The commit
    * reuses every existing version dir — the days map is unchanged —
    * its whole payload is the new history record carrying the
    * current tombstone map. No-op when nothing drifted. */
  private[graft] def commitPendingTombstones(): Unit = synchronized {
    // compare against the latest RETAINED record at or below the live
    // generation — snap.v's own record may have been vacuumed under
    // keepHistory=0, and treating that as "recorded nothing" would
    // mint a new generation on EVERY cut of a table with any live
    // tombstone (re-cut idempotency violated). An older retained
    // record is a sound comparison point: tombstone maps only move at
    // drops (forward) and packs (cleared, which rewrites days and
    // mints its own generation), so live == as-of-r ⇒ nothing drifted
    // since r, hence nothing since snap.v ≥ r either.
    def pending(): Option[TsStore.Snapshot] = {
      val snap = loadSnapshot()
      if (snap.v <= 0L) return None // nothing ever committed: no record to lag
      val recorded = (snap.v +: snapshotVersions.filter(_ < snap.v).reverse)
        .iterator.map(historyRecord).collectFirst { case Some((_, t)) => t }
      recorded match {
        case Some(t) if t == tombstones => None // nothing drifted: no-op
        case Some(_) => Some(snap.copy(v = snap.v + 1, sub = 0))
        case None =>
          // no record retained at all: drift is undecidable — commit
          // only if any tombstone is live (a resurrected drop is worse
          // than one spurious generation; a table with no tombstones
          // trivially has nothing to record)
          if (tombstones.nonEmpty) Some(snap.copy(v = snap.v + 1, sub = 0))
          else None
      }
    }
    // decide first WITHOUT fencing (a no-drift probe must stay
    // read-only — a cut over another writer's live table must not
    // steal its lease), then fence and RE-DECIDE: a first mutation's
    // lease acquisition can adopt a pending foreign commit and move
    // the generation under the first read
    if (pending().nonEmpty) {
      checkFence()
      pending().foreach(s => commitSnapshot(s, advance = true))
    }
  }

  /** RESTORE the live table to committed generation `g`, as a NEW
    * generation (the Delta/Iceberg RESTORE shape): the new manifest
    * re-points every day at g's recorded version dirs (METADATA-ONLY,
    * O(days) at any corpus size), the live tombstones revert to g's
    * as-of record, and the un-flushed hot tail is discarded. Days
    * committed after g leave through the `removed` bookkeeping, so
    * vacuum reclaims them after the reader grace. History is never
    * rewritten — a mistaken restore is undone by restoring again.
    * Refused when g's history record or any dir it references was
    * vacuumed (a cut's pins make its generations restorable forever).
    * Tombstones revert BEFORE the commit (the restore generation's
    * record carries g's map); the meta sidecar persists after it (a
    * crash between re-loads pre-restore tombstones — re-running the
    * restore converges). Returns the new live generation. */
  def restoreTo(g: Long): Long = fenced {
    // the fence (via [[fenced]]) runs first: a first mutation's adopt
    // pass must run before the live generation is read (save's rule)
    validateRestore(g)
    val (daysG, tombsG) = TsStore.readHistRecord(fs, path, g).get
    val snap = loadSnapshot()
    val now = System.currentTimeMillis()
    val removed = (snap.removed -- daysG.keySet) ++
      (snap.days.keySet -- daysG.keySet).map(_ -> now).toMap
    // tombstones revert in-memory BEFORE the commit (the restore
    // generation's history record must carry g's map) but are put
    // back if the commit throws (fence, IO): a failed restore must
    // leave this handle serving the pre-restore state, not a chimera
    // of old days under restored tombstones. The hot tail is likewise
    // discarded only once the restore has actually committed.
    val prevTombstones = tombstones
    tombstones = tombsG
    try commitSnapshot(TsStore.Snapshot(snap.v + 1, daysG, removed,
        seq = math.max(snap.seq, seq)), advance = true, cur0 = Some(snap))
    catch { case e: Throwable => tombstones = prevTombstones; throw e }
    invalidateCold()
    clearHot()
    persistMeta()
    // restore re-points/removes arbitrary days — feed the scoped
    // auto-vacuum like every other commit path, or the superseded
    // dirs and removal records it produced are never revisited
    fullVacuumNeeded = true
    onColdChange(TsStore.Rewritten)
    snap.v + 1
  }

  /** Validation half of [[restoreTo]] — every check, no mutation.
    * [[graft.api.Engine.restoreToCut]] runs it across ALL tables
    * before the first restore commits, so a cut with one
    * unrestorable table fails fast instead of fail-partial. */
  private[graft] def validateRestore(g: Long): Unit = synchronized {
    val (daysG, _) = TsStore.readHistRecord(fs, path, g).getOrElse(
      throw new IllegalArgumentException(
        s"$path: generation $g is unknown or its history record was " +
          "vacuumed — cannot restore"))
    daysG.foreach { case (day, ver) =>
      val p = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(path, day), s"__v=$ver")
      require(fs.exists(p),
        s"$path: restoreTo($g): $day version $ver was vacuumed — " +
          "cannot restore (cuts pin generations against this)")
    }
    require(g <= loadSnapshot().v,
      s"$path: restoreTo($g): generation is ahead of the live manifest")
  }

  /** Committed generations available for time travel, ascending. */
  def snapshotVersions: Seq[Long] = synchronized {
    val f = fs
    if (!f.exists(histDir)) Seq.empty
    else f.listStatus(histDir)
      .map(_.getPath.getName)
      .collect { case TsStore.HistFile(v) => v.toLong }
      .toSeq.sorted
  }

  /** `recordHistory = false` is for same-generation bookkeeping
    * rewrites (vacuum's removal-record retirement): a history record
    * is only ever written by the commit that ADVANCED to it — minting
    * one later would stamp current tombstones over as-of-commit ones.
    *
    * `advance = true` declares the content was derived as baseline+1:
    * if the live manifest already sits AT the target generation,
    * either a replay of this very instruction landed it (equal
    * content → success) or another writer's commit/seal consumed it
    * (→ FENCED) — it must NEVER fall into the sub-slot branch, where a
    * superseded advance would publish over a takeover's seal.
    *
    * `cur0`: a live snapshot the caller just resolved (the claim
    * stays the arbiter for anything that moved since). `fromResv`: see
    * [[writeHistory]]. */
  private def commitSnapshot(s: TsStore.Snapshot,
      recordHistory: Boolean = true,
      advance: Boolean = false,
      cur0: Option[TsStore.Snapshot] = None,
      fromResv: Boolean = false): Unit = {
    checkFence() // policy gate; the exclusive slot claim below is the
    // SAFETY gate — a takeover landing after this check loses nothing
    val myToken = leaseToken.getOrElse(
      throw new IllegalStateException("commit without a lease")) // unreachable
    // ── chain check: this commit's content was derived from some
    // baseline generation; the claim slot encodes it. An advance
    // (s.v = live+1) claims (s.v, 0); a same-generation bookkeeping
    // rewrite (vacuum's removal-record retirement) claims the next
    // sub-slot. Anything else means another writer moved the manifest
    // since this commit's inputs were read — committing would publish
    // state derived from a superseded corpus. It cannot happen: the
    // claim slot would not chain.
    val cur = cur0.getOrElse(loadSnapshot())
    var alreadyLanded = false
    val target =
      if (s.v == cur.v + 1) TsStore.SnapSlot(s.v, 0)
      else if (s.v == cur.v && s.v > 0L && advance) {
        // an ADVANCE whose target generation is already live: a
        // concurrent replay of this instruction (takeover adoption,
        // open-time recovery) landed it — equal content means this
        // commit IS committed; anything else consumed the generation
        // with different content (a takeover's seal, a foreign
        // commit) and this advance must not land at all — least of
        // all as a sub-slot over it
        if (cur.days == s.days && cur.removed.keySet == s.removed.keySet) {
          alreadyLanded = true
          TsStore.SnapSlot(s.v, cur.sub)
        } else throw new IllegalStateException(
          s"$path: commit FENCED — generation ${s.v} was committed " +
            "by another writer with different content (a takeover " +
            "sealed or superseded this in-flight commit); this write " +
            "did not land. Re-open the store to continue.")
      }
      else if (s.v == cur.v && s.v > 0L) TsStore.SnapSlot(s.v, cur.sub + 1)
      else throw new IllegalStateException(
        s"$path: commit FENCED — this commit's baseline is stale " +
          s"(it targets generation ${s.v} but the live manifest is at " +
          s"${cur.v}.${cur.sub}): another writer advanced the store; " +
          "this write did not land. Re-open the store to continue.")
    if (alreadyLanded) {
      slotHint = Some(target)
      // run the GC round the skipped commit would have run — without
      // it this round's retirable generation waits for the NEXT real
      // commit's range sweep (and leaks for the handle's lifetime if
      // this was its last commit)
      gcManifestSlots(target)
      if (recordHistory) writeHistory(s, fromResv)
    } else commitSnapshotAt(s, target, myToken, recordHistory, fromResv)
  }

  private def commitSnapshotAt(s: TsStore.Snapshot,
      target: TsStore.SnapSlot, myToken: String,
      recordHistory: Boolean, fromResv: Boolean): Unit = {
    // resurrection guard: GC frees retired slot NAMES after recording
    // the floor, so a claimant stalled across takeovers can win a
    // claim of a freed name that no reader would resolve as newest —
    // refuse before claiming. The pre-claim check reads the CACHED
    // floor (cheap, possibly stale); the authoritative re-verify runs
    // AFTER the claim is won (below), closing the check-then-act
    // window a stalled writer could otherwise slip through.
    if (target.v <= cachedFloor)
      throw new IllegalStateException(
        s"$path: commit FENCED — slot $target was already retired by " +
          "GC (this writer stalled across takeovers); this write did " +
          "not land. Re-open the store to continue.")
    // writer identity rides in the manifest for diagnostics; the
    // equal-content checks below ignore it (a recovery replay of THIS
    // commit differs only there)
    val root = TsStore.manifestNode(s)
    root.put("sub", target.k)
    val w = root.putObject("writer")
    w.put("token", myToken)
    w.put("epoch", leaseEpoch)
    // UNIQUE tmp per writer (token suffix): concurrent claimants must
    // never consume each other's staged bytes
    val tmp = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + s"__snapshot.json.tmp.$myToken")
    TsStore.writeBytes(fs, tmp, TsStore.Json.writeValueAsBytes(root))
    onBeforeSnapshotClaim()
    // ── THE commit point: an exclusive claim of the slot. Exactly one
    // of N concurrent claimants wins; there is no in-between state, no
    // rollback, and no verify window. A commit that wins is linearized
    // at the claim instant; a commit that loses provably never
    // published.
    val won =
      try TsStore.commitExclusive(fs, tmp, TsStore.slotFile(path, target))
      catch {
        // our staged tmp vanished mid-claim (ENOENT spelling differs
        // by path: Hadoop throws FileNotFound, java.nio NoSuchFile):
        // a takeover's recovery swept it as stale. Report the fence,
        // not a mystery ENOENT — the commit did not land either way.
        case e @ (_: java.io.FileNotFoundException |
                  _: java.nio.file.NoSuchFileException) =>
          if (!readLease().exists(_.path("token").asText() == myToken))
            throw new IllegalStateException(
              s"$path: commit FENCED mid-claim — the store root was " +
                "taken over during this commit and the takeover swept " +
                "the staged manifest; this write did not land. Re-open " +
                "the store to take the root back.", e)
          else throw e
      }
    if (!won) {
      // the slot was claimed first by someone else. One benign
      // spelling: a concurrent replay of THIS VERY commit (takeover
      // adoption, open-time recovery) — replays rebuild the identical
      // content from the same on-disk instruction, so equal content
      // means this commit IS committed, just by another hand.
      // `removed` compares by KEY SET: its values are removal epochs,
      // and the days map already fully determines the corpus the slot
      // publishes
      val there = scala.util.Try(TsStore.readSnapshot(fs,
        TsStore.slotFile(path, target))).toOption
      if (there.exists(t => t.v == s.v && t.days == s.days &&
          t.removed.keySet == s.removed.keySet)) {
        noteCommitted(target, s)
        if (recordHistory) writeHistory(s, fromResv)
        return
      }
      val owner = readLease().map(_.path("owner").asText()).getOrElse("unknown")
      throw new IllegalStateException(
        s"$path: commit FENCED at the manifest claim — slot $target " +
          s"was committed by another writer ('$owner' holds the lease); " +
          "this write did not land. Re-open the store to take the " +
          "root back.")
    }
    // ── post-claim resurrection RE-VERIFY (authoritative, fresh
    // read): the pre-claim floor check is check-then-act — a writer
    // stalled between it and the claim can still win a slot name GC
    // freed in the interim (takeover + 2 commits + GC inside the
    // window). Re-read the floor now that the claim is won: at or
    // below it means this slot name was retired and no reader will
    // ever resolve it as newest — unlink the claim and fail loudly
    // instead of acknowledging a silent lost update.
    floorCache = TsStore.readFloor(fs, path)
    if (target.v <= floorCache) {
      scala.util.Try(fs.delete(TsStore.slotFile(path, target), false))
      throw new IllegalStateException(
        s"$path: commit FENCED — slot $target was retired by GC while " +
          "this commit was in flight (writer stalled across takeovers); " +
          "the claim was withdrawn and this write did not land. " +
          "Re-open the store to continue.")
    }
    noteCommitted(target, s)
    gcManifestSlots(target)
    if (recordHistory) writeHistory(s, fromResv)
  }

  /** Record a just-resolved committed slot in the handle's in-memory
    * protocol state: the probe hint, the snapshot CONTENT cache (so
    * the next loadSnapshot whose walk lands here skips the JSON
    * re-read), and the generation's sub-slot count for GC. */
  private def noteCommitted(target: TsStore.SnapSlot,
      s: TsStore.Snapshot): Unit = {
    slotHint = Some(target)
    snapCache = Some((target, s.copy(sub = target.k)))
    recentSubs += target.v -> target.k
    if (recentSubs.size > 8) recentSubs -= recentSubs.keys.min
  }

  /** Retire manifest machinery the committed slot supersedes: slots
    * and reservations at generations ≤ committed−2 (committed−1 stays
    * for readers that listed before this claim — it keeps
    * [[loadSnapshot]]'s probe-walk sound for a hint one commit behind),
    * plus the legacy single-file manifest. No directory listing in
    * steady state (one range step per commit — a 10k-table root would
    * pay a listing on every table's every commit); the first GC of a
    * handle lists once, healing a predecessor's crash backlog. */
  private def gcManifestSlots(committed: TsStore.SnapSlot): Unit = {
    val f = fs
    val g = committed.v - 2
    if (g >= 1 && g >= gcCleanBelow) {
      val gens: Seq[Long] =
        if (gcCleanBelow < 0L) {
          val (slots, resvs) = TsStore.listSlotsAndResvs(f, path)
          (slots.map(_.v) ++ resvs).filter(x => x >= 1 && x <= g)
            .distinct.sorted
        } else math.max(gcCleanBelow, 1L) to g
      gens.foreach(retireGeneration(f, _))
      gcCleanBelow = g + 1
    } else if (gcCleanBelow < 0L && committed.v >= 1)
      gcCleanBelow = math.max(1L, committed.v - 1)
    // the legacy manifest's content rode into the first numbered claim
    // as its baseline; readers that found no numbered slot and saw the
    // legacy file vanish re-list and find the slot (readLiveSnapshot's
    // second-pass rule)
    if (legacySnapMayExist) {
      if (f.exists(snapFile)) f.delete(snapFile, false)
      legacySnapMayExist = false
    }
  }

  /** Retire one generation's slot and reservation NAMES behind the
    * floor, which must cover `gen` before any of its names is freed
    * (so a stalled claimant that later wins a freed name is caught).
    * The base slot's JSON carries `"v": gen` — the floor record's
    * shape — so ONE rename of it over the floor record advances the
    * floor and frees the name atomically; sub-slots (probed upward: a
    * foreign writer may have minted more than this handle saw) and the
    * reservation go after. A base slot already gone (a crash
    * mid-retire) writes the floor record instead. A floor already at
    * or above `gen` (an overlapping GC pass got further) is not
    * renamed over — the base slot is deleted instead — so the floor
    * is best-effort monotonic, as [[TsStore.writeFloor]] keeps it. */
  private def retireGeneration(f: org.apache.hadoop.fs.FileSystem,
      gen: Long): Unit = {
    val hi = {
      var k = recentSubs.getOrElse(gen, 0)
      while (f.exists(TsStore.slotFile(path, TsStore.SnapSlot(gen, k + 1))))
        k += 1
      k
    }
    val base = TsStore.slotFile(path, TsStore.SnapSlot(gen, 0))
    floorCache = TsStore.readFloor(f, path)
    if (gen <= floorCache) f.delete(base, false)
    else if (!scala.util.Try(TsStore.atomicReplace(f, base,
        TsStore.floorFile(path))).isSuccess)
      TsStore.writeFloor(f, path, gen, leaseToken.getOrElse("anon"))
    floorCache = math.max(floorCache, gen)
    (hi to 1 by -1).foreach(k =>
      f.delete(TsStore.slotFile(path, TsStore.SnapSlot(gen, k)), false))
    f.delete(TsStore.resvFile(path, gen), false)
    recentSubs -= gen
  }

  /** Rename a commit's produced day dirs from `tmp` into their
    * `__day=X/__v=targetV` slots. Idempotent from any crash point: a
    * day already renamed out of the tmp is skipped (its dest is in
    * place), and `targetV` comes from the reservation — NOT
    * re-derived from the live manifest. `restamp` re-dates the placed
    * data files to now: a REPLAY places files written long before
    * (recovery after an outage), and [[TsStore.placedAt]] dates a
    * version by its files. */
  private def placeVersions(tmp: org.apache.hadoop.fs.Path,
      days: Seq[String], targetV: Long, restamp: Boolean): Unit = {
    val f = fs
    val now = System.currentTimeMillis()
    days.foreach { name =>
      val src = new org.apache.hadoop.fs.Path(tmp, name)
      if (f.exists(src)) {
        val dayDir = new org.apache.hadoop.fs.Path(path, name)
        f.mkdirs(dayDir)
        val dest = new org.apache.hadoop.fs.Path(dayDir, s"__v=$targetV")
        f.delete(dest, true) // partial rename from an interrupted redo
        if (!f.rename(src, dest))
          throw new java.io.IOException(s"snapshot commit: could not place $dest")
        if (restamp) f.listStatus(dest).filter(_.isFile)
          .foreach(s => f.setTimes(s.getPath, now, -1L))
      }
    }
  }

  /** The instruction for a placing commit this handle is about to make. */
  private def instr(kind: String, tmp: String, place: Seq[String],
      next: TsStore.Snapshot): TsStore.Instr =
    TsStore.Instr(leaseToken.get, kind, tmp, place, next, tombstones)

  /** THE placing commit — save, delete, pack and staged finalize,
    * online or replayed: reserve generation `i.next.v` under the
    * instruction, rename the produced day dirs into their version
    * slots, claim the manifest slot, and rename the reservation into
    * the generation's history record. `snap` is the live manifest the
    * instruction was derived from (`i.next.v == snap.v + 1`). */
  private def commitPlaced(i: TsStore.Instr, snap: TsStore.Snapshot,
      restamp: Boolean = false): Unit = {
    if (i.kind == "packed") fullVacuumNeeded = true // pack rewrites every day
    noteDirtyDays(i.place ++ (i.next.removed.keySet -- snap.removed.keySet))
    if (claimOrAdoptResv(i)) {
      placeVersions(new org.apache.hadoop.fs.Path(i.tmp), i.place, i.next.v,
        restamp)
      try commitSnapshot(i.next, advance = true, cur0 = Some(snap),
        fromResv = true)
      catch { case e: IllegalStateException =>
        // FENCED at the claim: delete the tmp (best-effort) so the
        // NEW writer's recovery cannot replay this commit later —
        // "did not land" must stay true. The placed version dirs are
        // inert orphans vacuum reclaims; the consumed reservation is
        // sealed by the new writer's first advance.
        scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(i.tmp), true))
        throw e
      }
    }
  }

  /** Roll a pending reservation's instruction forward (takeover
    * adoption, open-time recovery) and drop its tmp. Everything is
    * guarded by `live < i.next.v`: once the manifest has moved to or
    * past the instruction's generation, a replay changes NOTHING —
    * an unguarded placement would let a stale tmp stomp version slots
    * a LATER commit legitimately re-used. The handle's watermark
    * rises to the instruction's: its rows carry that sequence. */
  private def replay(i: TsStore.Instr): Unit = {
    checkFence() // a first mutation's lease takeover may land it first
    seq = math.max(seq, i.next.seq)
    val snap = loadSnapshot()
    if (snap.v < i.next.v) {
      if (i.next.v != snap.v + 1) throw new IllegalStateException(
        s"$path: commit FENCED — the commit instruction targets " +
          s"generation ${i.next.v} but the live manifest is at ${snap.v}: " +
          "another writer moved the store since this commit was staged; " +
          "this write did not land.")
      commitPlaced(i, snap, restamp = true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(i.tmp), true)
  }

  /** An instruction is complete while its staged tmp still holds the
    * job's `_SUCCESS` (placements move day dirs out, never the marker). */
  private def complete(i: TsStore.Instr): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(i.tmp, "_SUCCESS"))

  /** Claim the reservation that makes version slot `v`'s placements
    * exclusive to one commit instruction — and that RECORDS the
    * instruction (recovery and takeover adoption replay from it):
    *  - fresh claim wins → the slot is this writer's;
    *  - reserved by THIS instruction (same recorded tmp path — tmp
    *    names are writer-token-unique) → re-enter: a crash replay or
    *    takeover adoption placing the same bytes;
    *  - reserved by a DIFFERENT instruction → a concurrent writer is
    *    mid-commit at this generation; placing would mix bytes inside
    *    the slot, so fail loudly (FENCED).
    * A landed generation's reservation NAME is free again (it became
    * the history record), so a fresh win is re-verified: the base slot
    * proves a landing until GC renames it over the floor, after which
    * the floor covers it — probed in that order. Returns false when
    * the winner finds its OWN instruction already landed by another
    * hand (nothing left to do); any other landing is FENCED. */
  private def claimOrAdoptResv(i: TsStore.Instr): Boolean = {
    checkFence() // acquires the lease on a first mutation — which
    // seals/adopts pending slots before any targetV math trusts them
    val v = i.next.v
    val myToken = leaseToken.get
    // pre-claim resurrection check against the CACHED floor (cheap);
    // the authoritative fresh read runs after the claim is won
    if (v <= cachedFloor) throw new IllegalStateException(
      s"$path: commit FENCED — generation $v was already retired by GC " +
        "(this writer stalled across takeovers); this write did not land.")
    val bytes = TsStore.Json.writeValueAsBytes(
      TsStore.instrNode(i.copy(token = myToken)))
    val ctmp = new org.apache.hadoop.fs.Path(path.stripSuffix("/") +
      s"__resv.$v.json.tmp.$myToken")
    onBeforeResvClaim()
    TsStore.writeBytes(fs, ctmp, bytes)
    if (!TsStore.commitExclusive(fs, ctmp, TsStore.resvFile(path, v))) {
      val there = scala.util.Try(TsStore.readJsonOpt(fs,
        TsStore.resvFile(path, v))).toOption.flatten
      val sameWriter = there.exists(_.path("token").asText() == myToken)
      val sameInstruction = there.exists(_.path("tmp").asText() == i.tmp)
      if (!sameInstruction && sameWriter) {
        // this writer's OWN reservation from a DIFFERENT, aborted
        // instruction (a commit that failed after reserving, same
        // generation). Re-entering as-is would break the protocol
        // invariant that the recorded tmp IS the generation's one
        // instruction — a concurrent takeover reading the stale
        // record could adopt the aborted bytes over ours. Retire the
        // stale instruction first (its tmp vanishes, so any adopter
        // finds it incomplete and seals instead), then re-record the
        // reservation as this instruction.
        there.map(_.path("tmp").asText()).filter(_.nonEmpty).foreach(old =>
          scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(old), true)))
        TsStore.writeBytes(fs, ctmp, bytes)
        TsStore.atomicReplace(fs, ctmp, TsStore.resvFile(path, v))
      } else if (!sameInstruction) {
        val owner = readLease().map(_.path("owner").asText()).getOrElse("unknown")
        throw new IllegalStateException(
          s"$path: commit FENCED at the generation reservation — " +
            s"generation $v is reserved by another writer's in-flight " +
            s"commit ('$owner' holds the lease); this write did not " +
            "land. Re-open the store to take the root back.")
      }
      true
    } else {
      // post-claim resurrection RE-VERIFY (fresh reads): a writer
      // stalled between the cached check and the claim could have
      // won the name of a generation that already landed — placements
      // under it would write into version dirs live and time-travel
      // manifests reference
      val landed = scala.util.Try(TsStore.readJsonOpt(fs,
        TsStore.slotFile(path, TsStore.SnapSlot(v, 0)))).toOption.flatten
        .map(TsStore.parseSnapshot)
      if (landed.nonEmpty || { floorCache = TsStore.readFloor(fs, path)
          v <= floorCache }) {
        scala.util.Try(fs.delete(TsStore.resvFile(path, v), false))
        // the landing is THIS instruction only if its history record
        // (the reservation renamed at landing) names this tmp: a
        // takeover saving the same days lands an equal days map, and
        // acknowledging on equal content would drop these rows silently
        if (landed.nonEmpty && scala.util.Try(TsStore.readJsonOpt(fs,
            new org.apache.hadoop.fs.Path(histDir, s"v=$v.json"))).toOption
            .flatten.exists(_.path("tmp").asText() == i.tmp)) false
        else throw new IllegalStateException(
          s"$path: commit FENCED — generation $v was committed or " +
            "retired while this reservation was in flight; the claim " +
            "was withdrawn and this write did not land.")
      } else true
    }
  }

  /** The committed manifest's (day dir name, version) pairs, sorted by
    * day — the catalog-pinning surface behind SQL exposure (each day
    * partition's location is `path/<dayDir>/__v=<version>`). Empty
    * before the first commit. Day names carry parquet's
    * partition-value escaping, exactly as stored in the manifest. */
  private[graft] def snapshotDays: Seq[(String, Long)] = synchronized {
    loadSnapshot().days.toSeq.sortBy(_._1)
  }

  /** Version subdirs of one day dir, (name, version) sorted by version. */
  private def verDirs(dayDir: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
    val f = fs
    if (!f.exists(dayDir)) Seq.empty
    else f.listStatus(dayDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__v="))
      .map(s => s.getPath.getName ->
        s.getPath.getName.stripPrefix("__v=").toLong)
      .toSeq.sortBy(_._2)
  }

  /** Garbage-collect version dirs no committed manifest needs: per
    * LIVE day, the referenced version survives plus the
    * `keepSuperseded` most recent below it (a grace window for
    * readers pinned to recent manifests). A day REMOVED from the
    * manifest (emptied by a delete, or vanished in a pack) has no
    * later version to ever supersede it, so a count-based keep would
    * leak its final dirs forever — instead the manifest records each
    * removal's epoch-ms ([[TsStore.Snapshot.removed]]) and vacuum
    * reclaims the whole day once `removedDayGraceMs` has passed since
    * the removal COMMITTED (not since the data was written — a reader
    * can pin a manifest long after that). `supersededGraceMs` keeps
    * superseded live-day versions whose data was written within the
    * grace ([[TsStore.placedAt]]). Run it on the writer's cadence with both
    * graces ≥ the longest reader runtime — the vacuum side of the
    * snapshot contract. */
  def vacuum(keepSuperseded: Int = TsStore.DefaultKeepSuperseded,
      removedDayGraceMs: Long = TsStore.DefaultRemovedDayGraceMs,
      keepHistory: Int = TsStore.DefaultKeepHistory,
      supersededGraceMs: Long = 0L): Unit =
    vacuumScoped(keepSuperseded, removedDayGraceMs, keepHistory,
      supersededGraceMs, scoped = false)

  /** Generations pinned by an OWNER beyond the `keepHistory` count —
    * the engine's cross-table snapshot cuts route here: a generation
    * referenced by any retained cut record must stay time-travel
    * readable no matter how many newer generations exist. Consulted
    * once per vacuum. */
  @volatile private[graft] var historyPins: () => Set[Long] = () => Set.empty

  private def vacuumScoped(keepSuperseded: Int, removedDayGraceMs: Long,
      keepHistory: Int, supersededGraceMs: Long, scoped: Boolean)
      : Unit = synchronized {
    checkFence() // vacuum deletes live-store dirs — writers only
    invalidateCold() // cached cold/pinned plans may reference dirs or
    // history records this run reclaims
    // drain any pending commit first: a complete, replayable tmp may
    // have already PLACED version dirs the live manifest does not yet
    // reference — reclaiming those as "superseded orphans" would make
    // the later replay commit a manifest pointing at deleted dirs.
    // Recovery is idempotent and this store owns the write lock.
    // (Recovery can itself commit, adding dirty days — so the scope
    // is read AFTER it.)
    recover()
    val scope: Option[Set[String]] =
      if (scoped && !fullVacuumNeeded) Some(dirtyDaysSinceVacuum) else None
    val f = fs
    val snap = loadSnapshot()
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) return
    val now = System.currentTimeMillis()
    // time-travel retention (third dial): the `keepHistory` newest
    // generation records survive — plus any generation an owner PINNED
    // ([[historyPins]]: the engine's cross-table snapshot cuts) — and
    // PIN every (day, version) they reference: a retained generation
    // must stay readable through [[TsStore.openSnapshotAt]] no matter
    // what the count/time graces would reclaim. Older generation
    // records are retired here (their dirs then fall to the ordinary
    // grace rules). Default 0 keeps the pre-time-travel reclamation
    // behavior exactly.
    val pins = historyPins()
    val histVers = snapshotVersions
    val retained = (histVers.takeRight(keepHistory) ++
      histVers.filter(pins.contains)).distinct.sorted
    histVers.filterNot(retained.contains).foreach(v =>
      f.delete(new org.apache.hadoop.fs.Path(histDir, s"v=$v.json"), false))
    val refs: Map[String, Set[Long]] = retained
      .flatMap { v =>
        TsStore.readSnapshot(f,
          new org.apache.hadoop.fs.Path(histDir, s"v=$v.json")).days.toSeq
      }
      .groupBy(_._1).map { case (d, vs) => d -> vs.map(_._2).toSet }
    var reclaimed = Set.empty[String]
    var pending = Set.empty[String]
    val dayStatuses: Seq[org.apache.hadoop.fs.FileStatus] = scope match {
      case Some(days) => days.toSeq.sorted.flatMap { name =>
        val p = new org.apache.hadoop.fs.Path(root, name)
        if (f.exists(p)) Some(f.getFileStatus(p)) else None
      }
      case None => f.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__day="))
        .toSeq
    }
    lastVacuumDaysListed = dayStatuses.length
    dayStatuses.foreach { s =>
        val name = s.getPath.getName
        val vers = verDirs(s.getPath)
        val graceKeep: Set[Long] = snap.days.get(name) match {
          case Some(ref) =>
            val older = vers.map(_._2).filter(_ < ref)
            // keepSuperseded is a COMMIT-COUNT grace — under a burst
            // of auto-flush saves it can cycle through in seconds, so
            // it cannot express "readers run for ≤ T". supersededGraceMs
            // adds the TIME guarantee for live days: a superseded
            // version survives while it is younger than the grace,
            // dated by when its data files were written
            // ([[TsStore.placedAt]] — dir mtimes are meaningless on
            // object stores).
            val countKeep = older.takeRight(keepSuperseded).toSet + ref
            val timeKeep: Set[Long] =
              if (supersededGraceMs <= 0L) Set.empty
              else f.listStatus(s.getPath)
                .filter(x => x.isDirectory &&
                  x.getPath.getName.startsWith("__v="))
                .filter(x => now - TsStore.placedAt(f, x) < supersededGraceMs)
                .map(_.getPath.getName.stripPrefix("__v=").toLong).toSet
            // a version kept ONLY by the time grace becomes
            // reclaimable when the clock (not a commit) passes —
            // the day must stay on the scheduled vacuum's worklist
            if ((timeKeep -- countKeep -- refs.getOrElse(name, Set.empty))
              .nonEmpty) pending += name
            countKeep ++ timeKeep
          case None =>
            snap.removed.get(name) match {
              case Some(at) if now - at >= removedDayGraceMs =>
                Set.empty // grace passed: unreferenced versions go
              case Some(_) =>
                // inside the grace EVERY version survives: these dirs
                // are exactly what a reader pinned to a pre-removal
                // manifest references, and keepSuperseded must not
                // undercut the time guarantee (keepSuperseded=0 would
                // otherwise void the grace entirely). Wall-clock will
                // expire the grace without a re-dirtying commit —
                // keep the day pending.
                pending += name
                vers.map(_._2).toSet
              case None =>
                // no removal record (pre-upgrade manifest): the old
                // count-based keep is the only grace available
                vers.map(_._2).takeRight(keepSuperseded).toSet
            }
        }
        val keep = graceKeep ++ refs.getOrElse(name, Set.empty)
        if (keep.isEmpty && snap.removed.contains(name)) reclaimed += name
        vers.filterNot(v => keep.contains(v._2)).foreach { case (vn, _) =>
          f.delete(new org.apache.hadoop.fs.Path(s.getPath, vn), true)
        }
        if (verDirs(s.getPath).isEmpty) f.delete(s.getPath, true)
      }
    // retire removal records for days that no longer hold any version
    // dir — reclaimed above via the grace, or earlier via
    // keepSuperseded=0 (which deletes dirs without retiring records) —
    // so the manifest's removed map stays bounded by days actually
    // awaiting reclamation (same v: vacuum is a writer op and changes
    // nothing any manifest reader can see). A scoped run probes only
    // in-scope records — out-of-scope removed days are still pending
    // reclamation by definition, and probing them would re-price the
    // scheduled path at O(removed days).
    val retireScan = scope.fold(snap.removed.keys.toSeq)(days =>
      snap.removed.keys.filter(days.contains).toSeq)
    val retired = reclaimed ++ retireScan.filterNot(d =>
      f.exists(new org.apache.hadoop.fs.Path(root, d)))
    if (retired.nonEmpty)
      commitSnapshot(snap.copy(removed = snap.removed -- retired),
        recordHistory = false)
    dirtyDaysSinceVacuum = pending
    if (scope.isEmpty) fullVacuumNeeded = false
  }

  // ── crash recovery — the ONE procedure, run at open and before every
  // vacuum. There are no swaps to unwind: the manifest either
  // committed (the change is fully visible) or didn't (invisible).
  // Recovery only finishes what a crashed writer's reservation
  // already made a complete, replayable instruction, and sweeps what
  // can never commit:
  //  1. crashed sidecar tmps (manifest-slot, reservation-claim, floor,
  //     meta and history tmps) — a LIVE lease holder's token-suffixed
  //     tmps are spared: it may be mid-claim with them;
  //  2. pending reservations (above the live generation) a non-live
  //     writer left with a complete tmp roll forward ([[replay]] —
  //     which takes the lease: replaying IS writing); the live
  //     holder's own pending reservation waits for the next lease
  //     takeover's seal/adopt pass;
  //  3. a reservation whose generation landed but whose move into the
  //     history record was cut short is moved now;
  //  4. staging tmps no live writer owns are discarded — nothing
  //     pending names them any more, so they were never acknowledged.
  // Finally the watermark rises to the live manifest's.
  private def recover(): Unit = {
    val f = fs
    val p = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val parent = p.getParent
    val leaf = p.getName
    val liveTok = readLease().map(_.path("token").asText()).getOrElse("")
    def sweep(dir: org.apache.hadoop.fs.Path, junk: String => Boolean): Unit =
      if (dir != null && f.exists(dir))
        f.listStatus(dir).filter(s => s.isFile && junk(s.getPath.getName) &&
          !(liveTok.nonEmpty && s.getPath.getName.endsWith("." + liveTok)))
          .foreach(s => f.delete(s.getPath, false))
    sweep(parent, n => n.startsWith(leaf + "__snapshot.json.tmp") ||
      n.startsWith(leaf + "__snapfloor.json.tmp") ||
      n == leaf + "__meta.json.tmp" ||
      (n.startsWith(leaf + "__resv.") && n.contains(".json.tmp")))
    sweep(histDir, _.contains(".json.tmp"))
    val live = loadSnapshot()
    TsStore.listSlotsAndResvs(f, path)._2.filter(_ >= live.v - 1).sorted
      .flatMap(TsStore.readInstr(f, path, _)).foreach { i =>
        if (i.next.v > live.v) {
          if (i.token != liveTok && complete(i)) replay(i)
        } else if (!f.exists(new org.apache.hadoop.fs.Path(histDir,
            s"v=${i.next.v}.json")) &&
          scala.util.Try(TsStore.readSnapshot(f, TsStore.slotFile(path,
            TsStore.SnapSlot(i.next.v, 0)))).toOption
            .exists(_.days == i.next.days))
          writeHistory(i.next, fromResv = true)
      }
    val owner8 = leaseToken.getOrElse(liveTok).take(8)
    Seq("saving", "deleting", "packed").flatMap(stagingTmps)
      .filterNot(t => owner8.nonEmpty && t.getName.endsWith("." + owner8))
      .foreach(f.delete(_, true))
    seq = math.max(seq, loadSnapshot().seq)
  }

  /** Rows KILLED by an active tombstone (cold side only — hot batches
    * are anti-filtered at drop time). */
  private def tombDead: Option[org.apache.spark.sql.Column] =
    TsStore.tombstoneFilter(tombstones, subject)

  private def tombFiltered(df: DataFrame): DataFrame =
    tombDead.fold(df)(dead => df.filter(!dead))

  /** The live tombstones, for owners that mirror the store elsewhere
    * (the engine's SQL view rebuilds its WHERE from this). */
  private[graft] def tombstoneList: Seq[(String, Long)] =
    synchronized(tombstones.toSeq.sortBy(_._1))

  /** True when no row was ever written (no cold files, no hot tail) —
    * `del`/`drop` on such a store are benign no-ops, matching the
    * reference's no-data handling. */
  def isEmpty: Boolean = synchronized { hotFrames.isEmpty && !coldExists }

  /** Staged-but-unflushed row count — the quantity [[maxHotRows]]
    * bounds. */
  def hotSize: Long = synchronized(hotRows)

  // ── cold PLAN cache: constructing the cold frame costs a directory
  // listing of every referenced version dir plus a parquet footer
  // read for schema inference, repeated on every read()/save() even
  // though the dirs a committed manifest references are IMMUTABLE.
  // Cache the constructed DataFrame keyed on (manifest slot, era
  // count, explicit invalidation epoch) — a plan/metadata reuse only:
  // every action still scans the parquet, nothing row-level is
  // persisted. Commits move the slot; the epoch is a belt for paths
  // that change what a slot resolves to without moving it (restore,
  // vacuum, recovery). Another writer's commit moves the slot too, so
  // a second handle never serves a frame over deleted files.
  private def invalidateCold(): Unit = synchronized {
    coldEpoch += 1
    coldCacheKey = None
    coldCacheFrame = None
    pinnedCache = Map.empty
  }

  /** [[TsStore.openSnapshotAt]] through this handle, with the pinned
    * frame memoized per generation (see [[pinnedCache]]). */
  private[graft] def openPinned(v: Long, subjectCol: String)
      : Option[DataFrame] = synchronized {
    pinnedCache.get(v) match {
      case Some(df) => df
      case None =>
        val df = TsStore.openSnapshotAt(spark, path, v, subjectCol)
        pinnedCache += v -> df
        if (pinnedCache.size > 16) pinnedCache -= pinnedCache.keys.min
        df
    }
  }

  def cold: Option[DataFrame] = synchronized(coldAt(loadSnapshot()))

  /** The cold frame of manifest `snap`: immutable version dirs
    * (basePath recovers __day as a partition column, so day pruning
    * fires). An evolved store's dirs span schema eras — each era group
    * is read self-described and aligned to the LIVE era (see the
    * `eraRecords` block above); a single-era store takes the
    * plain-read path unchanged. */
  private def coldAt(snap: TsStore.Snapshot): Option[DataFrame] =
    if (snap.days.isEmpty) None
    else {
      val key = (coldEpoch, snap.v, snap.sub, eraRecords.size)
      if (!coldCacheKey.contains(key)) {
        coldCacheFrame = Some(TsStore.readVersionedAligned(
          spark, path, snap.days, eraRecords, currentEra))
        coldCacheKey = Some(key)
      }
      coldCacheFrame
    }

  /** The owning handle's [[TsStore.openSnapshot]] (live pinned cold
    * view + live tombstones): identical contract to the static
    * out-of-process reader, served from the cold plan cache and the
    * in-memory tombstone map (which the meta sidecar mirrors — every
    * drop persists it). */
  private[graft] def openLive(): Option[DataFrame] = synchronized {
    cold.map(c => tombFiltered(c).drop("__seq"))
  }

  /** M1/M3 `set`: stage rows into the hot tail (upsert semantics apply
    * at read/save time via the ingest sequence). The batch is persisted
    * and counted eagerly — reads must not recompute an arbitrary input
    * query, and the count feeds the flush threshold. Crossing either
    * bound triggers an automatic [[save]] (flush-on-threshold). */
  def set(rows: DataFrame): Long = synchronized {
    seq += 1
    val stamped0 = rows
      .withColumn("__day", dayCol)
      .withColumn("__seq", lit(seq))
    // ── driver-local fast path. Engine commands (`set`/`fset`/`kset`)
    // build each batch from driver-side JSON, so after constant
    // folding the whole batch optimizes to a materialized
    // LocalRelation: its rows already live in the plan, and the count
    // + null-day check below run on the driver — no Spark job, no
    // persist (there is nothing to recompute). The lifecycle drills
    // issue hundreds of these per query; a tiny count job per set was
    // measurably ~40% of their job COUNT (JobProf, round 19).
    // GATED on a structural walk of the UNANALYZED plan: running the
    // optimizer just to discover the batch is distributed would add
    // a full extra Catalyst pass to every streaming micro-batch set
    // (measured ~1.3-1.8x on the ingest drills when ungated).
    def localOnly(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Boolean = p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        localOnly(pr.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        localOnly(f.child)
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        localOnly(s.child)
      case _ => false
    }
    val total = (if (localOnly(stamped0.queryExecution.logical))
        stamped0.queryExecution.optimizedPlan
      else stamped0.queryExecution.logical) match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val dayIdx = l.output.indexWhere(_.name == "__day")
        val nullDays = l.data.count(_.isNullAt(dayIdx))
        if (nullDays > 0) {
          seq -= 1
          throw new IllegalArgumentException(
            s"set: $nullDays row(s) have a null day/time index " +
              s"(store $path partitions by day; the main index must be non-null)")
        }
        hotRows += l.data.length
        // re-wrap the OPTIMIZED relation so downstream plans reuse the
        // evaluated rows instead of re-folding the parse expressions
        hotFrames :+= org.apache.spark.sql.graftbridge.DatasetBridge
          .ofRows(spark, l)
        hotDays = l.output(dayIdx).dataType match {
          case org.apache.spark.sql.types.StringType => hotDays.map(
            _ ++ l.data.iterator.map(_.getUTF8String(dayIdx).toString))
          case _ => None // day tracking needs save()'s cast-to-string form
        }
        l.data.length.toLong
      case _ =>
        val stamped = stamped0.persist(StorageLevel.MEMORY_AND_DISK)
        // one pass counts the batch AND rejects null days: `save`'s
        // dirty-day matching is `isin(days)`, which (SQL null semantics)
        // can never select a NULL partition — a null-day row staged here
        // would clobber the cold __HIVE_DEFAULT_PARTITION__ dir without
        // merging it. The time/day column is the store's primary index;
        // a null there is a malformed row, refuse it at the door.
        val Array(n, nonNullDays) = stamped
          .select(count(lit(1)), count(col("__day")))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
        if (n != nonNullDays) {
          stamped.unpersist()
          seq -= 1
          throw new IllegalArgumentException(
            s"set: ${n - nonNullDays} row(s) have a null day/time index " +
              s"(store $path partitions by day; the main index must be non-null)")
        }
        hotRows += n
        hotCached :+= stamped
        hotFrames :+= stamped
        hotDays = None // distributed batch: day set unknown without a job
        n
    }
    if (hotRows >= maxHotRows || hotFrames.size >= maxHotBatches) save()
    total
  }

  /** The read view: cold ∪ hot, solely-upsert resolved last-seq-wins,
    * limited to the day interval [`from`, `to`] (inclusive day strings;
    * either end may be open). The interval filters BOTH parts before
    * the upsert: on the cold part it is a `__day` partition filter, so
    * only those days' files are listed and scanned; on the hot part it
    * keeps rows of days no save has written yet. Upsert keys include
    * `__day`, so filtering before the merge equals filtering after.
    * The bounds compare as strings: callers pass days in the store's
    * own day format, whose string order must follow the index order. */
  def read(from: Option[String] = None, to: Option[String] = None)
      : DataFrame = synchronized {
    val inDays = (from.map(col("__day") >= _) ++ to.map(col("__day") <= _))
      .reduceOption(_ && _)
    def limited(df: DataFrame) = inDays.fold(df)(df.filter)
    val coldPart = cold.map(c => limited(tombFiltered(c)))
    val hotPart = hotUnion.map(limited)
    (coldPart, hotPart) match {
      case (Some(c), Some(h)) =>
        Write.upsert(c.drop("__seq"), h, subject, soleCols :+ "__day", time, "__seq")
      case (Some(c), None) => c.drop("__seq")
      case (None, Some(h)) =>
        Write.upsert(h.limit(0).drop("__seq"), h, subject,
          soleCols :+ "__day", time, "__seq")
      case (None, None) =>
        // created-but-never-written: the read view is an empty typed
        // DataFrame when the catalog schema is known (reference treats
        // no-data reads as benign), else still an error. An evolved
        // store serves the LATEST era's struct.
        liveReadSchema match {
          case Some(st) =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
          case None =>
            throw new IllegalStateException(s"empty store at $path")
        }
    }
  }

  // resolved once, from the root path itself: FileSystem.get(conf)
  // would return the DEFAULT filesystem, and a root on any other
  // scheme would then fail Hadoop's wrong-FS check. (The lookup also
  // takes Hadoop's global cache lock on every call, and the commit
  // path touches fs dozens of times per commit.)
  private lazy val fs = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Day-partition dir names under a root, sorted — as the parquet
    * writer produced them, with its partition-value escaping (the
    * commit logic compares BY NAME, never by hand-built strings). */
  private def dayDirs(root: org.apache.hadoop.fs.Path): Seq[String] =
    try fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("__day=")).toSeq.sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The hot tail merged over the cold rows of its dirty days, stamped
    * with the CURRENT ingest sequence (any tombstone recorded before
    * this flush — strictly lower sequence — cannot kill rows a later
    * `set` legitimately re-created) and written day-partitioned into
    * `tmp`. Returns the produced day dir names (carrying parquet's
    * partition-value escaping — never hand-built from the raw day
    * strings); a produced count other than the dirty count fails
    * loudly. */
  private def writeMerged(h: DataFrame, snap: TsStore.Snapshot,
      tmp: String): Seq[String] = {
    // day set tracked at set() time when exact (zero Spark jobs); a
    // distributed batch or a hot-tail filter falls back to compute
    val dirtyDays = hotDays.map(_.toSeq.sorted).getOrElse(
      h.select(col("__day").cast("string")).distinct()
        .collect().map(_.getString(0)).toSeq)
    val merged = coldAt(snap) match {
      case Some(c) =>
        Write.upsert(
          tombFiltered(c).filter(col("__day").isin(dirtyDays: _*))
            .drop("__seq"),
          h, subject, soleCols :+ "__day", time, "__seq")
      case None =>
        Write.upsert(h.limit(0).drop("__seq"), h, subject,
          soleCols :+ "__day", time, "__seq")
    }
    merged.withColumn("__seq", lit(seq))
      .repartition(col("__day"))
      .sortWithinPartitions(col(subject), col(time))
      .write.mode("overwrite").partitionBy("__day").parquet(tmp)
    val produced = dayDirs(new org.apache.hadoop.fs.Path(tmp))
    require(produced.length == dirtyDays.length,
      s"save produced ${produced.length} day dirs for ${dirtyDays.length} dirty days")
    produced
  }

  private def decodeDay(name: String): String =
    java.net.URLDecoder.decode(name.stripPrefix("__day="), "UTF-8")

  /** `save`: merge hot into the cold store and clear the tail —
    * incrementally. Only the day partitions the hot tail touches are
    * re-merged and committed as new versions; a day the tail never
    * wrote is never read or rewritten. This is what keeps `save`
    * O(dirty days), not O(store) — at 100 TB the store holds years of
    * days and the tail touches one or two. */
  def save(): Unit = fenced {
    // fence FIRST (via [[fenced]]) — before any plan reads the
    // manifest: a first mutation acquires the lease, whose seal/adopt
    // pass may advance the live generation (rolling a crashed
    // predecessor's commit forward); the merge below must plan
    // against the post-adoption corpus. The manifest is resolved
    // ONCE: the merge's baseline IS the commit's baseline.
    hotUnion.foreach { h =>
      val snap = loadSnapshot()
      val tmp = stagingTmp("saving")
      val produced = writeMerged(h, snap, tmp)
      val v = snap.v + 1
      commitPlaced(instr("saving", tmp, produced, TsStore.Snapshot(v,
        snap.days ++ produced.map(_ -> v), snap.removed -- produced,
        seq = math.max(snap.seq, seq))), snap)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      invalidateCold()
      clearHot()
      onColdChange(TsStore.DaysUpserted(produced.map(decodeDay)))
      maybeAutoVacuum()
    }
  }

  // ── staged commits (the multi-table atomic-commit primitive) ────
  //
  // [[save]] is write-tmp-then-commit in one call; an engine
  // committing N tables as ONE atomic point needs the two halves
  // apart: stage every table's commit DURABLY but INERTLY (live
  // manifest, hot tail, and readers untouched — and the store's own
  // open-time recovery ignores the staged tmp, so a crash before the
  // engine's marker rolls BACK, never half-forward), then finalize
  // each one (replayable from any crash point — finalize is exactly
  // the [[save]] commit over the staged instruction). The engine's
  // marker between the two halves is the commit point
  // ([[graft.api.Engine.saveAll]]).

  /** Staging-tmp path for `kind` (`saving`/`deleting`/`packed`/
    * `staged_save`). The name carries the writer's lease-token prefix,
    * so two writers' staged bytes can NEVER share a path — the
    * reservation protocol's adoption identity ("same recorded tmp path
    * = same instruction") is exact. Acquires the lease on a first
    * mutation (the token IS the name). */
  private def stagingTmp(kind: String): String = {
    checkFence()
    path.stripSuffix("/") + "__" + kind + "." + leaseToken.get.take(8)
  }

  /** Every on-disk staging tmp of `kind`, any writer's: the fixed
    * legacy name plus every token-suffixed one. */
  private def stagingTmps(kind: String): Seq[org.apache.hadoop.fs.Path] = {
    val f = fs
    val p = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val parent = p.getParent
    if (parent == null || !f.exists(parent)) return Seq.empty
    val pre = p.getName + "__" + kind
    f.listStatus(parent).toSeq
      .filter(s => s.isDirectory && {
        val n = s.getPath.getName
        n == pre || n.startsWith(pre + ".")
      })
      .map(_.getPath).sortBy(_.getName)
  }

  /** Stage the hot tail as a durable, inert commit instruction under
    * `__staged_save` — the merged day dirs plus a [[TsStore
    * .CommitManifest]] naming them, the generation they target and the
    * watermark their rows carry; nothing is reserved or placed. Returns
    * false when there is nothing hot to stage (finalize is then a
    * no-op). */
  private[graft] def stageSave(): Boolean = fenced {
    hotUnion match {
      case None =>
        // stale leftovers never linger — any writer's (a crashed
        // predecessor's token-suffixed tmp included: staging is
        // pre-marker by contract, so discarding is always a rollback
        // of something never acknowledged)
        stagingTmps("staged_save").foreach(fs.delete(_, true))
        false
      case Some(h) =>
        val snap = loadSnapshot()
        val stagedTmp = stagingTmp("staged_save")
        val produced = writeMerged(h, snap, stagedTmp)
        // the commit manifest completes the instruction — staged-tmp
        // completeness is exactly "manifest present" (written last)
        TsStore.writeCommitDays(fs, new org.apache.hadoop.fs.Path(
          stagedTmp, TsStore.CommitManifest),
          TsStore.Staged(produced, snap.v + 1, seq))
        true
    }
  }

  private def completeStagedSaves: Seq[org.apache.hadoop.fs.Path] =
    stagingTmps("staged_save").filter(t =>
      fs.exists(new org.apache.hadoop.fs.Path(t, "_SUCCESS")) &&
        fs.exists(new org.apache.hadoop.fs.Path(t, TsStore.CommitManifest)))

  /** Turn every complete staged instruction into a real commit —
    * [[save]]'s second half over the staged tmp, idempotently
    * replayable from any crash point (placed days skip, the staged
    * target generation pins the version, a generation the live
    * manifest already reached is not committed again). A restarted
    * engine finalizes its crashed predecessor's token-suffixed tmp
    * here the same way (ordered by target generation when several
    * pend). No-op when nothing (complete) is staged. */
  private[graft] def finalizeStagedSave(): Unit = synchronized {
    val staged = completeStagedSaves
      .map(t => (t, TsStore.readCommitDays(fs,
        new org.apache.hadoop.fs.Path(t, TsStore.CommitManifest))))
      .sortBy(_._2.v)
    if (staged.nonEmpty) fenced {
      staged.foreach { case (t, c) =>
        seq = math.max(seq, c.seq)
        val snap = loadSnapshot()
        if (snap.v < c.v) {
          if (c.v != snap.v + 1) throw new IllegalStateException(
            s"$path: commit FENCED — the staged commit targets generation " +
              s"${c.v} but the live manifest is at ${snap.v}: another " +
              "writer moved the store since it was staged; this write " +
              "did not land.")
          commitPlaced(instr("saving", t.toString, c.days,
            TsStore.Snapshot(c.v, snap.days ++ c.days.map(_ -> c.v),
              snap.removed -- c.days, seq = math.max(snap.seq, seq))),
            snap, restamp = true)
        }
        fs.delete(t, true)
        invalidateCold()
        clearHot()
        onColdChange(TsStore.DaysUpserted(c.days.map(decodeDay)))
      }
      maybeAutoVacuum()
    }
  }

  /** Roll every staged-but-unmarked commit BACK (crash before the
    * engine's marker): the tmps vanish, nothing ever served them. */
  private[graft] def discardStagedSave(): Unit =
    stagingTmps("staged_save").foreach(fs.delete(_, true))

  /** M5 `del`: delete rows matching `cond`, rewriting ONLY the day
    * partitions `affectsDay` selects — O(days in range) exactly as
    * [[save]] is O(dirty days), never a whole-store rewrite (round 7's
    * one scale-killer; the reference likewise erases only the blocks a
    * delete lands in, sisdb_fmap_write.c:135-196). Hot batches are
    * anti-filtered in place (no forced flush); a day partition left
    * row-less by the delete leaves the manifest. A NULL predicate
    * result keeps the row (only a definite match deletes). */
  def deleteWhere(cond: org.apache.spark.sql.Column,
      affectsDay: String => Boolean): Unit = fenced {
    val defMatch = coalesce(cond, lit(false))
    // hotRows now overcounts the filtered tail — the flush bound fires
    // earlier than strictly needed, which is the safe direction
    hotFrames = hotFrames.map(_.filter(!defMatch))
    if (hotFrames.nonEmpty) hotDays = None // a filter can empty a day
    val snap = loadSnapshot()
    val affected = snap.days.keys.toSeq.sorted.map(n => n -> decodeDay(n))
      .filter { case (_, v) => affectsDay(v) }
    if (affected.nonEmpty) {
      // the rewrite stamps cold rows with the CURRENT sequence; the
      // watermark rides in the reservation and manifest that commit them
      val kept = tombFiltered(coldAt(snap).get)
        .filter(col("__day").isin(affected.map(_._2): _*))
        .filter(!defMatch)
        .withColumn("__seq", lit(seq))
      val tmp = stagingTmp("deleting")
      kept.repartition(col("__day"))
        .sortWithinPartitions(col(subject), col(time))
        .write.mode("overwrite").partitionBy("__day").parquet(tmp)
      // the tmp holds the REPLACED days; a day the delete emptied is
      // absent from it — the instruction records both, which the tmp's
      // dirs alone could never tell apart
      val produced = dayDirs(new org.apache.hadoop.fs.Path(tmp)).toSet
      val (replaced, removed) = affected.partition(a => produced.contains(a._1))
      val v = snap.v + 1
      val now = System.currentTimeMillis()
      commitPlaced(instr("deleting", tmp, replaced.map(_._1),
        TsStore.Snapshot(v,
          snap.days ++ replaced.map(_._1 -> v) -- removed.map(_._1),
          snap.removed -- replaced.map(_._1) ++ removed.map(_._1 -> now),
          seq = math.max(snap.seq, seq))), snap)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      invalidateCold()
      onColdChange(TsStore.DaysReplaced(replaced.map(_._2), removed.map(_._2)))
      maybeAutoVacuum()
    }
  }

  /** M6 `drop`: tombstone the subject — an O(1) metadata write, no data
    * rewrite. Hot rows are filtered out immediately; cold rows stay on
    * disk but are dead to every read until [[pack]] erases them
    * physically (the reference's moved-block design, sisdb_io.c:297-306:
    * blocks marked moved, erased at save/pack). A later `set` of the
    * same subject re-creates it cleanly: its rows carry ingest
    * sequences above the tombstone's. */
  def dropSubject(key: String): Unit = synchronized {
    hotFrames = hotFrames.map(_.filter(col(subject) =!= lit(key)))
    if (hotFrames.nonEmpty) hotDays = None // a filter can empty a day
    seq += 1
    if (coldExists) {
      tombstones += key -> seq
      persistMeta()
      onColdChange(TsStore.Tombstoned)
    }
  }

  /** `pack`: compaction to a bounded file count per partition — and the
    * point where tombstoned rows are physically erased (the reference's
    * weekly pack drops moved blocks the same way, sisdb.c:586-602,
    * sisdb_fmap_write.c:135-146). O(store) by design. */
  def pack(targetFiles: Int): Unit = pack(targetFiles, None)

  /** [[pack]] with an optional Z-ORDER layout for the rewritten days:
    * `zorderBy = Some((dimA, dimB))` lays each day's rows out by the
    * Morton interleave of the two dims' bucket ranks (`targetFiles`
    * range partitions PER DAY), so every file covers a compact
    * rectangle of (dimA, dimB) space and parquet footer stats prune on
    * BOTH dims — see [[graft.ops.Layout]]; the natural pair is
    * (subject, time). Default `None` keeps the (subject, time)
    * sort-within-day layout (the O1 sorted-series contract). The
    * rewrite (compaction + tombstone materialization) lands as one new
    * generation — pinned readers keep the pre-pack versions until
    * [[vacuum]]. Tombstones left by a crash between the commit and the
    * meta rewrite are harmless: they re-filter rows already gone. */
  def pack(targetFiles: Int, zorderBy: Option[(String, String)])
      : Unit = fenced {
    val snap = loadSnapshot()
    coldAt(snap).foreach { c => // nothing flushed yet — benign, like save
      val tmp = stagingTmp("packed")
      packedLayout(tombFiltered(c).withColumn("__seq", lit(seq)),
          targetFiles, zorderBy)
        .write.mode("overwrite").partitionBy("__day").parquet(tmp)
      // the manifest becomes EXACTLY the produced days: a day whose
      // rows were all tombstoned vanishes, recorded as removed so
      // vacuum reclaims it after the grace
      val produced = dayDirs(new org.apache.hadoop.fs.Path(tmp))
      val v = snap.v + 1
      val now = System.currentTimeMillis()
      commitPlaced(instr("packed", tmp, produced, TsStore.Snapshot(v,
        produced.map(_ -> v).toMap,
        snap.removed -- produced ++ (snap.days.keySet -- produced).map(_ -> now),
        seq = math.max(snap.seq, seq))), snap)
      // every other generation-minting mutator invalidates here; without
      // it the pinnedCache can keep serving a cached None for exactly the
      // generation this pack mints
      invalidateCold()
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      tombstones = Map.empty
      persistMeta()
      onColdChange(TsStore.Rewritten)
      maybeAutoVacuum()
    }
  }

  /** Evolve the table to a NEW schema version, preserving history —
    * the store face of the reference's version-tolerant convert
    * (sis_dynamic.h:12-51; the bridge rule is
    * [[graft.ops.Convert.align]]'s). `from` must be the schema the
    * store currently writes; the caller (the engine) guarantees the
    * main index and solely fields are unchanged. Lazy: the hot tail is
    * flushed (a final old-era generation), then the new era is
    * recorded with `fromGeneration = live generation + 1` — no data
    * rewrite; reads align old-era dirs on the fly and time travel to
    * a pre-evolve generation serves the OLD schema. The era-record
    * write (first-writer-wins) is the commit point; [[latestEraSdb]]
    * is how an owning engine re-derives the declaration after a crash. */
  def evolveSchema(from: graft.schema.SdbSchema.Sdb,
      to: graft.schema.SdbSchema.Sdb): Unit = fenced {
    eraRecords.lastOption.foreach { last =>
      require(last.sdb == from,
        s"evolveSchema: 'from' does not match the store's latest " +
          s"recorded era (${last.era}) — evolve from the live schema")
    }
    require(from != to, "evolveSchema: schemas are identical")
    // flush first: hot rows were typed under the old schema and must
    // land in old-era files
    save()
    val f = fs
    if (eraRecords.isEmpty)
      TsStore.writeEraRecord(f, path, TsStore.EraRecord(0, 0L, from))
    val nextEra = eraRecords.lastOption.map(_.era).getOrElse(0) + 1
    TsStore.writeEraRecord(f, path,
      TsStore.EraRecord(nextEra, loadSnapshot().v + 1, to))
    eraRecords = TsStore.readEras(f, path)
    liveReadSchema = Some(TsStore.withSystemCols(to))
  }

  /** The pack rewrite's physical layout. Default: one hash partition
    * per day, rows sorted (subject, time). Z-order: `targetFiles`
    * range partitions per day on the Morton code of the two dims'
    * bucket ranks (see [[pack]]'s zorderBy overload). */
  private def packedLayout(rows: DataFrame, targetFiles: Int,
      zorderBy: Option[(String, String)]): DataFrame = zorderBy match {
    case None =>
      rows.repartition(targetFiles, col("__day"))
        .sortWithinPartitions(col(subject), col(time))
    case Some((da, db)) =>
      val days = math.max(1L, rows.select("__day").distinct().count())
      val parts = (targetFiles.toLong * days).min(100000L).toInt
      packZRank(packZRank(rows, da, "__zra"), db, "__zrb")
        .withColumn("__z",
          graft.ops.Layout.morton2(col("__zra"), col("__zrb")))
        .drop("__zra", "__zrb")
        .repartitionByRange(parts, col("__day"), col("__z"))
        .sortWithinPartitions("__day", "__z")
        .drop("__z")
  }

  /** Bucket rank of `dim` in [0, 256) for the z-interleave: string
    * dims rank by sorted-distinct position (bounded dictionary,
    * broadcast-joined — subject cardinality is bounded by the same
    * contract that makes the catalog's dict stream viable); numeric
    * dims by uniform rank over their global [min, max] (two scalars).
    * NULL dim values rank 0 on both branches — the join is LEFT and
    * the rank coalesced, because an inner join would silently DELETE
    * null-dim rows from the rewritten store (pack must be
    * content-preserving no matter what layout it chooses). An empty
    * input (everything tombstoned) short-circuits to rank 0. */
  private def packZRank(rows: DataFrame, dim: String, as: String)
      : DataFrame = rows.schema(dim).dataType match {
    case org.apache.spark.sql.types.StringType =>
      val dict = graft.catalog.Catalog.dictionary(
        rows.filter(col(dim).isNotNull), dim, "__zdictid")
      val n = dict.count().toDouble
      rows.join(broadcast(dict), Seq(dim), "left")
        .withColumn(as, coalesce(
          graft.ops.Layout.uniformRank(col("__zdictid"),
            1.0, math.max(n, 2.0), 256), lit(0L)))
        .drop("__zdictid")
    case _ =>
      val mm = rows.agg(min(col(dim)).cast("double"),
        max(col(dim)).cast("double")).collect()(0)
      if (mm.isNullAt(0)) rows.withColumn(as, lit(0L))
      else rows.withColumn(as, coalesce(
        graft.ops.Layout.uniformRank(col(dim),
          mm.getDouble(0), mm.getDouble(1), 256), lit(0L)))
  }
}

object TsStore {
  /** [[vacuum]] retention defaults — the single source the Engine
    * surface forwards, so the contract cannot drift between the two. */
  val DefaultKeepSuperseded = 1
  val DefaultRemovedDayGraceMs: Long = 24L * 3600 * 1000
  /** Time-travel retention default: 0 = no generation records survive
    * a vacuum (the pre-time-travel behavior); deployments wanting
    * reproducible as-of reads (e.g. pinning the exact training corpus
    * a run consumed) set it to their reproducibility horizon. */
  val DefaultKeepHistory = 0

  /** Scheduled-vacuum dials ([[TsStore!.autoVacuum]]): run [[vacuum]]
    * after every cold mutation whose committed generation is a
    * multiple of `everyGenerations`, with the same retention knobs a
    * manual vacuum takes (defaults = the shared contract above). */
  final case class AutoVacuum(everyGenerations: Int,
      keepSuperseded: Int = DefaultKeepSuperseded,
      removedDayGraceMs: Long = DefaultRemovedDayGraceMs,
      keepHistory: Int = DefaultKeepHistory,
      supersededGraceMs: Long = 0L,
      cutMaxAgeMs: Long = 0L)

  private[store] val HistFile = "^v=(\\d+)\\.json$".r

  /** The instant `supersededGraceMs` counts from: the newest mtime of
    * a version dir's data files (the dir's own when it holds none) —
    * when the data was WRITTEN, which precedes placement by the
    * commit's own duration (job commit, reservation, renames, slot
    * claim; longer for a large pack): size the grace as the longest
    * reader runtime plus that margin. A replayed placement re-dates the
    * files ([[TsStore!.placeVersions]]); nothing else rewrites them, so
    * they date the version on object stores too (a dir mtime means
    * nothing there) and live exactly as long as the version does. */
  private[store] def placedAt(f: org.apache.hadoop.fs.FileSystem,
      verDir: org.apache.hadoop.fs.FileStatus): Long = {
    val files = f.listStatus(verDir.getPath).filter(_.isFile)
    if (files.isEmpty) verDir.getModificationTime
    else files.map(_.getModificationTime).max
  }

  /** The ONE tombstone kill predicate — `subject` dropped at sequence
    * `g` kills rows with `__seq <= g`. Every read surface (the owning
    * store's tombDead, pinned snapshots, time-travel reads) builds its
    * filter here so the ranking rule cannot silently diverge between
    * them. */
  private[store] def tombstoneFilter(tombstones: Map[String, Long],
      subject: String): Option[org.apache.spark.sql.Column] =
    tombstones.map { case (s, g) =>
      col(subject) === lit(s) && col("__seq") <= lit(g)
    }.reduceOption(_ || _)

  /** The ONE manifest→frame read: the union of a day→version map's
    * version dirs, with `basePath` recovering `__day` as a partition
    * column (so day predicates prune as partition filters)
    * and the internal `__v` dropped. */
  private[store] def readVersioned(spark: SparkSession, path: String,
      days: Map[String, Long]): DataFrame =
    spark.read.option("basePath", path)
      .parquet(days.toSeq.sortBy(_._1).map { case (d, v) =>
        s"${path.stripSuffix("/")}/$d/__v=$v" }: _*)
      .drop("__v")

  // ── schema-era records (see the instance-side `eraRecords` block):
  // `<path>__schemas/e=N.json` = {era, fromGeneration, dsl}, one per
  // schema version the store has ever written. Immutable once placed
  // (first-writer-wins, tmp + atomic rename — the writeHistory
  // protocol); the full set is tiny (one evolve each) and read once
  // per open / per static time-travel call.

  /** One recorded schema era: data committed at generations ≥
    * `fromGeneration` (and < the next record's) was written under
    * `sdb`. Era 0's record exists only once the store has evolved. */
  private[graft] final case class EraRecord(era: Int, fromGeneration: Long,
      sdb: graft.schema.SdbSchema.Sdb)

  private val EraFile = "^e=(\\d+)\\.json$".r

  private def schemasDir(path: String) =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__schemas")

  private[graft] def readEras(f: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[EraRecord] = {
    val dir = schemasDir(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case EraFile(e) => e.toInt }.toSeq.sorted
      .map { e =>
        val node = Json.readTree(readJsonBytes(f,
          new org.apache.hadoop.fs.Path(dir, s"e=$e.json")))
        EraRecord(e, node.path("fromGeneration").asLong(0L),
          graft.schema.SdbSchema.parse(node.path("dsl").asText()))
      }
  }

  private[graft] def writeEraRecord(f: org.apache.hadoop.fs.FileSystem,
      path: String, rec: EraRecord): Unit = {
    val dir = schemasDir(path)
    f.mkdirs(dir)
    val dest = new org.apache.hadoop.fs.Path(dir, s"e=${rec.era}.json")
    if (f.exists(dest)) return // immutable: first writer wins
    val root = Json.createObjectNode()
    root.put("era", rec.era)
    root.put("fromGeneration", rec.fromGeneration)
    root.put("dsl", rec.sdb.toDsl)
    val tmp = new org.apache.hadoop.fs.Path(dir, s"e=${rec.era}.json.tmp")
    writeBytes(f, tmp, Json.writeValueAsBytes(root))
    if (!f.rename(tmp, dest)) f.delete(tmp, false) // lost the race: fine
  }

  /** The era a day-version dir `__v=v` was written under: the highest
    * recorded era whose `fromGeneration` is ≤ v (version dirs are
    * only ever created by the commit that advanced the manifest to
    * that generation, and evolve flushes before recording the next
    * era's boundary). 0 when the store never evolved. */
  private[graft] def eraOfGen(eras: Seq[EraRecord], v: Long): Int =
    eras.foldLeft(0)((acc, r) => if (r.fromGeneration <= v) r.era else acc)

  /** A declared schema's read-view struct: the sdb fields plus the
    * store's system columns in the engine's canonical order. */
  private[graft] def withSystemCols(sdb: graft.schema.SdbSchema.Sdb)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      sdb.structType.fields :+
        org.apache.spark.sql.types.StructField("subject",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("__day",
          org.apache.spark.sql.types.StringType))

  /** [[readVersioned]] across schema eras: group the (day → version)
    * map by each dir's writing era ([[eraOfGen]]), read every group
    * self-described (uniform parquet schema within a group — no
    * cross-type footer clash is possible), and align each non-target
    * group to `targetEra`'s declared schema under the reference's
    * never-cross-type rule ([[graft.ops.Convert.alignKeeping]] —
    * system columns `subject`/`__day`/`__seq` carry unchanged).
    * Column pruning and day pruning still fire per group (the align
    * is a projection Catalyst pushes into each scan). Single-era
    * stores (or calls without era records) take the plain
    * [[readVersioned]] path byte-identically. */
  private[store] def readVersionedAligned(spark: SparkSession, path: String,
      days: Map[String, Long], eras: Seq[EraRecord], targetEra: Int)
      : DataFrame = {
    val groups = days.groupBy { case (_, v) => eraOfGen(eras, v) }
    if (eras.size <= 1 || (groups.size == 1 && groups.contains(targetEra)))
      return readVersioned(spark, path, days)
    val byEra = eras.map(r => r.era -> r.sdb).toMap
    val to = byEra.getOrElse(targetEra, throw new IllegalStateException(
      s"$path: no schema record for era $targetEra — __schemas sidecar " +
        "is incomplete"))
    groups.toSeq.sortBy(_._1).map { case (e, groupDays) =>
      val df = readVersioned(spark, path, groupDays)
      if (e == targetEra) df
      else {
        val from = byEra.getOrElse(e, throw new IllegalStateException(
          s"$path: no schema record for era $e — __schemas sidecar is " +
            "incomplete"))
        val system = df.columns.filter(cn =>
          !from.fields.exists(_.name == cn) && !to.fields.exists(_.name == cn))
        graft.ops.Convert.alignKeeping(df, from, to, system.toSeq)
      }
    }.reduce(_.unionByName(_))
  }

  /** A staged save's instruction file inside its tmp ([[TsStore!
    * .stageSave]]): with it, the staged tmp is a complete commit
    * instruction the engine's marker can finalize from any crash
    * point. */
  private[store] val CommitManifest = "__commit.json"

  /** A committed snapshot: generation counter + (escaped day dir name
    * → version), plus the days REMOVED from the manifest with their
    * removal epoch-ms — the bookkeeping [[TsStore.vacuum]] needs to
    * reclaim a removed day's final version dirs after the reader
    * grace passes (a count-based keep can never reclaim them: no
    * later version ever supersedes a day that left the manifest).
    * `seq` is the ingest-sequence watermark at commit: the rows a
    * commit stamps and the watermark covering them land in one claim.
    * Immutable; the manifest file swaps atomically. */
  private[store] final case class Snapshot(v: Long, days: Map[String, Long],
      removed: Map[String, Long] = Map.empty, sub: Int = 0, seq: Long = 0L)

  /** A placing commit's instruction — recorded as the generation's
    * reservation (`__resv.<v>.json`), it is everything recovery and a
    * takeover's adoption need to replay the commit from any crash
    * point: the staged `tmp`, the day dirs to `place` from it at
    * version `next.v`, the `next` manifest itself (removal epochs and
    * watermark included), and the `tombstones` of the generation's
    * time-travel record — which is this very file, renamed into
    * `__snaphist` once the slot claim lands. */
  private[store] final case class Instr(token: String, kind: String,
      tmp: String, place: Seq[String], next: Snapshot,
      tombstones: Map[String, Long])

  private[store] def instrNode(i: Instr)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val root = manifestNode(i.next)
    root.put("token", i.token)
    root.put("tmp", i.tmp)
    root.put("kind", i.kind)
    val pl = root.putArray("place")
    i.place.sorted.foreach(pl.add)
    val tb = root.putObject("tombstones")
    i.tombstones.toSeq.sortBy(_._1).foreach { case (k, g) => tb.put(k, g) }
    root
  }

  /** Generation `v`'s reservation as an instruction; None when absent,
    * unreadable, or written by a build whose reservations carried no
    * instruction (a pending one of those is sealed, never replayed). */
  private[store] def readInstr(f: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long): Option[Instr] =
    scala.util.Try(readJsonOpt(f, resvFile(path, v))).toOption.flatten
      .filter(_.has("place")).map { n =>
        import scala.jdk.CollectionConverters._
        Instr(n.path("token").asText(), n.path("kind").asText(),
          n.path("tmp").asText(),
          n.path("place").elements().asScala.map(_.asText()).toSeq,
          parseSnapshot(n), longMap(n, "tombstones"))
      }

  /** Shared JSON mapper: ObjectMapper construction is not free and
    * the commit path serializes several sidecars per commit.
    * Jackson's read/write surface is thread-safe after config. */
  private[graft] val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A committed manifest's position in the claim sequence:
    * generation `v` plus a same-generation bookkeeping counter `k`
    * (vacuum's removal-record retirement rewrites the manifest
    * without advancing the generation). Total order: readers resolve
    * the MAX slot; writers claim exactly one slot per commit. */
  private[store] final case class SnapSlot(v: Long, k: Int)
      extends Ordered[SnapSlot] {
    def compare(o: SnapSlot): Int =
      if (v != o.v) java.lang.Long.compare(v, o.v) else k - o.k
    override def toString = s"$v.$k"
  }

  private[store] def slotFile(path: String, s: SnapSlot) =
    new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + s"__snapshot.${s.v}.${s.k}.json")

  private[store] def resvFile(path: String, v: Long) =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + s"__resv.$v.json")

  private[store] def floorFile(path: String) =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__snapfloor.json")

  /** One listing of the store root's PARENT dir → (committed manifest
    * slots, reserved-but-maybe-uncommitted generations). Manifest and
    * reservation files are SIBLINGS of the store root (like every
    * sidecar here), so the listing costs O(tables × sidecars) on an
    * engine root, never O(days). */
  private[store] def listSlotsAndResvs(f: org.apache.hadoop.fs.FileSystem,
      path: String): (Seq[SnapSlot], Seq[Long]) = {
    val p = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val parent = p.getParent
    val leaf = p.getName
    if (parent == null || !f.exists(parent)) return (Seq.empty, Seq.empty)
    val names = f.listStatus(parent).map(_.getPath.getName)
    val mPre = leaf + "__snapshot."
    val slots = names.collect {
      // the legacy single-file manifest (`__snapshot.json`) and the
      // floor record share the prefix but carry no slot digits
      case n if n.startsWith(mPre) && n.endsWith(".json") &&
          n.length > mPre.length + 5 =>
        n.substring(mPre.length, n.length - 5).split("\\.")
    }.collect {
      case Array(v, k) if v.nonEmpty && v.forall(_.isDigit) &&
          k.nonEmpty && k.forall(_.isDigit) =>
        SnapSlot(v.toLong, k.toInt)
    }.toSeq.sorted
    val rPre = leaf + "__resv."
    val resvs = names.collect {
      case n if n.startsWith(rPre) && n.endsWith(".json") &&
          n.length > rPre.length + 5 =>
        n.substring(rPre.length, n.length - 5)
    }.collect {
      case v if v.nonEmpty && v.forall(_.isDigit) => v.toLong
    }.toSeq.sorted
    (slots, resvs)
  }

  /** The highest generation whose claim-slot NAMES have been freed by
    * GC — written BEFORE any freeing, so a claim that wins a freed
    * name (a claimant stalled across takeovers re-claiming a retired
    * slot) is detectable: any claim at `v <= floor` is a resurrection
    * and must not stand. 0 when GC never freed anything. */
  private[graft] def readFloor(f: org.apache.hadoop.fs.FileSystem,
      path: String): Long =
    scala.util.Try(readJsonOpt(f, floorFile(path))).toOption.flatten
      .map(_.path("v").asLong(0L)).getOrElse(0L)

  /** Best-effort monotonic: the recorded value is max(old, new) and
    * the tmp name carries the writer token, so two racing GC passes
    * (a fenced writer's in-flight commit GC vs the new holder's)
    * cannot stomp each other's tmp bytes and the max() bounds the
    * regression one interleaving could otherwise leave (a smaller
    * floor would widen the resurrection window the post-claim
    * re-verify closes). The residual write-after-write reorder is
    * harmless under that re-verify: it reads the floor fresh AFTER
    * winning a claim. */
  private[store] def writeFloor(f: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long, token: String = "anon"): Unit = {
    val prior = readFloor(f, path)
    val root = Json.createObjectNode()
    root.put("v", math.max(prior, v))
    val tmp = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + s"__snapfloor.json.tmp.$token")
    writeBytes(f, tmp, Json.writeValueAsBytes(root))
    atomicReplace(f, tmp, floorFile(path))
  }

  /** Resolve the LIVE committed snapshot: the max numbered slot, with
    * the legacy single-file manifest as fallback while no numbered
    * commit exists. A slot that vanishes between list and read is the
    * one benign spelling (a concurrent committer's GC retired it — a
    * newer slot exists and a re-list finds it); sustained churn is
    * corruption and fails loudly. "Virgin root" is concluded only on
    * a second clean pass, because an absent legacy file may be a
    * migration that committed slot (v,0) in the instants since the
    * list. */
  private[store] def readLiveSnapshot(f: org.apache.hadoop.fs.FileSystem,
      path: String): Snapshot = {
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 32) throw new IllegalStateException(
        s"$path: the snapshot manifest keeps shifting between list and " +
          "read — churn beyond any plausible concurrent-writer count")
      listSlotsAndResvs(f, path)._1.lastOption match {
        case Some(mx) =>
          // exists-then-read, both racing GC: either absence spelling
          // (exists false, or vanished between the probes) loops to a
          // fresh list — readSnapshot's absent-file "empty store"
          // default must never swallow a retired max slot
          val sf = slotFile(path, mx)
          if (f.exists(sf)) {
            try return readSnapshot(f, sf).copy(sub = mx.k)
            catch { case _: java.io.FileNotFoundException => }
          }
        case None =>
          val legacy = new org.apache.hadoop.fs.Path(
            path.stripSuffix("/") + "__snapshot.json")
          if (f.exists(legacy)) {
            try return readSnapshot(f, legacy)
            catch { case _: java.io.FileNotFoundException => }
          } else if (attempts >= 2) return Snapshot(0L, Map.empty)
      }
    }
    sys.error("unreachable")
  }

  /** A sidecar's JSON, or None when the file does not exist — one
    * `open`, no separate existence probe. */
  private[graft] def readJsonOpt(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path)
      : Option[com.fasterxml.jackson.databind.JsonNode] =
    try Some(Json.readTree(readJsonBytes(f, p)))
    catch { case _: java.io.FileNotFoundException => None }

  /** Create (or overwrite) `p` with `bytes`. */
  private[graft] def writeBytes(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Unit = {
    val out = f.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private[graft] def readJsonBytes(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      buf.toByteArray
    } finally in.close()
  }

  /** Replace `dest` with the already-written `tmp` in ONE rename —
    * every sidecar commit in the engine (leases, metas, floors,
    * cursors, markers, catalogs) funnels through here. HDFS and
    * object-store FileContexts implement `Rename.OVERWRITE` as one
    * namespace op. The LOCAL FileContext is delete-then-rename — a
    * crash between the two leaves NO `dest`, which for a cursor or
    * manifest reads as "never initialized" — so `file://` goes through
    * `java.nio` `ATOMIC_MOVE|REPLACE_EXISTING`, one `rename(2)`. Both
    * `.crc` sidecars are dropped first (a stale `dest` checksum would
    * fail every read of the NEW bytes; a checksum is optional on read,
    * so `dest` stays readable in every crash ordering). */
  private[graft] def atomicReplace(f: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dest: org.apache.hadoop.fs.Path): Unit = {
    val q = f.makeQualified(dest)
    if ("file" == q.toUri.getScheme) {
      def crcOf(p: org.apache.hadoop.fs.Path): java.io.File = {
        val qp = f.makeQualified(p)
        new java.io.File(new java.io.File(qp.toUri.getPath).getParent,
          s".${qp.getName}.crc")
      }
      crcOf(tmp).delete()
      crcOf(dest).delete()
      java.nio.file.Files.move(
        java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(q.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else
      org.apache.hadoop.fs.FileContext.getFileContext(q.toUri, f.getConf)
        .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Claim `dest` with the fully-written `tmp`'s content — atomically
    * and EXCLUSIVELY: exactly one of N concurrent claimants of the
    * same `dest` returns true; the rest return false with their tmp
    * cleaned up (the compare-and-swap every numbered generation here
    * builds on — [[atomicReplace]] is last-writer-wins). `file://`
    * uses `link(2)`, which fails EEXIST atomically; elsewhere Hadoop's
    * plain `rename`, which HDFS refuses onto an existing dst — a false
    * return counts as a lost race ONLY when `dest` exists (vanished
    * sources or missing parents are real I/O failures, not races).
    *
    * DEPLOYMENT REQUIREMENT: an HDFS-CLASS filesystem (HDFS, posix,
    * Azure ABFS). Bare S3A/GCS rename is copy+delete with no
    * exclusivity, so two claimants could both "win"; object stores
    * need an HDFS-class layer or a conditional-put branch here (S3
    * `If-None-Match:*` / GCS `ifGenerationMatch=0`) — the scheme
    * dispatch below is the seam. */
  private[graft] def commitExclusive(f: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dest: org.apache.hadoop.fs.Path): Boolean = {
    val q = f.makeQualified(dest)
    if ("file" == q.toUri.getScheme) {
      val t = java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath)
      // the local fs checksums the tmp; dest gets no sidecar (crc is
      // optional on read) and the tmp's is deleted with it
      new java.io.File(t.getParent.toFile, s".${t.getFileName}.crc")
        .delete()
      val won =
        try { java.nio.file.Files.createLink(
          java.nio.file.Paths.get(q.toUri.getPath), t); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      java.nio.file.Files.deleteIfExists(t)
      won
    } else {
      val won =
        try f.rename(tmp, dest)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      if (!won) {
        if (!f.exists(dest)) throw new java.io.IOException(
          s"commitExclusive: rename $tmp -> $dest failed with NO file " +
            "at the destination — not a lost claim race (vanished " +
            "source or missing parent?); refusing to retry blind")
        f.delete(tmp, false)
      }
      won
    }
  }

  private[store] def readSnapshot(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Snapshot =
    readJsonOpt(f, p).map(parseSnapshot).getOrElse(Snapshot(0L, Map.empty))

  private[store] def parseSnapshot(node: com.fasterxml.jackson.databind.JsonNode)
      : Snapshot =
    Snapshot(node.path("v").asLong(0L), longMap(node, "days"),
      longMap(node, "removed"), seq = node.path("seq").asLong(0L))

  /** A JSON object field of longs as a map (absent → empty). */
  private[graft] def longMap(node: com.fasterxml.jackson.databind.JsonNode,
      field: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    node.path(field).properties().asScala
      .map(e => e.getKey -> e.getValue.asLong(0L)).toMap
  }

  /** A manifest's JSON body: generation, days, removals, watermark. */
  private[store] def manifestNode(s: Snapshot)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val root = Json.createObjectNode()
    root.put("v", s.v)
    val d = root.putObject("days")
    s.days.toSeq.sortBy(_._1).foreach { case (k, ver) => d.put(k, ver) }
    val r = root.putObject("removed")
    s.removed.toSeq.sortBy(_._1).foreach { case (k, ts) => r.put(k, ts) }
    root.put("seq", s.seq)
    root
  }

  /** A staged save's instruction: the produced day dirs, the
    * generation they target (finalize commits AT it — never one
    * re-derived from a manifest that may have moved) and the
    * watermark their rows carry. */
  private[store] final case class Staged(days: Seq[String], v: Long, seq: Long)

  private[store] def writeCommitDays(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, st: Staged): Unit = {
    val root = Json.createObjectNode()
    root.put("v", st.v)
    root.put("seq", st.seq)
    val arr = root.putArray("days")
    st.days.sorted.foreach(arr.add)
    writeBytes(f, p, Json.writeValueAsBytes(root))
  }

  private[store] def readCommitDays(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Staged = {
    val node = Json.readTree(readJsonBytes(f, p))
    Staged((0 until node.path("days").size()).map(node.path("days").get(_).asText()),
      node.path("v").asLong(), node.path("seq").asLong(0L))
  }

  /** The filesystem a root lives on (a store's, or a bar, index or
    * ingest root) — resolved from the path, never the session's
    * default filesystem. */
  private[graft] def rootFs(spark: SparkSession, path: String)
      : org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The OUT-OF-PROCESS reader for a store: pin the
    * current manifest and return the cold view as of that instant —
    * every referenced dir is immutable, so the frame stays whole
    * through any number of concurrent saves/deletes/packs (until a
    * [[TsStore.vacuum]] whose grace the deployment sets longer than
    * this reader runs). None = store empty.
    * Hot (unflushed) rows are process-private by design — this is the
    * cold contract, same as any external engine reading the parquet. */
  def openSnapshot(spark: SparkSession, path: String): Option[DataFrame] = {
    val f = rootFs(spark, path)
    val snap = readLiveSnapshot(f, path)
    if (snap.days.isEmpty) return None
    // tombstones are a (subject, sequence) predicate and the manifest
    // does not record the subject column name — this raw variant
    // returns all physical rows; use the `subject` overload to apply
    // live tombstones exactly as the owning store's reads do. An
    // evolved store's days are aligned to the LATEST era, exactly as
    // the owning store's own cold reads.
    val eras = readEras(f, path)
    Some(readVersionedAligned(spark, path, snap.days, eras,
      eras.lastOption.map(_.era).getOrElse(0)))
  }

  /** [[openSnapshot]] with the store's subject column, applying live
    * tombstones exactly as the owning store's reads do. The manifest
    * is pinned FIRST, the tombstone sidecar read second — the
    * serializable order: a tombstone recorded after the pin collapses
    * the view to the just-after-drop instant (it only ever kills rows
    * whose re-created successors carry higher sequences), whereas
    * reading the sidecar first could surface a state that existed at
    * no instant (a concurrently dropped subject visible in days the
    * drop's next flush rewrote, hidden in days it didn't). */
  def openSnapshot(spark: SparkSession, path: String, subject: String)
      : Option[DataFrame] = {
    openSnapshot(spark, path).map { df =>
      val f = rootFs(spark, path)
      val tombstones = readJsonOpt(f, new org.apache.hadoop.fs.Path(
        path.stripSuffix("/") + "__meta.json"))
        .fold(Map.empty[String, Long])(longMap(_, "tombstones"))
      tombstoneFilter(tombstones, subject)
        .fold(df)(dead => df.filter(!dead))
        // the ingest-sequence column is internal (needed above for the
        // tombstone rank only) — hide it exactly as read() and the SQL
        // view do, so a pinned frame is schema-compatible with every
        // other read surface (the raw overload keeps physical rows and
        // documents that)
        .drop("__seq")
    }
  }

  /** Time-travel read: the store EXACTLY as generation `v` committed
    * it — day→version map AND tombstones are both taken from the
    * generation record `__snaphist/v=N.json` (current tombstones do
    * NOT apply: a drop issued after generation `v` must not rewrite
    * history). None when the generation is unknown, its record was
    * vacuumed past the retention dial, or it committed an EMPTY
    * corpus (a delete emptied every day — the same None-means-no-data
    * contract as [[openSnapshot]]; there are no files to carry a
    * schema). Time travel degrades to "unavailable", never to a
    * silently different corpus. The files
    * behind a retained generation are pinned by `vacuum(…,
    * keepHistory)`; reading an unretained generation between its
    * record's deletion and its dirs' reclamation is prevented by
    * deleting the record FIRST (no record ⇒ no read). */
  def openSnapshotAt(spark: SparkSession, path: String, v: Long,
      subject: String): Option[DataFrame] = {
    val f = rootFs(spark, path)
    readHistRecord(f, path, v).flatMap { case (days, tombstones) =>
      if (days.isEmpty) None
      else {
        // time travel serves the schema that was LIVE at generation v
        // — a later evolve must not rewrite what a pinned reader saw
        // (the same no-history-rewrite contract as tombstones). Days
        // written under even older eras align forward to v's era.
        val eras = readEras(f, path)
        val df = readVersionedAligned(spark, path, days, eras,
          eraOfGen(eras, v))
        Some(tombstoneFilter(tombstones, subject)
          .fold(df)(dead => df.filter(!dead))
          .drop("__seq"))
      }
    }
  }

  /** A retained generation's commit record, raw: (escaped day dir →
    * version, tombstones at commit). None when the generation is
    * unknown or its record was vacuumed. The SQL time-travel surface
    * ([[graft.api.Engine.exposeSqlAt]]) pins catalog partitions from
    * exactly this map. */
  private[graft] def readHistRecord(f: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long)
      : Option[(Map[String, Long], Map[String, Long])] =
    readJsonOpt(f, new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__snaphist", s"v=$v.json"))
      .map(n => (longMap(n, "days"), longMap(n, "tombstones")))

  /** What a cold rewrite did — the contract behind [[TsStore.onColdChange]]. */
  sealed trait ColdChange
  /** `save`: exactly these day partitions were created or rewritten in
    * place; no partition was removed. A catalog owner needs only
    * `ADD IF NOT EXISTS PARTITION` per day + a file-index refresh. */
  final case class DaysUpserted(days: Seq[String]) extends ColdChange
  /** `del`: exactly these day partitions were rewritten in place
    * (`replaced`) or removed because no rows survived (`removed`) — a
    * catalog owner needs targeted ADD/DROP PARTITION per day, never a
    * full re-list. */
  final case class DaysReplaced(replaced: Seq[String], removed: Seq[String])
      extends ColdChange
  /** `drop`: no file changed — a tombstone was recorded. Owners holding
    * a FILE-level mirror (the engine's SQL view) must refresh their
    * tombstone predicate from [[TsStore.tombstoneList]]. */
  case object Tombstoned extends ColdChange
  /** Wholesale rewrite (pack, restore): partitions may have appeared
    * or vanished — a full partition re-list is required. */
  case object Rewritten extends ColdChange
}
