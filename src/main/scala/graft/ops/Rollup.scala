package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-scale rollup: finer bars feed coarser bars (the reference's
  * "数据层级" auto-aggregation, workers/sisdb/sisdb.h:36-42,57-61 and
  * README1.MD: a tick/minute write propagates to the day bar).
  *
  * Spark-first: a single `groupBy(subject, bucket)` with map-side
  * partial aggregation — open/close are `min_by`/`max_by` on a total
  * order key (time + ingest tiebreak) so ties resolve deterministically,
  * which the reference gets for free from its insertion order
  * (sisdb_fmap_write.c:374-385).
  */
object Rollup {

  /** OHLCV bars: group `df` by (groupCols..., bucket) and compute
    * open/high/low/close/volume/cnt over `value`.
    *
    * @param orderKey a total-order column (e.g. epoch-ms * 1e6 + seq)
    *                 deciding which row is "first"/"last" in the bucket
    */
  def ohlc(
      df: DataFrame,
      groupCols: Seq[Column],
      orderKey: Column,
      value: Column,
      volume: Option[Column] = None): DataFrame = {
    val aggs = Seq(
      min_by(value, orderKey).as("open"),
      max(value).as("high"),
      min(value).as("low"),
      max_by(value, orderKey).as("close"),
      count(lit(1)).as("cnt")) ++
      volume.map(v => sum(v).as("volume")).toSeq
    df.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Roll daily bars up from finer bars: same-name OHLC fields compose
    * (open-of-first, max-of-high, min-of-low, close-of-last, sum-of-vol).
    */
  def rollUpBars(
      bars: DataFrame,
      groupCols: Seq[Column],
      orderKey: Column): DataFrame =
    bars.groupBy(groupCols: _*).agg(
      min_by(col("open"), orderKey).as("open"),
      max(col("high")).as("high"),
      min(col("low")).as("low"),
      max_by(col("close"), orderKey).as("close"),
      sum(col("volume")).as("volume"))

  // ── incremental rollup maintenance ─────────────────────────────
  //
  // A stored daily rollup over a 100 TB event stream cannot be
  // recomputed from scratch per ingest batch. OHLCV partials are
  // CLOSED under merge once each bar carries the order keys of its
  // first and last row: open-of-min-first-key, max-high, min-low,
  // close-of-max-last-key, sums — so per-batch partials land in
  // replay-idempotent batch slots ([[Sketches.appendBatch]], the
  // st8/x7 contract: O(batch) work per arrival, the stored state
  // never rewrites) and any read merges the slots. Slot accretion is
  // bounded by [[compactBarPartialBatches]]: merge-of-merges equals
  // the one-shot merge (the carried keys make it associative), so
  // compaction is exact, not an approximation.

  /** Mergeable OHLCV partials per (groupCols, batch): the [[ohlc]]
    * aggregate plus the first/last order keys that make bars
    * re-mergeable. Schema: groups..., first_k, open, high, low,
    * close, last_k, cnt, volume. */
  def ohlcPartials(df: DataFrame, groupCols: Seq[Column],
      orderKey: Column, value: Column, volume: Column): DataFrame =
    df.groupBy(groupCols: _*).agg(
      min(orderKey).as("first_k"),
      min_by(value, orderKey).as("open"),
      max(value).as("high"),
      min(value).as("low"),
      max_by(value, orderKey).as("close"),
      max(orderKey).as("last_k"),
      count(lit(1)).as("cnt"),
      sum(volume).as("volume"))

  /** Merge partials (across batch slots or shards) into partials of
    * the union — same schema in and out, so merge composes. */
  def mergeBarPartials(partials: DataFrame,
      groupCols: Seq[String]): DataFrame =
    partials.groupBy(groupCols.map(col): _*).agg(
      min(col("first_k")).as("first_k"),
      min_by(col("open"), col("first_k")).as("open"),
      max(col("high")).as("high"),
      min(col("low")).as("low"),
      max_by(col("close"), col("last_k")).as("close"),
      max(col("last_k")).as("last_k"),
      sum(col("cnt")).as("cnt"),
      sum(col("volume")).as("volume"))

  /** Read-side finalize: merge the stored slots and drop the
    * maintenance keys — the result is [[ohlc]]'s bar schema. */
  def finalizeBars(partials: DataFrame, groupCols: Seq[String]): DataFrame =
    mergeBarPartials(partials, groupCols)
      .drop("first_k", "last_k")

  /** Bars that DIVERGE between a stored-merged view and a
    * from-scratch rollup of the same corpus — the maintenance
    * drills' shared convergence criterion (one definition, so it
    * cannot drift between the a10/a11/st11/e24 harnesses): picked
    * fields (open/high/low/close) and cnt compare exactly, volume
    * within 1e-6 (slot sums reassociate within float ulps), and a
    * bar present on only one side counts as divergent. */
  def barDivergence(merged: DataFrame, fresh: DataFrame,
      keys: Seq[String]): Long =
    merged.alias("m").join(fresh.alias("f"), keys, "full")
      .filter(col("m.open").isNull || col("f.open").isNull ||
        col("m.open") =!= col("f.open") ||
        col("m.high") =!= col("f.high") ||
        col("m.low") =!= col("f.low") ||
        col("m.close") =!= col("f.close") ||
        col("m.cnt") =!= col("f.cnt") ||
        abs(col("m.volume") - col("f.volume")) > lit(1e-6))
      .count()

  // ── CDC-driven maintenance (change feed → stored rollup) ───────
  //
  // a10's slot machinery maintains bars from INGEST batches the
  // maintainer itself observes; the reference's headline behavior is
  // automatic cross-scale propagation of WRITES (workers/sisdb/
  // sisdb.h:36-42; README1.MD "自动完成…数据聚合" — a tick write
  // propagates to the day bar, including rewrites). Driving the
  // stored rollup from [[graft.ops.Cdc]]'s change feed gives exactly
  // that for a maintainer DOWNSTREAM of the store: inserts merge into
  // partials (closed under merge — no recompute), while updates and
  // deletes cannot be expressed as a partial merge (a bar cannot
  // "subtract" its min/max), so their affected DAYS recompute from
  // the new pinned state — and only those days, which the
  // day-partitioned store layout makes a metadata-scoped rewrite.

  /** Apply one change-feed round to a stored day-partitioned OHLCV
    * partial store (layout `root/day=<D>/batch=<k>/`, read back with
    * partition discovery):
    *
    *  - `insertRows` (the feed's op=insert payloads, raw row schema)
    *    land as ONE new slot `batch=slot` under each insert-only
    *    day — partials are closed under merge, so appending is exact
    *    and O(inserts);
    *  - `dirtyDays` (every day an update/delete touched) are rebuilt
    *    from `rebuildState` (the feed's vTo pinned state — the day
    *    filter prunes its partitions, so the rebuild reads ONLY the
    *    dirty days at any corpus size) and REPLACE the day dir
    *    wholesale;
    *  - every other day's files are untouched — the caller can (and
    *    the a11 query does) assert their listings byte-identical.
    *
    * Both writes stage once (one job each, `partitionBy` on the day)
    * and move per-day dirs into place as metadata renames — O(changed
    * days), never O(store). Replay converges: an insert slot re-lands
    * in the SAME `batch=slot` (the a10/st8 idempotence contract) and
    * a rebuild re-derives from state, so a crashed maintenance run is
    * re-run, not repaired — and an interrupted round is DETECTABLE:
    * a `_maint_round.json` marker (tmp+rename) is written before the
    * first destructive placement and removed only after the last, so
    * a crash mid-round (e.g. between a dirty day's delete and its
    * rename, which would otherwise silently serve bars missing that
    * whole day) leaves the marker for [[pendingMaintenance]] to
    * surface; the caller re-runs the round and the marker clears.
    * Day dir names use Spark's own partition-path escaping
    * (ExternalCatalogUtils) on compose AND decode on list, so a day
    * key containing a space/`:`/`%` round-trips instead of landing
    * under a mismatched raw-string path. Returns (insert-only days,
    * rebuilt days). */
  def maintainDayPartials(
      insertRows: DataFrame, dirtyDays: Seq[String],
      rebuildState: DataFrame, root: String, day: Column,
      groupCols: Seq[Column], orderKey: Column, value: Column,
      volume: Column, slot: Long,
      onPlaced: () => Unit = () => (),
      advancesCursor: Boolean = true): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{
      escapePathName, unescapePathName}
    val ss = insertRows.sparkSession
    val fs = graft.store.TsStore.rootFs(ss, root)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    // a crashed slot compaction rolls forward first (pure FS ops) —
    // its half-swapped day would otherwise read as missing
    recoverBarCompaction(ss, root)
    // a pending marker from a DIFFERENT round must not be cleared by
    // this one unless this round provably REPAIRS it: either re-run
    // the crashed round (same slot — its re-derived feed overwrites
    // the partial placement), or pass dirtyDays SUBSUMING every day
    // the crashed round recorded (dirty ∪ insert), which this round
    // then rebuilds wholesale from `rebuildState` — clearing the
    // marker any other way would mask a possibly-missing day
    pendingMaintenance(ss, root).foreach { case (pSlot, pDays, pIns) =>
      val disturbed = (pDays ++ pIns).distinct
      require(pSlot == slot || disturbed.forall(dirtyDays.contains),
        s"maintainDayPartials: a crashed round (slot $pSlot, days " +
          s"${disturbed.mkString(",")}) is pending at $root — re-run " +
          s"THAT round before starting slot $slot, or pass dirtyDays " +
          "subsuming its recorded days so they rebuild from state; " +
          "anything else would silently mask its partially placed days")
    }
    val dirty = dirtyDays.distinct.sorted
    // staged dirs are listed by ESCAPED name (exactly what Spark's
    // writer produced) and decoded only for the returned day values /
    // dirty-day matching — paths always compose from the escaped form
    def stagePerDay(rows: DataFrame, tag: String)
        : (String, Seq[(String, String)]) = {
      val stage = s"${root.stripSuffix("/")}/__stage_$tag"
      fs.delete(path(stage), true)
      val p = ohlcPartials(rows, groupCols :+ col("__d"),
        orderKey, value, volume)
      p.write.partitionBy("__d").parquet(stage)
      val days = fs.listStatus(path(stage)).map(_.getPath.getName)
        .collect { case n if n.startsWith("__d=") =>
          val e = n.stripPrefix("__d="); (e, unescapePathName(e)) }
        .toSeq.sortBy(_._1)
      (stage, days)
    }
    def move(stage: String, esc: String, dest: String): Unit = {
      fs.mkdirs(path(dest).getParent)
      fs.delete(path(dest), true) // replay: the slot re-lands, never doubles
      if (!fs.rename(path(s"$stage/__d=$esc"), path(dest)))
        throw new java.io.IOException(
          s"maintainDayPartials: could not place $dest")
    }
    // inserts: one appended slot per insert-only day (dirty days are
    // rebuilt below from state that already contains these inserts)
    val insDf = insertRows.withColumn("__d", day)
      .filter(if (dirty.isEmpty) lit(true) else !col("__d").isin(dirty: _*))
    val (insStage, insDays) = stagePerDay(insDf, s"ins_$slot")
    // the round marker: durable BEFORE the first placement, removed
    // after the last — while it exists the bar store may be missing a
    // dirty day mid-swap, and a crashed round must not read as whole
    writeMaintMarker(fs, root, slot, dirty, insDays.map(_._2),
      advancesCursor)
    insDays.foreach { case (e, _) =>
      move(insStage, e, s"$root/day=$e/batch=$slot") }
    fs.delete(path(insStage), true)
    // dirty days: recompute from the new state, replace wholesale
    val rebuilt =
      if (dirty.isEmpty) Seq.empty[String]
      else {
        val rbDf = rebuildState.withColumn("__d", day)
          .filter(col("__d").isin(dirty: _*))
        val (rbStage, rbDays) = stagePerDay(rbDf, s"rb_$slot")
        rbDays.foreach { case (e, _) =>
          fs.delete(path(s"$root/day=$e"), true)
          move(rbStage, e, s"$root/day=$e/batch=0")
        }
        fs.delete(path(rbStage), true)
        // a dirty day the new state no longer has ANY rows for (fully
        // deleted) produced no staged dir — drop its store dir too
        dirty.filterNot(rbDays.map(_._2).contains)
          .foreach(d => fs.delete(path(s"$root/day=${escapePathName(d)}"),
            true))
        dirty
      }
    // caller's commit step (e.g. the engine's cursor advance) runs
    // INSIDE the marker's lifetime: a crash between the placements
    // and that step leaves the marker, so the round re-runs instead
    // of a later round re-deriving the same feed into a FRESH slot
    // (which would double-count the already-placed inserts)
    onPlaced()
    clearMaintMarker(fs, root)
    (insDays.map(_._2), rebuilt)
  }

  private def maintMarkerPath(root: String) =
    new org.apache.hadoop.fs.Path(
      s"${root.stripSuffix("/")}/_maint_round.json")

  /** One tmp+rename JSON commit — the marker and the cursor share it
    * (and reads share [[graft.store.TsStore.readJsonBytes]]), so the
    * FS plumbing exists once. The replace is a SINGLE rename
    * ([[graft.store.TsStore.atomicReplace]] — `java.nio` ATOMIC_MOVE
    * on `file://` roots, where Hadoop's own Rename.OVERWRITE is
    * delete-then-rename; FileContext elsewhere), never a visible
    * delete-then-rename pair: a crash between a delete and a rename
    * would leave NO cursor file at all, and a bootstrapped-looking-
    * empty root would pass bootstrapRollup's cursor-isEmpty guard and
    * re-seed slot 0 over a store whose later slots still hold the
    * same rows — exactly the double-count that guard exists to
    * prevent. */
  private def writeJsonAtomic(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path,
      node: com.fasterxml.jackson.databind.JsonNode): Unit = {
    fs.mkdirs(dest.getParent)
    val tmp = new org.apache.hadoop.fs.Path(dest.toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsBytes(node)) finally out.close()
    graft.store.TsStore.atomicReplace(fs, tmp, dest)
  }

  private def readJson(ss: org.apache.spark.sql.SparkSession,
      p: org.apache.hadoop.fs.Path)
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    val fs = p.getFileSystem(ss.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.store.TsStore.readJsonBytes(fs, p)))
  }

  private def writeMaintMarker(fs: org.apache.hadoop.fs.FileSystem,
      root: String, slot: Long, dirty: Seq[String],
      insertDays: Seq[String], advances: Boolean): Unit = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .createObjectNode()
    node.put("slot", slot)
    val arr = node.putArray("dirtyDays")
    dirty.foreach(arr.add)
    // insert days are recorded too: a crash mid-insert-placement may
    // have landed SOME of them under batch=slot — a recovering round
    // running under a DIFFERENT slot must rebuild those days from the
    // pin or the partial placements would survive as orphans (and a
    // feed whose later generations CANCEL an insert would never
    // re-derive it, leaving the orphan double-counted forever)
    val ia = node.putArray("insertDays")
    insertDays.foreach(ia.add)
    // slots derive from the target GENERATION since r17; the scheme
    // tag lets recovery distinguish such a marker from one written
    // under the old caller-chosen-slot scheme, whose slot must never
    // be compared against the generation cursor
    node.put("scheme", "gen")
    // whether the round's commit step ADVANCES the caller's durable
    // watermark to exactly `slot`: the cursor-reached release proof
    // ("cursor >= slot ⇒ placements provably complete") is only valid
    // for such rounds — a rebuild-only recovery round runs UNDER the
    // cursor by design, so its crashed marker must never be released
    // by that comparison (it would read as "completed" while a day
    // sits half-swapped); it rebuilds instead
    node.put("advances", advances)
    writeJsonAtomic(fs, maintMarkerPath(root), node)
  }

  /** True when the pending marker (if any) records a round whose
    * commit step advances the caller's durable watermark to the
    * marker's slot — the precondition of the cursor-reached release
    * proof. Pre-r18 gen-scheme markers lack the field and were all
    * cursor-advancing rounds: default true. */
  private[graft] def pendingMarkerAdvancesCursor(
      ss: org.apache.spark.sql.SparkSession, root: String): Boolean =
    readJson(ss, maintMarkerPath(root))
      .forall(_.path("advances").asBoolean(true))

  /** True when the pending marker (if any) records a
    * generation-scheme slot — comparing an OLD caller-chosen slot
    * (batch ids, command-round constants) against the generation
    * cursor could wrongly release a genuinely crashed round, so
    * recovery treats unschemed markers as incomplete and rebuilds
    * their days instead. */
  private[graft] def pendingMarkerIsGenScheme(
      ss: org.apache.spark.sql.SparkSession, root: String): Boolean =
    readJson(ss, maintMarkerPath(root))
      .exists(_.path("scheme").asText("") == "gen")

  private def clearMaintMarker(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Unit =
    fs.delete(maintMarkerPath(root), false)

  /** Release a pending round marker whose commit step PROVABLY
    * completed — the caller's durable watermark (e.g. the engine's
    * cursor) already advanced past the round, so the crash landed
    * between the commit step and the marker clear. Refuses a slot
    * mismatch: releasing a different round's marker would mask a
    * genuinely incomplete round. */
  def releaseMaintMarker(ss: org.apache.spark.sql.SparkSession,
      root: String, slot: Long): Unit =
    pendingMaintenance(ss, root).foreach { case (pSlot, pDays, _) =>
      require(pSlot == slot,
        s"releaseMaintMarker: pending round is slot $pSlot (dirty " +
          s"${pDays.mkString(",")}), not slot $slot — re-run it " +
          "instead of releasing")
      clearMaintMarker(graft.store.TsStore.rootFs(ss, root), root)
    }

  /** The interrupted-round detector: Some((slot, dirtyDays,
    * insertDays)) while a [[maintainDayPartials]] round is in flight
    * OR died mid-placement (a crashed round may be serving bars
    * missing a whole dirty day — re-run the round with the same slot,
    * OR run any round whose dirtyDays subsume BOTH recorded sets, to
    * converge and clear the marker), None when the store is whole. */
  def pendingMaintenance(ss: org.apache.spark.sql.SparkSession,
      root: String): Option[(Long, Seq[String], Seq[String])] =
    readJson(ss, maintMarkerPath(root)).map { node =>
      def arr(k: String) = (0 until node.path(k).size())
        .map(i => node.path(k).get(i).asText())
      (node.path("slot").asLong(), arr("dirtyDays"), arr("insertDays"))
    }

  // ── maintenance cursor (the streaming-maintainer watermark) ────
  //
  // A maintainer driven by a LIVE feed (st11: foreachBatch lands each
  // micro-batch in the store, then propagates the change feed into
  // the bar partials) must survive a crash ANYWHERE between "batch
  // committed to the store" and "bars maintained" — the store-side
  // slot upsert makes the re-landed batch content-identical, so a
  // per-batch delta computed implicitly ("what this batch carried")
  // would REPLAY AS EMPTY and the bars would silently miss the batch
  // forever. The cursor is the fix: the last store generation whose
  // changes have been APPLIED to the bar store, written durably
  // (tmp+rename) only AFTER the round completes. Every round derives
  // its feed as changesBetween(cursor, current) — crash before the
  // cursor write and the re-run re-derives the SAME feed against the
  // re-landed generation and converges ([[maintainDayPartials]] is
  // replay-convergent: slots overwrite, rebuilds re-derive).

  private def cursorPath(root: String) = new org.apache.hadoop.fs.Path(
    s"${root.stripSuffix("/")}/_maint_cursor.json")

  /** The last store generation applied to the bar store at `root`,
    * or None before the first round. */
  def readBarCursor(ss: org.apache.spark.sql.SparkSession,
      root: String): Option[Long] =
    readJson(ss, cursorPath(root)).map(_.path("generation").asLong())

  /** Advance the cursor — call ONLY after the round's placements all
    * landed (the engine passes this as [[maintainDayPartials]]'s
    * `onPlaced` hook, so the advance rides inside the round marker's
    * lifetime — see the crash-window comment there). */
  def writeBarCursor(ss: org.apache.spark.sql.SparkSession,
      root: String, generation: Long): Unit = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .createObjectNode()
    node.put("generation", generation)
    writeJsonAtomic(graft.store.TsStore.rootFs(ss, root), cursorPath(root),
      node)
  }

  // ── maintenance lease (the bar-root writer fence) ──────────────
  //
  // maintLock serializes rounds WITHIN one Engine; two engines (same
  // JVM or two processes) on one barRoot would otherwise both read
  // the same cursor and interleave delete/rename placements under the
  // same derived slot with no loud failure. The lease extends the
  // TsStore writer-fence idea to the bar root: an engine's FIRST
  // round on a root takes the lease over (a unique token — takeover,
  // not mutual exclusion: a crashed maintainer must never brick the
  // bar store, and a restart is indistinguishable from a takeover),
  // and every later round re-checks the token at round start AND
  // before the cursor advance — of two live maintainers, only the
  // latest can commit; the superseded one fails loudly instead of
  // interleaving. Residual (this fence is check-based, unlike the
  // store manifest's claim-based commit, which since r18 has none): a
  // takeover landing in the instants between a loser's last check and
  // its placement can interleave one round's file ops — benign by
  // construction, because both rounds derive the same feed from the
  // same cursor, so the placements are content-identical and the
  // marker protocol converges the rest.

  private def maintLeasePath(root: String) =
    new org.apache.hadoop.fs.Path(
      s"${root.stripSuffix("/")}/_maint_lease.json")

  /** The live maintenance-lease token at `root`, or None before any
    * maintainer claimed it. */
  def maintLeaseToken(ss: org.apache.spark.sql.SparkSession,
      root: String): Option[String] =
    readJson(ss, maintLeasePath(root)).map(_.path("token").asText())

  /** Take the maintenance lease over (rename-over: latest claimant
    * wins; the superseded maintainer fails at its next check). */
  def claimMaintLease(ss: org.apache.spark.sql.SparkSession,
      root: String, token: String): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("token", token)
    node.put("owner", s"${ProcessHandle.current().pid()}@" +
      java.net.InetAddress.getLocalHost.getHostName)
    node.put("acquiredAt", System.currentTimeMillis())
    writeJsonAtomic(graft.store.TsStore.rootFs(ss, root),
      maintLeasePath(root), node)
  }

  /** Fail loudly unless `token` still holds the maintenance lease —
    * the superseded maintainer's round must not interleave placements
    * with the winner's. */
  def requireMaintLease(ss: org.apache.spark.sql.SparkSession,
      root: String, token: String, when: String): Unit = {
    val live = readJson(ss, maintLeasePath(root))
    if (!live.exists(_.path("token").asText() == token)) {
      val owner = live.map(_.path("owner").asText()).getOrElse("unknown")
      throw new IllegalStateException(
        s"$root: this maintainer is FENCED ($when) — the bar root's " +
          s"maintenance lease was taken over by '$owner'. One " +
          "maintainer owns a bar root at a time; re-open the engine " +
          "to take it back (the other maintainer is then fenced).")
    }
  }

  // ── maintained-bar housekeeping (slot compaction) ──────────────
  //
  // A maintained bar store appends one insert slot per round
  // (batch=<generation>), so a deployment that never goes down grows
  // a hot day's slot count without bound — the analogue of the
  // reference's scheduled Friday pack (workers/sisdb/sisdb.c:66-67,
  // 137-169) for the write→bar cascade. Compaction folds every slot
  // of a multi-slot day into ONE batch=0 dir via mergeBarPartials,
  // which the carried order keys make EXACTLY equal to partials of
  // the union — zero accuracy cost. Safe against the cursor
  // protocol: with no maintenance marker pending, every placed slot
  // belongs to a COMPLETED round (the marker brackets placements),
  // and every FUTURE round places under its own target generation —
  // strictly above the cursor, so never under a compacted day's
  // batch=0 except as a wholesale dirty-day rebuild (which replaces
  // the dir anyway).

  private def compactMarkerPath(root: String) =
    new org.apache.hadoop.fs.Path(
      s"${root.stripSuffix("/")}/_compact_round.json")
  private def compactStagePath(root: String) =
    new org.apache.hadoop.fs.Path(
      s"${root.stripSuffix("/")}/__compact_stage")

  /** Days an interrupted [[compactMaintainedBars]] run may have left
    * half-swapped (roll forward with [[recoverBarCompaction]] — both
    * entry points do it automatically), None when whole. */
  def pendingBarCompaction(ss: org.apache.spark.sql.SparkSession,
      root: String): Option[Seq[String]] =
    readJson(ss, compactMarkerPath(root)).map { node =>
      (0 until node.path("days").size())
        .map(i => node.path("days").get(i).asText())
    }

  /** Roll a crashed compaction forward: the staged merged dirs were
    * durable BEFORE the marker (its commit point), so every marker
    * day either still has its staged dir (re-swap it) or was already
    * swapped (skip). Pure filesystem ops — no Spark jobs.
    *
    * A MARKERLESS stage dir is left alone: it is either a
    * crash-before-the-marker orphan (dead weight, invisible to
    * readers behind its underscore prefix, reclaimed by the next
    * compaction's own stage reset) or a compaction mid-staging —
    * deleting it here would race a live run's stage out from under
    * its marker write and turn the crash-recovery rule ("missing
    * staged dir = already swapped") into silent day loss. */
  def recoverBarCompaction(ss: org.apache.spark.sql.SparkSession,
      root: String): Unit = {
    val fs = graft.store.TsStore.rootFs(ss, root)
    pendingBarCompaction(ss, root).foreach { days =>
      days.foreach { e =>
        val staged = new org.apache.hadoop.fs.Path(
          compactStagePath(root), s"__d=$e")
        if (fs.exists(staged)) swapCompactedDay(fs, root, e)
      }
      fs.delete(compactMarkerPath(root), false)
      fs.delete(compactStagePath(root), true)
    }
  }

  private def swapCompactedDay(fs: org.apache.hadoop.fs.FileSystem,
      root: String, escapedDay: String): Unit = {
    val dayDir = new org.apache.hadoop.fs.Path(
      s"${root.stripSuffix("/")}/day=$escapedDay")
    val staged = new org.apache.hadoop.fs.Path(
      compactStagePath(root), s"__d=$escapedDay")
    fs.delete(dayDir, true)
    fs.mkdirs(dayDir)
    if (!fs.rename(staged, new org.apache.hadoop.fs.Path(dayDir, "batch=0")))
      throw new java.io.IOException(
        s"compactMaintainedBars: could not place $dayDir/batch=0")
  }

  /** Fold every multi-slot day of a maintained bar store into one
    * `batch=0` slot. Stage → marker → swap: all merged day dirs are
    * staged durably first, the marker write is the commit point, and
    * a crash anywhere rolls FORWARD (the staged merge re-derives
    * nothing). Refuses while a maintenance round is pending — the
    * crashed round must converge first ([[maintainDayPartials]]'s
    * recovery contract owns those days). `groupCols` must name the
    * stored partials' group columns exactly (the same explicitness
    * [[compactBarPartialBatches]] requires, and for the same reason:
    * inferring them could silently aggregate away a group column
    * named like a reserved partial field). Returns the days folded. */
  def compactMaintainedBars(ss: org.apache.spark.sql.SparkSession,
      root: String, groupCols: Seq[String],
      minSlots: Int = 2): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{
      escapePathName, unescapePathName}
    require(minSlots >= 2, s"minSlots must be >= 2, got $minSlots")
    val fs = graft.store.TsStore.rootFs(ss, root)
    recoverBarCompaction(ss, root)
    pendingMaintenance(ss, root).foreach { case (pSlot, _, _) =>
      throw new IllegalStateException(
        s"compactMaintainedBars: a crashed maintenance round (slot " +
          s"$pSlot) is pending at $root — run its recovery (a " +
          "maintainRollup round) before compacting")
    }
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootPath)) return Seq.empty
    val days = fs.listStatus(rootPath).map(_.getPath.getName)
      .filter(_.startsWith("day=")).map(_.stripPrefix("day=")).sorted
    val multi = days.filter { e =>
      fs.listStatus(new org.apache.hadoop.fs.Path(
          s"${root.stripSuffix("/")}/day=$e"))
        .count(_.getPath.getName.startsWith("batch=")) >= minSlots
    }.toSeq
    if (multi.isEmpty) return Seq.empty
    val stage = compactStagePath(root)
    fs.delete(stage, true)
    multi.foreach { e =>
      val src = ss.read.parquet(s"${root.stripSuffix("/")}/day=$e")
      val cols = src.columns.filterNot(_ == "batch").toSeq
      val missing = groupCols.filterNot(cols.contains)
      require(missing.isEmpty, s"stored partials lack group columns " +
        s"${missing.mkString(", ")} (have ${cols.mkString(", ")})")
      mergeBarPartials(src.drop("batch"), groupCols)
        .select(cols.map(col): _*)
        .write.parquet(new org.apache.hadoop.fs.Path(stage, s"__d=$e")
          .toString)
    }
    // the marker write is the commit point (atomic create-over)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    val arr = node.putArray("days")
    multi.foreach(arr.add)
    writeJsonAtomic(fs, compactMarkerPath(root), node)
    multi.foreach(e => swapCompactedDay(fs, root, e))
    fs.delete(compactMarkerPath(root), false)
    fs.delete(stage, true)
    multi.map(unescapePathName)
  }

  /** Fold rollup-partial batch slots ≤ `upTo` into one (the
    * [[Sketches]] stage→marker→apply compactor): the consolidated
    * slot is [[mergeBarPartials]] of the in-scope slots, which the
    * carried order keys make EXACTLY equal to partials built from the
    * union — compaction costs zero accuracy, picked fields are
    * bit-identical and sums reassociate within float ulps. */
  def compactBarPartialBatches(ss: org.apache.spark.sql.SparkSession,
      root: String, stamp: String, upTo: Long, groupCols: Seq[String],
      kind: String = "ohlc"): Int = {
    // explicit group columns: inferring them by excluding the reserved
    // partial-field names would silently aggregate away a group column
    // that happens to be NAMED e.g. "open" or "cnt" — the caller knows
    // its grouping (finalizeBars already takes it), so require it here
    // and refuse the ambiguous collision outright
    val reserved = Set("first_k", "open", "high", "low", "close",
      "last_k", "cnt", "volume")
    val clash = groupCols.filter(reserved.contains)
    require(clash.isEmpty, s"group columns ${clash.mkString(", ")} " +
      "collide with reserved OHLC partial field names — rename them " +
      "before storing partials")
    Sketches.compactBatches(ss, root, kind, stamp, upTo) { src =>
      val missing = groupCols.filterNot(src.columns.contains)
      require(missing.isEmpty, s"stored partials lack group columns " +
        s"${missing.mkString(", ")} (have ${src.columns.mkString(", ")})")
      mergeBarPartials(src, groupCols).select(src.columns.map(col): _*)
    }
  }
}
