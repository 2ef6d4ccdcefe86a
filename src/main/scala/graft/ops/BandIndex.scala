package graft.ops

import graft.store.TsStore.rootFs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pruned-probe storage for the PERSISTED dedup index — the fix for
  * the one plan in this repo whose slope was wrong at scale: the
  * stored-index probe streamed the ENTIRE index through its join on
  * every batch ([[Dedup.probeBandedIndex]] over a flat parquet dir),
  * and the verdict lookup streamed the entire signature table, so each
  * micro-batch of a 10⁹-doc admission stream paid two full-index scans
  * even though it touches only its own buckets and its own candidates.
  *
  * Bucket values are uniform 64-bit hashes, so parquet min/max
  * skipping over arbitrarily-written files prunes NOTHING (every file
  * spans most of the hash range). The layout earns the pruning:
  *
  *  - '''Base''': [[write]] range-partitions the rows by a long `key`
  *    column (`bucket` for the banded index, `doc_id` for signatures)
  *    and sorts within partitions, so each file covers one narrow,
  *    non-overlapping key range, and records a per-file (min, max)
  *    MANIFEST (`_manifest.json` — the underscore keeps parquet
  *    readers from touching it).
  *  - '''Tail''': rows appended after the base (streaming admissions)
  *    are ordinary appended files, absent from the manifest. A probe
  *    always reads the whole tail; [[compact]] folds the tail into a
  *    new sorted RUN and size-tiers the runs (below) — the standard
  *    LSM shape, built from parquet parts and per-file renames.
  *  - '''Runs''': the manifest tags every file with the run that
  *    wrote it (the [[write]] base is run 0). Runs are individually
  *    range-sorted and manifested, so the probe prunes each run's
  *    files by range exactly as it prunes the base's — a point lookup
  *    opens at most one file per run. [[compact]] merges the tail
  *    with every run NOT LARGER than the merged set (the
  *    stepped-merge policy): run sizes then follow the binary
  *    representation of the ingested volume, each row is rewritten
  *    O(log(index / batch)) times in total, the live run count stays
  *    ≤ log₂(index / batch), and the big base run is rewritten only
  *    when the accumulated newer data has grown to its size — never
  *    on a fixed every-N-batches cadence. Per-compaction cost is
  *    bounded by the merged runs' bytes, not the index's
  *    ([[CompactStats]] is the evidence; [[graft.TierScale]]
  *    measures the amortized slope).
  *  - '''Probe''': [[readForKeys]] takes the probe's key set (bounded
  *    driver-side: the batch's `bands × |batch|` bucket hashes, or the
  *    candidate ids of one batch — the same "batch fits on one
  *    executor" contract the probe's broadcast already pins; unbounded
  *    batches keep the unpruned full-scan path), selects the base
  *    files whose range intersects it, and reads ONLY
  *    `selected base ∪ tail`. File selection is a conservative
  *    superset — join results are identical to the full scan, which
  *    the d12/d11/st6 oracles check pair-for-pair.
  *
  * Per-batch probe cost is thus `O(min(|base files|, |keys|) + |tail|)`
  * files instead of `O(index)` rows: a point lookup of one key opens
  * exactly one base file (ranges are disjoint, up to an equal boundary
  * key), and a small batch against a 10⁹-doc index opens the handful
  * of files its keys land in. Measured in [[graft.IncScale]]:
  * full-scan probe wall grows with index size G, pruned probe stays
  * flat with selected-file count capped by the batch's key count.
  */
object BandIndex {
  /** `_`-prefixed so parquet dir readers skip it. */
  private[graft] val ManifestFile = "_manifest.json"

  private def dataFiles(ss: SparkSession, root: String) =
    rootFs(ss, root).listStatus(new org.apache.hadoop.fs.Path(root))
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }

  /** Write `df` as a pruned-probe base: range partitioned + sorted by
    * the long `key` column, sized to `targetRowsPerFile`, with the
    * per-file (min, max) manifest. Mode is overwrite — this IS the
    * base; later appends form the tail. */
  def write(df: DataFrame, root: String, key: String = "bucket",
      targetRowsPerFile: Long = 1L << 22,
      knownCount: Option[Long] = None): Unit = {
    val ss = df.sparkSession
    // the frame is consumed twice (count to size the range partitions,
    // then the write) — persist it, or an expensive input (a corpus
    // minhash pass) recomputes in full for the count. Callers that
    // already know the row count pass it (seedIndex: sigs = corpus
    // rows, buckets = exactly bands × corpus rows) and skip the cache
    // entirely; an input the CALLER persisted is never re-cached here —
    // persist returns the same object, so the finally-unpersist would
    // silently evict the caller's own cache.
    val cacheHere = knownCount.isEmpty &&
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val mat = if (cacheHere)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df
    try {
      val n = knownCount.getOrElse(mat.count())
      val parts = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
        .min(100000L).toInt
      mat.repartitionByRange(parts, col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite").parquet(root)
    } finally if (cacheHere) mat.unpersist()
    writeManifest(ss, root, key)
  }

  /** One manifested file: its key range and the run that wrote it
    * (run 0 = the [[write]] base; manifests written before runs
    * existed read back as all-run-0 — correct: they ARE one sorted
    * run). */
  private[graft] final case class FileEntry(file: String, mn: Long,
      mx: Long, run: Long)

  /** A merged-away original kept on disk through a reader-grace
    * window (see [[compactTiered]]'s `retireGraceMs`): `file` stays
    * readable at its original path until its stored expiry `exp`
    * (= retire time + the grace IN FORCE WHEN IT WAS RETIRED) passes,
    * then the next compact reaps it. The expiry is persisted in the
    * manifest so a LATER compact called with a shorter (or zero)
    * grace dial — e.g. StreamAdmit's internal grace-0 compacts —
    * cannot cut short a grace a prior compact promised its readers.
    * Retired files are excluded from every tail discovery — they are
    * neither probed nor re-merged (their rows already live in the
    * spliced run). `exp < 0` marks a legacy entry written before the
    * expiry rode the manifest; it falls back to `at + the reaping
    * call's grace` (the old behavior). */
  private[graft] final case class RetiredEntry(file: String, at: Long,
      exp: Long = -1L)

  private def entriesNode(key: String, entries: Seq[FileEntry],
      retired: Seq[RetiredEntry] = Nil)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("key", key)
    val arr = node.putArray("files")
    entries.foreach { fe =>
      val e = arr.addObject()
      e.put("file", fe.file)
      e.put("min", fe.mn)
      e.put("max", fe.mx)
      e.put("run", fe.run)
    }
    if (retired.nonEmpty) {
      val ret = node.putArray("retired")
      retired.foreach { re =>
        val e = ret.addObject()
        e.put("file", re.file)
        e.put("at", re.at)
        if (re.exp >= 0L) e.put("exp", re.exp)
      }
    }
    node
  }

  private def entriesJson(key: String, entries: Seq[FileEntry],
      retired: Seq[RetiredEntry] = Nil): Array[Byte] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsBytes(entriesNode(key, entries, retired))

  private def parseRetired(node: com.fasterxml.jackson.databind.JsonNode)
      : Seq[RetiredEntry] = {
    val ret = node.path("retired")
    (0 until ret.size()).map { i =>
      val e = ret.get(i)
      RetiredEntry(e.path("file").asText(), e.path("at").asLong(0L),
        e.path("exp").asLong(-1L))
    }
  }

  private def parseEntries(bytes: Array[Byte], key: String)
      : Seq[FileEntry] =
    parseEntries(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes), key)

  private def parseEntries(node: com.fasterxml.jackson.databind.JsonNode,
      key: String): Seq[FileEntry] = {
    if (node.path("key").asText() != key) return Nil
    val files = node.path("files")
    (0 until files.size()).map { i =>
      val e = files.get(i)
      FileEntry(e.path("file").asText(), e.path("min").asLong(),
        e.path("max").asLong(), e.path("run").asLong(0L))
    }
  }

  /** Read a small sidecar file fully (manifest / plan / config — the
    * shared read-fully idiom). */
  private[graft] def readFully(f: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      buf.toByteArray
    } finally in.close()
  }

  /** Atomically commit `entries` (+ the retired list) as the
    * manifest (tmp + rename). */
  private[graft] def commitManifest(ss: SparkSession, root: String,
      key: String, entries: Seq[FileEntry],
      retired: Seq[RetiredEntry] = Nil): Unit = {
    val f = rootFs(ss, root)
    val tmp = new org.apache.hadoop.fs.Path(root, ManifestFile + ".tmp")
    val out = f.create(tmp, true)
    try out.write(entriesJson(key, entries, retired)) finally out.close()
    val dest = new org.apache.hadoop.fs.Path(root, ManifestFile)
    f.delete(dest, false)
    if (!f.rename(tmp, dest))
      throw new java.io.IOException(s"could not commit $dest")
  }

  /** The manifest's retired list; empty when absent/unreadable.
    * Parsed key-independently: a retired file is index garbage held
    * for readers regardless of which key column the live entries
    * describe. */
  private[graft] def readRetired(ss: SparkSession, root: String)
      : Seq[RetiredEntry] = {
    val f = rootFs(ss, root)
    val p = new org.apache.hadoop.fs.Path(root, ManifestFile)
    if (!f.exists(p)) return Nil
    try parseRetired(
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readFully(f, p)))
    catch { case _: java.io.IOException => Nil }
  }

  /** Per-file (min, max) of the `key` column for exactly `paths` —
    * the stats a manifest entry needs, priced at the files being
    * described (never the whole index). */
  private def fileRanges(ss: SparkSession, paths: Seq[String], key: String)
      : Map[String, (Long, Long)] =
    ss.read.parquet(paths: _*)
      .groupBy(col("_metadata.file_name").as("file"))
      .agg(min(key).as("mn"), max(key).as("mx"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** (Re)derive and commit the manifest from the CURRENT data files
    * as one run — one key-column scan over the just-written base.
    * Commit is tmp+rename; a reader that finds no (or a torn)
    * manifest treats every file as tail — slower, never wrong. */
  private[graft] def writeManifest(ss: SparkSession, root: String,
      key: String): Unit = {
    val names = dataFiles(ss, root).map(_.getPath.toString)
    val entries = fileRanges(ss, names.toIndexedSeq, key).toSeq.map {
      case (file, (mn, mx)) => FileEntry(file, mn, mx, run = 0L)
    }
    commitManifest(ss, root, key, entries)
  }

  /** The manifest's file entries; empty if absent/unreadable or keyed
    * on a different column (all files then count as tail — correct,
    * just unpruned). */
  private[graft] def readEntries(ss: SparkSession, root: String, key: String)
      : Seq[FileEntry] = {
    val f = rootFs(ss, root)
    val p = new org.apache.hadoop.fs.Path(root, ManifestFile)
    if (!f.exists(p)) return Nil
    try parseEntries(readFully(f, p), key)
    catch { case _: java.io.IOException => Nil }
  }

  /** file name → (min key, max key) — the probe's pruning view. */
  private def readManifest(ss: SparkSession, root: String, key: String)
      : Map[String, (Long, Long)] =
    readEntries(ss, root, key).map(e => e.file -> (e.mn, e.mx)).toMap

  /** What one pruned read touched — the evidence behind the pruning
    * claims (d12 `require`s a point lookup opens ≤ 2 base files). */
  final case class ProbeStats(totalFiles: Int, baseFiles: Int,
      selectedBase: Int, tailFiles: Int) {
    def readFiles: Int = selectedBase + tailFiles
  }

  /** True iff some element of `sorted` lies in [mn, mx]. */
  private def hits(sorted: Array[Long], mn: Long, mx: Long): Boolean = {
    var lo = 0; var hi = sorted.length
    while (lo < hi) { // first element >= mn
      val mid = (lo + hi) >>> 1
      if (sorted(mid) < mn) lo = mid + 1 else hi = mid
    }
    lo < sorted.length && sorted(lo) <= mx
  }

  /** Pruned read: the rows of `root` whose `key` column MAY take one
    * of `keys` values — a conservative file-level superset (selected
    * base files + the whole tail); the caller's equi-join/semi-join
    * does the exact filtering. `keys` need not be sorted. */
  def readForKeys(ss: SparkSession, root: String, keys: Array[Long],
      key: String = "bucket"): (DataFrame, ProbeStats) = {
    if (!rootFs(ss, root).exists(new org.apache.hadoop.fs.Path(root)))
      recover(ss, root) // a compact may have died mid-swap
    val sorted = keys.sorted
    val manifest = readManifest(ss, root, key)
    // retired originals (grace-held for pinned readers) are neither
    // base nor tail — their rows already live in the spliced run
    val retired = readRetired(ss, root).map(_.file).toSet
    val all = dataFiles(ss, root).filterNot(s => retired(s.getPath.getName))
    val (base, tail) = all.partition(s => manifest.contains(s.getPath.getName))
    val selected = base.filter { s =>
      val (mn, mx) = manifest(s.getPath.getName)
      hits(sorted, mn, mx)
    }
    val stats = ProbeStats(all.length, base.length, selected.length,
      tail.length)
    val paths = (selected ++ tail).map(_.getPath.toString)
    val df =
      if (paths.isEmpty) {
        // schema still needed for the caller's join: read zero rows of
        // one footer if any file exists, else fail loudly (an index
        // with no data files is a caller bug, not an empty probe)
        require(all.nonEmpty || manifest.isEmpty,
          s"$root: manifest names files that do not exist")
        if (all.isEmpty)
          throw new java.io.FileNotFoundException(s"$root has no data files")
        ss.read.parquet(all.head.getPath.toString).limit(0)
      } else ss.read.parquet(paths.toIndexedSeq: _*)
    (df, stats)
  }

  /** Probe the stored banded index at `root` with a batch's minhash
    * signatures: candidate pairs identical to
    * [[Dedup.probeBandedIndex]] over the same rows, but the scan reads
    * only the base files whose bucket range intersects the batch plus
    * the unmanifested tail. */
  def probe(root: String, newSigs: DataFrame, id: String,
      bands: Int, sigLen: Int, indexIdCol: String = "index_id")
      : (DataFrame, ProbeStats) = {
    val ss = newSigs.sparkSession
    val newSide = Dedup.bandBuckets(newSigs, id, bands, sigLen, as = "new_id")
    // bounded by the broadcast contract: bands × |batch| longs
    val batchBuckets = newSide.select("bucket").distinct()
      .collect().map(_.getLong(0))
    val (index, stats) = readForKeys(ss, root, batchBuckets, "bucket")
    val pairs = broadcast(newSide)
      .join(index.select(col(indexIdCol).as("index_id"), col("band"),
          col("bucket")),
        Seq("band", "bucket"))
      .select("new_id", "index_id").distinct()
    (pairs, stats)
  }

  /** Large-batch probe: the same candidate pairs as [[probe]], with
    * NOTHING riding the driver — the batch's buckets stay distributed
    * and the join shuffles both sides on (band, bucket). The pruned
    * probe wins in the trickle/micro-batch regime, where the batch's
    * key set selects few base files; once a batch is large enough that
    * its keys blanket the key space (a backfill screening millions of
    * docs), every base file is read either way and the driver-side
    * bucket collect + broadcast become pure liabilities — this is that
    * path. Size estimates downstream of [[Dedup.bandBuckets]]'s
    * posexplode are fiction, so the join pins `merge`; AQE may still
    * DOWNGRADE to broadcast from measured sizes, the safe direction. */
  def probeLarge(root: String, newSigs: DataFrame, id: String,
      bands: Int, sigLen: Int, indexIdCol: String = "index_id")
      : DataFrame = {
    val ss = newSigs.sparkSession
    if (!rootFs(ss, root).exists(new org.apache.hadoop.fs.Path(root)))
      recover(ss, root)
    val newSide = Dedup.bandBuckets(newSigs, id, bands, sigLen, as = "new_id")
    val index = ss.read.parquet(root)
      .select(col(indexIdCol).as("index_id"), col("band"), col("bucket"))
    newSide.hint("merge")
      .join(index, Seq("band", "bucket"))
      .select("new_id", "index_id").distinct()
  }

  /** Dial between [[probe]] and [[probeLarge]] on the batch's key
    * volume: `bands × |batch|` bucket keys at or under `maxProbeKeys`
    * keeps the pruned, driver-bounded path (stats returned as
    * evidence); above it the probe shuffles and no row ever visits
    * the driver. The one extra action is a count of the batch —
    * cheap by the same "the batch is the small side" premise that
    * makes the pruned path safe, and the price of never letting an
    * unexpectedly large batch OOM the driver instead of degrading to
    * a shuffle. */
  def probeAuto(root: String, newSigs: DataFrame, id: String,
      bands: Int, sigLen: Int, indexIdCol: String = "index_id",
      maxProbeKeys: Long = 1L << 22)
      : (DataFrame, Option[ProbeStats]) = {
    val batchRows = newSigs.count()
    if (batchRows * bands <= maxProbeKeys) {
      val (pairs, stats) = probe(root, newSigs, id, bands, sigLen, indexIdCol)
      (pairs, Some(stats))
    } else
      (probeLarge(root, newSigs, id, bands, sigLen, indexIdCol), None)
  }

  /** What one [[compact]] actually rewrote — the scale evidence: the
    * per-batch write bound the tiering buys is
    * `mergedBytes ≤ O(tail + runs no larger than the merged set)`,
    * never `indexBytes`, unless the accumulated newer data has grown
    * to the base's own size (the amortized O(log) step). */
  final case class CompactStats(mergedFiles: Int, mergedBytes: Long,
      indexBytes: Long, runsBefore: Int, runsAfter: Int)

  /** `_`-prefixed (parquet readers skip it): a completed merge's
    * commit instruction, written inside the tmp dir AFTER the merge
    * job; its existence is the commit point — [[recover]] rolls a
    * planned merge FORWARD, an unplanned one back. */
  private[graft] val PlanFile = "_plan.json"

  /** Fold the appended tail into a new sorted, manifested RUN and
    * size-tier the runs: the merge set starts as the tail and absorbs
    * every run not larger than the set (stepped-merge), so steady
    * small batches never rewrite the large base — it joins a merge
    * only when the newer data's total size has reached its own, and
    * per-row write amplification is O(log(index / batch)).
    *
    * Parquet files can't be mutated in place, so the merged run is
    * written to `<root>__compacting`, then committed by a plan file
    * (adds + deletes + the spliced manifest): rename the new run's
    * files into the live dir, swap the manifest, delete the
    * merged-away originals. The live dir never vanishes and the
    * manifest never names a deleted file; the one non-atomic window
    * (both file generations present) shows duplicate rows to a
    * concurrent reader — which every probe's `distinct()` absorbs —
    * and is closed by [[recover]] roll-forward after a crash;
    * in-process callers are serialized by the engine-wide
    * single-writer contract, and the d12/st6 oracles pin that probe
    * RESULTS are identical before, during recovery, and after. No-op when the tail is under
    * `minTailFiles`. Returns the merge's cost evidence, None if it
    * no-opped. */
  def compactTiered(ss: SparkSession, root: String, key: String = "bucket",
      targetRowsPerFile: Long = 1L << 22, minTailFiles: Int = 8,
      retireGraceMs: Long = 0L)
      : Option[CompactStats] = {
    recover(ss, root)
    val entries = readEntries(ss, root, key)
    val byName = entries.map(e => e.file -> e).toMap
    // grace-held originals from PRIOR compacts are invisible to this
    // one (their rows live in a spliced run — re-merging them would
    // double data); those past their grace are reaped by this plan
    val prevRetired = readRetired(ss, root)
    val retiredNames = prevRetired.map(_.file).toSet
    val all = dataFiles(ss, root).filterNot(s => retiredNames(s.getPath.getName))
    val lens = all.map(s => s.getPath.getName -> s.getLen).toMap
    val tail = all.filter(s => !byName.contains(s.getPath.getName))
    if (tail.length < minTailFiles) return None
    // stepped-merge selection: absorb every run not (much) larger
    // than the accumulated merge set, to a fixpoint. The 1.5x slack
    // absorbs byte-size jitter between a raw tail and the same rows
    // re-sorted (without it, equal-row runs never merge and every
    // batch mints a run); absorbed runs stay ≤ 1.5x the merged set,
    // so run sizes still grow geometrically and per-row write
    // amplification stays O(log(index / batch)).
    val runBytes = entries.groupBy(_.run).map { case (r, es) =>
      r -> es.map(e => lens.getOrElse(e.file, 0L)).sum
    }
    var mergedBytes = tail.map(_.getLen).sum
    var mergeRuns = Set.empty[Long]
    var grew = true
    while (grew) {
      grew = false
      runBytes.foreach { case (r, b) =>
        if (!mergeRuns(r) && b * 2 <= mergedBytes * 3) {
          mergeRuns += r; mergedBytes += b; grew = true
        }
      }
    }
    val mergeNames = tail.map(_.getPath.getName).toSet ++
      entries.filter(e => mergeRuns(e.run)).map(_.file)
    val mergePaths = all.filter(s => mergeNames(s.getPath.getName))
      .map(_.getPath.toString).toIndexedSeq
    val newRun = (entries.map(_.run) :+ 0L).max + 1
    val f = rootFs(ss, root)
    val tmpDir = root.stripSuffix("/") + "__compacting"
    f.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    val rows = ss.read.parquet(mergePaths: _*)
    val n = rows.count() // metadata-only over the merge set
    val parts = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
      .min(100000L).toInt
    rows.repartitionByRange(parts, col(key))
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(tmpDir)
    // run-prefixed names guarantee no collision in the live dir; the
    // stats scan prices at the REWRITTEN files only (the spliced
    // manifest keeps every untouched run's entries verbatim)
    val tmpParts = dataFiles(ss, tmpDir)
    val renames = tmpParts.map(s =>
      s.getPath.getName -> s"r$newRun-${s.getPath.getName}").toMap
    // an all-empty merge (0-row tail files only) writes no data parts:
    // the plan then just deletes the empties and keeps the manifest
    val ranges =
      if (tmpParts.isEmpty) Map.empty[String, (Long, Long)]
      else fileRanges(ss, tmpParts.map(_.getPath.toString).toIndexedSeq, key)
    val newEntries = ranges.toSeq.map { case (file, (mn, mx)) =>
      FileEntry(renames(file), mn, mx, newRun)
    }
    val spliced = entries.filterNot(e => mergeRuns(e.run)) ++ newEntries
    // retireGraceMs > 0 closes the documented cross-process window
    // (a reader that loaded the pre-merge manifest just before the
    // swap): merged-away originals are RETIRED — kept on disk at
    // their paths, listed (with this plan's stamp) in the committed
    // manifest so no probe or later merge touches them — and only a
    // compact running after the grace has passed deletes them. The
    // TsStore vacuum pattern: set the grace ≥ the longest reader
    // runtime. 0 (default) deletes inline — correct under the
    // in-process single-writer contract, zero held garbage.
    val now = System.currentTimeMillis()
    // reap on the expiry STORED when each file was retired, never this
    // call's dial: a grace-0 compact (StreamAdmit's write-path default)
    // running moments after a long-grace retire must hold those files,
    // not delete them (legacy entries without a stored expiry fall
    // back to this call's grace — the pre-expiry behavior)
    val (reapable, heldRetired) = prevRetired.partition(re =>
      (if (re.exp >= 0L) re.exp else re.at + retireGraceMs) <= now)
    val (deleteNow, newlyRetired) =
      if (retireGraceMs <= 0L) (mergeNames.toSeq.sorted, Nil)
      else (Nil, mergeNames.toSeq.sorted.map(
        RetiredEntry(_, now, now + retireGraceMs)))
    // only parts with stats are placed — a 0-row part would otherwise
    // land unmanifested and ride every future merge as phantom tail
    writePlan(ss, tmpDir, key,
      renames.toSeq.filter(r => ranges.contains(r._1)),
      deleteNow ++ reapable.map(_.file).sorted, spliced,
      heldRetired ++ newlyRetired)
    applyPlan(ss, root, tmpDir)
    Some(CompactStats(mergePaths.length, mergedBytes,
      all.map(_.getLen).sum, runBytes.size, spliced.map(_.run).distinct.size))
  }

  /** [[compactTiered]] with the original boolean signature. */
  def compact(ss: SparkSession, root: String, key: String = "bucket",
      targetRowsPerFile: Long = 1L << 22, minTailFiles: Int = 8): Boolean =
    compactTiered(ss, root, key, targetRowsPerFile, minTailFiles).isDefined

  private[graft] def writePlan(ss: SparkSession, tmpDir: String, key: String,
      adds: Seq[(String, String)], deletes: Seq[String],
      manifest: Seq[FileEntry],
      retired: Seq[RetiredEntry] = Nil): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("key", key)
    val addArr = node.putArray("adds")
    adds.foreach { case (from, to) =>
      val e = addArr.addObject(); e.put("from", from); e.put("to", to)
    }
    val delArr = node.putArray("deletes")
    deletes.foreach(delArr.add)
    // the retired list rides inside the manifest node: one commit
    // carries both what is live and what is grace-held
    node.set[com.fasterxml.jackson.databind.JsonNode]("manifest",
      entriesNode(key, manifest, retired))
    val f = rootFs(ss, tmpDir)
    val tmp = new org.apache.hadoop.fs.Path(tmpDir, PlanFile + ".tmp")
    val out = f.create(tmp, true)
    try out.write(m.writeValueAsBytes(node)) finally out.close()
    if (!f.rename(tmp, new org.apache.hadoop.fs.Path(tmpDir, PlanFile)))
      throw new java.io.IOException(s"could not commit $tmpDir/$PlanFile")
  }

  /** Execute (or re-execute — every step is idempotent) a committed
    * plan: place the new run's files, drop the merged-away originals,
    * swap the manifest, clear the tmp dir. */
  private[graft] def applyPlan(ss: SparkSession, root: String, tmpDir: String)
      : Unit = {
    val f = rootFs(ss, root)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readFully(f, new org.apache.hadoop.fs.Path(tmpDir, PlanFile)))
    val key = node.path("key").asText()
    val adds = node.path("adds")
    (0 until adds.size()).foreach { i =>
      val from = new org.apache.hadoop.fs.Path(tmpDir,
        adds.get(i).path("from").asText())
      val to = new org.apache.hadoop.fs.Path(root,
        adds.get(i).path("to").asText())
      // a replayed plan finds the rename already done (from gone, to
      // present); rename is atomic so the file is in exactly one place
      if (f.exists(from) && !f.rename(from, to))
        throw new java.io.IOException(s"compact: could not place $to")
      if (!f.exists(to))
        throw new java.io.IOException(s"compact: $to missing after plan")
    }
    // manifest BEFORE the deletes: in both orders a concurrent reader
    // can see duplicate rows mid-commit (the documented window), but
    // deleting first would leave the still-live OLD manifest naming
    // files that no longer exist — a pruned probe would select them
    // and die on FileNotFound instead of just deduplicating.
    // CROSS-PROCESS window, and its remedy: a reader that loaded the
    // PRE-merge manifest just before this swap can still hold the
    // merged-away originals in its pruned file set — with
    // `retireGraceMs = 0` (the in-process default, where the
    // single-writer contract makes the window unreachable) the
    // deletes below would break it; a multi-reader deployment sets
    // the grace dial and this plan's "deletes" then contains only
    // PRIOR retirees whose grace has passed, while this merge's own
    // originals ride the manifest's retired list, still readable at
    // their paths until a post-grace compact reaps them.
    commitManifest(ss, root, key, parseEntries(node.path("manifest"), key),
      parseRetired(node.path("manifest")))
    val dels = node.path("deletes")
    (0 until dels.size()).foreach { i =>
      f.delete(new org.apache.hadoop.fs.Path(root, dels.get(i).asText()),
        false)
    }
    f.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
  }

  /** Heal a [[compactTiered]] (or legacy whole-dir-swap compact) that
    * died mid-commit. Planned merges roll FORWARD (the plan file is
    * the commit point; every step replays idempotently); a tmp with
    * no plan is an aborted merge job — dropped, live dir untouched.
    * Legacy leftovers (`__old` set-asides from the pre-tiered swap
    * protocol) keep their original healing: the manifest travels
    * inside the dir, so every outcome is safe — a rolled-back `__old`
    * still holds its matching manifest; a rolled-forward
    * `__compacting` without one has all files as tail until the next
    * compact — unpruned, never wrong. */
  def recover(ss: SparkSession, root: String): Unit = {
    val f = rootFs(ss, root)
    val live = new org.apache.hadoop.fs.Path(root)
    val tmpDir = root.stripSuffix("/") + "__compacting"
    val tmp = new org.apache.hadoop.fs.Path(tmpDir)
    val old = new org.apache.hadoop.fs.Path(root.stripSuffix("/") + "__old")
    if (f.exists(live) &&
      f.exists(new org.apache.hadoop.fs.Path(tmp, PlanFile))) {
      applyPlan(ss, root, tmpDir)
      f.delete(old, true)
      return
    }
    if (!f.exists(live)) {
      if (f.exists(tmp) &&
        f.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")) &&
        !f.exists(new org.apache.hadoop.fs.Path(tmp, PlanFile))) {
        if (!f.rename(tmp, live))
          throw new java.io.IOException(s"compact recovery: $root")
      } else if (f.exists(old)) {
        if (!f.rename(old, live))
          throw new java.io.IOException(s"compact recovery: $root")
      }
    }
    if (f.exists(live)) { // either way, leftovers are trash now
      f.delete(tmp, true)
      f.delete(old, true)
    }
  }
}
