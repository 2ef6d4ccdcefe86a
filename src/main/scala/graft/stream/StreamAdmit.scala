package graft.stream

import graft.ops.{BandIndex, Dedup}
import graft.store.TsStore.rootFs
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming near-dup ADMISSION against a stored fingerprint index —
  * the d11/d12 incremental-dedup contract as a continuous ingest
  * stage (the shape a training-data pipeline runs forever: a curated
  * corpus accumulates, every incoming batch is screened against it).
  *
  *  - The curated corpus's banded fingerprints AND minhash signatures
  *    are persisted once ([[seedIndex]]) — narrow tables, tiny
  *    relative to the corpus text.
  *  - Each micro-batch probes the STORED bucket table through the
  *    pruned-read layout ([[BandIndex.probe]] — the batch side
  *    broadcasts; the scan opens ONLY the base files whose bucket
  *    range the batch touches, plus the appended tail), est-Jaccard-
  *    verdicts the candidates from a likewise-pruned signature
  *    lookup, admits the clean documents, and APPENDS their
  *    fingerprints+signatures to the index — batch N+1 is screened
  *    against everything admitted through batch N with no corpus
  *    re-scan, no index re-banding, and per-batch cost bounded by
  *    the batch (not the index). [[BandIndex.compact]] periodically
  *    folds the appended tail back into the sorted base.
  *
  * Admission semantics, pinned: a batch is screened against
  * index ∪ prior admissions ONLY. Intra-batch near-dups are NOT
  * checked — that is the upstream batch-dedup stage's job (d1/d2/d4
  * over the batch) and keeping it out of the admission step makes
  * the admitted set independent of intra-batch ordering. A document
  * near-dup of a REJECTED document (but of nothing in the curated
  * set) is admitted: the index is the corpus being curated, not the
  * reject log — screening is against what the corpus CONTAINS.
  * Precondition (as for d11's split): batch ids are disjoint from
  * index ids — a re-ingested id would join the wrong signature in
  * the verdict lookup. Upstream exact-id dedup (st4) owns this.
  *
  * Durability: the three sinks inside foreachBatch are not atomic
  * with the checkpoint commit, so the write ORDER is load-bearing
  * for replay idempotence: sigs → buckets → admitted. ALL of the
  * batch's own ids are excluded from the index side of its candidate
  * pairs (an anti-join, not just self-pair removal), so a replayed
  * batch is never screened against its own partial appends — without
  * that, an intra-batch near-dup pair would admit both docs on a
  * clean run but reject one on replay; a crash after the sigs append
  * replays into
  * duplicate identical sig rows (fan equal-valued verdict rows,
  * distinct()-ed away), a crash after the buckets append replays
  * into duplicate bucket rows (duplicate candidate pairs,
  * distinct()-ed away), and `admitted` — the output consumers read —
  * is written exactly once, last. The REVERSE order would be a real
  * bug: buckets-before-sigs leaves a crash window where a doc's
  * buckets exist without its signature, and every later near-dup of
  * it would silently pass screening. */
object StreamAdmit {
  /** Persist the curated corpus's probe state under `indexRoot` in
    * the pruned-probe layout ([[BandIndex]]): `buckets/` = (index_id,
    * band, bucket) range-sorted by `bucket`, `sigs/` = (doc_id,
    * minhash) range-sorted by `doc_id`, each with its per-file
    * (min, max) manifest so batches read only the files they can
    * match. Doc ids must be integral (they key the manifest). */
  def seedIndex(corpusSigs: DataFrame, id: String, indexRoot: String,
      bands: Int, sigLen: Int,
      targetRowsPerFile: Long = 1L << 22): Unit = {
    // both index tables derive from this one frame — persist it once,
    // or the corpus minhash pass behind it runs four times over a
    // 10⁹-doc seed. The derived row counts are known exactly (sigs =
    // corpus rows, buckets = bands × corpus rows: posexplode of a
    // bands-length array), so the writes take them and cache nothing
    // themselves — re-deriving a projection/explode from this cached
    // parent is cheap, caching the 16×-exploded bucket frame is not.
    val mat = corpusSigs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = mat.count()
      BandIndex.write(mat.select(col(id).as("doc_id"), col("minhash")),
        s"$indexRoot/sigs", "doc_id", targetRowsPerFile, knownCount = Some(n))
      BandIndex.write(
        Dedup.bandBuckets(mat, id, bands, sigLen, as = "index_id"),
        s"$indexRoot/buckets", "bucket", targetRowsPerFile,
        knownCount = Some(n * bands))
    } finally mat.unpersist()
  }

  /** The banding configuration an index was seeded with, persisted
    * inside the index root ([[writeConfig]]) so probes derive their
    * parameters from the INDEX instead of the caller having to
    * re-supply a matching triple — a mismatched (bands, sigLen,
    * shingleK) probe is never an error you can detect from results,
    * it just silently misses near-dups. */
  final case class IndexConfig(bands: Int, sigLen: Int, shingleK: Int)

  /** `_`-prefixed so parquet readers of the index dirs skip it. */
  private[graft] val ConfigFile = "_banding.json"

  private[graft] def writeConfig(ss: SparkSession, indexRoot: String,
      cfg: IndexConfig): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("bands", cfg.bands)
    node.put("sigLen", cfg.sigLen)
    node.put("shingleK", cfg.shingleK)
    val f = rootFs(ss, indexRoot)
    val tmp = new org.apache.hadoop.fs.Path(indexRoot, ConfigFile + ".tmp")
    val out = f.create(tmp, true)
    try out.write(m.writeValueAsBytes(node)) finally out.close()
    val dest = new org.apache.hadoop.fs.Path(indexRoot, ConfigFile)
    f.delete(dest, false)
    if (!f.rename(tmp, dest))
      throw new java.io.IOException(s"could not commit $dest")
  }

  /** The config persisted by [[seedIndexPlanned]] (or an explicit
    * [[writeConfig]]); None for a pre-config index — callers then
    * supply the triple themselves, the original [[admitBatch]] path. */
  def loadConfig(ss: SparkSession, indexRoot: String): Option[IndexConfig] = {
    val f = rootFs(ss, indexRoot)
    val p = new org.apache.hadoop.fs.Path(indexRoot, ConfigFile)
    if (!f.exists(p)) return None
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(BandIndex.readFully(f, p))
    Some(IndexConfig(node.path("bands").asInt(), node.path("sigLen").asInt(),
      node.path("shingleK").asInt()))
  }

  /** Seed an admission index with a SOLVED banding configuration
    * instead of a hand-pinned one: [[Dedup.bandingPlan]] turns the
    * corpus row count (plus the S-curve targets) into the smallest
    * (bands × rowsPerBand) meeting the recall floor inside the
    * false-candidate budget — the dial a 10⁹-doc deployment must
    * derive, not guess (with fixed banding, unrelated-pair collisions
    * grow linearly with corpus size; holding candidates-per-doc flat
    * means widening rows-per-band ~log(G) as the corpus grows G×).
    * Minhashes the corpus at the solved signature length, seeds the
    * pruned-probe layout, and persists the config sidecar so
    * [[admitBatchAuto]]/[[attachAuto]] probe with exactly the seeded
    * parameters. Returns the plan (recall + expected false-candidate
    * numbers included) for the caller's planning logs. */
  def seedIndexPlanned(corpus: DataFrame, id: String, text: String,
      indexRoot: String, targetSim: Double, shingleK: Int = 3,
      backgroundSim: Double = 0.1, minRecall: Double = 0.9,
      falseCandidateBudget: Double = 10.0,
      targetRowsPerFile: Long = 1L << 22): Dedup.BandingPlan = {
    val ss = corpus.sparkSession
    val plan = Dedup.bandingPlan(corpus.count(), targetSim,
      backgroundSim, minRecall, falseCandidateBudget)
    val sigs = Dedup.minhash(
        corpus.select(col(id).as("doc_id"), col(text).as("__text")),
        "__text", shingleK, plan.sigLen)
      .select("doc_id", "minhash")
    seedIndex(sigs, "doc_id", indexRoot, plan.bands, plan.sigLen,
      targetRowsPerFile)
    writeConfig(ss, indexRoot, IndexConfig(plan.bands, plan.sigLen, shingleK))
    plan
  }

  /** Screen one batch against the stored index and append the
    * admissions — the foreachBatch body, public so a batch pipeline
    * (or a spec) can drive it without a stream. Returns the admitted
    * (doc_id, batch) rows it wrote. */
  def admitBatch(batch0: DataFrame, id: String, text: String,
      indexRoot: String, admittedRoot: String, batchId: Long,
      bands: Int, sigLen: Int, shingleK: Int,
      minEstJaccard: Double, compactMinTailFiles: Int = 16,
      maxProbeKeys: Long = 1L << 22,
      gate: Option[org.apache.spark.sql.Column] = None): Unit = {
    // the optional QUALITY gate runs before any screening work: a
    // gate-rejected document is not admitted, not fingerprinted, and
    // never enters the index — the curated corpus contains only
    // documents that passed both the gate and the dedup screen. The
    // gate is a pure per-row predicate, so applying it first also
    // shrinks every downstream probe (deterministic: replay re-gates
    // identically).
    val batch = gate.map(g => batch0.filter(g)).getOrElse(batch0)
    val ss = batch.sparkSession
    // persisted: the shingle+minhash pass over the batch text feeds
    // the dial's count, the probe, the replay anti-join, the verdict
    // union and the admitted anti-join — without the cache it would
    // recompute per action, every trigger, forever (seedIndex solves
    // the same problem the same way)
    val newSigs = Dedup.minhash(batch.select(col(id).as("doc_id"),
      col(text).as("__text")), "__text", shingleK, sigLen)
      .select("doc_id", "minhash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // the big-batch dial is [[BandIndex.probeAuto]]'s — one source of
    // truth for the threshold: a micro-batch small enough that its
    // bucket keys and candidate ids fit the driver takes the pruned
    // point-probe path (stats returned); a backfill-scale batch (a
    // replayed feed, a bulk re-ingest through the same stream)
    // shuffles both the probe AND the verdict lookup — nothing rides
    // the driver, cost degrades to one pass over index + batch
    // instead of OOM
    val batchIdsAnti = newSigs.select(col("doc_id").as("index_id"))
    val (rawPairs, statsOpt) = BandIndex.probeAuto(s"$indexRoot/buckets",
      newSigs, "doc_id", bands, sigLen, maxProbeKeys = maxProbeKeys)
    // a replayed batch finds its own prior appends in the index — and
    // not only as exact self-pairs: a crash after the buckets append
    // leaves the WHOLE batch's rows in the index, so a doc that is an
    // intra-batch near-dup of another batch doc would be screened
    // against its own partial append and rejected on replay while a
    // clean run admits it. Anti-join the index side against the full
    // batch id set: batch ids are disjoint from legitimate index ids
    // by precondition (see scaladoc), so this only removes rows from
    // a prior partial append of this same batch — keeping the pinned
    // "screened against index ∪ prior admissions ONLY" contract
    // deterministic across replays.
    val (pairs, idxSigs) = if (statsOpt.isDefined) {
      val p = rawPairs
        .join(broadcast(batchIdsAnti), Seq("index_id"), "left_anti")
        .select(col("new_id").as("id_a"), col("index_id").as("id_b"))
        // materialized once: the candidate ids are collected to prune
        // the signature lookup, then the pairs join the verdict — the
        // candidate set is LSH-bounded (≈ flat per doc), the same
        // driver-size contract as the probe's bucket collect
        .localCheckpoint()
      val candIds = p.select("id_b").distinct().collect()
        .map(_.get(0).asInstanceOf[Number].longValue())
      // verdict signatures: the batch's own + ONLY the stored sigs the
      // candidates can touch (pruned file-level read — without this
      // the verdict join re-scans the whole signature table every
      // batch, the same wrong slope the bucket probe had)
      (p, BandIndex.readForKeys(ss, s"$indexRoot/sigs", candIds,
        "doc_id")._1.select("doc_id", "minhash"))
    } else {
      // distributed verdict: the signature lookup reads the whole
      // table — a blanket batch touches most of it anyway, and the
      // join (not a collect) does the filtering
      val p = rawPairs
        .join(batchIdsAnti, Seq("index_id"), "left_anti")
        .select(col("new_id").as("id_a"), col("index_id").as("id_b"))
      BandIndex.recover(ss, s"$indexRoot/sigs") // heal a dead compact
      (p, ss.read.parquet(s"$indexRoot/sigs")
        .select("doc_id", "minhash"))
    }
    val dupIds = Dedup.minhashJaccard(pairs,
        newSigs.unionByName(idxSigs), "doc_id")
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a").as("doc_id")).distinct()
    val admitted = newSigs.join(dupIds, Seq("doc_id"), "left_anti")
      .localCheckpoint() // one materialization; three sinks below reuse it
    // sigs FIRST, buckets second, the consumer-facing admitted log
    // LAST — the crash-window analysis in the scaladoc depends on it
    admitted.write.mode("append").parquet(s"$indexRoot/sigs")
    Dedup.bandBuckets(admitted, "doc_id", bands, sigLen, as = "index_id")
      .write.mode("append").parquet(s"$indexRoot/buckets")
    admitted.select(col("doc_id"), lit(batchId).as("batch"))
      .write.mode("append").parquet(admittedRoot)
    // LSM maintenance, AFTER the consumer-facing write so admission
    // latency is unaffected: each append above adds one unmanifested
    // file set per micro-batch, and a stream running forever would
    // otherwise accumulate thousands of small tail files until
    // listing + footer reads dominate the probe. compact() folds the
    // tail into a new sorted run and size-tiers the runs
    // (stepped-merge) once the tail crosses the threshold, and no-ops
    // (one listing) below it — per-batch write cost is bounded by the
    // merged runs (O(log(index/batch)) amortized row rewrites,
    // TierScale's measurement), never the whole index, so the stream
    // never stalls on an O(index) rewrite no matter how large the
    // admitted corpus grows. Content-preserving, so replay idempotence
    // and the crash-window analysis above are untouched; a crash
    // mid-compact is healed by BandIndex.recover on the next probe.
    BandIndex.compact(ss, s"$indexRoot/sigs", "doc_id",
      minTailFiles = compactMinTailFiles)
    BandIndex.compact(ss, s"$indexRoot/buckets", "bucket",
      minTailFiles = compactMinTailFiles)
    } finally newSigs.unpersist()
  }

  /** [[admitBatch]] with the banding triple read from the index's own
    * config sidecar — the probe cannot drift from the seed. Requires
    * an index seeded by [[seedIndexPlanned]] (or with an explicit
    * [[writeConfig]]). */
  def admitBatchAuto(batch: DataFrame, id: String, text: String,
      indexRoot: String, admittedRoot: String, batchId: Long,
      minEstJaccard: Double, compactMinTailFiles: Int = 16): Unit = {
    val cfg = loadConfig(batch.sparkSession, indexRoot).getOrElse(
      throw new IllegalStateException(
        s"$indexRoot has no $ConfigFile — seed with seedIndexPlanned, or " +
          "call admitBatch with the explicit banding triple"))
    admitBatch(batch, id, text, indexRoot, admittedRoot, batchId,
      cfg.bands, cfg.sigLen, cfg.shingleK, minEstJaccard,
      compactMinTailFiles)
  }

  /** Wire a file-source document stream through [[admitBatch]]. */
  def start(spark: SparkSession, feedDir: String, schema:
      org.apache.spark.sql.types.StructType, id: String, text: String,
      indexRoot: String, admittedRoot: String, checkpoint: String,
      bands: Int = 16, sigLen: Int = 32, shingleK: Int = 3,
      minEstJaccard: Double = 0.5,
      maxFilesPerTrigger: Int = 1,
      compactMinTailFiles: Int = 16,
      gate: Option[org.apache.spark.sql.Column] = None): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(feedDir)
      .writeStream
      .foreachBatch { (b: Dataset[Row], batchId: Long) =>
        admitBatch(b.toDF(), id, text, indexRoot, admittedRoot, batchId,
          bands, sigLen, shingleK, minEstJaccard, compactMinTailFiles,
          gate = gate)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** [[start]] against a [[seedIndexPlanned]] index: the banding
    * triple comes from the config sidecar, read once at wiring time
    * (the seeded config is immutable for the index's lifetime). */
  def startAuto(spark: SparkSession, feedDir: String, schema:
      org.apache.spark.sql.types.StructType, id: String, text: String,
      indexRoot: String, admittedRoot: String, checkpoint: String,
      minEstJaccard: Double = 0.5,
      maxFilesPerTrigger: Int = 1,
      compactMinTailFiles: Int = 16): StreamingQuery = {
    val cfg = loadConfig(spark, indexRoot).getOrElse(
      throw new IllegalStateException(
        s"$indexRoot has no $ConfigFile — seed with seedIndexPlanned"))
    start(spark, feedDir, schema, id, text, indexRoot, admittedRoot,
      checkpoint, cfg.bands, cfg.sigLen, cfg.shingleK, minEstJaccard,
      maxFilesPerTrigger, compactMinTailFiles)
  }
}
