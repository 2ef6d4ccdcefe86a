package graft.ops

import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is
  *    broadcast (queries ≪ corpus), so the "cross join" is really a
  *    map-side loop over each corpus partition — no shuffle of the
  *    corpus at all; only the per-query top-k rows shuffle for the
  *    final window. Correct baseline + the right plan when |Q| is small.
  *  - [[lshTopK]]: random-hyperplane LSH. Corpus and queries are
  *    bucketed by signature; candidates come from an equi-join on
  *    (band, bucket) and only candidates are re-ranked exactly. This is
  *    the 100 TB path: shuffle is proportional to candidates, not
  *    |Q|·|corpus|.
  */
object Similarity {

  /** Embedding width, inferred from one row (a `limit(1)` job — constant
    * cost at any scale). */
  private[ops] def vecDim(df: DataFrame, vec: String): Int =
    df.select(size(col(vec)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** Exact top-k cosine neighbors for every query vector.
    * Output: (query id, neighbor id, cosine, rank). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    // norms are computed ONCE per side, not per pair: cosine over a pair
    // join is dot/(na*nb), identical arithmetic, a third of the work
    val q = broadcast(queries.select(col(id).as("query_id"), col(vec).as("__qv"),
      norm(col(vec)).as("__qn")))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv"),
      norm(col(vec)).as("__cn"))
    val scored = c.crossJoin(q)
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("cosine", cosineWithNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** LSH-bucketed ANN: signature bits → bands → candidate equi-join →
    * exact re-rank. Recall is tunable via (nPlanes, bands). */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      nPlanes: Int = 16, bands: Int = 4, seed: Long = 42L): DataFrame = {
    val dim = vecDim(corpus, vec)
    val planes = randomPlanes(nPlanes, dim, seed)
    val bits = nPlanes / bands
    def withBands(df: DataFrame, idAs: String, vecAs: String): DataFrame = {
      // signature computed BEFORE the rename, while `vec` still resolves
      val bandCols = (0 until bands).map(b =>
        shiftright(col("__sig"), b * bits).bitwiseAND(lit((1L << bits) - 1)))
      df.select(col(id).as(idAs), col(vec).as(vecAs),
          hyperplaneSig(col(vec), planes).as("__sig"))
        .select(col(idAs), col(vecAs), posexplode(array(bandCols: _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")
    }
    val c = withBands(corpus, "neighbor_id", "__cv")
    val q = withBands(queries, "query_id", "__qv")
    val cands = q.join(c, Seq("band", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "__qv", "__cv")
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** IVF (inverted-file) ANN: k-means centroids trained on a bounded
    * sample driver-side (standard IVF practice — training is O(sample),
    * not O(corpus)), then the corpus partitions into `nlist` cells by
    * nearest centroid and each query probes only its `nprobe` closest
    * cells. Candidates come from an equi-join on the cell id — shuffle
    * proportional to probed cells, the alternative scale path to
    * [[lshTopK]] when the corpus is clusterable.
    *
    * Cell assignment is argmax of (c·v − |c|²/2) over the centroid
    * literals — `nlist` fused dot products per row, no UDF.
    */
  /** Driver-side IVF training: seeded bounded sample → Lloyd k-means.
    * Public so callers can freeze the trained centroids (e.g. to inline
    * them as literals in an external oracle) and pass them back to
    * [[ivfTopK]] — the centroids are deterministic for a fixed
    * (data, partitioning, seed).
    *
    * Seeded random sample, NOT limit(): limit takes a deterministic
    * prefix (first file/partition), which on a corpus sorted by
    * source/cluster would train centroids on the head slice only.
    * orderBy(rand)+limit plans as TakeOrdered (per-partition top-N
    * heap + merge — no full sort, no full shuffle). */
  def trainCentroids(
      corpus: DataFrame, vec: String,
      nlist: Int = 16, seed: Long = 42L,
      sampleSize: Int = 4096, iters: Int = 8): Array[Array[Double]] =
    kmeans(sampleVectors(corpus, vec, seed, sampleSize), nlist, iters, seed)

  /** The one seeded bounded-sample discipline every trainer here
    * uses (IVF centroids, PQ codebooks): TakeOrdered-by-rand draw,
    * Float/Double normalized — shared so two trainers can never
    * silently draw differently-disciplined samples. */
  private def sampleVectors(corpus: DataFrame, vec: String, seed: Long,
      sampleSize: Int): Array[Array[Double]] =
    corpus.select(col(vec))
      .orderBy(rand(seed)).limit(sampleSize).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)

  /** `_`-prefixed so parquet readers of the index dir skip it. */
  private[graft] val CentroidsFile = "_centroids.json"

  /** ONE sidecar commit discipline for every stored-index constant
    * (centroids, PQ codebooks): tmp write + delete-dest +
    * rename-or-throw, so a torn write is never visible — the crash
    * behavior cannot silently diverge between sidecars. */
  private def writeJsonSidecar(ss: org.apache.spark.sql.SparkSession,
      indexRoot: String, name: String,
      node: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val f = graft.store.TsStore.rootFs(ss, indexRoot)
    val tmp = new org.apache.hadoop.fs.Path(indexRoot, name + ".tmp")
    val out = f.create(tmp, true)
    try out.write(new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsBytes(node)) finally out.close()
    val dest = new org.apache.hadoop.fs.Path(indexRoot, name)
    f.delete(dest, false)
    if (!f.rename(tmp, dest))
      throw new java.io.IOException(s"could not commit $dest")
  }

  private def readJsonSidecar(ss: org.apache.spark.sql.SparkSession,
      indexRoot: String, name: String)
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    val f = graft.store.TsStore.rootFs(ss, indexRoot)
    val p = new org.apache.hadoop.fs.Path(indexRoot, name)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
        buf.toByteArray
      } finally in.close()
    Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes))
  }

  /** Persist trained centroids NEXT TO their stored IVF index, so a
    * probe process needs no training data at all: it loads the sidecar
    * and probes the cell-partitioned parquet. Doubles are serialized
    * via `Double.toString`, which round-trips bit-exactly through
    * `Double.parseDouble` — probes reproduce build-time cell scores
    * exactly. Commit is tmp+rename (a torn write is never visible);
    * write this LAST when building an index, and gate the "index
    * exists" check on it, so a crash mid-build rebuilds. */
  def saveCentroids(ss: org.apache.spark.sql.SparkSession, indexRoot: String,
      centroids: Array[Array[Double]]): Unit = {
    val arr = new com.fasterxml.jackson.databind.ObjectMapper()
      .createArrayNode()
    centroids.foreach { c =>
      val row = arr.addArray()
      c.foreach(row.add)
    }
    writeJsonSidecar(ss, indexRoot, CentroidsFile, arr)
  }

  /** The centroids persisted by [[saveCentroids]], or None if the
    * sidecar is absent (index missing or mid-build crash → rebuild). */
  def loadCentroids(ss: org.apache.spark.sql.SparkSession, indexRoot: String)
      : Option[Array[Array[Double]]] =
    readJsonSidecar(ss, indexRoot, CentroidsFile).map { node =>
      (0 until node.size()).map { i =>
        val row = node.get(i)
        (0 until row.size()).map(j => row.get(j).asDouble()).toArray
      }.toArray
    }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      sampleSize: Int = 4096, iters: Int = 8,
      precomputed: Option[Array[Array[Double]]] = None): DataFrame = {
    val centroids = precomputed.getOrElse(
      trainCentroids(corpus, vec, nlist, seed, sampleSize, iters))
    probeIvfIndex(ivfAssignments(corpus, id, vec, centroids),
      queries, id, vec, k, centroids, nprobe)
  }

  // Nearest-cell assignment rides [[graft.functions.IvfCellExpr]] — one
  // fused kernel with the centroid matrix as a reference constant. The
  // per-centroid struct(c·v − |c|²/2, cell) + greatest chain it
  // replaces planted nlist×dim Literal nodes per occurrence (the
  // x13/x15 encode plans rendered at up to 6.3 MB and blew janino's
  // method limits, disabling whole-stage codegen for exactly these
  // stages). Argmax order is unchanged: score desc, ties toward the
  // larger cell id — the order the oracles mirror.

  /** The persistable half of IVF: every corpus vector assigned to its
    * nearest centroid cell, with the vector and its norm carried so a
    * probe never re-reads the corpus. Write with
    * `.partitionBy("cell")` and a probe's cell equi-join prunes to
    * the probed directories — the index is built ONCE (admission-job
    * cost, like [[graft.ops.Dedup.bandBuckets]] for text dedup) and
    * each query batch probes it from parquet. */
  def ivfAssignments(corpus: DataFrame, id: String, vec: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val bestCell = graft.functions.IvfCellExpr(col(vec), centroids)
    corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv"),
      norm(col(vec)).as("__cn"), bestCell.as("cell"))
  }

  // ── incremental IVF maintenance ────────────────────────────────
  //
  // A 100 TB corpus grows by batches; re-clustering and re-assigning
  // EVERYTHING per arrival is absurd. Standard IVF practice: freeze
  // the trained centroids and assign only the NEW vectors against
  // them — O(batch) work per arrival, no retraining, no corpus
  // re-scan (retrain offline when drift warrants it and rebuild
  // under a new stamp, exactly like the d11 band-index contract).
  // Layout: `root/batch=N/cell=M` — the batch id keys the slot and
  // the write OVERWRITES it, so a replayed ingest batch re-lands
  // idempotently (the Sketches.appendBatch contract); readers just
  // partition-discover the whole tree and probe it like any stored
  // index. The centroid sidecar at the root is the ONLY shared
  // state, and appends never touch it.

  /** Build the base of an incremental IVF index: train centroids on
    * `corpus`, assign it into `root/batch=0`, persist the sidecar
    * LAST (crash mid-build leaves no sidecar → rebuild). Returns the
    * trained centroids. */
  def ivfBuildBase(corpus: DataFrame, root: String, id: String, vec: String,
      nlist: Int = 16, seed: Long = 42L, sampleSize: Int = 4096,
      iters: Int = 8): Array[Array[Double]] = {
    val cents = trainCentroids(corpus, vec, nlist, seed, sampleSize, iters)
    ivfAssignments(corpus, id, vec, cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"${root.stripSuffix("/")}/batch=0")
    saveCentroids(corpus.sparkSession, root, cents)
    cents
  }

  /** Append one ingest batch to a stored incremental IVF index:
    * assign `newVectors` against the FROZEN sidecar centroids and
    * land them under `root/batch=<batchId>` — O(batch) cost, centroid
    * sidecar untouched, replay-idempotent (the slot is overwritten).
    * Probing `spark.read.parquet(root)` afterward is IDENTICAL to
    * probing a from-scratch index of the union built with the same
    * centroids: assignment is a pure per-row function of (vector,
    * centroids). */
  def ivfAppendBatch(newVectors: DataFrame, root: String, batchId: Long,
      id: String, vec: String): Unit = {
    require(batchId > 0, "batch 0 is the base build (ivfBuildBase)")
    val cents = loadCentroids(newVectors.sparkSession, root).getOrElse(
      throw new IllegalStateException(
        s"$root holds no centroid sidecar — build the base index first"))
    ivfAssignments(newVectors, id, vec, cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"${root.stripSuffix("/")}/batch=$batchId")
  }

  /** The WHEN of "retrain offline when drift warrants": per-cell
    * assignment shares of a new ingest batch against the reference
    * distribution the centroids were trained on. Both inputs are
    * [[ivfAssignments]] outputs (or slices of the stored tree);
    * the result is one row per cell with counts and shares — feed
    * it to [[totalVariation]] for the scalar retrain trigger. Cost:
    * one combinable groupBy per side over dial-bounded output
    * (≤ nlist rows), so the share normalization's unpartitioned
    * window moves `nlist` rows to one task — a dial, not the data. */
  def ivfDriftStats(ref: DataFrame, fresh: DataFrame): DataFrame = {
    // the constant partition key is intent-documentation only — Spark
    // 4.1's EliminateWindowPartitions folds it away and the share
    // normalization runs as a global window over ≤ nlist rows (a
    // dial); the `WindowExec: No Partition Defined` log line it emits
    // is expected (PLANS.md "global-window warnings")
    def shares(df: DataFrame, n: String, s: String) = df
      .groupBy("cell").agg(count(lit(1)).as(n))
      .withColumn(s, col(n) / sum(col(n)).over(
        Window.partitionBy(lit(1))))
    shares(ref, "n_ref", "share_ref")
      .join(shares(fresh, "n_new", "share_new"), Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_new"))
      .na.fill(0.0, Seq("share_ref", "share_new"))
  }

  /** Total-variation distance between the two share columns of an
    * [[ivfDriftStats]] frame: ½·Σ|share_ref − share_new| ∈ [0, 1].
    * The standard drift dial — 0 for an in-distribution batch, → 1
    * as the batch concentrates in cells the reference never used.
    * Driver-side scalar (the input is ≤ nlist rows). */
  def totalVariation(drift: DataFrame): Double = {
    // empty drift stats (both slices empty — e.g. a per-micro-batch
    // monitor seeing an empty batch) read as 0 drift, not an NPE
    val r = drift
      .agg((sum(abs(col("share_ref") - col("share_new"))) / 2).as("tv"))
      .head
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** PQ-CODE-usage drift — the composed-index signal cell shares can
    * miss: a within-cell distribution shift moves the FINE codes
    * while the coarse per-cell counts hold (and vice versa), so a
    * stored IVFPQ tree monitors both. Inputs are slices of the stored
    * codes tree (`batch=0` = the training distribution, `batch=N` =
    * an append), so monitoring reads the 8-byte codes only — never a
    * raw vector, never the corpus. Output: one row per (mi, code)
    * with counts and per-subspace shares on each side. Cost: one
    * map-side-combinable groupBy per side to ≤ m·ksub rows; the
    * share window partitions by `mi` over that dial-bounded set. */
  def pqCodeDriftStats(ref: DataFrame, fresh: DataFrame): DataFrame = {
    def shares(df: DataFrame, n: String, s: String) = df
      .select(posexplode(col("codes"))).toDF("mi", "code")
      .groupBy("mi", "code").agg(count(lit(1)).as(n))
      .withColumn(s, col(n) / sum(col(n)).over(Window.partitionBy("mi")))
    shares(ref, "n_ref", "share_ref")
      .join(shares(fresh, "n_new", "share_new"),
        Seq("mi", "code"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_new"))
      .na.fill(0.0, Seq("share_ref", "share_new"))
  }

  /** The scalar dial over [[pqCodeDriftStats]]: per-subspace total
    * variation, MAX over subspaces — one drifted subspace must trip
    * the dial even when the other m−1 hold. Driver-side scalar
    * (≤ m·ksub input rows). */
  def pqCodeMaxTv(drift: DataFrame): Double = {
    val r = drift
      .groupBy("mi")
      .agg((sum(abs(col("share_ref") - col("share_new"))) / 2).as("tv"))
      .agg(max("tv")).head
    if (r.isNullAt(0)) 0.0 else r.getDouble(0) // empty slices → 0 drift
  }

  // ── retrain cutover (the HOW of "retrain offline when drift
  // warrants", closing the x7→x9 lifecycle) ─────────────────────
  //
  // Frozen-centroid appends degrade as the corpus drifts; when the
  // [[ivfDriftStats]] dial trips, the remedy is a RETRAIN — but a
  // 100 TB index cannot go offline while its replacement builds.
  // The reference's rebuild-then-swap merge (frwdb.h:28-33: a
  // worker rebuilds the merged year aside, then swaps it in while
  // readers keep the old view) applied to ANN:
  //
  //   root/_current.json         — {"stamp": "<s>"}: THE commit point
  //   root/stamp=<s>/            — one complete incremental IVF tree
  //                                each (batch=N/cell=M + sidecar)
  //
  // A rebuild lands an entire new tree under a NEW stamp dir —
  // training, assignment, sidecar — while the marker still names the
  // old stamp, so every concurrent reader keeps serving the old
  // index untouched. [[ivfCutover]] flips the marker in ONE
  // overwrite-rename; a reader resolves the marker ONCE per probe
  // session ([[openCurrentIvf]]) and then reads only that stamp's
  // subtree, so no probe can ever mix vectors assigned under
  // different centroid sets (the never-mix invariant x10 REQUIREs).
  // Crash anywhere mid-rebuild: the marker still names the old
  // stamp and the half-built dir is invisible garbage (its missing
  // sidecar also fails the cutover precondition). The old stamp dir
  // is dropped explicitly AFTER cutover ([[dropIvfStamp]] refuses
  // the current one) — the grace window for readers that resolved
  // the marker pre-flip is the caller's retention dial, exactly the
  // TsStore vacuum contract.

  private[graft] val StampMarker = "_current.json"

  /** The subtree holding stamp `s`'s complete incremental index. */
  def ivfStampPath(root: String, stamp: String): String =
    s"${root.stripSuffix("/")}/stamp=$stamp"

  /** The stamp the marker currently names, or None before the first
    * cutover (a root with no marker serves nothing yet). */
  def currentIvfStamp(ss: org.apache.spark.sql.SparkSession, root: String)
      : Option[String] = {
    val f = graft.store.TsStore.rootFs(ss, root)
    val p = new org.apache.hadoop.fs.Path(root, StampMarker)
    if (!f.exists(p)) return None
    val in = f.open(p)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      buf.toByteArray
    } finally in.close()
    Some(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(bytes).path("stamp").asText())
  }

  /** Build a COMPLETE index under a new stamp while the current one
    * keeps serving: [[ivfBuildBase]] into `root/stamp=<stamp>` —
    * train on `corpus`, assign it as batch 0, sidecar last. The
    * marker is untouched; nothing serves the new tree until
    * [[ivfCutover]]. Returns the newly trained centroids. */
  def ivfRebuildStamp(corpus: DataFrame, root: String, stamp: String,
      id: String, vec: String, nlist: Int = 16, seed: Long = 42L,
      sampleSize: Int = 4096, iters: Int = 8): Array[Array[Double]] = {
    require(!currentIvfStamp(corpus.sparkSession, root).contains(stamp),
      s"stamp '$stamp' is the SERVING index — rebuild under a new stamp")
    ivfBuildBase(corpus, ivfStampPath(root, stamp), id, vec,
      nlist, seed, sampleSize, iters)
  }

  /** Atomically flip the marker to `stamp` — the single commit point
    * of a retrain. Preconditions REQUIREd: the new stamp's sidecar
    * exists (the sidecar is written LAST by the build, so its
    * presence proves a complete tree — a half-built stamp cannot be
    * cut over to). The flip is FileContext rename with OVERWRITE:
    * one metadata op, no window where no marker exists, and a
    * concurrent reader sees either the old stamp or the new one,
    * never neither. */
  def ivfCutover(ss: org.apache.spark.sql.SparkSession, root: String,
      stamp: String): Unit = {
    val f = graft.store.TsStore.rootFs(ss, root)
    val sidecar = new org.apache.hadoop.fs.Path(
      ivfStampPath(root, stamp), CentroidsFile)
    require(f.exists(sidecar),
      s"stamp '$stamp' has no centroid sidecar — its build did not " +
        "complete; refusing to cut over to a torn index")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("stamp", stamp)
    f.mkdirs(new org.apache.hadoop.fs.Path(root))
    val tmp = new org.apache.hadoop.fs.Path(root,
      StampMarker + s".tmp-$stamp")
    val out = f.create(tmp, true)
    try out.write(m.writeValueAsBytes(node)) finally out.close()
    val dest = new org.apache.hadoop.fs.Path(root, StampMarker)
    graft.store.TsStore.atomicReplace(f, tmp, dest)
  }

  /** Resolve the marker ONCE, then open exactly that stamp's subtree:
    * (stamp, index frame, its sidecar centroids). Every probe built
    * on the returned pair reads one stamp's files only — the
    * structural never-mix guarantee. Throws before the first
    * cutover or on a sidecarless (torn) tree. */
  def openCurrentIvf(ss: org.apache.spark.sql.SparkSession, root: String)
      : (String, DataFrame, Array[Array[Double]]) = {
    val stamp = currentIvfStamp(ss, root).getOrElse(
      throw new IllegalStateException(
        s"$root has no cutover marker — no index is serving"))
    val path = ivfStampPath(root, stamp)
    val cents = loadCentroids(ss, path).getOrElse(
      throw new IllegalStateException(
        s"serving stamp '$stamp' has no centroid sidecar — torn tree"))
    (stamp, ss.read.parquet(path), cents)
  }

  /** Reclaim a retired stamp's tree. Refuses the SERVING stamp —
    * dropping it would yank files from live probes; retire, wait
    * out the caller's reader-grace dial, then drop. */
  def dropIvfStamp(ss: org.apache.spark.sql.SparkSession, root: String,
      stamp: String): Unit = {
    require(!currentIvfStamp(ss, root).contains(stamp),
      s"stamp '$stamp' is the SERVING index — cut over first")
    val f = graft.store.TsStore.rootFs(ss, root)
    f.delete(new org.apache.hadoop.fs.Path(ivfStampPath(root, stamp)), true)
  }

  /** Probe a stored IVF index (the output of [[ivfAssignments]],
    * typically read back from cell-partitioned parquet): each query
    * scores the centroid literals, probes its `nprobe` best cells via
    * the cell equi-join, and exact-cosine re-ranks the candidates.
    * Identical results to [[ivfTopK]] over the same centroids — the
    * stored index only moves the assignment scan to build time. */
  def probeIvfIndex(index: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      centroids: Array[Array[Double]], nprobe: Int = 4): DataFrame = {
    // queries probe their nprobe best cells: the fused kernel ranks
    // the per-cell scores descending and returns the first nprobe
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"),
        norm(col(vec)).as("__qn"),
        graft.functions.IvfTopCellsExpr(col(vec), centroids, nprobe)
          .as("__cells"))
      .select(col("query_id"), col("__qv"), col("__qn"),
        explode(col("__cells")).as("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(index, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosineWithNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Int8 scalar quantization + exact rerank — the memory-bandwidth
    * lever for 100 TB embedding search: the approximate scan reads a
    * 4×-smaller int8 index (with per-vector symmetric scale
    * s = max|v_i|/127), and only the per-query top `rerankC`
    * survivors fetch their full-precision vectors for exact cosine.
    *
    * Determinism contract (what makes the cross-engine oracle exact):
    * q_i = clamp(floor(v_i/s + 0.5), −127, 127) — floor(x+0.5), not
    * round(), because round's tie rule differs between engines; the
    * approximate cosine is pure integer math
    * dotq / √(Σq_a²·Σq_b²) — the scales cancel, the int products are
    * exact in double, and both engines compute the identical value.
    * Approx-rank ties break by neighbor id.
    *
    * The approximate stage keeps [[bruteForceTopK]]'s broadcast-loop
    * shape (queries ≪ corpus: no corpus shuffle); the rerank joins
    * the |Q|·rerankC survivors back to the full vectors by id — at
    * scale that is the only stage that touches float32 data. The
    * quantized (id, q, qn2) table is what a production deployment
    * PERSISTS; pass it as `prequantized` to skip re-quantizing. */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int, rerankC: Int = 20,
      prequantized: Option[DataFrame] = None): DataFrame = {
    val cq = prequantized.getOrElse(quantizeIndex(corpus, id, vec))
    val qq = broadcast(quantizeIndex(queries, id, vec)
      .withColumnRenamed("qid", "query_id")
      .withColumnRenamed("q", "__qq")
      .withColumnRenamed("qn2", "__qn2"))
    val dotq = aggregate(
      zip_with(col("__qq"), col("q"), (a, b) => a.cast("int") * b.cast("int")),
      lit(0L), (acc, x) => acc + x)
    val approx = dotq.cast("double") /
      sqrt(col("__qn2").cast("double") * col("qn2").cast("double"))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("__approx").desc, col("qid").asc)
    val survivors = qq.join(cq, col("query_id") =!= col("qid"))
      .withColumn("__approx", approx)
      .withColumn("__arank", row_number().over(wa))
      .filter(col("__arank") <= rerankC)
      .select(col("query_id"), col("qid").as("neighbor_id"))
    // exact rerank: only survivors fetch full-precision vectors
    val cv = corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv"),
      norm(col(vec)).as("__cn"))
    val qv = broadcast(queries.select(col(id).as("query_id"),
      col(vec).as("__qv"), norm(col(vec)).as("__qn")))
    val we = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    survivors.join(cv, "neighbor_id").join(qv, "query_id")
      .withColumn("cosine", cosineWithNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
      .withColumn("rank", row_number().over(we))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** The persistable int8 index: (qid, q array<tinyint>, qn2 = Σq_i²).
    * Zero vectors quantize to all-zero q (qn2 = 0 → approx cosine
    * null, ranked last — same contract as exact cosine on a zero
    * vector). */
  def quantizeIndex(df: DataFrame, id: String, vec: String): DataFrame = {
    val v = col(vec).cast("array<double>")
    val s = array_max(transform(v, x => abs(x))) / lit(127.0)
    val q = when(col("__s") === 0.0 || col("__s").isNull,
        transform(col("__v"), _ => lit(0).cast("tinyint")))
      .otherwise(transform(col("__v"), x =>
        greatest(lit(-127), least(lit(127),
          floor(x / col("__s") + lit(0.5)).cast("int"))).cast("tinyint")))
    df.select(col(id).as("qid"), v.as("__v"), s.as("__s"))
      .withColumn("q", q)
      .withColumn("qn2", aggregate(col("q"),
        lit(0L), (acc, x) => acc + x.cast("int") * x.cast("int")))
      .select("qid", "q", "qn2")
  }

  // ── product quantization (Jégou/Douze/Schmid, TPAMI 2011) ──────
  //
  // The 100 TB ANN STORAGE story: int8 scalar quantization (x6) cuts
  // a 64-d float vector 4× (64 bytes); PQ cuts it to m CODES — with
  // m=16 subspaces × 16 codewords, 16 nibbles ≈ 8 bytes, 32× (the
  // m/ksub the x12/x13 queries use; m=8 would be 4 bytes, 64×) — and
  // still answers nearest-neighbor queries through the asymmetric
  // distance computation (ADC): the query stays full-precision, each
  // encoded row's approximate distance is m table lookups into a
  // per-query distance table computed ONCE on the driver. A probe
  // therefore never touches a raw vector: the scan reads (id, codes)
  // only, the per-row work is m array-indexes + a fixed-order sum of
  // m doubles — codegen'd builtins, no UDF — and the raw corpus is
  // needed only for an optional exact re-rank of the top candidates.

  /** Train PQ codebooks: the dim-d space splits into `m` contiguous
    * subspaces of dim/m dims; independent k-means (`ksub` codewords)
    * per subspace over one seeded bounded sample (per-subspace seeds
    * differ so identical subspace distributions don't train identical
    * books). Driver-side like [[trainCentroids]] — the sample is
    * bounded, the corpus never moves. Returns books(m)(ksub)(dsub). */
  def trainPqCodebooks(corpus: DataFrame, vec: String, m: Int = 8,
      ksub: Int = 16, seed: Long = 42L, sampleSize: Int = 4096,
      iters: Int = 8): Array[Array[Array[Double]]] = {
    val sample = sampleVectors(corpus, vec, seed, sampleSize)
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { mi =>
      kmeans(sample.map(_.slice(mi * dsub, (mi + 1) * dsub)),
        ksub, iters, seed + mi)
    }
  }

  /** The per-row PQ code array for a vector column — the reusable
    * half of [[pqEncode]], so the stored composed index can compute
    * cell assignment AND codes in ONE corpus pass. One fused kernel
    * ([[graft.functions.PqEncodeExpr]]) with the m×ksub×dsub codebook
    * riding as a reference constant; per-subspace argmax arithmetic
    * (c·v − |c|²/2, ties toward the larger code) is unchanged — the
    * assignment order x3's oracle already proves bit-stable. */
  private[ops] def pqCodeArray(vecCol: org.apache.spark.sql.Column,
      books: Array[Array[Array[Double]]]): org.apache.spark.sql.Column =
    graft.functions.PqEncodeExpr(vecCol, books)

  /** Encode the corpus: (id, codes) with codes(mi) ∈ [0, ksub) the
    * nearest codeword of subspace mi. Pure per-row arithmetic riding
    * the scan — zero shuffle; write the result once and every later
    * probe reads codes instead of vectors. */
  def pqEncode(df: DataFrame, id: String, vec: String,
      books: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(id), pqCodeArray(col(vec), books).as("codes"))

  /** The per-query ADC distance table: dt(mi)(k) = ‖q_sub − c‖² —
    * driver-computed once per query (m·ksub doubles, a dial). */
  def pqDistanceTable(query: Array[Double],
      books: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val dsub = books(0)(0).length
    require(query.length == books.length * dsub,
      s"query dim ${query.length} != ${books.length}×$dsub")
    books.zipWithIndex.map { case (book, mi) =>
      val q = query.slice(mi * dsub, (mi + 1) * dsub)
      book.map { c =>
        var s = 0.0; var i = 0
        while (i < q.length) { val d = q(i) - c(i); s += d * d; i += 1 }
        s
      }
    }
  }

  /** ADC top-k over an encoded corpus: each row costs m literal-table
    * lookups plus a FIXED-ORDER sum of m doubles (left-associated,
    * subspace 0 first — the order the oracle mirrors, so adc values
    * reproduce bit-for-bit), then TakeOrdered moves k rows. */
  def pqTopK(encoded: DataFrame, id: String, dt: Array[Array[Double]],
      k: Int, keep: Seq[String] = Nil): DataFrame = {
    val adc = graft.functions.PqAdcExpr(
      col("codes").cast("array<int>"), dt)
    encoded.withColumn("adc", adc)
      .orderBy(col("adc").asc, col(id).asc).limit(k)
      .withColumn("rank", row_number().over(
        Analytics.tinySeqW.orderBy(col("adc").asc, col(id).asc)))
      .select(col(id) +: keep.map(col) :+ col("adc") :+ col("rank"): _*)
  }

  /** The full PQ probe: ADC shortlists `shortlist` candidates from
    * the encoded corpus (8-byte rows, no raw vectors), then ONLY the
    * shortlist re-ranks exactly against raw vectors — the standard
    * two-stage PQ deployment (coarse quantized scan + exact re-rank
    * of a dial-bounded set). The shortlist ids broadcast to the raw
    * side (`shortlist` rows, a dial), so the re-rank reads raw
    * vectors for the shortlist only — at 10⁹ vectors the probe scans
    * 8-byte codes and touches `shortlist` full vectors, never the
    * corpus. Exact distance uses the dot identity ‖q−v‖² = q·q + v·v
    * − 2·q·v — three [[graft.functions.DotProductExpr]] terms, the
    * cross-engine-proven kernel. Output: (id, `adc_rank` — where ADC
    * put the winner in its shortlist, pinning the quantized stage in
    * the hash — exact `d2`, final `rank`). */
  def pqSearch(encoded: DataFrame, raw: DataFrame, id: String, vec: String,
      query: Array[Double], dt: Array[Array[Double]], k: Int,
      shortlist: Int, keep: Seq[String] = Nil,
      keepEncoded: Seq[String] = Nil): DataFrame = {
    require(k <= shortlist, "re-rank cannot return more than the shortlist")
    // `keep` reads pass-through columns from the RAW side (x13's raw
    // frame carries its cell); `keepEncoded` rides them through the
    // SHORTLIST instead — a stored-index probe's raw side is the bare
    // corpus, the cell lives on the codes tree
    val sl = pqTopK(encoded, id, dt, shortlist, keepEncoded)
      .withColumnRenamed("rank", "adc_rank").drop("adc")
    val qlit = array(query.toSeq.map(lit): _*)
    val qq = query.map(x => x * x).sum
    val v = col(vec).cast("array<double>")
    val d2 = lit(qq) + graft.functions.DotProductExpr(v, v) -
      lit(2.0) * graft.functions.DotProductExpr(qlit, v)
    raw.join(broadcast(sl), id)
      .withColumn("d2", d2)
      .orderBy(col("d2").asc, col(id).asc).limit(k)
      .withColumn("rank", row_number().over(
        Analytics.tinySeqW.orderBy(col("d2").asc, col(id).asc)))
      .select(col(id) +: (keep ++ keepEncoded).map(col) :+
        col("adc_rank") :+ col("d2") :+ col("rank"): _*)
  }

  /** The query's `nprobe` nearest IVF cells, driver-side — the same
    * argmax arithmetic as [[graft.functions.IvfCellExpr]] (c·q − |c|²/2, ties toward
    * the larger cell), computed once per query on m·nlist doubles. */
  def queryCells(query: Array[Double], cents: Array[Array[Double]],
      nprobe: Int): Seq[Int] =
    cents.zipWithIndex.map { case (c, i) =>
      var s = 0.0; var j = 0
      while (j < c.length) { s += c(j) * query(j); j += 1 }
      (s - c.map(x => x * x).sum / 2, i)
    }.sortBy { case (s, i) => (-s, -i) }.take(nprobe).map(_._2).toSeq

  /** IVFADC — the composed 100 TB ANN architecture (FAISS's
    * production shape): IVF cell assignment PARTITION-PRUNES the
    * corpus to `nprobe` cells, PQ ADC ranks the survivors reading
    * codes only, and exact re-rank touches just the shortlist. The
    * three dials (nprobe/nlist fraction probed, 8-byte codes scanned,
    * `shortlist` raw vectors read) bound every stage independently of
    * corpus size; on a stored layout the cell filter is directory
    * pruning (`partitionBy("cell")`, the x5 contract) and the encoded
    * columns are the only thing the ADC scan deserializes. Output:
    * (id, cell, adc_rank, d2, rank). */
  def ivfPqSearch(corpus: DataFrame, id: String, vec: String,
      query: Array[Double], cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], dt: Array[Array[Double]],
      k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    val probed = queryCells(query, cents, nprobe)
    val bestCell = graft.functions.IvfCellExpr(col(vec), cents)
    val pruned = corpus.withColumn("cell", bestCell)
      .filter(col("cell").isin(probed: _*))
    // `cell` rides the re-rank as a pass-through column — the raw
    // side already carries it, so no extra assignment pass runs to
    // recover it for the k winners
    pqSearch(pqEncode(pruned, id, vec, books), pruned,
      id, vec, query, dt, k, shortlist, keep = Seq("cell"))
  }

  // ── stored IVFPQ (the PERSISTED composed index) ────────────────
  //
  // x13's formulation computes cells and codes in-query; at 10⁹
  // vectors the entire point of PQ is that a probe never recomputes
  // (or even reads) anything per-vector beyond the stored 8-byte
  // codes. The production layout, composing the machinery already
  // proven piecewise:
  //
  //   root/_current.json                — x10's cutover marker
  //   root/stamp=<s>/batch=N/cell=M/    — (id, codes) parquet ONLY:
  //                                       cell directories prune the
  //                                       probe (x5), batch slots make
  //                                       appends replay-idempotent (x7)
  //   root/stamp=<s>/_pq_books.json     — frozen codebooks
  //   root/stamp=<s>/_centroids.json    — frozen centroids, written
  //                                       LAST: the x10 commit point
  //                                       ([[ivfCutover]] gates on it)
  //
  // A probe = marker resolve → nprobe cells from the sidecar
  // (driver-side, m·nlist doubles) → directory-pruned read of those
  // cells' CODES → ADC → exact re-rank joining raw vectors for the
  // shortlist ids only. Retrain lands a whole new stamp aside and
  // [[ivfCutover]] flips the marker — the reference's
  // rebuild-then-swap merge (workers/frwdb/frwdb.h:28-33) applied to
  // the composed index.

  /** `_`-prefixed so parquet readers of the index tree skip it. */
  private[graft] val PqBooksFile = "_pq_books.json"

  /** Persist PQ codebooks next to their codes tree (the shared
    * [[writeJsonSidecar]] discipline: Double.toString round-trips
    * bit-exactly, tmp+rename commit). NOT the tree's commit point —
    * the centroid sidecar is written after this one and gates
    * [[ivfCutover]]. */
  def savePqBooks(ss: org.apache.spark.sql.SparkSession, indexRoot: String,
      books: Array[Array[Array[Double]]]): Unit = {
    val arr = new com.fasterxml.jackson.databind.ObjectMapper()
      .createArrayNode()
    books.foreach { book =>
      val b = arr.addArray()
      book.foreach { c => val row = b.addArray(); c.foreach(row.add) }
    }
    writeJsonSidecar(ss, indexRoot, PqBooksFile, arr)
  }

  /** The codebooks persisted by [[savePqBooks]], or None (absent →
    * torn or non-PQ tree). */
  def loadPqBooks(ss: org.apache.spark.sql.SparkSession, indexRoot: String)
      : Option[Array[Array[Array[Double]]]] =
    readJsonSidecar(ss, indexRoot, PqBooksFile).map { node =>
      (0 until node.size()).map { mi =>
        val book = node.get(mi)
        (0 until book.size()).map { k =>
          val row = book.get(k)
          (0 until row.size()).map(j => row.get(j).asDouble()).toArray
        }.toArray
      }.toArray
    }

  /** One corpus pass: (id, codes, cell) — cell assignment and PQ
    * encode fused, so a build never scans the corpus twice. */
  private def ivfPqAssignments(corpus: DataFrame, id: String, vec: String,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame = {
    val bestCell = graft.functions.IvfCellExpr(col(vec), cents)
    corpus.select(col(id), pqCodeArray(col(vec), books).as("codes"),
      bestCell.as("cell"))
  }

  /** Build a COMPLETE composed index under `root/stamp=<stamp>` while
    * whatever the marker names keeps serving: train centroids and
    * codebooks (seeded bounded samples), assign + encode the corpus
    * in ONE pass into cell-partitioned codes parquet (batch 0), then
    * commit sidecars — books first, centroids LAST so [[ivfCutover]]'s
    * existing completeness gate holds for PQ trees too. The marker is
    * untouched; nothing serves until cutover. */
  def ivfPqBuildStamp(corpus: DataFrame, root: String, stamp: String,
      id: String, vec: String, nlist: Int = 16, m: Int = 16,
      ksub: Int = 16, seed: Long = 42L, sampleSize: Int = 4096,
      iters: Int = 8)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val ss = corpus.sparkSession
    require(!currentIvfStamp(ss, root).contains(stamp),
      s"stamp '$stamp' is the SERVING index — rebuild under a new stamp")
    val path = ivfStampPath(root, stamp)
    val cents = trainCentroids(corpus, vec, nlist, seed, sampleSize, iters)
    val books = trainPqCodebooks(corpus, vec, m, ksub, seed,
      sampleSize, iters)
    ivfPqAssignments(corpus, id, vec, cents, books)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/batch=0")
    savePqBooks(ss, path, books)
    saveCentroids(ss, path, cents) // LAST: the commit point
    (cents, books)
  }

  /** Append one ingest batch to a stored composed index (x7's
    * contract): assign + encode against the FROZEN sidecars, land
    * under `batch=<batchId>` — O(batch), sidecars untouched,
    * replay-idempotent (the slot is overwritten). */
  def ivfPqAppendBatch(newVectors: DataFrame, indexPath: String,
      batchId: Long, id: String, vec: String): Unit = {
    require(batchId > 0, "batch 0 is the base build (ivfPqBuildStamp)")
    val ss = newVectors.sparkSession
    val cents = loadCentroids(ss, indexPath).getOrElse(
      throw new IllegalStateException(
        s"$indexPath holds no centroid sidecar — build the base first"))
    val books = loadPqBooks(ss, indexPath).getOrElse(
      throw new IllegalStateException(
        s"$indexPath holds no codebook sidecar — not a PQ tree"))
    ivfPqAssignments(newVectors, id, vec, cents, books)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"${indexPath.stripSuffix("/")}/batch=$batchId")
  }

  /** Resolve the marker once, open exactly that stamp's codes tree
    * with BOTH sidecars: (stamp, codes frame, centroids, codebooks).
    * Throws before the first cutover or on a torn tree — the
    * never-mix and never-serve-half guarantees of [[openCurrentIvf]]
    * extended to the composed index. */
  def openCurrentIvfPq(ss: org.apache.spark.sql.SparkSession, root: String)
      : (String, DataFrame, Array[Array[Double]],
         Array[Array[Array[Double]]]) = {
    val stamp = currentIvfStamp(ss, root).getOrElse(
      throw new IllegalStateException(
        s"$root has no cutover marker — no index is serving"))
    val path = ivfStampPath(root, stamp)
    val cents = loadCentroids(ss, path).getOrElse(
      throw new IllegalStateException(
        s"serving stamp '$stamp' has no centroid sidecar — torn tree"))
    val books = loadPqBooks(ss, path).getOrElse(
      throw new IllegalStateException(
        s"serving stamp '$stamp' has no codebook sidecar — not a PQ tree"))
    (stamp, ss.read.parquet(path), cents, books)
  }

  /** Probe a stored composed index: `nprobe` cells from the sidecar
    * centroids (driver-side), a DIRECTORY-PRUNED read of those cells'
    * codes (the `cell` filter hits the partition columns — at 10⁹
    * vectors the scan opens nprobe/nlist of the tree and
    * deserializes codes only), ADC via the per-query distance table,
    * exact re-rank joining `raw` vectors for the broadcast shortlist
    * ids alone. Results are IDENTICAL to [[ivfPqSearch]] over the
    * same corpus and constants — the stored tree only moves
    * assignment and encode to build time. */
  def probeStoredIvfPq(codes: DataFrame, raw: DataFrame, id: String,
      vec: String, query: Array[Double], cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], k: Int, nprobe: Int,
      shortlist: Int): DataFrame = {
    val dt = pqDistanceTable(query, books)
    val probed = queryCells(query, cents, nprobe)
    val pruned = codes.filter(col("cell").isin(probed: _*))
    pqSearch(pruned, raw, id, vec, query, dt, k, shortlist,
      keepEncoded = Seq("cell"))
  }

  /** Plain Lloyd k-means over the training sample (driver-side; the
    * sample is bounded, the corpus never moves). */
  private[ops] def kmeans(points: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty)
    val dim = points(0).length
    val rnd = new scala.util.Random(seed)
    var centroids = rnd.shuffle(points.toSeq).take(math.min(k, points.length))
      .map(_.clone).toArray
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      points.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var i = 0
        while (i < centroids.length) {
          val dd = d2(p, centroids(i)); if (dd < bd) { bd = dd; best = i }
          i += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      centroids = centroids.indices.map { i =>
        if (counts(i) == 0) points(rnd.nextInt(points.length)).clone
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    centroids
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    * threshold). Exact variant: self-join blocked by LSH band so the
    * join is an equi-join; with `blocked = false` falls back to the
    * exact O(n²) pair scan (only sane for small n / verification). */
  def cosineDupPairs(
      df: DataFrame, id: String, vec: String,
      threshold: Double, blocked: Boolean = true,
      nPlanes: Int = 12, bands: Int = 6, seed: Long = 42L): DataFrame = {
    val base = df.select(col(id), col(vec))
    val pairs =
      if (!blocked) {
        val a = base.select(col(id).as("id_a"), col(vec).as("__va"),
          norm(col(vec)).as("__na"))
        val b = base.select(col(id).as("id_b"), col(vec).as("__vb"),
          norm(col(vec)).as("__nb"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
      } else {
        // candidate generation moves IDS ONLY through the band shuffle
        // and the dedupe — the 64-double vectors re-attach afterwards by
        // id, so the heavy columns never ride the n×bands exploded rows
        val planes = randomPlanes(nPlanes, vecDim(df, vec), seed)
        val bits = nPlanes / bands
        val sig = hyperplaneSig(col(vec), planes)
        val bandCols = (0 until bands).map(b =>
          shiftright(col("__sig"), b * bits).bitwiseAND(lit((1L << bits) - 1)))
        val banded = base.withColumn("__sig", sig)
          .select(col(id), posexplode(array(bandCols: _*)))
          .toDF(id, "band", "bucket")
        val a = banded.select(col(id).as("id_a"), col("band"), col("bucket"))
        val b = banded.select(col(id).as("id_b"), col("band"), col("bucket"))
        val cand = a.join(b, Seq("band", "bucket"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        val va = base.select(col(id).as("id_a"), col(vec).as("__va"),
          norm(col(vec)).as("__na"))
        val vb = base.select(col(id).as("id_b"), col(vec).as("__vb"),
          norm(col(vec)).as("__nb"))
        cand.join(va, "id_a").join(vb, "id_b")
      }
    pairs
      .withColumn("cosine", cosineWithNorms(col("__va"), col("__vb"),
        col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Johnson–Lindenstrauss random projection: y = (1/√k)·P·v with a
    * seeded Gaussian plane matrix P (k × dim) — the standard
    * compression step BEFORE similarity search (64-d → 16-d cuts the
    * index and every downstream dot product 4×, with pairwise
    * distances preserved in expectation: E‖y_u−y_v‖² = ‖u−v‖²).
    * Per-row column arithmetic riding the scan — k fused
    * [[graft.functions.DotProductExpr]] loops per vector, no shuffle,
    * no UDF; the planes are frozen constants (same seed → same
    * matrix), so results are deterministic and any engine that inlines
    * the same doubles reproduces them bit-for-bit. */
  def randomProjection(df: DataFrame, id: String, vec: String,
      planes: Seq[Array[Double]]): DataFrame = {
    require(planes.nonEmpty)
    val scale = 1.0 / math.sqrt(planes.size.toDouble)
    // one fused kernel (matrix rides a reference constant) instead of
    // k separate DotProductExpr-over-array-literals: same per-plane
    // left-to-right summation and the same out(j) = dot_j · scale
    // arithmetic, so any engine inlining the same doubles still
    // reproduces the projections bit-for-bit
    df.select(col(id),
      graft.functions.RandomProjectExpr(col(vec), planes, scale).as("proj"))
  }
}
