package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED mergeable sketch state — the production shape of the
  * hh1/qs1/hll1 reconnaissance queries (the same argument as the
  * stored dedup/ANN indexes d12/x5): a 100 TB corpus cannot re-stream
  * through a sketch build per question, so the INGEST side computes
  * one bounded sketch-state row per (group, shard) once, persists the
  * narrow state table, and every later question costs a read+merge of
  * state whose size is set by the sketch dials, not the corpus.
  * Sharding mirrors ingest batches: any partitioning works because
  * every structure here is an exact algebraic merge —
  *
  *  - '''Count-Min''': depth×width count matrices; merging partials
  *    elementwise-sums them, which is BIT-EXACT equal to the
  *    single-pass sketch of the union (counts are sums), so the
  *    classic `truth ≤ estimate ≤ truth + ε·N` bound survives any
  *    shard split. State per shard: `depth × width` longs.
  *  - '''HLL''' (DataSketches, Spark's `hll_sketch_agg` /
  *    `hll_union_agg`): registers merge by per-slot max — order- and
  *    split-independent — so a union of shard partials meets the SAME
  *    rsd bound as a one-pass sketch (estimates can differ sub-rsd
  *    when the LIST→SET→HLL mode promotion lands at different points
  *    on the two paths; the shard split costs no accuracy, which is
  *    the contract). State per (group, shard): ≤ `2^lgK` registers.
  *  - '''Quantile grids''' (mergeable rank summaries): per
  *    (group, shard), the shard's EXACT order statistics at the k
  *    bucket boundaries (value + rank, so each grid point carries its
  *    bucket's row weight). A shard's CDF is reproduced within
  *    `⌈n_i/k⌉` ranks everywhere, so the merged weighted grid answers
  *    any quantile within `Σ⌈n_i/k⌉ ≤ N/k + #shards` ranks — the
  *    mergeable-summary bound [Greenwald-Khanna-style ε = 1/k], which
  *    callers REQUIRE against exact truth. Build cost is a
  *    within-shard sort (bounded by the shard, the unit that already
  *    fits an executor); the merge never sorts more than
  *    `#shards × k` grid points per group.
  *
  * Persisted with [[save]] under a caller-supplied stamp (the
  * engine's `sourceStamp` pattern: regenerated data re-keys the path,
  * so stale sketches can never serve silently). */
object Sketches {

  // ── Count-Min ───────────────────────────────────────────────────

  /** One serialized CMS per shard over `value`'s items. */
  def cmsPartials(df: DataFrame, value: String, shard: Column,
      eps: Double, confidence: Double, seed: Int): DataFrame =
    df.groupBy(shard.as("__shard"))
      .agg(expr(s"count_min_sketch(`$value`, ${eps}d, ${confidence}d, $seed)")
        .as("cms"))

  /** Merge stored CMS partials into one sketch. Driver-side by
    * design: the state is `#shards` blobs of `depth × width` longs —
    * the whole point is that this is tiny relative to the corpus. */
  def mergeCms(ss: SparkSession, path: String)
      : org.apache.spark.util.sketch.CountMinSketch = {
    val blobs = ss.read.parquet(path).select("cms").collect()
      .map(_.getAs[Array[Byte]](0))
    require(blobs.nonEmpty, s"$path holds no CMS partials")
    val first = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(blobs.head))
    blobs.tail.foldLeft(first) { (acc, b) =>
      acc.mergeInPlace(org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(b)))
    }
  }

  // ── HLL distinct sketches ──────────────────────────────────────

  /** One HLL register set per (group, shard) over `value`. */
  def hllPartials(df: DataFrame, value: String, groups: Seq[String],
      shard: Column, lgK: Int = 12): DataFrame =
    df.groupBy(groups.map(col) :+ shard.as("__shard"): _*)
      .agg(expr(s"hll_sketch_agg(`$value`, $lgK)").as("hll"))

  /** Union stored HLL partials per group → distinct estimates —
    * all-SQL, nothing rides the driver. */
  def hllEstimates(partials: DataFrame, groups: Seq[String],
      as: String = "approx_distinct"): DataFrame =
    partials.groupBy(groups.map(col): _*)
      .agg(expr("hll_sketch_estimate(hll_union_agg(hll))").as(as))

  // ── Mergeable quantile grids ───────────────────────────────────

  /** Per (group, shard): the shard's exact order statistics at the
    * `k` bucket boundaries, each carrying its bucket's row count —
    * `grid: array<struct<v: double, w: long>>` ascending, plus the
    * shard row count `n`. The within-shard sort is the build cost;
    * state is ≤ k rows per shard regardless of shard size. */
  def quantilePartials(df: DataFrame, value: String, groups: Seq[String],
      shard: Column, k: Int = 128): DataFrame = {
    // NULLs are excluded — row_number orders nulls first, so a null
    // value could otherwise become a grid point (v = null) and poison
    // low-q estimates through quantileEstimates' min(when(...)). The
    // grid's `n` therefore counts NON-NULL rows only: quantiles are
    // statements about values, and every caller's rank checks compare
    // against non-null truth.
    val sh = df.filter(col(value).isNotNull)
      .withColumn("__shard", shard)
      .withColumn("__v", col(value).cast("double"))
    val part = (groups :+ "__shard").map(col)
    val byV = Window.partitionBy(part: _*).orderBy(col("__v"))
    val all = Window.partitionBy(part: _*)
    // __rn as LONG before the ·k products: row_number is 32-bit and a
    // shard above ~2^31/k rows would overflow the boundary arithmetic
    val graded = sh
      .withColumn("__rn", row_number().over(byV).cast("long"))
      .withColumn("__n", count(lit(1)).over(all))
    // keep the LAST rank of each of the k equal-depth buckets: rows
    // where ⌊rn·k/n⌋ crosses a boundary — ≤ k rows, always includes
    // the shard max (rn = n)
    val sel = graded.filter(
      floor(col("__rn") * k / col("__n")) >
        floor((col("__rn") - 1) * k / col("__n")))
    val byRank = Window.partitionBy(part: _*).orderBy(col("__rn"))
    sel
      .withColumn("__w",
        col("__rn") - coalesce(lag(col("__rn"), 1).over(byRank), lit(0L)))
      .groupBy(part: _*)
      .agg(sort_array(collect_list(struct(col("__v").as("v"),
        col("__w").as("w")))).as("grid"), max("__n").as("n"))
  }

  /** Merged quantile estimates from stored grids: explode the grid
    * points (≤ `#shards × k` per group — the merge never touches
    * data), accumulate weights in value order, and read each `q` off
    * the merged CDF. Rank guarantee: the exact rank of the returned
    * value is within `N/k + #shards` of `q·N`. */
  def quantileEstimates(partials: DataFrame, groups: Seq[String],
      qs: Seq[(Double, String)]): DataFrame = {
    val pts = partials
      .select(groups.map(col) :+ explode(col("grid")).as("g"): _*)
      .select(groups.map(col) :+ col("g.v").as("v") :+ col("g.w").as("w"): _*)
    val byV = Window.partitionBy(groups.map(col): _*)
      .orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = pts
      .withColumn("__cum", sum("w").over(byV))
      .withColumn("__tot",
        sum("w").over(Window.partitionBy(groups.map(col): _*)))
    val aggs = qs.map { case (q, name) =>
      min(when(col("__cum") >= ceil(lit(q) * col("__tot")), col("v")))
        .as(name)
    }
    cum.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // ── persistence ────────────────────────────────────────────────

  /** Write a partial-state table under `root/<kind>_<stamp>` —
    * overwrite (state derives deterministically from its source; the
    * stamp key makes staleness impossible, not the write mode). */
  def save(partials: DataFrame, root: String, kind: String,
      stamp: String): String = {
    val path = s"${root.stripSuffix("/")}/${kind}_$stamp"
    partials.write.mode("overwrite").parquet(path)
    path
  }

  /** STREAMING maintenance: land one micro-batch's partial-state rows
    * under `root/<kind>_<stamp>/batch=<id>` — the foreachBatch sink
    * shape. REPLAY-IDEMPOTENT by construction: the batch id keys the
    * subdirectory and the write OVERWRITES it, so a crashed batch
    * re-delivered by the checkpoint replays into the SAME slot
    * instead of appending a duplicate partial (the st6 write-order
    * pattern; an `append`-mode write here would double-count every
    * replayed row). Readers need no special entry point: a plain
    * `spark.read.parquet(root/<kind>_<stamp>)` discovers `batch=N` as
    * a partition column, and every merge in this family is
    * shard-algebraic, so per-batch partials merge exactly like any
    * other sharding. */
  def appendBatch(partials: DataFrame, root: String, kind: String,
      stamp: String, batchId: Long): String = {
    val path = s"${root.stripSuffix("/")}/${kind}_$stamp/batch=$batchId"
    partials.write.mode("overwrite").parquet(path)
    path
  }

  /** True iff a state table for (kind, stamp) is already present. */
  def exists(ss: SparkSession, root: String, kind: String,
      stamp: String): Boolean =
    graft.store.TsStore.rootFs(ss, root)
      .exists(new org.apache.hadoop.fs.Path(
        s"${root.stripSuffix("/")}/${kind}_${stamp}/_SUCCESS"))

  // ── batch-slot compaction ──────────────────────────────────────
  //
  // A long-running stream lands one `batch=N` slot per micro-batch
  // forever: after a week at a 10 s trigger that is ~60k slot dirs
  // per sketch kind, and every query's merge pays the listing plus a
  // state row set per batch. Compaction folds every slot at or below
  // a caller-supplied watermark into ONE consolidated slot, so the
  // steady read cost is O(groups + batches-since-compaction), not
  // O(stream lifetime).
  //
  // REPLAY SAFETY — why a watermark below the newest slot suffices:
  // Structured Streaming commits a batch's offsets only after the
  // foreachBatch body returns, and on restart redelivers ONLY the
  // one batch whose commit is missing — batches behind the committed
  // offset are never delivered again. So folding slots STRICTLY
  // below the newest present batch can never collide with a
  // checkpoint replay (enforced with a require below); a replay of
  // the newest batch overwrites its own still-separate slot exactly
  // as before.
  //
  // CRASH SAFETY — stage → marker → apply (the store's commit
  // pattern): the consolidated state is staged to an
  // underscore-hidden dir, an atomic marker write is the commit
  // point, and apply (delete folded slots, rename the staged dir
  // into `batch=<upTo>`) rolls forward idempotently from the marker
  // at the next compaction entry. No marker ⇒ nothing applied and a
  // stale staged dir is inert (hidden from readers, overwritten by
  // the next attempt). Same single-writer caveat as the band-index
  // compactor: a CROSS-PROCESS reader that listed slots just before
  // apply can hit deleted dirs; in-process callers are serialized by
  // the stream's single sink.

  private val CompactStaged = "__compacting"
  private val CompactMarker = "_compact.json"

  private def hfs(ss: SparkSession) = org.apache.hadoop.fs.FileSystem
    .get(ss.sparkContext.hadoopConfiguration)

  private def slotIds(f: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).sorted

  /** Roll a crashed compaction forward (idempotent; called at every
    * [[compactBatches]] entry, callable directly after a restart).
    * The marker alone re-derives the work: delete every present slot
    * below its watermark; the watermark slot itself is replaced only
    * while the staged dir still exists (if the rename already
    * happened, the consolidated slot is live and must stand). */
  def recoverCompaction(ss: SparkSession, root: String, kind: String,
      stamp: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(
      s"${root.stripSuffix("/")}/${kind}_$stamp")
    val f = hfs(ss)
    val marker = new org.apache.hadoop.fs.Path(dir, CompactMarker)
    if (!f.exists(marker)) return false
    val upTo = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.store.TsStore.readJsonBytes(f, marker))
      .path("upTo").asLong()
    applyCompaction(f, dir, upTo)
    true
  }

  private def applyCompaction(f: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, upTo: Long): Unit = {
    val staged = new org.apache.hadoop.fs.Path(dir, CompactStaged)
    slotIds(f, dir).filter(_ < upTo).foreach(b =>
      f.delete(new org.apache.hadoop.fs.Path(dir, s"batch=$b"), true))
    if (f.exists(staged)) {
      val dest = new org.apache.hadoop.fs.Path(dir, s"batch=$upTo")
      f.delete(dest, true)
      if (!f.rename(staged, dest))
        throw new java.io.IOException(
          s"sketch compaction: could not place $dest")
    }
    f.delete(new org.apache.hadoop.fs.Path(dir, CompactMarker), false)
  }

  /** The shared protocol: consolidate every slot `<= upTo` into one
    * slot at `batch=<upTo>` via the kind-specific `consolidate`
    * (which sees the folded slots' raw partial rows and must return
    * rows in the SAME partial schema). Returns the number of slots
    * folded (0 = nothing to do). */
  private[ops] def compactBatches(ss: SparkSession, root: String,
      kind: String, stamp: String, upTo: Long)(
      consolidate: DataFrame => DataFrame): Int = {
    val dirStr = s"${root.stripSuffix("/")}/${kind}_$stamp"
    val dir = new org.apache.hadoop.fs.Path(dirStr)
    val f = hfs(ss)
    recoverCompaction(ss, root, kind, stamp)
    val slots = slotIds(f, dir)
    require(slots.nonEmpty, s"$dirStr holds no batch slots")
    require(slots.max > upTo,
      s"compaction watermark $upTo must be STRICTLY below the newest " +
        s"batch ${slots.max}: only the newest batch can be redelivered " +
        "by a checkpoint replay, so it must keep its own slot")
    val inScope = slots.filter(_ <= upTo)
    if (inScope.size <= 1) return 0
    val staged = new org.apache.hadoop.fs.Path(dir, CompactStaged)
    f.delete(staged, true)
    val src = ss.read.parquet(inScope.map(b => s"$dirStr/batch=$b"): _*)
    consolidate(src).write.parquet(staged.toString)
    // marker write = the commit point (atomic create-over)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("upTo", upTo)
    node.put("folded", inScope.size)
    val out = f.create(new org.apache.hadoop.fs.Path(dir, CompactMarker), true)
    try out.write(m.writeValueAsBytes(node)) finally out.close()
    applyCompaction(f, dir, upTo)
    inScope.size
  }

  /** Fold CMS batch slots ≤ `upTo` into one: the driver merges the
    * dial-bounded blobs (elementwise sum — BIT-EXACT equal to a
    * single sketch of the union, so compaction costs zero accuracy)
    * and writes the one merged row back. */
  def compactCmsBatches(ss: SparkSession, root: String, stamp: String,
      upTo: Long, kind: String = "cms"): Int =
    compactBatches(ss, root, kind, stamp, upTo) { src =>
      val blobs = src.select("cms").collect().map(_.getAs[Array[Byte]](0))
      // every in-scope slot can be EMPTY (zero-row micro-batches write
      // empty partials — routine in production streams): consolidate
      // to an empty slot rather than dying on blobs.head
      if (blobs.isEmpty) src.limit(0)
      else {
        val merged = blobs.tail.foldLeft(
          org.apache.spark.util.sketch.CountMinSketch.readFrom(
            new java.io.ByteArrayInputStream(blobs.head))) { (acc, b) =>
          acc.mergeInPlace(org.apache.spark.util.sketch.CountMinSketch
            .readFrom(new java.io.ByteArrayInputStream(b)))
        }
        val bos = new java.io.ByteArrayOutputStream()
        merged.writeTo(bos)
        val shardType = src.schema("__shard").dataType
        src.limit(1).select(
          lit(upTo).cast(shardType).as("__shard"),
          lit(bos.toByteArray).as("cms"))
      }
    }

  /** Fold HLL batch slots ≤ `upTo` into one row per group via
    * `hll_union_agg` — the SAME union the read side
    * ([[hllEstimates]]) applies, so the compacted state meets the
    * identical rsd contract. */
  def compactHllBatches(ss: SparkSession, root: String, stamp: String,
      upTo: Long, kind: String = "hll"): Int =
    compactBatches(ss, root, kind, stamp, upTo) { src =>
      val groups = src.columns.filterNot(Set("__shard", "hll")).toSeq
      val shardType = src.schema("__shard").dataType
      src.groupBy(groups.map(col): _*)
        .agg(expr("hll_union_agg(hll)").as("hll"))
        .withColumn("__shard", lit(upTo).cast(shardType))
        .select(src.columns.map(col): _*)
    }

  /** Fold quantile-grid batch slots ≤ `upTo` into one re-summarized
    * grid of `k` weighted points per group: explode the in-scope grid
    * points, accumulate weights in value order, and keep the last
    * point of each of `k` equal-WEIGHT buckets (each selected point
    * absorbs the skipped points' weight). One extra summarization
    * level, so the merged-rank slack at most DOUBLES (≤ 2N/k + the
    * shard terms) — callers that compact should check against the
    * doubled bound. */
  def compactQuantileBatches(ss: SparkSession, root: String, stamp: String,
      upTo: Long, k: Int = 128, kind: String = "qgrid"): Int =
    compactBatches(ss, root, kind, stamp, upTo) { src =>
      val groups = src.columns.filterNot(Set("__shard", "grid", "n")).toSeq
      val part = groups.map(col)
      val shardType = src.schema("__shard").dataType
      val pts = src
        .select(groups.map(col) :+ explode(col("grid")).as("g"): _*)
        .select(groups.map(col) :+ col("g.v").as("__v")
          :+ col("g.w").as("__w"): _*)
      val byV = Window.partitionBy(part: _*).orderBy(col("__v"), col("__w"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val graded = pts
        .withColumn("__cum", sum("__w").over(byV))
        .withColumn("__tot", sum("__w").over(Window.partitionBy(part: _*)))
      // boundary points: where ⌊cum·k/tot⌋ crosses — ≤ k per group,
      // always includes the group max (cum = tot)
      val sel = graded.filter(
        floor(col("__cum") * k / col("__tot")) >
          floor((col("__cum") - col("__w")) * k / col("__tot")))
      val byCum = Window.partitionBy(part: _*).orderBy(col("__cum"))
      sel
        .withColumn("__w2",
          col("__cum") - coalesce(lag(col("__cum"), 1).over(byCum), lit(0L)))
        .groupBy(part: _*)
        .agg(sort_array(collect_list(struct(col("__v").as("v"),
          col("__w2").as("w")))).as("grid"), max(col("__tot")).as("n"))
        .withColumn("__shard", lit(upTo).cast(shardType))
        .select(src.columns.map(col): _*)
    }
}
