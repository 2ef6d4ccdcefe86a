package graft

import graft.fmt.Render
import graft.functions.{TextFunctions, TimeUnits, VectorFunctions, Zint}
import graft.ops._
import graft.schema.SdbSchema
import graft.catalog.Catalog
import graft.sources.{BinaryRows, Dbf, Sources}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: the engine's query inventory (SURVEY.md §2) with a
  * DuckDB-SQL oracle per query. Column names are aligned between each
  * DataFrame result and its oracle; every query ends in a deterministic
  * total ORDER BY on both sides; doubles are rounded on both sides.
  *
  * Timestamps are exported as epoch milliseconds (bigint) or
  * `yyyy-MM-dd` strings so the hash compare never depends on engine
  * timestamp rendering. Sessions run in UTC.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Total-order key for the events stream: ms timestamp ⊕ unique id.
    * This is the ingest-sequence the reference gets implicitly from
    * arrival order (sisdb_fmap_write.c:374-385). */
  private val evKey: Column = unix_millis(col("ts")) * 1000000L + col("event_id")
  private val evKeySql = "epoch_ms(ts)*1000000+event_id"

  /** DuckDB SQL: unsigned FNV-1a-64 fold over string expression `c`
    * (ASCII corpus ⇒ code points == UTF-8 bytes) as HUGEINT in
    * [0, 2^64) — the same fold tx4/mm2 use, factored for reuse. */
  private def fnvU(c: String): String =
    s"""list_reduce(
       list_prepend(14695981039346656037::HUGEINT,
         list_transform(range(1, length($c)+1), i -> ascii(($c)[i])::HUGEINT)),
       (h, b) -> (xor(h::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
                 % 18446744073709551616::HUGEINT)"""

  /** Unsigned 2^64-space HUGEINT → Java signed long (two's complement). */
  private def toSigned(u: String): String =
    s"""(CASE WHEN $u >= 9223372036854775808::HUGEINT
         THEN $u - 18446744073709551616::HUGEINT ELSE $u END)::BIGINT"""

  /** Flagship query on sf=0.001: daily OHLCV rollup of the events
    * stream — the reference's bread-and-butter tick→day aggregation. */
  def entry(spark: SparkSession): DataFrame =
    qRollupOhlc(spark, "/root/testdata/sf0.001")

  // ───────────────────────── scans / filters ─────────────────────────

  /** S1/P2: time-range scan with projection — filter + column pruning
    * must reach the parquet scan. */
  private def qRangeScan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp")))
      .select(col("l_orderkey"), col("l_linenumber"),
        unix_millis(col("l_shipdate")).as("ship_ms"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy("l_orderkey", "l_linenumber")

  /** P1: projection with predicate. */
  private def qProjection(s: SparkSession, dir: String): DataFrame =
    Query.fields(
      t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
      .withColumn("o_totalprice", round(col("o_totalprice"), 2))
      .orderBy("o_orderkey")

  /** P2 `start = -1`: latest record per subject (`gets`). */
  private def qLastPerKey(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("k", evKey)
    Query.lastRows(e, "user_id", "k")
      .select(col("user_id"), unix_millis(col("ts")).as("last_ms"),
        col("event_type"), round(col("value"), 2).as("value"))
      .orderBy("user_id")
  }

  /** P3: where-equality on the main index with offset = -1 (the record
    * before each match, per subject). */
  private def qWhereOffset(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .withColumn("ship_ms", unix_millis(col("l_shipdate")))
    val target = java.time.LocalDate.parse("1996-06-15")
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    Query.whereOffset(li, "l_suppkey", "ship_ms", target, -1,
        tieBreak = Seq("l_orderkey", "l_linenumber"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "ship_ms")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** P4: composite predicate vocabulary (isin / between / contains). */
  private def qPredicates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderstatus").isin("F", "O") &&
        col("o_totalprice").between(1000, 50000) &&
        col("o_orderpriority").contains("URGENT"))
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus", "o_orderpriority")

  /** P6: key prefix matching. */
  private def qPrefixMatch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("source").startsWith("src1"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
      .orderBy("source")

  // ───────────────────────────── joins ───────────────────────────────

  /** S4/T2: ordered whole-day replay — all keys' series interleaved in
    * (time, ingest-seq) order, the reference's `psub` playback stream
    * (the streaming delivery path is [[graft.stream.Replay]]). */
  private def qReplayDay(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("k", evKey)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05")
      .orderBy("k")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("t_ms"))

  /** M6: drop a whole subject. */
  private def qDropKey(s: SparkSession, dir: String): DataFrame =
    Write.dropKey(t(s, dir, "events"), "user_id", 3L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum("value"), 2).as("total"))
      .orderBy("event_type")

  /** J1: k-way time-ordered merge of two streams. */
  private def qMergeStreams(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(
      unix_millis(col("ts")).as("t_ms"), lit("event").as("kind"),
      round(col("value"), 2).as("v"))
    val o = t(s, dir, "orders").select(
      unix_millis(col("o_orderdate")).as("t_ms"), lit("order").as("kind"),
      round(col("o_totalprice"), 2).as("v"))
    e.unionByName(o).orderBy("t_ms", "kind", "v")
  }

  /** J2: as-of join — for each purchase, the latest click of the same
    * user at or before it (union + running-last, one shuffle; see
    * [[graft.ops.AsOf]]). */
  private def qAsOf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts")).withColumn("k", evKey)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id")).withColumn("k", evKey)
      .select(col("user_id"), col("k").as("ck"), col("k").as("click_key"))
    AsOf.join(purchases, clicks, Seq("user_id"), "k", "ck", Seq("click_key"))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("p_ms"), col("click_key"))
      .orderBy("event_id")
  }

  /** J3 + real joins: revenue per nation through a 4-table join with
    * broadcast dimensions. */
  private def qJoinRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** J4 interval (range) join: per-user 6 h activity windows (opening
    * at the user's first event of the day) joined to the day's full
    * event stream — every (window, event) containment pair, then
    * aggregated per window. A bare `pt >= lo AND pt < hi` join predicate
    * plans as BroadcastNestedLoopJoin / cartesian (O(|W|·|E|), fatal at
    * scale); [[graft.ops.RangeJoin.binned]] rewrites it to a shuffled
    * equi-join on the bin id — REQUIREd on the executed plan here, so a
    * planner regression fails the correctness gate. Reference behavior:
    * the day-quantized block range reads of SIS_DISK_TYPE_SDB_DATE
    * (src/core/disk/readme.md; per-day block search
    * workers/sisdb/sisdb_fmap_read.c:52-345), generalized to a join. */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val day = t(s, dir, "events")
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-10")
    val windows = day.groupBy(col("user_id").as("w_user"))
      .agg(min(unix_millis(col("ts"))).as("lo_ms"))
      .withColumn("hi_ms", col("lo_ms") + lit(6L * 3600 * 1000))
    val pts = day.select(col("event_id").as("p_event"),
      unix_millis(col("ts")).as("t_ms"), col("value"))
    val joined = RangeJoin.binned(windows, col("lo_ms"), col("hi_ms"),
      pts, col("t_ms"), binWidth = 3600L * 1000)
    val plan = joined.queryExecution.executedPlan.toString
    require(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join did not plan as a binned equi-join:\n$plan")
    joined.groupBy(col("w_user").as("user_id"))
      .agg(count(lit(1)).as("n_in_window"), round(sum("value"), 2).as("total"))
      .orderBy("user_id")
  }

  /** J5 interval × interval overlap join: per-user activity windows
    * against a fixed maintenance-window grid, via
    * [[graft.ops.RangeJoin.overlap]]'s bin rewrite (pair emitted only
    * from the overlap-start bin — exactly once, no dedup). */
  private def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val dayLo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val uw = t(s, dir, "events")
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-10")
      .groupBy(col("user_id").as("w_user"))
      .agg(min(unix_millis(col("ts"))).as("u_lo"))
      .withColumn("u_hi", col("u_lo") + lit(6L * 3600 * 1000))
    val maint = s.range(8).select(col("id").as("m_id"),
        (lit(dayLo) + col("id") * lit(3L * 3600 * 1000)).as("m_lo"))
      .withColumn("m_hi", col("m_lo") + lit(2L * 3600 * 1000))
    RangeJoin.overlap(uw, col("u_lo"), col("u_hi"),
        maint, col("m_lo"), col("m_hi"), binWidth = 3600L * 1000)
      .groupBy(col("w_user").as("user_id"))
      .agg(count(lit(1)).as("n_maint"), min("m_id").as("first_maint"))
      .orderBy("user_id")
  }

  /** A9 one-pass table profiler: min/max/null-count/distinct-count per
    * column in a SINGLE scan + aggregate (the multi-countDistinct
    * expand), unpivoted to one row per column — the data-profiling
    * stage of pipeline onboarding. Numeric and string extremes ride
    * separate typed columns so no engine-dependent double→string
    * rendering enters the hash. */
  private def qProfileStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
        min("l_quantity").as("min_q"), max("l_quantity").as("max_q"),
        sum(when(col("l_quantity").isNull, 1).otherwise(0)).as("null_q"),
        countDistinct("l_quantity").as("ndv_q"),
        min("l_extendedprice").as("min_p"), max("l_extendedprice").as("max_p"),
        sum(when(col("l_extendedprice").isNull, 1).otherwise(0)).as("null_p"),
        countDistinct("l_extendedprice").as("ndv_p"),
        min("l_returnflag").as("min_r"), max("l_returnflag").as("max_r"),
        sum(when(col("l_returnflag").isNull, 1).otherwise(0)).as("null_r"),
        countDistinct("l_returnflag").as("ndv_r"))
      .selectExpr("""stack(3,
        'l_quantity', min_q, max_q, cast(null as string), cast(null as string), null_q, ndv_q,
        'l_extendedprice', min_p, max_p, cast(null as string), cast(null as string), null_p, ndv_p,
        'l_returnflag', cast(null as double), cast(null as double), min_r, max_r, null_r, ndv_r)
        AS (col_name, min_num, max_num, min_str, max_str, n_null, n_distinct)""")
      .orderBy("col_name")

  // ───────────────────────── aggregations ────────────────────────────

  /** A-family: grouped pricing summary (TPC-H Q1 shape). */
  private def qPricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A1: daily OHLCV bars per event type. */
  private def qRollupOhlc(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    Rollup.ohlc(e,
        Seq(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day")),
        evKey, col("value"), volume = Some(col("value")))
      .select(col("event_type"), col("day"),
        round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
        round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
        col("cnt"), round(col("volume"), 2).as("volume"))
      .orderBy("event_type", "day")
  }

  /** A10 — INCREMENTAL ROLLUP maintenance ([[graft.ops.Rollup
    * .ohlcPartials]]/[[graft.ops.Rollup.mergeBarPartials]]): the
    * stored daily rollup is maintained under ingest without ever
    * recomputing from scratch — per-batch OHLCV partials carry their
    * first/last order keys, making bars CLOSED under merge, and land
    * in replay-idempotent batch slots (the st8/x7 contract applied to
    * the reference's bread-and-butter aggregate: O(batch) work per
    * arrival). Slot accretion is bounded by the stage→marker→apply
    * compactor, and merge-of-merges equals the one-shot merge, so
    * compaction costs zero accuracy. REQUIREd in-query: a replayed
    * ingest batch does not grow the stored state, compaction folds
    * exactly the in-scope slots, and the merged bars equal the
    * from-scratch rollup of the union — picked fields and counts
    * EXACTLY, the float volume within 1e-6 (sums reassociate). The
    * oracle is a1's relational contract over the whole table. */
  private def qRollupIncremental(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_a10_rollup/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val e = t(s, dir, "events")
    val grp = Seq(col("event_type"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))
    def partials(df: DataFrame) =
      Rollup.ohlcPartials(df, grp, evKey, col("value"), col("value"))
    // base corpus vs two later ingest batches — modulo split so the
    // shape survives SfScale's id-shifted replicas
    val base = e.filter(pmod(col("event_id"), lit(4)) < 2)
    val b1 = e.filter(pmod(col("event_id"), lit(4)) === 2)
    val b2 = e.filter(pmod(col("event_id"), lit(4)) === 3)
    Sketches.appendBatch(partials(base), root, "ohlc", "live", 0L)
    Sketches.appendBatch(partials(b1), root, "ohlc", "live", 1L)
    Sketches.appendBatch(partials(b2), root, "ohlc", "live", 2L)
    val stored = s"$root/ohlc_live"
    val rowsAfter = s.read.parquet(stored).count()
    // replayed ingest batch: the slot overwrite keeps the state flat
    Sketches.appendBatch(partials(b2), root, "ohlc", "live", 2L)
    require(s.read.parquet(stored).count() == rowsAfter,
      "replayed batch grew the stored rollup state")
    val folded = Rollup.compactBarPartialBatches(s, root, "live",
      upTo = 1L, groupCols = Seq("event_type", "day"))
    require(folded == 2, s"expected to fold 2 slots, folded $folded")
    val merged = Rollup.finalizeBars(
      s.read.parquet(stored).drop("batch"), Seq("event_type", "day"))
      .localCheckpoint() // consumed twice: the cross-check + output
    val fresh = Rollup.ohlc(e, grp, evKey, col("value"),
      volume = Some(col("value")))
    val bad = Rollup.barDivergence(merged, fresh, Seq("event_type", "day"))
    require(bad == 0,
      s"incremental rollup diverged from from-scratch on $bad bars")
    merged.select(col("event_type"), col("day"),
      round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
      round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
      col("cnt"), round(col("volume"), 2).as("volume"))
      .orderBy("event_type", "day")
  }

  /** A11 — CDC-DRIVEN ROLLUP MAINTENANCE
    * ([[graft.ops.Rollup.maintainDayPartials]] fed by
    * [[graft.api.Engine.changesBetween]]): the reference's headline
    * cross-scale propagation of WRITES (workers/sisdb/sisdb.h:36-42;
    * README1.MD "自动完成…数据聚合" — a tick write, or rewrite,
    * propagates to the day bar) for a maintainer DOWNSTREAM of the
    * store. a10 merges partials from ingest batches the maintainer
    * itself observes; here the maintainer observes only the CHANGE
    * FEED between two committed generations: feed inserts merge into
    * new partial slots (closed under merge, O(inserts)); feed
    * updates/deletes mark their days dirty, and ONLY those days
    * recompute from the new pinned state (whose `__day` partition
    * filter prunes the rebuild scan — REQUIREd in-plan). REQUIREd
    * further: every op class fires; untouched days' stored files are
    * byte-identical (listing compare); insert-only days gained
    * exactly the one new slot; and the feed-maintained bars equal the
    * from-scratch rollup of the final state bar-for-bar. Output: the
    * final bars, hash-checked against the relational rebuild. */
  private def qCdcRollup(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_a11_cdc/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, s"$root/eng")
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8],eid:[I,8]}}}")
    val ev = t(s, dir, "events").filter(col("user_id") < 10)
    def payloads(rows: DataFrame): Array[(Long, String)] =
      rows.select(col("user_id"), to_json(struct(
          col("ts").as("t"), col("event_type").as("etype"),
          col("value").as("value"), col("event_id").as("eid"))).as("j"))
        .groupBy("user_id")
        .agg(concat(lit("["), concat_ws(",", collect_list("j")),
          lit("]")).as("arr"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
    // generation 1: three quarters of the stream
    payloads(ev.filter(pmod(col("event_id"), lit(4)) < 3))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev")
    val g1 = eng.snapshotVersions("ev").last
    val okey = unix_millis(col("t")) * 1000000L + col("eid")
    val barRoot = s"$root/bars"
    // bootstrap the stored bar partials from the gen-1 pin (one-time)
    val s1 = eng.openSnapshotAt("ev", g1).get
    Rollup.maintainDayPartials(s1, Seq.empty, s1, barRoot,
      col("__day"), Seq(col("etype")), okey, col("value"), col("value"),
      slot = 0L)
    // changes: inserts (the last quarter), u3 re-valued on six days,
    // u2 range-deleted — each its own committed generation class
    payloads(ev.filter(pmod(col("event_id"), lit(4)) === 3))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    payloads(ev.filter(pmod(col("event_id"), lit(4)) < 3 &&
        col("user_id") === 3 &&
        date_format(col("ts"), "yyyy-MM-dd")
          .between("2024-01-03", "2024-01-08"))
        .withColumn("value", col("value") + 1))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev")
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-15T23:59:59.999Z").toEpochMilli
    eng.del("u2.ev", s"""{range:{start:$lo,stop:$hi}}""")
    val gN = eng.snapshotVersions("ev").max
    val feed = eng.changesBetween("ev", g1, gN).localCheckpoint()
    val ops = feed.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(ops.keySet == Set("insert", "update", "delete"),
      s"the scenario must exercise every op class, got $ops")
    // `t` is a diff KEY, so it rides top-level on every feed row;
    // the payload structs carry only the non-key fields
    val dirtyDays = feed.filter(col("op").isin("update", "delete"))
      .select(date_format(col("t"), "yyyy-MM-dd").as("d"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    val inserts = feed.filter(col("op") === "insert")
      .select(col("t"), col("new.etype").as("etype"),
        col("new.value").as("value"), col("new.eid").as("eid"))
      .withColumn("__day", date_format(col("t"), "yyyy-MM-dd"))
    val sN = eng.openSnapshotAt("ev", gN).get
    // the dirty-day rebuild must PRUNE the pinned read to those days —
    // the maintenance cost is O(changed days) at any corpus size
    val rbPlan = sN.filter(col("__day").isin(dirtyDays: _*))
      .queryExecution.executedPlan.toString
    require(rbPlan.contains("PartitionFilters: [") &&
      rbPlan.replaceAll(
        "(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("__day"),
      s"dirty-day rebuild does not prune partitions:\n$rbPlan")
    def listing(): Map[String, Set[String]] = {
      val f = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      val base = new org.apache.hadoop.fs.Path(barRoot)
      f.listStatus(base).filter(_.getPath.getName.startsWith("day="))
        .map { d =>
          val it = f.listFiles(d.getPath, true)
          val files = scala.collection.mutable.Set.empty[String]
          while (it.hasNext) files += it.next().getPath.toString
          d.getPath.getName.stripPrefix("day=") -> files.toSet
        }.toMap
    }
    val before = listing()
    val (insDays, rebuilt) =
      Rollup.maintainDayPartials(inserts, dirtyDays, sN, barRoot,
        col("__day"), Seq(col("etype")), okey, col("value"), col("value"),
        slot = 1L)
    require(insDays.nonEmpty && rebuilt.nonEmpty,
      s"degenerate scenario: insDays=$insDays rebuilt=$rebuilt")
    require(graft.ops.Rollup.pendingMaintenance(s, barRoot).isEmpty,
      "a completed maintenance round left its in-flight marker")
    require(insDays.toSet.intersect(rebuilt.toSet).isEmpty,
      "insert slots must not land on rebuilt days")
    val after = listing()
    (before.keySet -- insDays -- rebuilt).foreach { d =>
      require(after(d) == before(d),
        s"untouched day $d was rewritten by the maintenance pass")
    }
    insDays.foreach { d =>
      // getOrElse: a feed insert can land on a BRAND-NEW day (absent
      // from the bootstrap store), whose expected "before" is empty
      require(after(d).filterNot(_.contains("batch=1")) ==
        before.getOrElse(d, Set.empty),
        s"insert-only day $d changed beyond its appended slot")
      require(after(d).exists(_.contains("batch=1")),
        s"insert-only day $d did not gain its slot")
    }
    rebuilt.foreach { d =>
      require(!after.contains(d) ||
        after(d).intersect(before.getOrElse(d, Set.empty)).isEmpty,
        s"dirty day $d kept stale partial files")
    }
    // the maintained store must equal the from-scratch rollup
    val stored = s.read.parquet(barRoot)
      .withColumn("day", col("day").cast("string")).drop("batch")
    val merged = Rollup.finalizeBars(stored, Seq("etype", "day"))
      .localCheckpoint() // consumed twice: the cross-check + output
    val fresh = Rollup.ohlc(
      sN.withColumn("day", col("__day")),
      Seq(col("etype"), col("day")), okey, col("value"),
      volume = Some(col("value")))
    val bad = Rollup.barDivergence(merged, fresh, Seq("etype", "day"))
    require(bad == 0,
      s"feed-maintained rollup diverged from from-scratch on $bad bars")
    merged.select(col("etype"), col("day"),
      round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
      round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
      col("cnt"), round(col("volume"), 2).as("volume"))
      .orderBy("etype", "day")
  }

  /** A1 hierarchy: day bars roll up to month bars (fine feeds coarse —
    * the reference's 数据层级 cascade). */
  private def qRollupMonth(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val day = Rollup.ohlc(e,
      Seq(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day")),
      evKey, col("value"), volume = Some(col("value")))
    Rollup.rollUpBars(day,
        Seq(col("event_type"), substring(col("day"), 1, 7).as("month")),
        col("day"))
      .select(col("event_type"), col("month"),
        round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
        round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
        round(col("volume"), 2).as("volume"))
      .orderBy("event_type", "month")
  }

  /** A4: mean & (exact, interpolated) median per group. */
  private def qStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(round(avg("value"), 6).as("avg_value"),
        round(median(col("value")), 6).as("med_value"),
        round(expr("percentile(value, 0.9)"), 6).as("p90_value"))
      .orderBy("event_type")

  /** A6: min-max normalization within groups. */
  private def qNormalize(s: SparkSession, dir: String): DataFrame =
    Analytics.minMaxNorm(t(s, dir, "orders"), "o_totalprice",
        Seq("o_orderpriority"), "norm")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("norm"), 6).as("norm"))
      .orderBy("o_orderkey")

  /** A7: equal-frequency bucketing (ntile). */
  private def qBuckets(s: SparkSession, dir: String): DataFrame =
    Analytics.buckets(t(s, dir, "orders"), 10,
        Seq(col("o_totalprice").asc, col("o_orderkey").asc), "bucket")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("bucket")

  /** A8: top-K ranked set. */
  private def qTopK(s: SparkSession, dir: String): DataFrame =
    Analytics.topK(t(s, dir, "orders"), 25,
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("total"))

  // ──────────────────── window / series analytics ────────────────────

  /** W1/W2 + A5: drift, acceleration, bounded running mean per subject
    * series. */
  private def qDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("k", evKey)
    val w = Window.partitionBy("user_id").orderBy("k")
    e.select(col("event_id"),
        round(Analytics.drift(col("value"), w), 6).as("drift"),
        round(Analytics.accel(col("value"), w), 6).as("accel"),
        round(Analytics.runningAvg(col("value"), w, 10), 6).as("ravg10"))
      .orderBy("event_id")
  }

  /** Running cumulative sum + row_number per subject. */
  private def qRunningSum(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("k", evKey)
    val w = Window.partitionBy("user_id").orderBy("k")
    e.select(col("event_id"), row_number().over(w).as("rn"),
        round(sum("value").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 6)
          .as("cum_value"))
      .orderBy("event_id")
  }

  /** W5: Pearson correlation per group. */
  private def qCorr(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qp"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** W6: max-correlation lag search over aligned daily series. */
  private def qLagCorr(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val daily = e.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(avg(when(col("event_type") === "click", col("value"))).as("cv"),
        avg(when(col("event_type") === "purchase", col("value"))).as("pv"))
    Analytics.lagCorr(daily, "cv", "pv", "day", 5)
      .select(col("offset"), round(col("corr_xy"), 6).as("corr_xy"))
      .orderBy("offset")
  }

  // ─────────────────────── sorts / limits / sets ─────────────────────

  /** O2: per-subject `count = -3` (last 3 records per user). */
  private def qLimitPerKey(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("k", evKey)
    Query.limitPerSubject(e, "user_id", "k", -3)
      .select("user_id", "event_id")
      .orderBy("user_id", "event_id")
  }

  /** §2.7 set ops: INTERSECT / EXCEPT over key sets. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    def users(tp: String) =
      e.filter(col("event_type") === tp).select("user_id").distinct()
    users("purchase").intersect(users("click")).except(users("error"))
      .orderBy("user_id")
  }

  // ───────────────────────── write algebra ───────────────────────────

  /** M3: unique-key upsert — incoming half replaces existing half per
    * (subject, solely, time-bucket); highest ingest seq wins. */
  private def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("seq", col("event_id"))
      .select("user_id", "event_type", "day", "value", "seq", "event_id")
    val existing = e.filter(col("event_id") < 5000)
    val incoming = e.filter(col("event_id") >= 5000)
    Write.upsert(existing, incoming, "user_id", Seq("event_type"), "day",
        "seq", tieBreak = Seq(col("event_id").desc))
      .select(col("user_id"), col("event_type"), col("day"),
        round(col("value"), 2).as("value"))
      .orderBy("user_id", "event_type", "day")
  }

  /** M5: delete-by-range as an anti-filter rewrite. */
  private def qDeleteRange(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val lo = java.time.LocalDate.parse("2024-01-10")
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    val hi = java.time.LocalDate.parse("2024-01-20")
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    Write.deleteRange(e.withColumn("t_ms", unix_millis(col("ts"))),
        col("t_ms"), lo, hi)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("event_type")
  }

  /** Time-unit corners: D→T end-of-day ms (sis_dynamic.c:382). */
  private def qTimeUnits(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_shipdate")).distinct()
      .select(TimeUnits.dayInt(col("l_shipdate")).as("day_int"),
        TimeUnits.dayIntToEodMs(
          TimeUnits.dayInt(col("l_shipdate"))).as("eod_ms"))
      .orderBy("day_int")

  // ───────────── dedup / similarity / text (north star) ──────────────

  /** Exact dedup on normalized text. */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "dup_count")
      .orderBy("doc_id")

  /** Word-3-gram Jaccard near-dup pairs (blocked by lang) — exact, via
    * the inverted shingle index (shingle once per doc, equi-join on the
    * shingle): identical output to the all-pairs formulation but scales
    * linearly instead of O(n²) text re-shingling per pair. */
  private def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
        t(s, dir, "documents").select("doc_id", "lang", "text"),
        "doc_id", "text", 3, minJaccard = 0.05, blockCols = Seq("lang"))
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
      .orderBy("id_a", "id_b")

  /** d4's high-threshold scale path: the PREFIX-FILTERED set-
    * similarity join ([[Dedup.ngramJaccardPairsPrefix]]) — only the
    * (1-t)·n+1 RAREST shingles per doc are indexed (the PPJoin prefix
    * principle, document-frequency order), so at t=0.7 the inverted
    * index and its shuffle carry ~30% of the postings and candidates
    * must collide on a rare shingle; survivors are verified exactly
    * from the full arrays. Output — and hence the oracle — is identical in
    * form to d4's, at the threshold real training-data dedup uses.
    * The sf1 run measured d4's all-postings join at 7.1× for 10×
    * data (fixed blocking); this is the shape that holds the line. */
  private def qNgramJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", 3, minJaccard = 0.7)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
      .orderBy("id_a", "id_b")

  /** Winnowing (rolling-hash) containment candidates — detects shared
    * passages, not just whole-doc near-dups; rows-only (fingerprints
    * are engine hashes), guarantee asserted in DedupSpec. */
  private def qWinnowPairs(s: SparkSession, dir: String): DataFrame =
    // k=16/window=64: only runs of >= 79 shared chars (a sentence-ish
    // passage) fingerprint together — short template phrases don't
    Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
        minShared = 2, k = 16, window = 64)
      .orderBy("id_a", "id_b")

  /** Embedding-cosine near-dup pairs — the EXACT all-pairs baseline
    * (inherently O(n²) output in the worst case; kept as the oracle
    * reference). The scale paths are `d5b` (LSH-blocked, same output
    * shape, shuffle ∝ candidates) and `x2_ann_lsh`. */
  private def qCosineDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineDupPairs(
        t(s, dir, "embeddings").withColumn("embedding",
          col("embedding").cast("array<double>")),
        "vec_id", "embedding", threshold = 0.3, blocked = false)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")

  /** The 100 TB variant of `d5`: candidates from LSH band buckets
    * (equi-join, no cross join), exact cosine only on candidates —
    * oracle-checked via the same inlined-plane reproduction as x2.
    * 56 planes / 8 bands = 7-bit buckets: unrelated pairs collide at
    * ~0.5^7 per band (~6% of n² total candidates), and the bit width
    * is THE dial that keeps candidates sublinear as n grows. */
  private def qCosineDupBlocked(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineDupPairs(
        t(s, dir, "embeddings").withColumn("embedding",
          col("embedding").cast("array<double>")),
        "vec_id", "embedding", threshold = 0.3, blocked = true,
        nPlanes = 56, bands = 8)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")

  /** D9 semantic dedup end-to-end: embedding-cosine near-dup pairs
    * (d5b's LSH-blocked scale path, ids-only shuffle) → connected
    * components (d7's operator) → keep-one-representative decisions
    * per semantic cluster — the full SemDeDup-style pipeline as one
    * declarative composition. Representative = cluster-min vec_id
    * (deterministic; the oracle re-derives it via recursive CTE). */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val pairs = Similarity.cosineDupPairs(emb, "vec_id", "embedding",
      threshold = 0.3, blocked = true, nPlanes = 56, bands = 8)
    val cc = Dedup.connectedComponents(emb.select("vec_id"), "vec_id",
      pairs.select("id_a", "id_b"))
    val w = Window.partitionBy("cluster_id")
    cc.withColumn("csize", count(lit(1)).over(w))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
      .select("vec_id", "cluster_id", "csize", "keep")
      .orderBy("vec_id")
  }

  /** Brute-force exact top-k cosine ANN baseline. */
  private def qAnnTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed ANN (scale path) — rows-only check; recall is asserted
    * against the brute-force baseline in ScalaTest. */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** The x3 oracle needs the driver-trained centroids as SQL literals
    * (the same freeze-the-constants trick as x2's hyperplanes) — k-means
    * runs on a seeded bounded sample, so for a fixed data dir the
    * centroids are deterministic. qAnnIvf stashes them here at run
    * time; `oracleSql` (evaluated by Verify AFTER the queries run)
    * inlines them. Empty stash → no x3 entry → rows-only check, the
    * pre-round-4 behavior. */
  private[graft] object RpOracle {
    @volatile var planes: Option[Seq[Array[Double]]] = None
  }

  /** X11 — Johnson–Lindenstrauss RANDOM PROJECTION
    * ([[graft.ops.Similarity.randomProjection]]): 64-d → 16-d before
    * indexing, the standard compression that cuts the ANN index and
    * every downstream dot product 4×. Per-row fused-loop arithmetic
    * riding the scan — no shuffle, no UDF. The JL distance-preserving
    * contract (E‖y_u−y_v‖² = ‖u−v‖², ratio concentration ~χ²₁₆/16) is
    * REQUIREd in-query over a bounded pair sample: mean distortion
    * within ±30%, every pair within [0.1, 3.0] — generous vs the
    * ~0.35 χ² std (the sf0.01 draw's worst pair sits at 2.52) so the
    * gate is a contract, not a flake. */
  private def qRandomProjection(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val dim = emb.limit(1).select(size(col("embedding")))
      .collect()(0).getInt(0)
    val planes = VectorFunctions.randomPlanes(16, dim, seed = 42L)
    RpOracle.planes = Some(planes)
    val proj = Similarity.randomProjection(emb, "vec_id", "embedding", planes)
    val sample = emb.filter(col("vec_id") < 20)
      .join(proj.filter(col("vec_id") < 20), "vec_id")
    val a = sample.select(col("vec_id").as("ia"),
      col("embedding").as("va"), col("proj").as("pa"))
    val b = sample.select(col("vec_id").as("ib"),
      col("embedding").as("vb"), col("proj").as("pb"))
    val ratios = a.join(b, col("ia") < col("ib"))
      // duplicate vectors have zero original distance — no distortion
      // to measure (0/0); the JL contract quantifies over DISTINCT
      // points, so they drop from the audit, not fail it
      .filter(VectorFunctions.l2sq(col("va"), col("vb")) > 0.0)
      .select((VectorFunctions.l2sq(col("pa"), col("pb")) /
        VectorFunctions.l2sq(col("va"), col("vb"))).as("r"))
      .collect().map(_.getDouble(0))
    require(ratios.nonEmpty, "JL audit sample is empty")
    val mean = ratios.sum / ratios.length
    require(mean > 0.7 && mean < 1.3,
      f"JL mean distortion $mean%.3f outside [0.7, 1.3]")
    require(ratios.forall(r => r > 0.1 && r < 3.0),
      s"JL pairwise distortion escaped [0.1, 3.0]: " +
        s"min=${ratios.min} max=${ratios.max}")
    proj.select(col("vec_id"), posexplode(col("proj")))
      .toDF("vec_id", "dim", "v")
      .select(col("vec_id"), col("dim"), round(col("v"), 6).as("v"))
      .orderBy("vec_id", "dim")
  }

  private[graft] object PqOracle {
    @volatile var books: Option[Array[Array[Array[Double]]]] = None
    @volatile var dt: Option[Array[Array[Double]]] = None
    @volatile var query: Option[Array[Double]] = None
  }

  /** X12 — PRODUCT QUANTIZATION + ADC ([[graft.ops.Similarity
    * .trainPqCodebooks]]/[[graft.ops.Similarity.pqEncode]]/
    * [[graft.ops.Similarity.pqTopK]]): the ANN storage end-game —
    * 64-d float vectors compress to 16 codes (one per 4-dim subspace,
    * 16 codewords each = 16 nibbles ≈ 8 bytes/vector, 32×), and the
    * probe ranks by asymmetric distance: a per-query 16×16 distance
    * table computed once on the driver, each encoded row costing 16
    * literal-table lookups + a fixed-order sum — the scan never
    * touches a raw vector. (The 4-dim/16-codeword split beats
    * 8-dim/16 on this structure-free corpus: same bytes, double the
    * subspace resolution — shortlist recall 0.4 → 0.8 at sf0.1.) Encode reuses the IVF assignment arithmetic per subspace
    * (dot − |c|²/2 argmax, the x3-proven bit-stable form), so the
    * whole pipeline — train frozen, encode, ADC shortlist, exact
    * re-rank ([[graft.ops.Similarity.pqSearch]]: the standard
    * two-stage PQ probe — only the 100-row shortlist ever touches a
    * raw vector) — reproduces in SQL with the codebooks and distance
    * table inlined; the winners' `adc_rank` rides the output, so the
    * quantized stage itself is pinned in the hash, not just the
    * re-rank. REQUIREd in-query: re-ranked recall@10 against the
    * exact-L2 top-10 meets its floor (the shortlist must actually
    * capture the neighborhood — raw ADC@10 measures ~0.2 on this
    * structure-free corpus, the re-rank is what makes PQ usable). */
  private def qPqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val books = Similarity.trainPqCodebooks(emb, "embedding",
      m = 16, ksub = 16)
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Double](0).toArray
    val dt = Similarity.pqDistanceTable(qv, books)
    PqOracle.books = Some(books)
    PqOracle.dt = Some(dt)
    PqOracle.query = Some(qv)
    val cand = emb.filter(col("vec_id") =!= 0)
    val enc = Similarity.pqEncode(cand, "vec_id", "embedding", books)
    val top = Similarity.pqSearch(enc, cand, "vec_id", "embedding",
        qv, dt, k = 10, shortlist = 100)
      .localCheckpoint() // consumed twice: the recall REQUIRE + output
    val got = top.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = cand.select(col("vec_id"),
        VectorFunctions.l2sq(col("embedding"),
          array(qv.toSeq.map(lit): _*)).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.intersect(exact).size / 10.0
    // margin line rides every Verify/Bench run (any SF, incl. the
    // SfScale sf1 corpus) so the dial headroom is visible per SF
    System.err.println(f"[x12] recall@10 = $recall%.2f (floor 0.60)")
    require(recall >= 0.6,
      f"PQ shortlist recall@10 $recall%.2f below the 0.6 floor — " +
        "the ADC shortlist is not capturing the neighborhood")
    top.select(col("vec_id"), col("adc_rank"),
      round(col("d2"), 6).as("d2"), col("rank"))
  }

  private[graft] object IvfPqOracle {
    @volatile var cents: Option[Array[Array[Double]]] = None
    @volatile var books: Option[Array[Array[Array[Double]]]] = None
    @volatile var dt: Option[Array[Array[Double]]] = None
    @volatile var query: Option[Array[Double]] = None
    @volatile var probed: Option[Seq[Int]] = None
  }

  /** X13 — IVFADC ([[graft.ops.Similarity.ivfPqSearch]]): the
    * composed production ANN probe — x3's IVF cell pruning feeds
    * x12's PQ ADC scan feeds the exact re-rank. Each stage's cost is
    * its own dial, independent of corpus size: nprobe/nlist bounds
    * the fraction scanned at all (here 4/16), the ADC stage reads
    * 8-byte codes for the survivors only, and `shortlist` bounds the
    * raw vectors ever touched. All constants (centroids, codebooks,
    * distance table, probed cells) freeze into the oracle, so cell
    * assignment → pruning → ADC ranking → re-rank reproduce
    * bit-for-bit in SQL. REQUIREd in-query: the cell filter actually
    * prunes (strict subset, non-empty), and re-ranked recall@10 vs
    * the exact-L2 top-10 OVER THE PROBED SUBSET meets the x12 floor —
    * the IVF stage's global loss is the user's nprobe dial, the PQ
    * stage's loss is the thing gated. */
  private def qIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val cand = emb.filter(col("vec_id") =!= 0)
    val cents = Similarity.trainCentroids(emb, "embedding", nlist = 16)
    val books = Similarity.trainPqCodebooks(emb, "embedding",
      m = 16, ksub = 16)
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Double](0).toArray
    val dt = Similarity.pqDistanceTable(qv, books)
    val probed = Similarity.queryCells(qv, cents, nprobe = 4)
    IvfPqOracle.cents = Some(cents); IvfPqOracle.books = Some(books)
    IvfPqOracle.dt = Some(dt); IvfPqOracle.query = Some(qv)
    IvfPqOracle.probed = Some(probed)
    val top = Similarity.ivfPqSearch(cand, "vec_id", "embedding", qv,
        cents, books, dt, k = 10, nprobe = 4, shortlist = 100)
      .localCheckpoint() // consumed twice: the recall REQUIRE + output
    // the probed subset (one bounded assignment pass — the audit's
    // ground truth, not part of the probe's cost model)
    val prunedIds = Similarity
      .ivfAssignments(cand, "vec_id", "embedding", cents)
      .filter(col("cell").isin(probed: _*))
      .select(col("neighbor_id").as("vec_id"))
    val prunedN = prunedIds.count(); val candN = cand.count()
    require(prunedN > 0 && prunedN < candN,
      s"IVF pruning did not prune: $prunedN of $candN survived")
    val exact = cand.join(prunedIds, "vec_id")
      .select(col("vec_id"), VectorFunctions.l2sq(col("embedding"),
        array(qv.toSeq.map(lit): _*)).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = top.select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    System.err.println(f"[x13] recall@10 = $recall%.2f (floor 0.60)")
    require(recall >= 0.6,
      f"IVFADC probed-subset recall@10 $recall%.2f below the 0.6 floor")
    top.select(col("vec_id"), col("cell"), col("adc_rank"),
      round(col("d2"), 6).as("d2"), col("rank")).orderBy("rank")
  }

  private[graft] object StoredIvfPqOracle {
    @volatile var cents: Option[Array[Array[Double]]] = None
    @volatile var books: Option[Array[Array[Array[Double]]]] = None
    @volatile var dt: Option[Array[Array[Double]]] = None
    @volatile var query: Option[Array[Double]] = None
    @volatile var probed: Option[Seq[Int]] = None
  }

  /** X14 — STORED IVFPQ ([[graft.ops.Similarity.ivfPqBuildStamp]] /
    * [[graft.ops.Similarity.probeStoredIvfPq]]): x13's composed probe
    * over a PERSISTED index — the production deployment at 10⁹
    * vectors, where a probe must never recompute (or read) anything
    * per-vector beyond the stored 8-byte codes. Build: one corpus
    * pass fuses cell assignment and PQ encode into cell-partitioned
    * codes parquet under a stamp dir, codebook sidecar then centroid
    * sidecar LAST (the x10 commit point), [[graft.ops.Similarity
    * .ivfCutover]] flips the marker — the reference's
    * rebuild-then-swap lifecycle (workers/frwdb/frwdb.h:28-33)
    * applied to the composed index (steady passes resolve the marker
    * and probe; SimilaritySpec drives the full retrain→swap→drop
    * cycle). Probe: nprobe cells driver-side from the sidecar → a
    * DIRECTORY-PRUNED read of those cells' codes (REQUIREd in-plan:
    * PartitionFilters on `cell`, ReadSchema free of any vector
    * column) → ADC → exact re-rank joining raw vectors for the
    * 100-row broadcast shortlist only. REQUIREd further: the stored
    * probe EQUALS the in-query x13 formulation row-for-row (the tree
    * only moves work to build time — zero drift through the parquet
    * round-trip), pruning is strict and non-empty, and probed-subset
    * recall@10 meets the x12/x13 floor. */
  private def qStoredIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val cand = emb.filter(col("vec_id") =!= 0)
    val root = s"/tmp/graft_x14_ivfpq/${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
      s"_${sourceStamp(s, dir, "embeddings")}"
    // pass 1 (or regenerated source data): build aside + cut over;
    // steady passes resolve the marker and probe the stored tree only
    if (Similarity.currentIvfStamp(s, root).isEmpty) {
      Similarity.ivfPqBuildStamp(cand, root, "g1", "vec_id", "embedding",
        nlist = 16, m = 16, ksub = 16)
      Similarity.ivfCutover(s, root, "g1")
    }
    val (_, codes, cents, books) = Similarity.openCurrentIvfPq(s, root)
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Double](0).toArray
    val dt = Similarity.pqDistanceTable(qv, books)
    val probed = Similarity.queryCells(qv, cents, nprobe = 4)
    StoredIvfPqOracle.cents = Some(cents)
    StoredIvfPqOracle.books = Some(books)
    StoredIvfPqOracle.dt = Some(dt)
    StoredIvfPqOracle.query = Some(qv)
    StoredIvfPqOracle.probed = Some(probed)
    // the probe's code scan must be directory-pruned to the nprobe
    // cells and must deserialize codes, never a vector column
    val pruned = codes.filter(col("cell").isin(probed: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    val pf = plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
    require(plan.contains("PartitionFilters: [") && pf.contains("cell"),
      s"stored-PQ probe does not prune cell directories:\n$plan")
    // assert on the scan's ReadSchema section, not the whole plan
    // string — the plan also embeds file paths, and a data root whose
    // PATH contains the substring "embedding" must not fail a correct
    // codes-only scan
    val readSchema = "ReadSchema: ([^\\n]*)".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    require(readSchema.contains("codes") &&
      !readSchema.contains("embedding"),
      s"stored-PQ probe must read codes only, got ReadSchema " +
        s"'$readSchema':\n$plan")
    val top = Similarity.probeStoredIvfPq(codes, cand, "vec_id",
        "embedding", qv, cents, books, k = 10, nprobe = 4,
        shortlist = 100)
      .localCheckpoint() // consumed thrice: equality + recall + output
    // the stored tree only moves assignment/encode to build time —
    // the probe must equal the in-query x13 formulation row-for-row
    val inQuery = Similarity.ivfPqSearch(cand, "vec_id", "embedding",
        qv, cents, books, dt, k = 10, nprobe = 4, shortlist = 100)
      .select("vec_id", "cell", "adc_rank", "d2", "rank")
      .orderBy("rank").collect().toSeq
    val storedRows = top.select("vec_id", "cell", "adc_rank", "d2", "rank")
      .orderBy("rank").collect().toSeq
    require(storedRows == inQuery,
      s"stored probe diverged from the in-query formulation:\n" +
        s"stored   $storedRows\nin-query $inQuery")
    // pruning is strict; recall over the probed subset meets the floor
    val prunedIds = pruned.select(col("vec_id"))
    val prunedN = prunedIds.count(); val candN = cand.count()
    require(prunedN > 0 && prunedN < candN,
      s"IVF pruning did not prune: $prunedN of $candN survived")
    val exact = cand.join(prunedIds, "vec_id")
      .select(col("vec_id"), VectorFunctions.l2sq(col("embedding"),
        array(qv.toSeq.map(lit): _*)).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = top.select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    System.err.println(f"[x14] recall@10 = $recall%.2f (floor 0.60)")
    require(recall >= 0.6,
      f"stored IVFPQ probed-subset recall@10 $recall%.2f below the floor")
    top.select(col("vec_id"), col("cell"), col("adc_rank"),
      round(col("d2"), 6).as("d2"), col("rank")).orderBy("rank")
  }

  private[graft] object StreamPqOracle {
    @volatile var cents: Option[Array[Array[Double]]] = None
    @volatile var books: Option[Array[Array[Array[Double]]]] = None
    @volatile var dt: Option[Array[Array[Double]]] = None
    @volatile var query: Option[Array[Double]] = None
    @volatile var probed: Option[Seq[Int]] = None
  }

  /** ST10 — STREAMING vector-index maintenance
    * ([[graft.ops.Similarity.ivfPqAppendBatch]] under a Structured
    * Streaming sink): the stored IVFPQ index (x14) kept current by a
    * live embedding feed — the shape a training-data pipeline
    * actually runs, where vectors arrive continuously and the index
    * must absorb them at O(batch) cost without retraining or
    * rewriting. The base builds + cuts over (x14's lifecycle); a
    * file-source stream then lands each micro-batch as one
    * `batch=<id>` slot of assign+encode against the FROZEN sidecars.
    * Batch-id slots make the ingest exactly-once under crash/replay:
    * REQUIREd, a redelivered batch (the restarted-checkpoint path,
    * st8's drill) re-lands in its slot and the index does not grow;
    * REQUIREd further, the sidecars are bit-identical after the
    * stream (no silent retrain — the x7 contract on the composed
    * index), the streamed tree's probe EQUALS the in-query
    * formulation over the union (assignment and encode are pure
    * per-row functions of the frozen constants), and probed-subset
    * recall@10 holds its floor. Output: the x13-shaped top-k, oracle
    * = the shared composed SQL with THIS query's frozen constants
    * (trained on the base split only). */
  private def qStreamVectorIndex(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_streampq/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val cand = emb.filter(col("vec_id") =!= 0)
    val baseSplit = cand.filter(pmod(col("vec_id"), lit(4)) < 2)
    val root = s"$base/index"
    val (cents, books) = Similarity.ivfPqBuildStamp(baseSplit, root, "g1",
      "vec_id", "embedding", nlist = 16, m = 16, ksub = 16)
    Similarity.ivfCutover(s, root, "g1")
    val g1Path = Similarity.ivfStampPath(root, "g1")
    // two feed files in pinned mtime order (the st6/st8 fixture)
    val feedDf = cand.select("vec_id", "embedding")
    val now = System.currentTimeMillis()
    writeFeedFile(feedDf, base, pmod(col("vec_id"), lit(4)) === 2,
      "b0", now - 120000L)
    writeFeedFile(feedDf, base, pmod(col("vec_id"), lit(4)) === 3,
      "b1", now - 60000L)
    val sink: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        Long) => Unit =
      (b, id) => Similarity.ivfPqAppendBatch(b.toDF(), g1Path, id + 1,
        "vec_id", "embedding")
    val q = s.readStream.schema(feedDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/feed")
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // CRASH REPLAY: redeliver batch 0 exactly as a restarted
    // checkpoint would — the slot overwrite keeps the index flat
    val nRows = s.read.parquet(g1Path).count()
    sink(s.read.parquet(s"$base/feed/b0.parquet"), 0L)
    require(s.read.parquet(g1Path).count() == nRows,
      "replayed ingest batch grew the streamed vector index")
    require(nRows == cand.count(),
      s"streamed index holds $nRows codes for ${cand.count()} vectors")
    // frozen sidecars: appends must never touch the trained constants
    val (stamp, codes, c2, b2) = Similarity.openCurrentIvfPq(s, root)
    require(stamp == "g1" &&
      c2.flatten.toSeq == cents.flatten.toSeq &&
      b2.flatten.flatten.toSeq == books.flatten.flatten.toSeq,
      "streaming appends mutated the frozen sidecars")
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Double](0).toArray
    val dt = Similarity.pqDistanceTable(qv, b2)
    val probed = Similarity.queryCells(qv, c2, nprobe = 4)
    StreamPqOracle.cents = Some(c2); StreamPqOracle.books = Some(b2)
    StreamPqOracle.dt = Some(dt); StreamPqOracle.query = Some(qv)
    StreamPqOracle.probed = Some(probed)
    val top = Similarity.probeStoredIvfPq(codes, cand, "vec_id",
        "embedding", qv, c2, b2, k = 10, nprobe = 4, shortlist = 100)
      .localCheckpoint() // consumed thrice: equality + recall + output
    val inQuery = Similarity.ivfPqSearch(cand, "vec_id", "embedding",
        qv, c2, b2, dt, k = 10, nprobe = 4, shortlist = 100)
      .select("vec_id", "cell", "adc_rank", "d2", "rank")
      .orderBy("rank").collect().toSeq
    val storedRows = top.select("vec_id", "cell", "adc_rank", "d2", "rank")
      .orderBy("rank").collect().toSeq
    require(storedRows == inQuery,
      s"streamed-index probe diverged from the in-query formulation:\n" +
        s"stored   $storedRows\nin-query $inQuery")
    val prunedIds = codes.filter(col("cell").isin(probed: _*))
      .select(col("vec_id"))
    val exact = cand.join(prunedIds, "vec_id")
      .select(col("vec_id"), VectorFunctions.l2sq(col("embedding"),
        array(qv.toSeq.map(lit): _*)).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = top.select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    require(recall >= 0.6,
      f"streamed IVFPQ probed-subset recall@10 $recall%.2f below the floor")
    top.select(col("vec_id"), col("cell"), col("adc_rank"),
      round(col("d2"), 6).as("d2"), col("rank")).orderBy("rank")
  }

  private[graft] object PqDriftOracle {
    @volatile var cents: Option[Array[Array[Double]]] = None
    @volatile var books: Option[Array[Array[Array[Double]]]] = None
    @volatile var dt: Option[Array[Array[Double]]] = None
    @volatile var query: Option[Array[Double]] = None
    @volatile var probed: Option[Seq[Int]] = None
  }

  /** X15 — DRIFT-DRIVEN RETRAIN of the STORED composed index
    * ([[graft.ops.Similarity.pqCodeDriftStats]] /
    * [[graft.ops.Similarity.pqCodeMaxTv]] + the x10 cutover on the
    * x14 tree): the WHEN-to-retrain loop closed on the production
    * index shape. x9's cell-share dial is proven on flat IVF; a
    * composed IVFPQ tree needs a PQ-level signal too — a within-cell
    * distribution shift can move the FINE codes while coarse cell
    * counts hold — so the monitor watches BOTH, and both read the
    * stored tree's 8-byte codes ONLY (batch=0 = the training
    * distribution, batch=N = an append; REQUIREd in-plan: the
    * monitor's scan deserializes codes, never a vector). Flow: g1
    * builds on the base split and serves; an in-distribution batch
    * appends (both dials REQUIREd quiet — append-don't-retrain); a
    * shifted batch appends (x9's +1-per-coordinate covariate shift;
    * both dials REQUIREd to FIRE, each ≥ 3× its quiet twin); the
    * fired dial drives x10's lifecycle on the PQ tree — retrain on
    * the live union under stamp g2, one marker flip, drop g1 —
    * and the retrained probe's recall against the exact brute-force
    * top-10 on the union is REQUIREd ≥ the stale tree's (retraining
    * must not make search worse). Output: the post-cutover stored
    * probe, REQUIREd row-equal to the in-query formulation with g2's
    * constants and hash-checked against the composed relational
    * oracle over the shifted-union corpus. */
  private def qStoredPqDriftRetrain(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_x15_pqdrift/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val cand = emb.filter(col("vec_id") =!= 0)
    val base = cand.filter(pmod(col("vec_id"), lit(4)) < 2)
    val held = cand.filter(pmod(col("vec_id"), lit(4)) === 2)
    val drifted = cand.filter(pmod(col("vec_id"), lit(4)) === 3)
      .withColumn("embedding", transform(col("embedding"), x => x + lit(1.0d)))
    val union = base.unionByName(held).unionByName(drifted)
    // epoch 1: the composed index builds on the base split and serves
    Similarity.ivfPqBuildStamp(base, root, "g1", "vec_id", "embedding",
      nlist = 16, m = 16, ksub = 16)
    Similarity.ivfCutover(s, root, "g1")
    val g1Path = Similarity.ivfStampPath(root, "g1")
    // appends against the frozen sidecars (x7's O(batch) contract)
    Similarity.ivfPqAppendBatch(held, g1Path, 1L, "vec_id", "embedding")
    Similarity.ivfPqAppendBatch(drifted, g1Path, 2L, "vec_id", "embedding")
    val (_, codes1, c1, b1) = Similarity.openCurrentIvfPq(s, root)
    val ref = codes1.filter(col("batch") === 0)
    val fb1 = codes1.filter(col("batch") === 1)
    val fb2 = codes1.filter(col("batch") === 2)
    // the monitor reads the stored tree's codes only — never a vector
    val monPlan = Similarity.pqCodeDriftStats(ref, fb2)
      .queryExecution.executedPlan.toString
    val monSchemas = "ReadSchema: ([^\\n]*)".r
      .findAllMatchIn(monPlan).map(_.group(1)).toSeq
    require(monSchemas.nonEmpty && monSchemas.forall(rs =>
      rs.contains("codes") && !rs.contains("embedding")),
      s"the drift monitor must read codes only, got $monSchemas")
    val cellHeld = Similarity.totalVariation(
      Similarity.ivfDriftStats(ref, fb1))
    val cellDrift = Similarity.totalVariation(
      Similarity.ivfDriftStats(ref, fb2))
    val codeHeld = Similarity.pqCodeMaxTv(
      Similarity.pqCodeDriftStats(ref, fb1))
    val codeDrift = Similarity.pqCodeMaxTv(
      Similarity.pqCodeDriftStats(ref, fb2))
    System.err.println(f"[x15] dials: cell held=$cellHeld%.4f " +
      f"drift=$cellDrift%.4f | code held=$codeHeld%.4f drift=$codeDrift%.4f")
    // the quiet dials carry multinomial sampling noise that shrinks
    // with batch size (sf0.01's batch is 125 vectors over 16 cells ≈
    // 0.17 expected TV from noise alone, and max-over-m amplifies it
    // for the code dial), so the bars sit wide apart: quiet < .25/.35,
    // fired > .3/.6 AND ≥ 3× its quiet twin — the separation REQUIRE
    // is what makes the dial a usable retrain trigger at any SF
    require(cellHeld < 0.25 && codeHeld < 0.35,
      f"in-distribution batch tripped a dial (cell=$cellHeld%.4f, " +
        f"code=$codeHeld%.4f) — append-don't-retrain is broken")
    require(cellDrift > 0.3 && cellDrift > 3 * cellHeld &&
      codeDrift > 0.6 && codeDrift > 3 * codeHeld,
      f"shifted batch did not trip both dials (cell=$cellDrift%.4f " +
        f"vs $cellHeld%.4f, code=$codeDrift%.4f vs $codeHeld%.4f)")
    // the recall bar is judged on a query that FOLLOWED the drift
    // (the realistic post-shift workload — the monitor fired because
    // the distribution moved, and retraining must serve the moved
    // distribution at least as well as the stale tree does): vec 0
    // translated by the same +1-per-coordinate shift
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Double](0).toArray.map(_ + 1.0)
    // the ADC shortlist is sized in IDENTITIES, then scaled by the
    // corpus's measured replica multiplicity: the sf1 fixture holds
    // every vector in 10 id-shifted copies with IDENTICAL codes, so a
    // fixed 100-row shortlist would shrink to ~10 distinct identities
    // and both trees' recalls would floor at 0.00 — a vacuous bar.
    // Multiplicity-scaled, the identity capacity is SF-invariant and
    // the retrained-≥-stale REQUIRE can actually fail. (repl = 1 at
    // the base SFs, so the oracle-checked output is untouched there.)
    val idMod = 100000000L
    val nIdent = union.select(pmod(col("vec_id"), lit(idMod)))
      .distinct().count()
    val repl = math.max(1L,
      math.round(union.count().toDouble / nIdent)).toInt
    val shortlist = 100 * repl
    // recall probes return 10·repl rows ranked, folded below to the
    // top-10 DISTINCT identities — the exact re-rank would otherwise
    // fill all of k=10 with ONE identity's tied replicas at sf1
    val kRec = 10 * repl
    val staleRows = Similarity.probeStoredIvfPq(codes1, union, "vec_id",
        "embedding", qv, c1, b1, k = kRec, nprobe = 4,
        shortlist = shortlist)
      .orderBy("rank").select("vec_id").collect().map(_.getLong(0)).toSeq
    // the FIRED dials (REQUIREd above) drive x10's lifecycle on the
    // composed tree: retrain on the live union aside, one marker
    // flip, drop g1
    Similarity.ivfPqBuildStamp(union, root, "g2", "vec_id", "embedding",
      nlist = 16, m = 16, ksub = 16)
    Similarity.ivfCutover(s, root, "g2")
    Similarity.dropIvfStamp(s, root, "g1")
    val (st2, codes2, c2, b2) = Similarity.openCurrentIvfPq(s, root)
    require(st2 == "g2", "cutover must move the marker to the new stamp")
    val dt = Similarity.pqDistanceTable(qv, b2)
    val probed = Similarity.queryCells(qv, c2, nprobe = 4)
    PqDriftOracle.cents = Some(c2); PqDriftOracle.books = Some(b2)
    PqDriftOracle.dt = Some(dt); PqDriftOracle.query = Some(qv)
    PqDriftOracle.probed = Some(probed)
    val top = Similarity.probeStoredIvfPq(codes2, union, "vec_id",
        "embedding", qv, c2, b2, k = 10, nprobe = 4,
        shortlist = shortlist)
      .localCheckpoint() // consumed thrice: equality + recall + output
    // retraining must not make search worse: recall vs the exact
    // brute-force top-10 on the union, retrained ≥ stale. The bar
    // compares VECTOR IDENTITIES, not raw ids: the sf1 fixture
    // replicates every vector 10× with ids shifted 1e8 per replica
    // (TESTDATA scale-up scheme), so a raw-id truth set ties on
    // distance and flushes the single-nearest's replicas out of both
    // shortlists — 0.00 ≥ 0.00 would hold vacuously. Folding ids mod
    // 1e8 makes any replica of a true neighbor count, so the REQUIRE
    // binds at every SF (identity at the benched base SFs, where ids
    // stay below the modulus).
    val truth = union
      .select(pmod(col("vec_id"), lit(idMod)).as("bid"),
        VectorFunctions.l2sq(col("embedding"),
          array(qv.toSeq.map(lit): _*)).as("d"))
      .groupBy("bid").agg(min("d").as("d"))
      .orderBy(col("d").asc, col("bid").asc).limit(10)
      .select("bid").collect().map(_.getLong(0)).toSet
    def idTop10(rows: Seq[Long]): Set[Long] =
      rows.map(id => ((id % idMod) + idMod) % idMod)
        .distinct.take(10).toSet
    val staleIds = idTop10(staleRows)
    val freshRows =
      if (repl == 1) top.orderBy("rank").select("vec_id").collect()
        .map(_.getLong(0)).toSeq
      else Similarity.probeStoredIvfPq(codes2, union, "vec_id",
          "embedding", qv, c2, b2, k = kRec, nprobe = 4,
          shortlist = shortlist)
        .orderBy("rank").select("vec_id").collect()
        .map(_.getLong(0)).toSeq
    val fresh = idTop10(freshRows)
    val rStale = staleIds.intersect(truth).size.toDouble / truth.size
    val rNew = fresh.intersect(truth).size.toDouble / truth.size
    System.err.println(f"[x15] recall@10: stale=$rStale%.2f retrained=$rNew%.2f")
    require(rNew >= rStale,
      f"retrained recall $rNew%.2f fell below the stale tree's " +
        f"$rStale%.2f — the drift-driven retrain made search worse")
    // the x14 contract on the retrained tree: stored == in-query
    val inQuery = Similarity.ivfPqSearch(union, "vec_id", "embedding",
        qv, c2, b2, dt, k = 10, nprobe = 4, shortlist = shortlist)
      .select("vec_id", "cell", "adc_rank", "d2", "rank")
      .orderBy("rank").collect().toSeq
    val storedRows = top.select("vec_id", "cell", "adc_rank", "d2", "rank")
      .orderBy("rank").collect().toSeq
    require(storedRows == inQuery,
      s"retrained stored probe diverged from the in-query formulation")
    top.select(col("vec_id"), col("cell"), col("adc_rank"),
      round(col("d2"), 6).as("d2"), col("rank")).orderBy("rank")
  }

  /** ST11 — STREAM-WIRED CDC ROLLUP MAINTENANCE
    * ([[graft.api.Engine.startIngestMaintained]] /
    * [[graft.api.Engine.maintainRollup]]): the reference's headline
    * write→bar cascade (workers/sisdb/sisdb.h:36-42; README1.MD — a
    * tick write propagates automatically to the day bar) composed
    * under a LIVE feed, the way st10 stream-wired the vector index.
    * Each micro-batch lands in the store (set+save = one committed
    * generation) and then runs one a11 maintenance round derived from
    * the CHANGE FEED cursor→current ([[graft.ops.Rollup]] cursor
    * protocol): feed inserts merge as a slot DERIVED from the batch's
    * committed generation (unique by construction — no caller-chosen
    * slot can collide with another logical round's placements),
    * update/delete days rebuild partition-pruned from the
    * new pin, and the durable cursor advances only after the round
    * completes. Drilled in-query: (1) full checkpoint-loss REPLAY —
    * every batch redelivers, re-lands content-identically, diffs
    * EMPTY, and the bar store's files stay byte-identical
    * (exactly-once bars); (2) a batch whose maintenance DIED after
    * the store commit — the bars provably miss it, and the
    * redelivered round re-derives the same feed against the re-landed
    * generation and converges; (3) a command-side `del` propagated
    * through the SAME cursor protocol. REQUIREd
    * further: the cursor ends at the max generation, no in-flight
    * maintenance marker survives, and the stream-maintained bars
    * equal the from-scratch rollup of the final pinned state
    * bar-for-bar. Output: the final bars, hash-checked against the
    * relational rebuild. */
  private def qStreamCdcRollup(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_st11_cdcbar/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val eng = new graft.api.Engine(s, s"$base/eng")
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8],eid:[I,8]}}}")
    val raw = t(s, dir, "events").filter(col("user_id") < 10)
      .select(col("ts").as("t"), col("event_type").as("etype"),
        col("value"), col("event_id").as("eid"),
        concat(lit("u"), col("user_id")).as("subject"))
    val okey = unix_millis(col("t")) * 1000000L + col("eid")
    val grp = Seq(col("etype"))
    val barRoot = s"$base/bars"
    val now = System.currentTimeMillis()
    def barMismatches(state: DataFrame): Long = {
      val merged = Rollup.finalizeBars(
        s.read.parquet(barRoot)
          .withColumn("day", col("day").cast("string")).drop("batch"),
        Seq("etype", "day"))
      val fresh = Rollup.ohlc(state.withColumn("day", col("__day")),
        Seq(col("etype"), col("day")), okey, col("value"),
        volume = Some(col("value")))
      Rollup.barDivergence(merged, fresh, Seq("etype", "day"))
    }
    def pinnedNow() = eng.openSnapshotAt("ev",
      eng.snapshotVersions("ev").max).get
    // bootstrap: the first half lands through the plain ingest stream,
    // then the bar store bootstraps as slot 0 with the cursor set
    writeFeedFile(raw, s"$base/s0", pmod(col("eid"), lit(4)) < 2,
      "b_init", now - 300000L)
    eng.startIngest("ev", s"$base/s0/feed", s"$base/ckpt0")
      .awaitTermination()
    eng.bootstrapRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    // the maintained stream: b0 pure inserts, b1 pure updates (u3's
    // bootstrap rows on six days re-valued — same upsert keys)
    writeFeedFile(raw, s"$base/s1", pmod(col("eid"), lit(4)) === 2,
      "b0", now - 120000L)
    writeFeedFile(
      raw.withColumn("value", col("value") + 1), s"$base/s1",
      col("subject") === "u3" && pmod(col("eid"), lit(4)) < 2 &&
        date_format(col("t"), "yyyy-MM-dd")
          .between("2024-01-03", "2024-01-08"),
      "b1", now - 60000L)
    eng.startIngestMaintained("ev", s"$base/s1/feed", s"$base/ckpt1",
      barRoot, grp, okey, col("value"), col("value"))
      .awaitTermination()
    require(barMismatches(pinnedNow()) == 0,
      "stream-maintained bars diverged after the maintained stream")
    // DRILL 1 — checkpoint loss: every batch redelivers; re-landed
    // generations diff empty and the bar files stay byte-identical
    def listBarFiles(): Set[String] = {
      val f = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      val it = f.listFiles(new org.apache.hadoop.fs.Path(barRoot), true)
      val files = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith("_"))
          files += s"${st.getPath}#${st.getLen}#${st.getModificationTime}"
      }
      files.toSet
    }
    val beforeReplay = listBarFiles()
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$base/ckpt1"))
    eng.startIngestMaintained("ev", s"$base/s1/feed", s"$base/ckpt1",
      barRoot, grp, okey, col("value"), col("value"))
      .awaitTermination()
    require(listBarFiles() == beforeReplay,
      "a full checkpoint-loss replay changed the bar store — " +
        "the stream-maintained bars are not exactly-once")
    // DRILL 2 — a batch commits to the store but its maintenance
    // dies: bars provably miss it until the redelivered round
    // re-derives the same feed against the re-landed generation
    writeFeedFile(raw, s"$base/s2", pmod(col("eid"), lit(4)) === 3,
      "b2", now - 30000L)
    eng.startIngest("ev", s"$base/s2/feed", s"$base/ckpt2")
      .awaitTermination() // store-commit only: the crash point
    require(barMismatches(pinnedNow()) > 0,
      "the died-mid-maintenance drill is vacuous — bars already match")
    eng.maintainRollup("ev", barRoot, grp, okey, col("value"),
      col("value")) // the recovery round (slot = the batch's generation)
    require(barMismatches(pinnedNow()) == 0,
      "the recovered maintenance round did not converge")
    // DRILL 3 — a command-side delete propagates through the SAME
    // cursor protocol (its slot derives from its own generation, so
    // it cannot collide with any stream round's placements)
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-15T23:59:59.999Z").toEpochMilli
    eng.del("u2.ev", s"""{range:{start:$lo,stop:$hi}}""")
    eng.maintainRollup("ev", barRoot, grp, okey, col("value"),
      col("value"))
    val sN = pinnedNow().localCheckpoint()
    require(barMismatches(sN) == 0,
      "the propagated delete did not converge bar-for-bar")
    require(graft.ops.Rollup.readBarCursor(s, barRoot)
      .contains(eng.snapshotVersions("ev").max),
      "the cursor did not end at the max committed generation")
    require(graft.ops.Rollup.pendingMaintenance(s, barRoot).isEmpty,
      "an in-flight maintenance marker survived the stream")
    Rollup.finalizeBars(
        s.read.parquet(barRoot)
          .withColumn("day", col("day").cast("string")).drop("batch"),
        Seq("etype", "day"))
      .select(col("etype"), col("day"),
        round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
        round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
        col("cnt"), round(col("volume"), 2).as("volume"))
      .orderBy("etype", "day")
  }

  /** E24 — MAINTAINED ROLLUP × SCHEMA EVOLUTION: the reference's
    * write→bar cascade (workers/sisdb/sisdb.h:36-42) must survive its
    * own schema versioning — it converts rows on every read path
    * (sis_dynamic.h:12-51), so a bar maintained across an era bump
    * has to aggregate era-0 rows AS the new schema sees them
    * (widened ints, zero-filled new fields), not null-poison or
    * mass-rebuild. The drill: bootstrap bars under era 0 (qty I4, no
    * score), run one maintained-stream segment, then `evolve` (widen
    * qty I4→I8, add score F8) and keep feeding under the new era —
    * new-era inserts (score carried), updates of ERA-0 rows (their
    * days rebuild from the era-ALIGNED pin), and a command-side
    * delete whose range spans both eras, all through the same cursor
    * protocol. The post-evolve volume column is `qty + score`, which
    * is exactly the zero-fill proof: for an era-0 row the aligned
    * score is 0.0, so the pre-evolve partials (volume = qty) stay
    * correct under the new definition — if alignment produced NULL
    * instead, every rebuilt day's volume would go null and the
    * bar-for-bar REQUIRE against the from-scratch rollup would fail.
    * Output: the final bars, hash-checked against the relational
    * rebuild of the whole lifecycle. */
  private def qEvolveMaintainedBars(s: SparkSession, dir: String)
      : DataFrame = {
    val base = s"/tmp/graft_e24_evbar/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val eng = new graft.api.Engine(s, s"$base/eng")
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]," +
      "qty:[I,4],eid:[I,8]}}}")
    val ev = t(s, dir, "events").filter(col("user_id") < 8)
    val raw0 = ev.select(col("ts").as("t"),
      col("event_type").as("etype"), col("value"),
      (col("event_id") % 100).cast("int").as("qty"),
      col("event_id").as("eid"),
      concat(lit("u"), col("user_id")).as("subject"))
    val okey = unix_millis(col("t")) * 1000000L + col("eid")
    val grp = Seq(col("etype"))
    val barRoot = s"$base/bars"
    val volA = col("qty").cast("double")
    val volB = col("qty") + col("score")
    val now = System.currentTimeMillis()
    // era 0, thirds 0 and 1: bootstrap + one maintained segment
    writeFeedFile(raw0, s"$base/s0", pmod(col("eid"), lit(3)) === 0,
      "b_init", now - 300000L)
    eng.startIngest("ev", s"$base/s0/feed", s"$base/ckpt0")
      .awaitTermination()
    eng.bootstrapRollup("ev", barRoot, grp, okey, col("value"), volA)
    writeFeedFile(raw0, s"$base/s1", pmod(col("eid"), lit(3)) === 1,
      "b0", now - 240000L)
    eng.startIngestMaintained("ev", s"$base/s1/feed", s"$base/ckpt1",
      barRoot, grp, okey, col("value"), volA)
      .awaitTermination()
    // THE ERA BUMP, mid-lifecycle: qty widens I4→I8, score lands.
    // Every stored bar slot so far was computed under era 0.
    eng.evolve("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]," +
      "qty:[I,8],eid:[I,8],score:[F,8]}}}")
    // era 1 feeds: third 2 inserts (score = 2·value), then u3's era-0
    // rows on six days re-valued (value+1, score follows) — the
    // update batch forces dirty-day rebuilds that read ERA-0 rows
    // through the alignment. maxFilesPerTrigger=1 keeps them separate
    // maintenance rounds, so the insert round's slots are already
    // placed when the update round rebuilds those days.
    val raw1 = raw0
      .withColumn("qty", col("qty").cast("long"))
      .withColumn("score", col("value") * 2)
    writeFeedFile(raw1, s"$base/s2", pmod(col("eid"), lit(3)) === 2,
      "b1", now - 120000L)
    writeFeedFile(
      raw1.withColumn("value", col("value") + 1)
        .withColumn("score", col("value") * 2), s"$base/s2",
      col("subject") === "u3" && pmod(col("eid"), lit(3)) < 2 &&
        date_format(col("t"), "yyyy-MM-dd")
          .between("2024-01-03", "2024-01-08"),
      "b2", now - 60000L)
    eng.startIngestMaintained("ev", s"$base/s2/feed", s"$base/ckpt2",
      barRoot, grp, okey, col("value"), volB,
      maxFilesPerTrigger = Some(1))
      .awaitTermination()
    // command-side delete spanning BOTH eras (u2 rows of every third
    // land in the range), propagated through the same cursor
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-15T23:59:59.999Z").toEpochMilli
    eng.del("u2.ev", s"""{range:{start:$lo,stop:$hi}}""")
    eng.maintainRollup("ev", barRoot, grp, okey, col("value"), volB)
    // the convergence bar: stored slots (era-0 AND era-1 placements)
    // merge to exactly the from-scratch rollup of the era-aligned
    // final corpus, under the POST-evolve volume definition
    val sN = eng.openSnapshotAt("ev",
      eng.snapshotVersions("ev").max).get.localCheckpoint()
    val merged = Rollup.finalizeBars(
      s.read.parquet(barRoot)
        .withColumn("day", col("day").cast("string")).drop("batch"),
      Seq("etype", "day")).localCheckpoint()
    val fresh = Rollup.ohlc(sN.withColumn("day", col("__day")),
      Seq(col("etype"), col("day")), okey, col("value"),
      volume = Some(volB))
    val bad = Rollup.barDivergence(merged, fresh, Seq("etype", "day"))
    require(bad == 0, s"$bad bars diverged from the from-scratch " +
      "rollup across the schema-evolve era bump")
    require(merged.filter(col("volume").isNull).count() == 0,
      "era alignment null-poisoned a rebuilt day's volume — zero-fill " +
        "did not flow into the partials")
    require(graft.ops.Rollup.readBarCursor(s, barRoot)
      .contains(eng.snapshotVersions("ev").max),
      "the cursor did not end at the max committed generation")
    require(graft.ops.Rollup.pendingMaintenance(s, barRoot).isEmpty,
      "an in-flight maintenance marker survived the era bump")
    merged
      .select(col("etype"), col("day"),
        round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
        round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
        col("cnt"), round(col("volume"), 2).as("volume"))
      .orderBy("etype", "day")
  }

  private[graft] object IvfOracle {
    @volatile var centroids: Option[Array[Array[Double]]] = None
    @volatile var storedCentroids: Option[Array[Array[Double]]] = None
    @volatile var incrementalCentroids: Option[Array[Array[Double]]] = None
    @volatile var driftCentroids: Option[Array[Array[Double]]] = None
    @volatile var cutoverCentroids: Option[Array[Array[Double]]] = None
  }

  /** IVF ANN (clusterable-corpus scale path) — oracle-checked: the
    * driver-trained centroids are frozen and re-emitted into the DuckDB
    * SQL, so cell assignment (argmax of c·v − |c|²/2), nprobe probing
    * and the exact re-rank all reproduce bit-for-bit. Recall vs the
    * brute-force baseline additionally asserted in SimilaritySpec. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val cents = Similarity.trainCentroids(emb, "embedding", nlist = 16)
    IvfOracle.centroids = Some(cents)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, precomputed = Some(cents))
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** x3's production shape, mirroring d12 for ANN: the IVF index is
    * BUILT once ([[Similarity.ivfAssignments]], written to parquet
    * `partitionBy("cell")` under a path keyed by the source-content
    * stamp, with the trained centroids persisted as a sidecar by
    * [[Similarity.saveCentroids]]) and every later run probes the
    * STORED index ([[Similarity.probeIvfIndex]]) — no re-training, no
    * re-clustering, no corpus re-scan: the steady path reads the
    * centroid sidecar plus the probed cell directories and nothing
    * else, so a probe process needs no training data at all (the d11
    * persistence contract applied to ANN). The sidecar is written
    * LAST, so a crash mid-build leaves no sidecar and the next run
    * rebuilds. Same frozen centroids either way (Double.toString
    * round-trips bit-exactly), so the same inlined-centroid oracle
    * applies; results are x3's by construction, reproduced through
    * the parquet round-trip. */
  private def qAnnIvfStored(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val root = s"/tmp/graft_x5_ivf_index/${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
      s"_${sourceStamp(s, dir, "embeddings")}"
    val cents = Similarity.loadCentroids(s, root).getOrElse {
      val trained = Similarity.trainCentroids(emb, "embedding", nlist = 16)
      Similarity.ivfAssignments(emb, "vec_id", "embedding", trained)
        .write.mode("overwrite").partitionBy("cell").parquet(root)
      Similarity.saveCentroids(s, root, trained)
      trained
    }
    IvfOracle.storedCentroids = Some(cents)
    Similarity.probeIvfIndex(s.read.parquet(root),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5, cents)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** X7 — INCREMENTAL IVF maintenance
    * ([[Similarity.ivfBuildBase]] / [[Similarity.ivfAppendBatch]]):
    * a growing corpus appends O(batch) assignments against the FROZEN
    * centroid sidecar — no retraining, no corpus re-scan, no index
    * rewrite (the d11 incremental contract applied to ANN; retrain
    * offline and rebuild under a new stamp when drift warrants).
    * Batch-keyed slots make ingest replays idempotent. REQUIREd
    * in-query: the sidecar is BYTE-IDENTICAL after the appends (no
    * silent retrain), a replayed append does not grow the index, and
    * the probe over the incremental tree EQUALS the probe over a
    * from-scratch assignment of the union with the same centroids.
    * The oracle reproduces assignment + probing + exact re-rank over
    * the union from the inlined frozen centroids, bit-for-bit. */
  private def qAnnIvfAppend(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_x7_ivf_incr/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    // base corpus vs two later ingest batches — modulo split so the
    // shape survives SfScale's id-shifted replicas
    val base = emb.filter(pmod(col("vec_id"), lit(4)) < 2)
    val b1 = emb.filter(pmod(col("vec_id"), lit(4)) === 2)
    val b2 = emb.filter(pmod(col("vec_id"), lit(4)) === 3)
    val cents = Similarity.ivfBuildBase(base, root, "vec_id", "embedding",
      nlist = 16)
    IvfOracle.incrementalCentroids = Some(cents)
    val sidecarBefore = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_centroids.json"))
    Similarity.ivfAppendBatch(b1, root, 1L, "vec_id", "embedding")
    Similarity.ivfAppendBatch(b2, root, 2L, "vec_id", "embedding")
    val countAfter = s.read.parquet(root).count()
    // replayed ingest batch: the slot overwrite keeps the index flat
    Similarity.ivfAppendBatch(b2, root, 2L, "vec_id", "embedding")
    require(s.read.parquet(root).count() == countAfter,
      "a replayed append batch grew the index")
    require(java.util.Arrays.equals(sidecarBefore,
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/_centroids.json"))),
      "appending retrained the centroid sidecar")
    require(countAfter == emb.count(),
      "the incremental tree does not hold the full union")
    val queries = emb.filter(col("vec_id") < 10)
    val viaTree = Similarity.probeIvfIndex(s.read.parquet(root),
        queries, "vec_id", "embedding", 5, cents)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
    // the no-incremental-loss check: identical to a from-scratch
    // assignment of the union with the same frozen centroids
    val viaScratch = Similarity.probeIvfIndex(
        Similarity.ivfAssignments(emb, "vec_id", "embedding", cents),
        queries, "vec_id", "embedding", 5, cents)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
    require(viaTree.collect().toSeq == viaScratch.collect().toSeq,
      "incremental probe diverged from the from-scratch union probe")
    viaTree
  }

  /** X9 — IVF drift monitor ([[Similarity.ivfDriftStats]] /
    * [[Similarity.totalVariation]]): the WHEN of x7's "retrain
    * offline when drift warrants". The frozen-centroid append
    * contract is only sound while new batches still look like the
    * training corpus, so the monitor compares each ingest batch's
    * per-cell assignment shares against the base distribution —
    * total-variation distance is the retrain dial. Cost per batch:
    * one combinable groupBy to ≤ nlist rows; the corpus is never
    * rescanned. REQUIREd in-query: an in-distribution batch (the
    * held-out half of the same corpus) scores BELOW the dial while a
    * genuinely shifted batch (the same vectors translated by +1 per
    * coordinate — a deterministic, SQL-reproducible covariate shift
    * that biases every assignment score by sum(c)) scores ABOVE it,
    * and the monitor's shares sum to 1 on every side. */
  private def qIvfDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val base = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val held = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val drifted = held.withColumn("embedding",
      transform(col("embedding"), x => x + lit(1.0d)))
    val cents = Similarity.trainCentroids(base, "embedding", nlist = 16)
    IvfOracle.driftCentroids = Some(cents)
    val aBase = Similarity.ivfAssignments(base, "vec_id", "embedding", cents)
    val aHeld = Similarity.ivfAssignments(held, "vec_id", "embedding", cents)
    val aDrift = Similarity.ivfAssignments(drifted, "vec_id", "embedding",
      cents)
    val tvHeld = Similarity.totalVariation(
      Similarity.ivfDriftStats(aBase, aHeld))
    val tvDrift = Similarity.totalVariation(
      Similarity.ivfDriftStats(aBase, aDrift))
    require(tvHeld < 0.15,
      f"in-distribution batch tripped the drift dial (tv=$tvHeld%.4f)")
    require(tvDrift > 0.3 && tvDrift > 3 * tvHeld,
      f"shifted batch did not trip the drift dial (tv=$tvDrift%.4f " +
        f"vs in-dist $tvHeld%.4f)")
    val out = Similarity.ivfDriftStats(aHeld, aDrift)
      .select(col("cell"), col("n_ref").as("n_held"),
        col("n_new").as("n_drift"),
        round(col("share_ref"), 6).as("share_held"),
        round(col("share_new"), 6).as("share_drift"))
      .orderBy("cell")
    val sums = out.agg(sum("share_held"), sum("share_drift")).head
    require(math.abs(sums.getDouble(0) - 1.0) < 1e-6 &&
      math.abs(sums.getDouble(1) - 1.0) < 1e-6,
      "drift shares do not sum to 1")
    out
  }

  /** X10 — IVF RETRAIN CUTOVER ([[Similarity.ivfRebuildStamp]] /
    * [[Similarity.ivfCutover]] / [[Similarity.openCurrentIvf]]): the
    * HOW of x9's "retrain offline when drift warrants", closing the
    * x7→x9→x10 index lifecycle. Modeled on the reference's
    * rebuild-then-swap merge (workers/frwdb/frwdb.h:28-33: rebuild
    * the merged year aside, swap it in while readers keep the old
    * view): the retrained index builds COMPLETELY under a new stamp
    * dir while the marker still names the old stamp — zero downtime
    * — then one overwrite-rename of `_current.json` is the entire
    * commit. The flow: build + cut over stamp g1 on the base half,
    * append the drifted half (odd vec_ids translated +1 per
    * coordinate, x9's shift) against g1's frozen centroids, watch
    * the drift dial trip, retrain on the full drifted union under
    * stamp g2, cut over, drop g1. REQUIREd in-query: the rebuild
    * moves NEITHER the marker nor a single byte of what g1 serves
    * (pre/post-rebuild probes bit-equal); after cutover every file
    * the probe reads lives under stamp=g2 (a probe can never mix
    * stamps — it resolves the marker once and reads only that
    * subtree); the retrained index's recall against the exact
    * brute-force top-k on the drifted union is at least the stale
    * index's (retraining must not make search worse); the retired
    * stamp drops only after cutover (dropping the serving stamp is
    * refused). The oracle reproduces the post-cutover probe
    * relationally from the inlined g2 centroids over the same
    * shifted-union corpus, bit-for-bit. */
  private def qIvfCutover(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_x10_ivf_cutover/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val base = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val drifted = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      .withColumn("embedding", transform(col("embedding"), x => x + lit(1.0d)))
    // epoch 1: initial build serves under stamp g1
    val c1 = Similarity.ivfRebuildStamp(base, root, "g1",
      "vec_id", "embedding", nlist = 16)
    Similarity.ivfCutover(s, root, "g1")
    // the drifted batch arrives: O(batch) append against g1's FROZEN
    // centroids (the x7 path — the index stays complete, just skewed)
    Similarity.ivfAppendBatch(drifted, Similarity.ivfStampPath(root, "g1"),
      1L, "vec_id", "embedding")
    // the x9 monitor trips → retrain warranted
    val tv = Similarity.totalVariation(Similarity.ivfDriftStats(
      Similarity.ivfAssignments(base, "vec_id", "embedding", c1),
      Similarity.ivfAssignments(drifted, "vec_id", "embedding", c1)))
    require(tv > 0.3, f"drift dial did not trip (tv=$tv%.4f) — " +
      "retrain unwarranted, the scenario is broken")
    val union = base.unionByName(drifted)
    val queries = union.filter(col("vec_id") < 10)
    def probeOf(idx: DataFrame, cents: Array[Array[Double]]) =
      Similarity.probeIvfIndex(idx, queries, "vec_id", "embedding", 5, cents)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    val (s1, idx1, cents1) = Similarity.openCurrentIvf(s, root)
    require(s1 == "g1", "marker must name the serving stamp")
    val preProbe = probeOf(idx1, cents1).collect().toSeq
    // retrain on the drifted union under stamp g2 — g1 keeps serving
    val c2 = Similarity.ivfRebuildStamp(union, root, "g2",
      "vec_id", "embedding", nlist = 16)
    IvfOracle.cutoverCentroids = Some(c2)
    val (sMid, idxMid, centsMid) = Similarity.openCurrentIvf(s, root)
    require(sMid == "g1", "a rebuild must not move the cutover marker")
    require(probeOf(idxMid, centsMid).collect().toSeq == preProbe,
      "what the serving stamp returns changed during the rebuild")
    // dropping the SERVING stamp is refused
    require(scala.util.Try(Similarity.dropIvfStamp(s, root, "g1")).isFailure,
      "dropping the serving stamp must be refused before cutover")
    Similarity.ivfCutover(s, root, "g2")
    val (s2, idx2, cents2) = Similarity.openCurrentIvf(s, root)
    require(s2 == "g2", "cutover must move the marker to the new stamp")
    // never-mix: every file the post-cutover probe reads is g2's
    val probedFiles = idx2.select(input_file_name().as("f"))
      .distinct().collect().map(_.getString(0))
    require(probedFiles.nonEmpty && probedFiles.forall(_.contains("stamp=g2")),
      "post-cutover probe read a file outside the serving stamp")
    // retraining must not make search WORSE: recall vs the exact
    // brute-force top-5 on the drifted union, retrained ≥ stale
    val truth = Similarity.bruteForceTopK(union, queries,
        "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(p: Seq[org.apache.spark.sql.Row]) =
      p.map(r => (r.getLong(0), r.getLong(1)))
        .count(truth.contains).toDouble / math.max(truth.size, 1)
    val post = probeOf(idx2, cents2).collect().toSeq
    val rStale = recallOf(preProbe)
    val rNew = recallOf(post)
    require(rNew >= rStale,
      f"retrained recall $rNew%.3f fell below the stale index's " +
        f"$rStale%.3f — the cutover made search worse")
    // the retired tree reclaims cleanly now that g2 serves
    Similarity.dropIvfStamp(s, root, "g1")
    require(!new java.io.File(Similarity.ivfStampPath(root, "g1")).exists(),
      "retired stamp tree must be gone after drop")
    probeOf(idx2, cents2)
  }

  /** X6 — int8 scalar-quantized ANN with exact rerank
    * ([[Similarity.quantizedTopK]]): the approximate scan reads the
    * 4×-smaller int8 index (per-vector scale, pure integer dot; the
    * scales cancel out of the approximate cosine), the per-query
    * top-20 survivors fetch full-precision vectors for exact cosine
    * top-5. Deterministic quantization (floor(x/s + 0.5), clamp ±127)
    * and integer-exact approximate scores reproduce bit-for-bit in
    * the DuckDB oracle — the whole two-stage pipeline is
    * hash-checked, not rows-only. */
  private def qAnnQuantized(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, rerankC = 20)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** MinHash-LSH near-dup candidates with estimated Jaccard —
    * oracle-checked end to end: FNV shingle hashes and the inlined
    * permutation coefficients reproduce the exact signatures in SQL. */
  private def qMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val sig = Dedup.minhash(d, "text", shingleK = 3, numHashes = 32)
    val cands = Dedup.lshCandidates(sig, "doc_id", bands = 16, sigLen = 32)
    Dedup.minhashJaccard(cands, sig, "doc_id")
      .filter(col("est_jaccard") > 0)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** The dedup endgame (d7): minhash-LSH near-dup pairs at est-Jaccard
    * ≥ 0.5 → connected components → one canonical survivor per cluster.
    * Near-duplication is transitive in practice, so curation dedupes by
    * COMPONENT, not by pair; cluster_id = component min doc_id makes the
    * canonical choice deterministic and SQL-reproducible (the oracle
    * re-derives the same pairs, then closes them with a recursive CTE).
    * Scale shape: pair generation is the d2 banded equi-join; clustering
    * is O(|V|+|E|) hash joins per round, O(log diameter) rounds. */
  private def qDupClusters(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val sig = Dedup.minhash(d, "text", shingleK = 3, numHashes = 32)
    val cands = Dedup.lshCandidates(sig, "doc_id", bands = 16, sigLen = 32)
    val pairs = Dedup.minhashJaccard(cands, sig, "doc_id")
      .filter(col("est_jaccard") >= 0.5)
    val cc = Dedup.connectedComponents(
      d.select("doc_id"), "doc_id", pairs.select("id_a", "id_b"))
    val w = Window.partitionBy("cluster_id")
    cc.withColumn("csize", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .select("doc_id", "cluster_id", "csize", "keep")
      .orderBy("doc_id")
  }

  /** D10 best-of-cluster representatives: real dedup pipelines keep
    * the highest-QUALITY document per dup cluster, not an arbitrary
    * one — d7's minhash-LSH clusters joined to a quality score
    * (whitespace token count, the tx3 metric) with a deterministic
    * (quality desc, doc_id asc) argmax per cluster. */
  private def qQualityReps(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val sig = Dedup.minhash(d, "text", shingleK = 3, numHashes = 32)
    val pairs = Dedup.minhashJaccard(
        Dedup.lshCandidates(sig, "doc_id", bands = 16, sigLen = 32),
        sig, "doc_id")
      .filter(col("est_jaccard") >= 0.5)
    val cc = Dedup.connectedComponents(
      d.select("doc_id"), "doc_id", pairs.select("id_a", "id_b"))
    val quality = d.select(col("doc_id").as("__qid"),
      TextFunctions.tokenCountWs(col("text")).cast("long").as("q"))
    val joined = cc.join(quality, cc("doc_id") === col("__qid")).drop("__qid")
    val rankW = Window.partitionBy("cluster_id")
      .orderBy(col("q").desc, col("doc_id").asc)
    joined.withColumn("__rn", row_number().over(rankW))
      .withColumn("csize", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("best_doc"),
        col("q").as("best_q"), col("csize"))
      .orderBy("cluster_id")
  }

  /** A cheap content stamp for a source table (file names + sizes +
    * mtimes hashed): keys derived on-disk artifacts (stored dedup
    * indexes) so a regenerated source invalidates them instead of
    * silently serving stale derivations. */
  private def sourceStamp(s: SparkSession, dir: String, table: String): String = {
    val f = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val st = f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$table.parquet"))
    val listing = st
      .map(x => s"${x.getPath.getName}:${x.getLen}:${x.getModificationTime}")
      .sorted.mkString("|")
    // 64-bit FNV-1a, not String.hashCode: a 32-bit stamp collides at
    // ~2^16 distinct listings (birthday bound) and a collision silently
    // serves a STALE index for regenerated data — the one failure mode
    // the stamp exists to prevent
    var h = 0xcbf29ce484222325L
    listing.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xffL); h *= 0x100000001b3L
    }
    java.lang.Long.toHexString(h)
  }

  /** Write `df` filtered by `cond` as a single parquet FILE at
    * base/feed/<name>.parquet with a pinned mtime — deterministic
    * batch ORDER for maxFilesPerTrigger=1 file-source streams (the
    * st6/st8/st9 fixture pattern, one implementation). */
  private def writeFeedFile(df: DataFrame, base: String, cond: Column,
      name: String, mtime: Long): Unit = {
    val tmp = s"$base/tmp_$name"
    df.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(s"$base/feed/$name.parquet")
    dest.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    dest.setLastModified(mtime)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** D11 incremental dedup — the STEADY-STATE production flow: the
    * corpus fingerprint index (banded buckets + signatures) persists
    * ONCE as parquet (the admission job), and every batch thereafter
    * only probes it ([[Dedup.probeBandedIndex]]) — no index signature
    * recompute, no re-banding scan, per-batch cost independent of
    * index size (the term IncScale measured as d11's only
    * size-dependent cost before round 9). The index path is keyed by a
    * source-content stamp so regenerated data rebuilds it. Per
    * incoming doc: dup verdict, match count, best index match under a
    * deterministic (est desc, index_id asc) rank — results identical
    * to re-deriving everything from scratch (the oracle does). */
  private def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val store = s"/tmp/graft_fpindex_d11/${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
      s"_${sourceStamp(s, dir, "documents")}"
    val f = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    if (!f.exists(new org.apache.hadoop.fs.Path(s"$store/bands/_SUCCESS")) ||
      !f.exists(new org.apache.hadoop.fs.Path(s"$store/sigs/_SUCCESS"))) {
      val indexSigs = Dedup.minhash(docs.filter(col("doc_id") % 10 =!= 0),
          "text", shingleK = 3, numHashes = 32)
        .select(col("doc_id"), col("minhash"))
      BandIndex.write(
        Dedup.bandBuckets(indexSigs, "doc_id", bands = 16, sigLen = 32,
          as = "index_id"),
        s"$store/bands", "bucket", targetRowsPerFile = 4096)
      BandIndex.write(indexSigs, s"$store/sigs", "doc_id",
        targetRowsPerFile = 4096)
    }
    val incoming = Dedup.minhash(docs.filter(col("doc_id") % 10 === 0),
        "text", shingleK = 3, numHashes = 32)
      .select(col("doc_id"), col("minhash"))
    val pairs = BandIndex.probe(s"$store/bands", incoming, "doc_id",
        bands = 16, sigLen = 32)._1
      .select(col("new_id").as("id_a"), col("index_id").as("id_b"))
      // materialized once: candidate ids prune the signature lookup,
      // then the pairs feed the verdict join
      .localCheckpoint()
    val candIds = pairs.select("id_b").distinct().collect()
      .map(_.getLong(0))
    // verification sigs: the batch's own + ONLY the stored signatures
    // the candidates touch (pruned file-level read — the verdict join
    // must not re-scan the whole signature table per batch any more
    // than the bucket probe may re-scan the band index). Id spaces
    // are disjoint by the % 10 split.
    val sigs = incoming.unionByName(
      BandIndex.readForKeys(s, s"$store/sigs", candIds, "doc_id")._1
        .select("doc_id", "minhash"))
    val scored = Dedup.minhashJaccard(pairs, sigs, "doc_id")
      .filter(col("est_jaccard") >= 0.5)
    val perDoc = Window.partitionBy("id_a")
    val best = scored
      .withColumn("__rn", row_number().over(
        perDoc.orderBy(col("est_jaccard").desc, col("id_b").asc)))
      .withColumn("n_matches", count(lit(1)).over(perDoc))
      .withColumn("best_score", round(max("est_jaccard").over(perDoc), 6))
      .filter(col("__rn") === 1)
      .select(col("id_a").as("__did"), col("n_matches"),
        col("id_b").as("best_match"), col("best_score"))
    incoming.select(col("doc_id"))
      .join(best, col("doc_id") === col("__did"), "left")
      .select(col("doc_id"), col("__did").isNotNull.as("is_dup"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_match"), col("best_score"))
      .orderBy("doc_id")
  }

  /** D12 — the STORED fingerprint-index probe, d11's production
    * variant (PLANS.md round-8): the corpus's banded buckets persist
    * ONCE in the pruned-probe layout ([[graft.ops.BandIndex]] —
    * range-sorted by bucket with a per-file (min, max) manifest); an
    * incoming batch then broadcast-probes ONLY the files its buckets
    * can land in — no corpus signature recompute, no re-banding scan,
    * no index shuffle, and (since round 10) no full-index scan per
    * batch. Candidates are identical to re-banding (file selection is
    * a conservative superset of the matched buckets), which the
    * shared oracle CTEs check pair-for-pair. The pruning is REQUIREd
    * in-query, the o4/u1 pattern: a point lookup of one bucket must
    * open at most 2 base files (ranges are disjoint up to an equal
    * boundary key) — a regression to full-scan fails the gate. */
  private def qStoredIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val store = s"/tmp/graft_fpindex/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    val indexSigs = Dedup.minhash(docs.filter(col("doc_id") % 10 =!= 0),
      "text", shingleK = 3, numHashes = 32)
    BandIndex.write(
      Dedup.bandBuckets(indexSigs, "doc_id", bands = 16, sigLen = 32,
        as = "index_id"),
      store, "bucket", targetRowsPerFile = 4096)
    val newSigs = Dedup.minhash(docs.filter(col("doc_id") % 10 === 0),
      "text", shingleK = 3, numHashes = 32)
    val (pairs, stats) = BandIndex.probe(store, newSigs, "doc_id",
      bands = 16, sigLen = 32)
    require(stats.baseFiles > 0 && stats.tailFiles == 0,
      s"stored index not in manifested base layout: $stats")
    val oneBucket = Dedup.bandBuckets(newSigs.limit(1), "doc_id",
      bands = 16, sigLen = 32).select("bucket").first().getLong(0)
    val point = BandIndex.readForKeys(s, store, Array(oneBucket), "bucket")._2
    require(point.selectedBase <= 2 &&
      (point.baseFiles <= 2 || point.selectedBase < point.baseFiles),
      s"stored-index probe is not file-pruned: $point")
    pairs.select(col("new_id").as("doc_id"), col("index_id"))
      .orderBy("doc_id", "index_id")
  }

  /** SimHash signatures over per-token FNV-1a hashes — oracle-checked
    * (FNV is reproducible in plain SQL, unlike murmur/xxhash);
    * Hamming-pair detection is asserted in ScalaTest. */
  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(t(s, dir, "documents"), "text")
      .select("doc_id", "simhash")
      .orderBy("doc_id")

  /** Text quality / shape signals (length, tokens, punctuation,
    * stopword ratio, composite score). */
  private def qTextQuality(s: SparkSession, dir: String): DataFrame =
    Text.withQualitySignals(t(s, dir, "documents"), "text")
      .select(col("doc_id"), col("n_tokens"), col("mean_token_len"),
        col("punct_ratio"), col("en_stopword_ratio"), col("quality"))
      .orderBy("doc_id")

  /** D13 — segment-level (paragraph) dedup, CCNet-style
    * ([[graft.ops.Dedup.segmentDedup]]): drop every later corpus-wide
    * occurrence of a repeated 8-word segment and reassemble the
    * survivors — the span-granular sibling of d1's whole-document
    * dedup. See the operator scaladoc for the slim-shuffle shape. */
  private def qSegmentDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text", w = 8)
      .orderBy("doc_id")

  /** TX8 — Gopher-rules quality gate ([[graft.ops.Text.gopherGate]]):
    * the published admit/drop ruleset (Rae et al. 2021 §A1.1) as
    * auditable per-rule flags plus the conjunctive keep — the stage
    * that turns tx2's signals into a curation decision. */
  private def qQualityGate(s: SparkSession, dir: String): DataFrame =
    Text.gopherGate(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** TX9 — per-source document capping ([[graft.ops.Skew.saltedTopN]]):
    * the curation step that keeps at most N documents per domain/source
    * so no single crawl host dominates the training mix (the CCNet/
    * RefinedWeb "domain cap"). Priority is deterministic
    * (longest-first, doc_id tiebreak — any quality column slots in the
    * same way). Engine shape: a naive `row_number over (partition by
    * source)` pins each source to ONE reducer — at 100 TB a hot domain
    * is exactly the key that needs capping and exactly the key that
    * would pin it. saltedTopN two-phases the rank: local top-N per
    * (source, salt) slice first, so the exact final rank sees ≤
    * salt·N rows per source — a dial, not the data. Oracle = the
    * plain one-window formulation, proving the two-phase plan exact. */
  private def qSourceCap(s: SparkSession, dir: String): DataFrame =
    Skew.saltedTopN(t(s, dir, "documents"), Seq("source"),
        Seq(col("n_chars").desc, col("doc_id").asc), n = 10, salt = 4)
      .select(col("doc_id"), col("source"), col("n_chars"), col("rank"))
      .orderBy("source", "rank")

  /** HX1 — hybrid retrieval with reciprocal-rank fusion
    * ([[graft.ops.Search.rrfFuse]]): the RAG-stack query shape —
    * lexical BM25 (probing the SAME stamp-keyed stored postings index
    * ix2 probes) and exact cosine ANN (the x1 baseline) retrieve
    * top-20 lists independently, and RRF sums floor(10^12/(60+rank))
    * per list — integer arithmetic end-to-end, so the fused ranking
    * is bit-stable across engines. Probe cost is O(matching postings)
    * + the ANN scan; fusion itself touches 40 rows. REQUIREd
    * in-query: the fused entry count conserves BOTH full top-20
    * lists (n₁ + 2·n₂ = 40) — a falsifiable fusion: an empty or
    * short retriever list, or a fuse that drops/duplicates entries,
    * breaks the equation. Whether the two views overlap (n₂ > 0) is
    * data, not contract — the synthetic corpus's text topics and
    * embedding geometry are independent, so the lists usually
    * interleave rather than intersect; RRF handles both regimes by
    * construction. */
  private def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    val (ixPath, statsPath) = bm25IndexPaths(s, dir)
    val terms = Seq("spark", "vector", "window")
    val text = Search.bm25Rank(
        s.read.parquet(ixPath).filter(col("term").isin(terms: _*)),
        "doc_id", s.read.parquet(statsPath), k = 20)
      .withColumn("rank", row_number().over(
        Analytics.tinySeqW.orderBy(col("score_1e6").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val emb = t(s, dir, "embeddings").withColumn("embedding",
      col("embedding").cast("array<double>"))
    val vec = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    val fused = Search.rrfFuse(Seq("text" -> text, "vec" -> vec), "doc_id")
      .localCheckpoint() // consumed twice: the REQUIRE agg + the output
    val byLists = fused.groupBy("n_lists").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(byLists.getOrElse(1L, 0L) + 2 * byLists.getOrElse(2L, 0L) == 40L,
      s"fusion lost list entries: $byLists")
    fused.orderBy(col("rrf_1e12").desc, col("doc_id")).limit(10)
      .select("doc_id", "n_lists", "rank_text", "rank_vec", "rrf_1e12")
  }

  /** Token counting for pretraining budgets: whitespace tokens and the
    * BPE-ish pre-tokenizer split (letter runs / digit runs / single
    * symbols), plus chars — the columns a data pipeline sums into
    * token-count reports. */
  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenCountWs(col("text")).as("n_tok_ws"),
        TextFunctions.tokenCountBpeish(col("text")).as("n_tok_bpe"),
        length(col("text")).as("n_chars_total"))
      .orderBy("doc_id")

  /** SP1 — SEQUENCE PACKING ([[graft.ops.SeqPack.pack]]): the
    * concat-and-chunk sample packing between curation and training —
    * documents concatenated in doc_id order, the token stream cut
    * every 512 tokens, each document's spans mapped to (sequence,
    * offset). Token counts are tx3's BPE-ish pre-tokenizer, so the
    * whole placement is integer arithmetic over one prefix sum and
    * reproduces bit-for-bit in SQL. Scale shape: the prefix sum is
    * the range-partition + per-partition-offsets pattern (no stage
    * sees more than one partition's rows); output is O(tokens/budget
    * + docs) rows. REQUIREd in-query: every sequence except the last
    * fills to EXACTLY the budget, and the spans conserve every input
    * token (no loss, no duplication). */
  private def qSequencePack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenCountBpeish(col("text")).cast("long").as("tokens"))
    val packed = SeqPack.pack(docs, "tokens", 512L, Seq(col("doc_id")))
      .localCheckpoint() // consumed 3x below (2 REQUIRE aggs + return)
    val fills = SeqPack.fillStats(packed).collect()
    require(fills.nonEmpty, "sequence packing emitted nothing")
    val lastSeq = fills.map(_.getLong(0)).max
    require(fills.filter(_.getLong(0) != lastSeq).forall(_.getLong(2) == 512L),
      "a non-final training sequence is not filled to the exact budget")
    val totTok = docs.filter(col("tokens") > 0)
      .agg(sum("tokens")).head.getLong(0)
    val totLen = packed.agg(sum("len")).head.getLong(0)
    require(totTok == totLen,
      s"packing lost or duplicated tokens: corpus $totTok vs spans $totLen")
    packed.select("doc_id", "seq", "off", "doc_off", "len")
      .orderBy("doc_id", "seq")
  }

  /** PL1 — the END-TO-END curation pipeline, the composition a real
    * pretraining run executes and the proof the operators compose:
    * tx8's Gopher gate admits documents → d13's segment dedup strips
    * corpus-duplicated spans from the survivors → tx3's BPE-ish
    * counter prices what remains → sp1's packer cuts the final
    * 512-token training sequences. One declarative plan end-to-end
    * (Catalyst sees the whole pipeline — the gate's flags prune before
    * the dedup's explode ever runs), REQUIREd token conservation over
    * the CURATED corpus, and the full placement map hash-checked
    * against an oracle that composes the tx8 + d13 + sp1 relational
    * blocks over the same literal thresholds. */
  private def qCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val kept = Text.gopherGate(docs, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
    val curated = Dedup.segmentDedup(docs.join(kept, "doc_id"),
        "doc_id", "text", w = 8)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), TextFunctions.tokenCountBpeish(
        col("text_dedup")).cast("long").as("tokens"))
      .localCheckpoint() // gate+dedup run ONCE: pack + totTok both read this
    val packed = SeqPack.pack(curated, "tokens", 512L, Seq(col("doc_id")))
      .localCheckpoint() // consumed twice (REQUIRE agg + return)
    def agg0(r: org.apache.spark.sql.Row) = if (r.isNullAt(0)) 0L else r.getLong(0)
    val totTok = agg0(curated.filter(col("tokens") > 0).agg(sum("tokens")).head)
    val totLen = agg0(packed.agg(sum("len")).head)
    require(totTok == totLen && totTok > 0,
      s"curation pipeline lost or duplicated tokens: $totTok vs $totLen")
    packed.select("doc_id", "seq", "off", "doc_off", "len")
      .orderBy("doc_id", "seq")
  }

  /** Language ID (function-word evidence argmax) — oracle-checked
    * (the tokenizer, 9-digit ratio rounding, and (score, lang) argmax
    * all reproduce in SQL); accuracy additionally asserted in ScalaTest
    * against the labeled `lang` column. */
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Repetition signals (tx5): dup-word fraction + top word-2/3-gram
    * character coverage — the Gopher-style "mostly the same thing over
    * and over" filters. Per-row stats ride the scan; the n-gram tops
    * are explode → partial-combined count → max, shuffling only
    * (doc_id, gram) rows. */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    Text.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** PII scrubbing (tx6): email / IPv4 / phone redaction with typed
    * placeholders — the pre-training privacy pass. Pure per-row
    * `regexp_replace` chains at scan speed (codegen'd, no shuffle, no
    * UDF). The corpus carries no PII, so the query first plants
    * deterministic synthetic PII by doc_id — identically in the oracle
    * SQL — making the redaction itself hash-checked, not vacuous.
    * Patterns stay in the Java∩RE2 common subset so both engines
    * compile them identically. */
  private def qPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val planted = d.withColumn("__t", concat(col("text"),
      when(col("doc_id") % 4 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com now")))
        .when(col("doc_id") % 4 === 1,
          concat(lit(" server at 10."), (col("doc_id") % 256).cast("string"),
            lit(".0.1 up")))
        .when(col("doc_id") % 4 === 2,
          concat(lit(" call +1-555-"),
            (lit(1000) + col("doc_id") % 9000).cast("string"), lit(" today")))
        .otherwise(lit(""))))
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phonePat = "\\+\\d{1,2}-\\d{3}-\\d{4}"
    val e1 = regexp_replace(col("__t"), emailPat, "<EMAIL>")
    val e2 = regexp_replace(e1, ipPat, "<IP>")
    val e3 = regexp_replace(e2, phonePat, "<PHONE>")
    planted.select(col("doc_id"), e3.as("scrubbed"),
        (col("__t") =!= e1).as("had_email"),
        (e1 =!= e2).as("had_ip"),
        (e2 =!= e3).as("had_phone"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination (x4): flag corpus documents sharing ≥3
    * distinct word-3-gram shingles with a benchmark set (here: the
    * deterministic doc_id % 97 == 3 slice standing in for an external
    * eval set). The benchmark side is SMALL by nature, so it
    * broadcasts — the 100 TB corpus never shuffles for the match; the
    * only shuffle is the per-doc count aggregation, partial-combined. */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val sh = d.select(col("doc_id"),
      graft.functions.ShingleHashesExpr(col("text"), 3).as("__g"))
    val bench = sh.filter(col("doc_id") % 97 === 3)
      .select(col("doc_id").as("bench_id"), explode(col("__g")).as("__gram"))
    val corpus = sh.select(col("doc_id"), explode(col("__g")).as("__gram"))
    corpus.join(broadcast(bench), "__gram")
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id")
      .agg(countDistinct("bench_id").as("n_bench_docs"),
        countDistinct("__gram").as("n_shared_grams"))
      .filter(col("n_shared_grams") >= 3)
      .orderBy("doc_id")
  }

  /** X8 — bloom-prefiltered decontamination: x4's SCALE path. x4
    * broadcasts the benchmark gram set into a hash join, which dies
    * at the 8 GB broadcast ceiling once the eval suite holds ~10⁸+
    * grams; a bloom filter over the same keys is ~25× smaller at 3%
    * fpp and screens the 100 TB side with a codegen'd bitset probe
    * (Spark's own runtime-filter expressions — [[graft.functions
    * .BloomFunctions]]). Survivors are CONFIRMED by the exact join,
    * so false positives cost only wasted probe work, never a wrong
    * answer — the result is bit-identical to the exact
    * contamination check, which is exactly what the oracle verifies.
    * (The header's "~25× smaller" sizing story holds at ~3% fpp;
    * the dials below are sized tighter — see the in-code fpp
    * derivation.) REQUIREd in-query: (1) zero false negatives —
    * every benchmark gram passes its own filter (the bloom
    * guarantee the confirm step leans on); (2) the measured
    * false-positive rate over distinct non-benchmark grams stays
    * within 5× the sized fpp, with the threshold DERIVED from the
    * dials rather than hard-coded (selectivity is the whole point:
    * a saturated filter would silently degrade to a full join). */
  private def qContaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val sh = d.select(col("doc_id"),
      graft.functions.ShingleHashesExpr(col("text"), 3).as("__g"))
    val bench = sh.filter(col("doc_id") % 89 === 5)
      .select(col("doc_id").as("bench_id"), explode(col("__g")).as("__gram"))
    // dials: sized for ~2^17 bench grams at m/n = 16 bits/key; Spark's
    // bloom picks k = round(m/n·ln2) = 11, so the sized worst-case
    // fpp = (1 − e^(−kn/m))^k ≈ 0.046% — state is m/8 = 256 KB no
    // matter how big the corpus is
    val (expItems, numBits) = (1L << 17, 1L << 21)
    val kHash = math.max(1,
      math.round(numBits.toDouble / expItems * math.log(2)).toInt)
    val sizedFpp = math.pow(
      1.0 - math.exp(-kHash.toDouble * expItems / numBits), kHash)
    val blob = bench.agg(graft.functions.BloomFunctions
        .bloomAgg(col("__gram"), expItems, numBits).as("bf"))
      .head.getAs[Array[Byte]](0)
    val pass = graft.functions.BloomFunctions
      .mightContain(lit(blob), col("__gram"))
    // (1) no false negatives: the filter admits every key it was fed
    require(bench.filter(!pass).isEmpty,
      "bloom dropped a benchmark gram — false negatives are impossible " +
        "by construction; the filter blob is corrupt")
    // (2) fp rate over DISTINCT non-bench grams within 5× the sizing
    val benchGrams = bench.select("__gram").distinct()
    val nonBench = sh.select(explode(col("__g")).as("__gram")).distinct()
      .join(benchGrams, Seq("__gram"), "left_anti")
    val Array(fpN, totN) = nonBench
      .agg(sum(when(pass, 1L).otherwise(0L)), count(lit(1)))
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    require(totN == 0L || fpN.toDouble / totN <= 5 * sizedFpp,
      s"bloom false-positive rate ${fpN.toDouble / totN} exceeds 5x " +
        s"the sized fpp ($sizedFpp) - the filter is undersized for " +
        "this key count")
    val corpus = sh.select(col("doc_id"), explode(col("__g")).as("__gram"))
    // the confirm join is deliberately NOT broadcast: x8's premise is
    // a bench set past the broadcast ceiling. The bloom probe has
    // already decimated the corpus side to (true matches + fp), so
    // the shuffle exchanges only survivors — the join is cheap
    // BECAUSE the prefilter ran, which is the whole pattern.
    corpus.filter(pass) // the 100 TB side: bitset probe, no shuffle
      .join(bench, "__gram") // confirm: kills false positives
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id")
      .agg(countDistinct("bench_id").as("n_bench_docs"),
        countDistinct("__gram").as("n_shared_grams"))
      .filter(col("n_shared_grams") >= 2)
      .orderBy("doc_id")
  }

  /** TX7 perplexity-proxy quality scoring (the CCNet/Gopher LM-filter
    * stage, with the corpus itself as the LM): train a unigram model
    * over the whole corpus — token → count, one combinable aggregation
    * — and score every document by its mean negative log-probability.
    * The vocabulary rides a broadcast (Zipf: token TYPES are tiny next
    * to token instances, even at 100 TB), so the exploded token stream
    * never shuffles; the per-doc score is one partial-aggregated
    * groupBy(doc_id). */
  private def qUnigramNll(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(col("doc_id"),
        explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("__tf"))
    val total = vocab.agg(sum("__tf").as("__total"))
    toks.join(broadcast(vocab), "tok")
      .crossJoin(broadcast(total)) // bounded: exactly one row
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("__total")) - log(col("__tf"))), 6).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** TX10 — BIGRAM-INTERPOLATED LM SCORING
    * ([[graft.ops.Text.bigramInterpolatedNll]]), the CCNet/
    * Wikipedia-LM perplexity filter completing tx7's unigram NLL: a
    * bigram model
    * trains on one split (even doc_ids — score with an LM trained
    * ELSEWHERE, never on the documents being judged) and every odd
    * document is scored by the interpolated token probability
    * p = 0.7·p_bi + 0.3·p_uni, with p_bi = c(prev,tok)/c(prev)
    * (0 when the context is unseen) and p_uni add-1-smoothed over the
    * training vocabulary so p is never 0 for out-of-vocabulary
    * tokens. Output: per-document bigram count and average NLL — the
    * number a curation pipeline thresholds on ("keep what the clean
    * LM finds unsurprising").
    *
    * Scale shape: bigram extraction is per-row array arithmetic
    * riding the scan (zero shuffle); the model tables are bounded by
    * CONTENT (vocabulary and bigram types, not corpus rows) and join
    * by equi-key — the two one-row total frames broadcast
    * explicitly, the model joins are left equi-joins AQE broadcasts
    * when they fit and shuffles when they don't. Nothing in the
    * score path is quadratic in anything. */
  private def qBigramNll(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Text.bigramInterpolatedNll(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** TX11 — DSIR data selection ([[graft.ops.Text.dsirWeights]]):
    * target-domain selection by importance weight over hashed n-gram
    * features — the target model fits on the `en` documents, the pool
    * model on the whole corpus, and the non-en candidates rank by
    * Σ n_b·(ln p_b − ln q_b); the top 50 are what DSIR admits. The
    * weight sum is exact BIGINT micros (per-bucket log-ratios
    * quantized once), so ranking reproduces bit-for-bit cross-engine
    * with no float-order ambiguity. REQUIREd in-query: the model
    * discriminates (weight spread nonzero) — a constant-weight model
    * means featurization broke, not that the corpus is uniform. */
  private def qDsirSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = Text.dsirWeights(
        docs.filter(col("lang") === "en"), docs,
        docs.filter(col("lang") =!= "en"),
        "doc_id", "text", buckets = 4096)
      .localCheckpoint() // consumed twice: the spread REQUIRE + output
    val spread = w.agg((max("logw_micros") - min("logw_micros")).as("d"))
      .head.getLong(0)
    require(spread > 0L,
      "DSIR weight spread is zero - the feature models do not discriminate")
    w.orderBy(col("logw_micros").desc, col("doc_id").asc).limit(50)
      .withColumn("rank", row_number().over(Analytics.tinySeqW
        .orderBy(col("logw_micros").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("n_grams"), col("logw_micros"),
        round(col("logw_micros") / lit(1e6), 6).as("logw"), col("rank"))
  }

  /** TX12 — DSIR RESAMPLING ([[graft.ops.Text.gumbelMicros]]): the
    * production selection step the published method actually runs —
    * sample ∝ exp(logw) WITHOUT replacement rather than argmax-k,
    * via the Gumbel-top-k trick: rank by logw + hash-seeded
    * Gumbel(0,1) noise (seed 42 inlined in both engines). The noise
    * quantizes to integer micros exactly like tx11's weight, so the
    * resample key `logw_micros + gumbel_micros` is exact BIGINT
    * arithmetic — deterministic, reproducible, and hash-checkable
    * cross-engine, which is what "seeded sampling" must mean in a
    * pipeline that re-runs. REQUIREd in-query: the noise generator
    * honors its analytic range (g ∈ [−2.65, 13.18]) and actually
    * varies (spread > 1, in micros) — a constant or out-of-range
    * noise column means the hash→uniform→Gumbel plumbing broke.
    * Scale shape: tx11's weight plan + one per-row expression; the
    * top-k is a TakeOrdered, never a full sort. */
  private def qDsirResample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = Text.dsirWeights(
        docs.filter(col("lang") === "en"), docs,
        docs.filter(col("lang") =!= "en"),
        "doc_id", "text", buckets = 4096)
      .withColumn("gumbel_micros",
        Text.gumbelMicros(col("doc_id"), seed = 42L))
      .withColumn("key_micros",
        col("logw_micros") + col("gumbel_micros"))
      .localCheckpoint() // consumed twice: the noise REQUIRE + output
    val stats = w.agg(min("gumbel_micros").as("lo"),
      max("gumbel_micros").as("hi")).head
    val (lo, hi) = (stats.getLong(0), stats.getLong(1))
    require(lo >= -2650000L && hi <= 13180000L,
      s"Gumbel noise outside its analytic range: [$lo, $hi] micros")
    require(hi - lo > 1000000L,
      s"Gumbel noise does not vary (spread ${hi - lo} micros) - the " +
        "hash-seeded uniform grid collapsed")
    w.orderBy(col("key_micros").desc, col("doc_id").asc).limit(50)
      .withColumn("rank", row_number().over(Analytics.tinySeqW
        .orderBy(col("key_micros").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("n_grams"), col("logw_micros"),
        col("gumbel_micros"), col("key_micros"), col("rank"))
  }

  /** TOK1 — the first BPE merge step of tokenizer training: count
    * adjacent character pairs inside every whitespace token across the
    * corpus and rank the merge candidates. One explode to (pair) —
    * the only shuffle is the combinable pair count — then an a8-style
    * TakeOrdered top-20 with a total (count desc, pair asc) order. A
    * driver loop over this query IS BPE training; one step keeps it a
    * single declarative plan. */
  private def qBpePairs(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").select(
        explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 1)
    val pairs = toks.select(explode(transform(
        sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
    pairs.groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(20)
  }

  /** TOK2 — BPE tokenizer TRAINING ([[graft.ops.Bpe.train]]): three
    * full merge rounds of the loop tok1 takes one step of — count
    * pairs, merge the argmax everywhere, recount on the MERGED
    * symbols. Output is the merge table itself (the training
    * artifact), hash-checked against a relational re-derivation that
    * unrolls the rounds with recursive-CTE greedy merging — the
    * argmax order (count desc, pair asc) is total, so both engines
    * pick identical merges. */
  /** The trained merge table is an ARTIFACT (a tokenizer is trained
    * once and applied forever), so it stamp-keys and persists like the
    * stored indexes: first caller trains and commits the sidecar via
    * tmp + rename; later callers (tok3, bench passes 2..N) read it.
    * Training is deterministic on fixed data, so cached and fresh
    * merges are identical — the oracles re-derive from scratch either
    * way. */
  private def trainedMerges(s: SparkSession, dir: String): Seq[Bpe.Merge] = {
    val base = s"/tmp/graft_bpe/${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
      s"_${sourceStamp(s, dir, "documents")}"
    val f = new java.io.File(s"$base/merges.tsv")
    if (f.exists()) {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList.map { line =>
        val Array(r, a, b, n) = line.split("\t", -1)
        Bpe.Merge(r.toInt, a, b, n.toLong)
      } finally src.close()
    } else {
      val (merges, _) = Bpe.train(t(s, dir, "documents"), "text", rounds = 3)
      new java.io.File(base).mkdirs()
      // per-writer tmp name (the TsStore commit-path rule): two
      // concurrent trainers must never interleave into one tmp file —
      // each renames its own complete file, last atomic move wins,
      // and both contents are identical (training is deterministic)
      val tmp = new java.io.File(
        s"$base/merges.tsv.tmp.${java.util.UUID.randomUUID()}")
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try merges.foreach(m => w.println(s"${m.round}\t${m.left}\t${m.right}\t${m.n}"))
      finally w.close()
      java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      merges
    }
  }

  private def qBpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedMerges(s, dir)
      .map(m => (m.round, m.left, m.right, m.left + m.right, m.n))
      .toDF("round", "left_sym", "right_sym", "merged", "n")
      .orderBy("round")
  }

  /** TOK3 — BPE ENCODE ([[graft.ops.Bpe.encode]]): apply tok2's
    * trained merge table to every document — tokenizer INFERENCE,
    * completing the tokenizer story (tok1 counts one step, tok2
    * trains, tok3 encodes). The merge folds run once per DISTINCT
    * word and re-attach by word (the Zipf dividend — see the operator
    * scaladoc for the measured 2.6× vs folding occurrences). Output:
    * per-doc symbol counts before/after merging — what a token-budget
    * planner prices. REQUIREd: the merges strictly compress. Oracle:
    * the training re-derives relationally over DISTINCT words
    * weighted by occurrence count (pair counts and merges are
    * functions of the word multiset — same argmaxes, recursion over
    * the vocabulary instead of the corpus), then joins encoded
    * lengths back to per-doc occurrences — the same dedup-join shape
    * the Spark side runs. */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(s, dir)
    val out = Bpe.encode(t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", merges)
      .select(col("doc_id"), col("n_sym0"), col("n_sym"))
    require(merges.size == 3,
      s"tok3's oracle unrolls exactly 3 rounds; training exhausted at " +
        s"${merges.size} - the fixture corpus is degenerate")
    val tot = out.agg(sum("n_sym0").as("a"), sum("n_sym").as("b")).head()
    require(!tot.isNullAt(0) && tot.getLong(0) > tot.getLong(1),
      s"BPE encode saved nothing: $tot")
    out.orderBy("doc_id")
  }

  /** D8 corpus-boilerplate spans (C4/RefinedWeb-style span dedup,
    * adapted to word grams): a 3-gram occurring in ≥ 10 distinct
    * documents is boilerplate (≥ 4 here — the synthetic corpus tops
    * out at df 7); score each document by the fraction of
    * its distinct grams that are boilerplate. Every stage shuffles only
    * (doc_id, 8-byte gram hash) — document frequency is one combinable
    * count per gram, the doc score one count per doc; text never moves
    * after the scan-stage shingle expression. */
  private def qBoilerplateSpans(s: SparkSession, dir: String): DataFrame = {
    val grams = t(s, dir, "documents").select(col("doc_id"),
        explode(graft.functions.ShingleHashesExpr(col("text"), 3)).as("__gram"))
      .distinct()
    val boiler = grams.groupBy("__gram").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 4).select("__gram")
    val n = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val nb = grams.join(boiler, "__gram")
      .groupBy(col("doc_id").as("__id")).agg(count(lit(1)).as("__nb"))
    n.join(nb, n("doc_id") === col("__id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("__nb"), lit(0L)).as("n_boiler"),
        round(coalesce(col("__nb"), lit(0L)) / col("n_grams"), 6)
          .as("boiler_ratio"))
      .orderBy("doc_id")
  }

  /** Document fingerprint (custom codegen'd FNV-1a expression) —
    * oracle-checked byte-for-byte (FNV-1a folds in HUGEINT SQL), and
    * cross-checked against the portable column-expression formulation
    * in ScalaTest. */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    Text.withFingerprint(t(s, dir, "documents"), "text")
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")

  /** Multimodal plumbing: opaque binary payload + typed metadata
    * (byte length, sha256) — the decode stage is stubbed, the Spark-side
    * schema/partitioning is real. */
  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"), octet_length(col("text")).as("n_bytes"),
        sha2(col("payload"), 256).as("sha"))
      .orderBy("doc_id")

  /** Streaming-shaped tumbling-window aggregation (batch-equivalent of
    * the Structured Streaming path, oracle-checkable). */
  private def qStreamWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(unix_millis(col("w.start")).as("win_ms"), col("event_type"),
        col("n"), col("total"))
      .orderBy("win_ms", "event_type")

  /** Session-window aggregation (st3): Spark's native `session_window`
    * — events gap-merged per user with a 2 h inactivity timeout, the
    * sessionization shape behind DAU/engagement pipelines. Same
    * operator works identically under `readStream` + watermark (the
    * streaming state-store path st2 exercises); batch mode keeps it
    * oracle-checkable. The oracle reproduces Spark's merge rule (new
    * session when the gap is ≥ the timeout; session end = last event
    * + timeout) as gaps-and-islands SQL. */
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "2 hours").as("w"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("user_id"), unix_millis(col("w.start")).as("sess_start_ms"),
        unix_millis(col("w.end")).as("sess_end_ms"), col("n"), col("total"))
      .orderBy("user_id", "sess_start_ms")

  /** ST5 — st3's session operator under a REAL `readStream` with a
    * watermark: the same `session_window(ts, 2h)` aggregation runs in
    * append mode over a multi-batch availableNow stream, so sessions
    * are emitted only when the event-time watermark (1 day) passes
    * their end — the oracle reproduces exactly that cut (gaps-and-
    * islands sessions with `end <= max(ts) - 1d`). Deterministic
    * because the final watermark is the global max event time minus
    * the delay regardless of batch order, and append mode emits each
    * finalized session exactly once across batches. */
  private def qStreamSessions(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_streamsess/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val e = t(s, dir, "events")
      .filter(date_format(col("ts"), "yyyy-MM-dd")
        .between("2024-01-05", "2024-01-07"))
      .select(col("user_id"), col("ts"), col("value"))
    e.coalesce(2).write.mode("overwrite").parquet(s"$base/feed")
    val src = s.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/feed")
    val sessions = src.withWatermark("ts", "24 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "2 hours").as("w"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("user_id"), unix_millis(col("w.start")).as("sess_start_ms"),
        unix_millis(col("w.end")).as("sess_end_ms"), col("n"), col("total"))
    val q = sessions.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        b.write.mode("append").parquet(s"$base/out")
      }
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$base/out")
      .orderBy("user_id", "sess_start_ms")
  }

  /** ST4 streaming exact dedup: a REAL `readStream` run where every
    * event arrives TWICE in separate micro-batches
    * (maxFilesPerTrigger=1 over two identical files) and
    * `dropDuplicatesWithinWatermark` collapses them — the scalable
    * streaming-dedup shape (state holds only ids inside the watermark
    * horizon, so state size is bounded by arrival rate × delay, not
    * corpus size). The day aggregate equals the duplicate-free batch
    * answer: if dedup fails, every count doubles and the hash
    * mismatches. */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_streamdedup/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val e = t(s, dir, "events")
      .filter(date_format(col("ts"), "yyyy-MM-dd")
        .between("2024-01-05", "2024-01-07"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    e.coalesce(1).write.mode("overwrite").parquet(s"$base/feed")
    e.coalesce(1).write.mode("append").parquet(s"$base/feed")
    val src = s.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/feed")
    val deduped = src.withWatermark("ts", "48 hours")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        b.write.mode("append").parquet(s"$base/out")
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$base/out")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"), countDistinct("event_id").as("n_ids"),
        round(sum("value"), 2).as("total"))
      .orderBy("day")
  }

  /** ST7 — event-time stream-stream JOIN: views and clicks arrive as
    * two independent watermarked streams (two pinned-mtime file
    * batches per side, so the multi-batch interleaving is
    * deterministic) and are inner-joined per user on a bounded
    * event-time window (click within 1 h after the view) — the
    * attribution-join shape. The time-range condition is what makes
    * this scale: Spark's symmetric hash join keeps only rows inside
    * `watermark delay + join range` of the stream's max event time in
    * the state store, so state is bounded by arrival rate × horizon,
    * not stream length. The 96 h delay here exceeds the 3-day replay
    * span, so nothing is late-dropped and the emitted pairs equal the
    * batch join exactly (append-mode inner join emits each match
    * once); a production deployment dials the delay down to its real
    * out-of-orderness and the SAME plan holds. */
  private def qStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_streamjoin/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val e = t(s, dir, "events")
      .filter(date_format(col("ts"), "yyyy-MM-dd")
        .between("2024-01-05", "2024-01-07"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    // two files per side with pinned mtimes → the file source replays
    // each side oldest-first in two micro-batches, deterministically.
    // Which file gets the earlier mtime is derived from WHICH WRITE
    // produced it (the file set is captured between the writes) — not
    // from wall-clock mtime order, which ties when both writes land in
    // the same millisecond on a local FS
    def feed(df: DataFrame, sub: String, splitCol: String): Unit = {
      df.filter(col(splitCol) % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/$sub")
      val d = new java.io.File(s"$base/$sub")
      def parts() = d.listFiles().filter(_.getName.endsWith(".parquet"))
      val firstBatch = parts().map(_.getName).toSet
      df.filter(col(splitCol) % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(s"$base/$sub")
      parts().foreach { f =>
        f.setLastModified(
          if (firstBatch(f.getName)) 1700000000000L
          else 1700000000000L + 60000L)
      }
    }
    feed(views, "views", "view_id")
    feed(clicks, "clicks", "click_id")
    val vs = s.readStream.schema(views.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/views")
      .withWatermark("v_ts", "96 hours")
    val cs = s.readStream.schema(clicks.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/clicks")
      .withWatermark("c_ts", "96 hours")
    val joined = vs.join(cs,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
    val q = joined.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        b.write.mode("append").parquet(s"$base/out")
      }
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$base/out")
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("delay_us"))
      .orderBy("view_id", "click_id")
  }

  /** ST6 — streaming near-dup ADMISSION against the stored band
    * index ([[graft.stream.StreamAdmit]]): the curated corpus
    * (doc_id % 10 != 0, d11's split) seeds a persisted
    * fingerprint+signature index; the remaining documents stream in
    * as two pinned-order file batches (batch 0 = doc_id % 20 == 0,
    * batch 1 = doc_id % 20 == 10, mtimes 60 s apart so the file
    * source's oldest-first order is deterministic). Each batch is
    * screened against index ∪ prior admissions; admitted fingerprints
    * append to the index, so batch 1 is checked against batch 0's
    * admissions — the oracle reproduces the two admission stages
    * relationally from the same inlined-coefficient signatures. */
  private def qStreamAdmit(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_streamadmit/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val d = t(s, dir, "documents").select("doc_id", "text")
    graft.stream.StreamAdmit.seedIndex(
      graft.ops.Dedup.minhash(d.filter(col("doc_id") % 10 =!= 0),
        "text", shingleK = 3, numHashes = 32),
      "doc_id", s"$base/index", bands = 16, sigLen = 32)
    // two feed files in pinned mtime order
    val now = System.currentTimeMillis()
    writeFeedFile(d, base, col("doc_id") % 20 === 0, "b0", now - 120000L)
    writeFeedFile(d, base, col("doc_id") % 20 === 10, "b1", now - 60000L)
    val q = graft.stream.StreamAdmit.start(s, s"$base/feed", d.schema,
      "doc_id", "text", s"$base/index", s"$base/admitted", s"$base/ckpt")
    q.awaitTermination()
    s.read.parquet(s"$base/admitted")
      .select(col("doc_id"), col("batch").cast("int").as("batch"))
      .orderBy("doc_id")
  }

  /** ST9 — streaming CURATION admission: st6's near-dup admission
    * with the tx8 Gopher gate composed IN FRONT of the screen — the
    * continuous form of pl1's batch pipeline. A gate-rejected document
    * is never fingerprinted and never enters the index; batch N+1 is
    * screened against the seed corpus plus every GATED-AND-CLEAN
    * admission through batch N. The gate is a pure per-row predicate,
    * so it shrinks every downstream probe and replays identically
    * (the st6 anti-join replay guards engage unchanged behind it).
    * REQUIREd in-query: every admitted doc passes the gate, and the
    * fixture actually exercises it (≥ 1 feed doc gate-fails). */
  private def qStreamAdmitGated(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_streamgate/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val d = t(s, dir, "documents").select("doc_id", "text")
    graft.stream.StreamAdmit.seedIndex(
      graft.ops.Dedup.minhash(d.filter(col("doc_id") % 10 =!= 0),
        "text", shingleK = 3, numHashes = 32),
      "doc_id", s"$base/index", bands = 16, sigLen = 32)
    val now = System.currentTimeMillis()
    writeFeedFile(d, base, col("doc_id") % 20 === 0, "b0", now - 120000L)
    writeFeedFile(d, base, col("doc_id") % 20 === 10, "b1", now - 60000L)
    val q = graft.stream.StreamAdmit.start(s, s"$base/feed", d.schema,
      "doc_id", "text", s"$base/index", s"$base/admitted", s"$base/ckpt",
      gate = Some(Text.gopherKeep(col("text"))))
    q.awaitTermination()
    val admitted = s.read.parquet(s"$base/admitted")
    val nBad = admitted.join(d, "doc_id")
      .filter(!Text.gopherKeep(col("text"))).count()
    require(nBad == 0, s"$nBad admitted docs fail the quality gate")
    val nGateFailed = d
      .filter(col("doc_id") % 20 === 0 || col("doc_id") % 20 === 10)
      .filter(!Text.gopherKeep(col("text"))).count()
    require(nGateFailed > 0, "fixture never exercises the gate")
    admitted.select(col("doc_id"), col("batch").cast("int").as("batch"))
      .orderBy("doc_id")
  }

  /** W10 rolling z-score per series (20-row trailing window): the
    * outlier-scoring stage of sensor/market data cleaning — one
    * shuffle per subject, window math inside the stage. Ordered by the
    * unique ingest key so both engines window identical row sets; the
    * single-row and zero-variance windows null out identically via
    * stddev_samp/NULLIF semantics. */
  private def qRollingZ(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id") < 5)
      .withColumn("k", evKey)
    val w = Window.partitionBy("user_id").orderBy("k").rowsBetween(-19, 0)
    val sd = stddev_samp(col("value")).over(w)
    e.select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_win"),
        round((col("value") - avg("value").over(w)) /
          when(sd =!= 0.0, sd), 4).as("z"))
      .orderBy("user_id", "event_id")
  }

  /** O5 grid resampling: last-value-carried-forward onto a regular
    * hourly grid — the reference's ifprev carry-back (CMP_FIND_AGO)
    * generalized to resample-to-grid, built on [[graft.ops.AsOf]]'s
    * union + running-last shape (one shuffle on the key, no
    * inequality join). Grid keys sit between ingest keys
    * (`g_ms*1e6 + 999999`), so a grid point admits every event at or
    * before that millisecond, deterministically. */
  private def qResampleGrid(s: SparkSession, dir: String): DataFrame = {
    val dayLo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val e = t(s, dir, "events")
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-10")
      .select(col("user_id"), evKey.as("k"), col("value"))
    val grid = e.select("user_id").distinct()
      .select(col("user_id"), explode(sequence(
        lit(dayLo), lit(dayLo + 23L * 3600000), lit(3600000L))).as("g_ms"))
      .withColumn("gk", col("g_ms") * 1000000L + 999999L)
    AsOf.join(grid, e, Seq("user_id"), "gk", "k", Seq("value"))
      .select(col("user_id"), col("g_ms"), col("value"))
      .orderBy("user_id", "g_ms")
  }

  /** A1's streaming face, oracle-checked: a REAL
    * flatMapGroupsWithState run (state = the open bar per subject in
    * the streaming state store) over the event feed; the output is
    * every bar finalized by a boundary-cross — i.e. all bars except
    * each subject's still-open last one, which is exactly what the
    * oracle excludes. Deterministic because open/close are ordered by
    * the unique (t, event_id) key, not arrival order. */
  private def qLiveBars(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_livebars/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val e = t(s, dir, "events").select(
      concat(lit("u"), col("user_id")).as("subject"),
      evKey.as("k"), unix_millis(col("ts")).as("t"), col("value").as("v"))
    e.write.mode("overwrite").parquet(s"$base/feed")
    val src = s.readStream.schema(e.schema).parquet(s"$base/feed")
    // foreachBatch, not the memory sink: it supports checkpoint
    // recovery, and the collected rows are bounded (subjects × bars)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[graft.stream.LiveRollup.Bar]()
    val q = graft.stream.LiveRollup.finalizedBars(src, 6L * 3600 * 1000)
      .writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.stream.LiveRollup.Bar], _: Long) =>
        ds.collect().foreach(buf.add)
      }
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.createDataset(buf.toArray(Array.empty[graft.stream.LiveRollup.Bar]).toSeq)(
        org.apache.spark.sql.Encoders.product[graft.stream.LiveRollup.Bar])
      .select(col("subject"), col("bar_start"), col("open"), col("high"),
        col("low"), col("close"), col("n"))
      .orderBy("subject", "bar_start")
  }

  // ───────── range sentinels (the reference's `get` bread & butter) ──

  private def withDay(e: DataFrame): DataFrame =
    e.withColumn("day", TimeUnits.dayInt(col("ts")).cast("long"))
      .withColumn("k", evKey)

  /** P2 `stop = 0`: strict equality on the main (day) index. */
  private def qRangeEq(s: SparkSession, dir: String): DataFrame =
    Query.range(withDay(t(s, dir, "events")), "user_id", "day",
        start = 20240115L, stop = 0L)
      .select("user_id", "event_id", "day")
      .orderBy("user_id", "event_id")

  /** P2 `stop = -1`: open-ended start..latest. */
  private def qRangeOpen(s: SparkSession, dir: String): DataFrame =
    Query.range(withDay(t(s, dir, "events")), "user_id", "day",
        start = 20240125L, stop = -1L)
      .select("user_id", "event_id", "day")
      .orderBy("user_id", "event_id")

  /** P2 `ifprev = 1`: users with rows on the day get them; users without
    * get their last earlier row (as-of fallback,
    * sisdb_fmap.h:109-137 / CMP_FIND_AGO). */
  private def qRangeIfprev(s: SparkSession, dir: String): DataFrame =
    Query.range(withDay(t(s, dir, "events")), "user_id", "day",
        start = 20240115L, stop = 0L, ifprev = true, tieBreak = Seq("k"))
      .select("user_id", "event_id", "day")
      .orderBy("user_id", "event_id")

  // ───────── remaining analytics (A5 damped, W4 trend, W7 dir corr) ──

  /** A5 faithful damped incremental average per subject
    * (sis_ai_calc_avgm, sis_ai.c:358-383). */
  private def qDampedAvg(s: SparkSession, dir: String): DataFrame =
    Analytics.dampedAvg(t(s, dir, "events"), Seq("user_id"), evKey,
        col("value"))
      .select(col("user_id"), round(col("avgm"), 6).as("avgm"),
        col("n_used"))
      .orderBy("user_id")

  /** A5 ratio variant (sis_ai_calc_avgr): damped value/volume ratio
    * per subject — son = value, mom = a derived weight. */
  private def qDampedRatio(s: SparkSession, dir: String): DataFrame =
    Analytics.dampedRatio(
        t(s, dir, "events").withColumn("w", pmod(col("event_id"), lit(7)) + 1),
        Seq("user_id"), evKey, col("value"), col("w").cast("double"))
      .select(col("user_id"), round(col("avgm"), 6).as("avgm"),
        round(col("avgr"), 6).as("avgr"), col("n_used"))
      .orderBy("user_id")

  /** A6 split variant: mid-anchored normalization (mid = group mean). */
  private def qNormalizeSplit(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val mids = o.groupBy("o_orderpriority").agg(avg("o_totalprice").as("__mid"))
    Analytics.minMaxNormSplit(
        o.join(broadcast(mids), Seq("o_orderpriority")),
        "o_totalprice", col("__mid"), Seq("o_orderpriority"), "norm")
      .select(col("o_orderkey"), round(col("norm"), 6).as("norm"))
      .orderBy("o_orderkey")
  }

  /** W7 sign/direction correlation of day-over-day moves
    * (sis_ai_corr_dir, sis_ai_corr.c:71-92). */
  private def qDirCorr(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val daily = e.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(avg(when(col("event_type") === "click", col("value"))).as("cv"),
        avg(when(col("event_type") === "purchase", col("value"))).as("pv"))
    // daily aggregate series — bounded by the calendar, deliberate
    // single-sequence window (Analytics.tinySeqW)
    val w = Analytics.tinySeqW.orderBy("day")
    val diffs = daily.select(
      (col("cv") - lag("cv", 1).over(w)).as("x"),
      (col("pv") - lag("pv", 1).over(w)).as("y"))
    diffs.agg(round(Analytics.dirCorr(col("x"), col("y")), 6).as("corr_dir"))
  }

  /** W4 trend-turn detection per subject (custom Aggregator — no Spark
    * built-in). Oracle-checked: the early-exit backward scan has an
    * exact window-function reformulation (see the w4 oracle SQL), and
    * [[TextFunctions.roundHalfUp6]] keeps the rounding engine-stable. */
  private def qTrend(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("k", evKey)
    val tr = Trend.trendUdaf(0.02)
    e.groupBy("user_id")
      .agg(tr(col("k"), col("value")).as("t"))
      .select(col("user_id"), col("t.dir").as("dir"), col("t.start").as("start"),
        TextFunctions.roundHalfUp6(col("t.rate")).as("rate"),
        TextFunctions.roundHalfUp6(col("t.drift")).as("drift"))
      .orderBy("user_id")
  }

  // ───────── store / schema / formats / ingest surfaces ──────────────

  /** S2/M7: partitioned save + pruned read-back — the engine's main
    * scale lever. The read plan carries PartitionFilters on `day`
    * (asserted in StoreSpec); the checked answer must equal reading the
    * source directly. */
  private def qPartitionPruned(s: SparkSession, dir: String): DataFrame = {
    val store = s"/tmp/graft_store/${dir.replaceAll("[^A-Za-z0-9]", "_")}/events_by_day"
    val e = t(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Write.save(e, store, Seq("day"))
    s.read.parquet(store)
      .filter(col("day").between("2024-01-10", "2024-01-14"))
      .withColumn("day", col("day").cast("string"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("day", "event_type")
  }

  /** §1.2/§1.3: schema-DSL-declared table with a P (zint price) column:
    * encode→decode at the declared `dot` — the storage codec's
    * round-half-up at 2 decimals, byte-exact vs the oracle formula. */
  private def qSchemaZint(s: SparkSession, dir: String): DataFrame = {
    val sdb = SdbSchema.parse(
      "{quote:{fields:{time:[T,8],code:[C,16,1,0,O],price:[P,8,1,2]}}}")
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("price"))
    li.withColumn("z", Zint.encode64(col("price"), sdb.dotOf("price")))
      .select(col("l_orderkey"), col("l_linenumber"),
        Zint.decode64(col("z")).as("price_dec"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** S10 formatters: CSV and JSON row rendering with projection. */
  private def qRenderRows(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") < 200)
    val csv = Render.toCsvRows(o, Seq("o_orderkey", "o_orderpriority"), out = "csv")
    Render.toJsonRows(csv, Seq("o_orderkey", "o_orderpriority"), out = "js")
      .select("o_orderkey", "csv", "js")
      .orderBy("o_orderkey")
  }

  /** M2 `bset` binary rows: typed rows → packed little-endian structs
    * (the reference's wire/storage record) → parsed back → aggregate.
    * P price fields round-trip through the zint64 codec at dot=2. */
  private def qBsetRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val sdb = SdbSchema.parse(
      "{li:{fields:{okey:[I,8],ln:[I,4],qty:[F,8],price:[P,8,1,2],flag:[C,1]}}}")
    val packed = t(s, dir, "lineitem")
      .select(BinaryRows.pack(struct(
        col("l_orderkey").as("okey"), col("l_linenumber").as("ln"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
        col("l_returnflag").as("flag")), sdb).as("b"))
    packed.select(BinaryRows.unpack(col("b"), sdb).as("u"))
      .select("u.*")
      .groupBy("flag")
      .agg(count(lit(1)).as("n"), round(sum("qty"), 2).as("sum_qty"),
        round(sum("price"), 2).as("sum_price"))
      .orderBy("flag")
  }

  /** M9 update-by-search: conditional field rewrite. */
  private def qUpdateBySearch(s: SparkSession, dir: String): DataFrame =
    Write.updateBySearch(t(s, dir, "events"),
        col("event_type") === "error", Map("value" -> lit(0.0)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("event_type")

  /** Dynamic schema convert with the never-cross-type-coerce rule
    * (sis_dynamic.h:110-117): v2 redeclares qty as an int → zeroed, adds
    * tax → zeroed; same-style fields carry over. */
  private def qConvert(s: SparkSession, dir: String): DataFrame = {
    val v1 = SdbSchema.parse("{item:{fields:{qty:[F,8],flag:[C,1],price:[F,8]}}}")
    val v2 = SdbSchema.parse("{item:{fields:{qty:[I,4],flag:[C,1],price:[F,8],tax:[F,8]}}}")
    val src = t(s, dir, "lineitem").select(
      col("l_quantity").as("qty"), col("l_returnflag").as("flag"),
      col("l_extendedprice").as("price"))
    Convert.align(src, v1, v2)
      .groupBy("flag")
      .agg(count(lit(1)).as("n"), sum("qty").cast("long").as("sum_qty"),
        round(sum("price"), 2).as("sum_price"),
        round(sum("tax"), 2).as("sum_tax"))
      .orderBy("flag")
  }

  /** S7 CSV sink + source round-trip through an SdbSchema-typed read. */
  private def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"/tmp/graft_csv/${dir.replaceAll("[^A-Za-z0-9]", "_")}/orders"
    val src = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    Sources.writeCsv(src, tmp)
    val sdb = SdbSchema.parse(
      "{orders:{fields:{o_orderkey:[I,8],o_custkey:[I,8],o_totalprice:[F,8],o_orderstatus:[C,1]}}}")
    Sources.readCsv(s, tmp, sdb)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  /** S9/M1 JSON row ingest: `{field: val}` strings → typed columns via
    * the declared schema (the reference's `set key {json}` path). */
  private def qJsonIngest(s: SparkSession, dir: String): DataFrame = {
    val sdb = SdbSchema.parse(
      "{ev:{fields:{event_id:[I,8],user_id:[I,8],value:[F,8]}}}")
    val js = t(s, dir, "events").select(to_json(struct(
      col("event_id"), col("user_id"), col("value"))).as("j"))
    Sources.fromJsonRows(js, "j", sdb).drop("j")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("user_id")
  }

  /** The full client surface in one checked round-trip: events sampled
    * per user → JSON `set` through [[graft.api.Engine]] (schema-typed
    * parse, per-table store) → ranged `get` back — the exact command
    * flow a reference client drives, answered against the oracle
    * reading the source directly. */
  /** Shared e1/u1 ingest: 10 users' events pushed through the client
    * `set` surface (schema-typed JSON arrays) into a fresh engine. */
  /** Client-side ingest surface shared by the e-queries: per-user JSON
    * array payloads exactly as a reference client would send them —
    * (user_id, "[{t,etype,value},…]") pairs, collected driver-side
    * because the COMMAND surface is what these queries exercise. */
  /** The e15 cut state re-derived from the source events — shared
    * verbatim by e15 (reads AT the cut) and e19 (restores live TO the
    * cut): both queries' outputs are, by contract, this corpus. */
  private val cutStateOracle: String =
    """SELECT tbl, subject, count(*) AS n, round(sum(v), 2) AS total
         FROM (
           SELECT 'ev' AS tbl, 'u' || user_id AS subject, value AS v
           FROM events WHERE user_id < 8 AND event_id % 2 = 1
           UNION ALL
           SELECT 'fx' AS tbl, 'u' || user_id AS subject, value * 2 AS v
           FROM events WHERE user_id < 8 AND event_id % 2 = 1)
         GROUP BY 1, 2 ORDER BY tbl, subject"""

  private def clientEventPayloads(rows: DataFrame): Array[(Long, String)] =
    rows.select(col("user_id"), to_json(struct(col("ts").as("t"),
        col("event_type").as("etype"), col("value").as("value"))).as("j"))
      .groupBy("user_id")
      .agg(concat(lit("["), concat_ws(",", collect_list("j")), lit("]")).as("arr"))
      .collect().map(r => (r.getLong(0), r.getString(1)))

  private def engineWithEvents(s: SparkSession, dir: String,
      root: String): graft.api.Engine = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    clientEventPayloads(t(s, dir, "events").filter(col("user_id") < 10))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng
  }

  private def qEngineRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val eng = engineWithEvents(s, dir,
      s"/tmp/graft_engine_q/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    val lo = java.time.Instant.parse("2024-01-08T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-20T23:59:59.999Z").toEpochMilli
    eng.get("*.ev", s"""{range:{start:$lo,stop:$hi}}""")
      .groupBy("subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("subject")
  }

  /** E2 multi-key addressing: one command addresses several subjects —
    * `get SH600600,SH600601.stk_day …` (workers/sisdb/sisdb.h:44-49;
    * matcher sis_match_key, src/core/sis_utils.h:58-73). The comma
    * list compiles to a single `In(subject, …)` data filter, not N
    * scans of the store. */
  private def qEngineMultikey(s: SparkSession, dir: String): DataFrame = {
    val eng = engineWithEvents(s, dir,
      s"/tmp/graft_engine_mk/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    val lo = java.time.Instant.parse("2024-01-08T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-20T23:59:59.999Z").toEpochMilli
    eng.get("u1,u3,u5.ev", s"""{range:{start:$lo,stop:$hi}}""")
      .groupBy("subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("subject")
  }

  /** E3 — M9 through the COMMAND surface (`update key {search, val}`,
    * workers/sisdb/sisdb.h:50-53): the e1 engine ingest, then u3's
    * error rows zeroed via the engine's update. Matched rows are
    * re-staged with a fresh ingest sequence (O(matched rows) write,
    * never a store rewrite) and shadow their originals through the
    * solely-upsert read path. */
  private def qEngineUpdate(s: SparkSession, dir: String): DataFrame = {
    val eng = engineWithEvents(s, dir,
      s"/tmp/graft_engine_up/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    eng.update("u3.ev", """{search:{etype:"error"}, val:{value:0.0}}""")
    eng.get("*.ev", "{}")
      .groupBy("subject", "etype")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("subject", "etype")
  }

  /** E4 — T6 through the COMMAND surface: factor series written with
    * the auto-creating `fset` (first write declares the degenerate
    * `{time:T, value:F8}` table, /root/reference/src/core/disk/
    * readme.md) and read back with a ranged `fget`. Client batch shape
    * mirrors e1: one JSON-array fset per subject. */
  private def qEngineFactor(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_engine_fx/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    val perUser = t(s, dir, "events").filter(col("user_id") < 10)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(round(avg("value"), 6).as("factor"))
      .select(col("user_id"), to_json(struct(
        to_timestamp(col("day"), "yyyy-MM-dd").as("time"),
        col("factor").as("value"))).as("j"))
      .groupBy("user_id")
      .agg(concat(lit("["), concat_ws(",", collect_list("j")), lit("]")).as("arr"))
      .collect() // client-side surface: 10 subjects' factor payloads
    perUser.foreach(r => eng.fset(s"u${r.getLong(0)}.macd", r.getString(1)))
    val lo = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
    eng.fget("u7.macd", lo, hi)
      .select(unix_millis(col("time")).as("time"), col("value").as("factor"))
      .orderBy("time")
  }

  /** E5 — T2 `psub` replay through the COMMAND surface (workers/sisdb/
    * sisdb.c:491-546): the e1 engine ingest, then `replay(ev, day)`
    * pumps the stored day through the live SubRegistry in sliced time
    * order. Per-subscriber filtering runs distributed (a Spark filter
    * per slice); the bounded client-side collector mirrors t4's stream
    * collectors. The `u1,u3.ev` pattern proves replayed frames carry
    * the table tag. */
  private def qEngineReplay(s: SparkSession, dir: String): DataFrame = {
    val eng = engineWithEvents(s, dir,
      s"/tmp/graft_engine_rp/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    val acc = scala.collection.mutable.Map[String, (Long, Double)]()
    eng.sub("collector", Seq("u1,u3.ev")) { df =>
      df.groupBy("subject").agg(count(lit(1)), sum("value")).collect()
        .foreach { r =>
          val (n0, v0) = acc.getOrElse(r.getString(0), (0L, 0.0))
          acc(r.getString(0)) = (n0 + r.getLong(1), v0 + r.getDouble(2))
        }
    }
    eng.replay("ev", "2024-01-05", slices = 4)
    import s.implicits._
    acc.toSeq.map { case (k, (n, v)) =>
      (k, n, BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1).toDF("subject", "n", "total")
  }

  /** E6 — M5 through the COMMAND surface: ranged `del` on one subject.
    * TsStore.deleteWhere rewrites ONLY the day partitions inside the
    * range (O(days in range) — round 7's flagged scale-killer was the
    * whole-store rewrite this replaces); the read-back checks surviving
    * rows, including u2's rows OUTSIDE the range, are intact. */
  private def qEngineDel(s: SparkSession, dir: String): DataFrame = {
    val eng = engineWithEvents(s, dir,
      s"/tmp/graft_engine_dl/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    eng.save("ev")
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-20T23:59:59.999Z").toEpochMilli
    eng.del("u2.ev", s"""{range:{start:$lo,stop:$hi}}""")
    eng.get("*.ev", "{}")
      .groupBy("subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("subject")
  }

  /** E10 — snapshot-isolated concurrent reads over the store: the
    * TsStore's versioned `__day=X/__v=N` dirs + an exclusively claimed
    * manifest as the single commit point (TsStore scaladoc "On-disk
    * layout and the concurrent-reader contract"). A reader PINNED
    * before a multi-day ranged delete must keep serving the full
    * pre-delete snapshot while the delete commits — the race an
    * in-place delete-dest+rename rewrite cannot protect
    * (round-9 verdict item 5, the reference's serialize-everything
    * dispatcher sidesteps it, sisdb_server.c:474-476). Both
    * isolation properties are REQUIREd in-query, the o4/u1 gate
    * pattern: the pinned count equals the pre-delete count, the
    * fresh pin sees the delete, and the version dirs the old
    * manifest references survive the commit. Returns the post-delete
    * read, which the oracle reproduces relationally. */
  private def qSnapshotReader(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_snapstore/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val st = new graft.store.TsStore(s, s"$root/ev", subject = "subject",
      time = "t", soleCols = Nil, dayCol = col("day"))
    val e = t(s, dir, "events").filter(col("user_id") < 5)
      .select(concat(lit("u"), col("user_id")).as("subject"),
        col("ts").as("t"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    st.set(e); st.save()
    val pre = e.count()
    val pinned = graft.store.TsStore.openSnapshot(s, s"$root/ev", "subject").get
    st.deleteWhere(col("subject") === "u2" &&
        col("day").between("2024-01-10", "2024-01-20"),
      d => d >= "2024-01-10" && d <= "2024-01-20")
    require(pinned.count() == pre,
      s"pinned reader lost rows across a multi-day delete (want $pre)")
    val fresh = graft.store.TsStore.openSnapshot(s, s"$root/ev", "subject").get
    require(fresh.count() < pre, "fresh pin does not see the committed delete")
    st.read().groupBy("subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("subject")
  }

  /** KV2 — §1.4 ONE/MUL through the COMMAND surface (kv1 is the
    * library model): per-user ONE keys written twice (`kset`, last
    * write wins), a MUL list appended in event order (`kpush`), read
    * back via `kget` patterns and `krange`. Keys are bare strings —
    * dots inside them are data, not subject.table splits. */
  private def qEngineKv(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_engine_kv/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    val counts = t(s, dir, "events").filter(col("user_id") < 5)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    counts.foreach { case (u, _) => eng.kset(s"mode.u$u", "init") }
    counts.foreach { case (u, n) => eng.kset(s"mode.u$u", n.toString) }
    val first5 = t(s, dir, "events").filter(col("user_id") === 2)
      .orderBy(evKey).limit(5)
      .select("event_type").collect().map(_.getString(0))
    first5.foreach(v => eng.kpush("log", v))
    eng.kget("mode.*")
      .select(lit("one").as("op"), col("key"), lit(0L).as("seq"), col("value"))
      .unionByName(eng.krange("log").select(lit("mul").as("op"), col("key"),
        col("seq"), col("value")))
      .orderBy("op", "key", "seq")
  }

  /** E7 — T3 through the COMMAND surface: a parquet feed (the e1
    * events subset) STREAMED into the ev table's own store via
    * `Engine.startIngest` (Structured Streaming, availableNow,
    * checkpointed foreachBatch → set+save per micro-batch), then read
    * back through the ordinary get — streamed rows are immediately
    * addressable like any set() data, and redelivery is idempotent
    * through the upsert slots. */
  private def qEngineIngest(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_engine_in/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val eng = new graft.api.Engine(s, s"$base/root")
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    t(s, dir, "events").filter(col("user_id") < 10)
      .select(col("ts").as("t"), col("event_type").as("etype"),
        col("value"), concat(lit("u"), col("user_id")).as("subject"))
      .write.mode("overwrite").parquet(s"$base/feed")
    eng.startIngest("ev", s"$base/feed", s"$base/ckpt").awaitTermination()
    eng.get("*.ev", "{}")
      .groupBy("subject", "etype")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("subject", "etype")
  }

  /** E9 — raw `pub` through the COMMAND surface (workers/memdb/
    * memdb.h:43-44): transient publish to matching subscribers with NO
    * store write. The e1 client payloads are pushed through `pub`
    * instead of `set`; the collector aggregates what the u1,u3 pattern
    * fanned out, and the store must stay empty — proved by unioning
    * the (zero-row) stored side into the result. */
  private def qEnginePub(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_engine_pb/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    val acc = scala.collection.mutable.Map[String, (Long, Double)]()
    eng.sub("collector", Seq("u1,u3.ev")) { df =>
      df.groupBy("subject").agg(count(lit(1)), sum("value")).collect()
        .foreach { r =>
          val (n0, v0) = acc.getOrElse(r.getString(0), (0L, 0.0))
          acc(r.getString(0)) = (n0 + r.getLong(1), v0 + r.getDouble(2))
        }
    }
    clientEventPayloads(t(s, dir, "events").filter(col("user_id") < 10))
      .foreach { case (u, arr) => eng.pub(s"u$u.ev", arr) }
    import s.implicits._
    val collected = acc.toSeq.map { case (k, (n, v)) =>
      (k, n, BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1).toDF("subject", "n", "total")
    // pub is transient: the store side contributes ZERO rows
    collected.unionByName(
      eng.get("*.ev", "{}").groupBy("subject")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total")))
      .orderBy("subject")
  }

  /** E8 — engine COLD RESTART: the e1 ingest flushed and one subject
    * dropped, then a brand-new Engine instance opens the same rootPath
    * WITHOUT any `create` being re-issued — table declarations
    * rehydrate from the persisted catalog sidecar (the reference
    * recovers its sdb dicts from conf/disk at init/open,
    * workers/sisdb/sisdb.c:603-639), stores re-attach to their cold
    * files, and the drop's tombstone stays dead across the restart. */
  private def qEngineRestart(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_engine_rs/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    val eng = engineWithEvents(s, dir, root)
    eng.save("ev")
    eng.drop("u4.ev")
    val eng2 = new graft.api.Engine(s, root) // fresh process in production
    eng2.get("*.ev", "{}")
      .groupBy("subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("subject")
  }

  /** U1 SQL front door: the SAME engine-ingested store as e1, but
    * queried through plain `spark.sql` against the catalog-registered
    * table (`graft.ev`) — no Scala API in the read path. The day
    * predicate must prune partitions in the SQL plan (`require`d, like
    * o4), proving SQL clients get the engine's scale lever, not just
    * its data. */
  private def qSqlTable(s: SparkSession, dir: String): DataFrame = {
    val eng = engineWithEvents(s, dir,
      s"/tmp/graft_sql_q/${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    val name = eng.exposeSql("ev")
    val q = s.sql(
      s"""SELECT subject, count(*) AS n, round(sum(value), 2) AS total
         FROM $name
         WHERE __day BETWEEN '2024-01-08' AND '2024-01-20'
         GROUP BY subject ORDER BY subject""")
    val plan = q.queryExecution.executedPlan.toString
    // non-EMPTY PartitionFilters naming __day — "PartitionFilters: []"
    // with a post-scan filter must fail (same extraction as o4)
    val pf = plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").trim
    require(plan.contains("PartitionFilters: [") && !pf.isEmpty &&
      pf.contains("__day"),
      s"SQL day predicate did not prune partitions:\n$plan")
    q
  }

  /** E11 — SQL front door over versions: the engine runs with
    * versioned day dirs (concurrent-reader isolation, e10), and
    * `exposeSql` pins each catalog partition's LOCATION to the
    * manifest-committed `__v=N` dir instead of filesystem discovery.
    * The ingest deliberately rewrites every day at a second version
    * (two saves: odd event-ids, then all rows through the upsert
    * slots) and a post-expose `del` advances more days — a
    * discovery-based registration would double-count the odd rows and
    * resurrect the deleted ones; the hash oracle proves SQL reads the
    * committed snapshot exactly once. Day predicates must still prune
    * through the catalog partitions (`require`d, like u1). */
  private def qSnapshotSql(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_snap_sql/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    def ingest(rows: DataFrame): Unit = clientEventPayloads(rows)
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    val ev = t(s, dir, "events").filter(col("user_id") < 10)
    ingest(ev.filter(col("event_id") % 2 === 1))
    eng.save("ev")
    ingest(ev) // every day advances to a second version; odds re-slot
    eng.save("ev")
    val qn = eng.exposeSql("ev", db = "graft_snap")
    // live re-pin: the delete lands AFTER the exposure
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-20T23:59:59.999Z").toEpochMilli
    eng.del("u2.ev", s"""{range:{start:$lo,stop:$hi}}""")
    val q = s.sql(
      s"""SELECT subject, count(*) AS n, round(sum(value), 2) AS total
         FROM $qn
         WHERE __day BETWEEN '2024-01-08' AND '2024-01-20'
         GROUP BY subject ORDER BY subject""")
    val plan = q.queryExecution.executedPlan.toString
    val pf = plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").trim
    require(plan.contains("PartitionFilters: [") && !pf.isEmpty &&
      pf.contains("__day"),
      s"snapshot SQL day predicate did not prune partitions:\n$plan")
    q
  }

  /** Z1 — multi-dimensional layout ([[graft.ops.Layout]]): the events
    * table is written twice, once sorted by `value` alone (the 1-D
    * layout every plain sort gives) and once Z-ordered on
    * (user_id, value); the same 2-D box predicate is then priced
    * against both layouts from their parquet footer stats. The
    * `require`s pin the scale claim itself: the Z-layout must skip
    * files for the box (a sorted layout's non-leading dimension prunes
    * nothing) and must never need MORE files than the 1-D layout.
    * The returned aggregate is computed off the pruned Z files and
    * hash-checked against the source-of-truth oracle — pruning that
    * dropped a row the box needs would mismatch. */
  private def qZorderScan(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_zorder/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val e = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val b = e.agg(min("user_id"), max("user_id"), min("value"), max("value"))
      .collect()(0) // four scalars to bound the uniform ranks
    val (loU, hiU) = (b.getLong(0).toDouble, b.getLong(1).toDouble)
    val (loV, hiV) = (b.getDouble(2), b.getDouble(3))
    val files = 16
    graft.ops.Layout.zorderWrite(e,
      graft.ops.Layout.uniformRank(col("user_id"), loU, hiU, 256),
      graft.ops.Layout.uniformRank(col("value"), loV, hiV, 256),
      s"$base/z", files)
    e.repartitionByRange(files, col("value")).sortWithinPartitions("value")
      .write.mode("overwrite").parquet(s"$base/linear")
    val z = s.read.parquet(s"$base/z")
    val box = Seq(("user_id", 3.0, 6.0), ("value", 20.0, 60.0))
    val (zHit, zTot) = graft.ops.Layout.filesForBox(z, box)
    val (lHit, _) = graft.ops.Layout.filesForBox(
      s.read.parquet(s"$base/linear"), box)
    require(zHit < zTot,
      s"z-order layout skipped no files for the 2-D box ($zHit/$zTot)")
    require(zHit <= lHit,
      s"z-order read MORE files than the 1-D layout ($zHit vs $lHit)")
    z.filter(col("user_id").between(3, 6) && col("value").between(20.0, 60.0))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("event_type")
  }

  /** HH1 — corpus heavy hitters (frequent word bigrams), the
    * boilerplate/contamination reconnaissance pass a training-data
    * pipeline runs before dedup. The exact path is a two-level
    * aggregate (map-side partial counts, then a TakeOrdered top-k — no
    * full sort) and is what ships; alongside it the query builds the
    * bounded-memory scale sibling, a Count-Min sketch (one pass,
    * `depth × width` ints total regardless of corpus size — the
    * streaming/approximate path when the bigram domain outgrows the
    * agg hash maps), and `require`s its guarantees against the exact
    * counts: every estimate ≥ truth, and ≤ truth + ε·N at the sketch's
    * own ε. A sketch that breaks either bound fails the query. */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val eps = 0.001
    val bigrams = t(s, dir, "documents")
      .select(filter(split(col("text"), "\\s+"),
        w => length(w) > 0).as("w"))
      .select(explode(zip_with(
        slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0))),
        slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val top = bigrams.groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(20)
    val cms = bigrams.stat.countMinSketch("bigram", eps, 0.999, 42)
    val slack = (eps * cms.totalCount()).toLong
    top.collect().foreach { r =>
      val (g, n) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(g)
      require(est >= n, s"CMS under-counted '$g': $est < $n")
      require(est <= n + slack,
        s"CMS blew its ε bound on '$g': $est > $n + $slack")
    }
    top
  }

  /** QS1 — distribution summaries two ways: the EXACT per-group
    * percentiles (value at rank ⌈q·n⌉) and the mergeable
    * quantile-sketch sibling (`percentile_approx`,
    * Greenwald-Khanna: bounded state per partition, merged
    * associatively — the only option on a stream). The exact path is
    * deliberately NOT `row_number() over (partition by group)` — with
    * a handful of groups that is a handful of single-task sorts, a
    * straight scale-killer at 2B rows per group. Instead the rank is
    * [[Analytics.globalRowNumber]] over the total
    * (group, value) order — range-partitioned, rank locally, add
    * broadcast offsets, no stage sees more than one partition — and
    * the per-group rank is the global rank minus the group's start
    * offset (group count table: one row per group). The sketch's
    * contract is `require`d against truth: every (group, q) sketch
    * value's exact rank must lie within ε·n of target. Tie order
    * between equal prices cannot change any output (the value at a
    * rank is a property of the sorted multiset). */
  private def qQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = t(s, dir, "lineitem").select("l_returnflag", "l_extendedprice")
    val qs = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
    // group starts: one row per group (bounded by group cardinality,
    // the same scalar-read contract as the lag-corr table)
    val groupRows = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().sortBy(_.getString(0))
    val offDf = {
      var acc = 0L
      groupRows.map { r =>
        val t = (r.getString(0), acc, r.getLong(1)); acc += r.getLong(1); t
      }.toSeq.toDF("l_returnflag", "__off", "n")
    }
    val ranked = Analytics.globalRowNumber(li,
        Seq(col("l_returnflag"), col("l_extendedprice")), "__grn")
      .join(broadcast(offDf), "l_returnflag")
      .withColumn("rn", col("__grn") - col("__off"))
    val exact = qs.map { case (q, label) =>
      ranked.filter(col("rn") === ceil(lit(q) * col("n")))
        .select(col("l_returnflag"), lit(label).as("q"), col("n"),
          col("l_extendedprice").as("v"))
    }.reduce(_ unionByName _)
    // sketch side: one pass, fixed state, same grouping
    val accuracy = 1000
    val approx = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"),
        array(qs.map(p => lit(p._1)): _*), lit(accuracy)).as("est"))
      .collect().flatMap(r => qs.map(_._2).zipWithIndex.map { case (l, i) =>
        (r.getString(0), l) -> r.getSeq[Double](1)(i)
      }).toMap
    // exact rank of each sketch value in ONE conditional-agg pass
    val rankCols = approx.toSeq.sortBy(_._1).map { case ((f, l), est) =>
      sum(when(col("l_returnflag") === f &&
        col("l_extendedprice") <= est, 1L).otherwise(0L)).as(s"$f|$l")
    }
    val ranks = li.agg(rankCols.head, rankCols.tail: _*).collect()(0)
    // groupRows already holds (flag, n) on the driver — never re-run
    // the ranked pipeline for what a 3-row map answers
    val nByFlag = groupRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.toSeq.sortBy(_._1).zipWithIndex.foreach { case (((f, l), _), i) =>
      val n = nByFlag(f)
      val target = qs.find(_._2 == l).get._1 * n
      val rank = ranks.getLong(i)
      require(math.abs(rank - target) <= n.toDouble / accuracy + 1,
        s"sketch rank error blew ε·n for ($f, $l): rank $rank vs $target, n=$n")
    }
    exact.orderBy("l_returnflag", "q")
  }

  /** IX1 — persisted inverted text index + conjunctive search: the
    * postings list (term, doc_id, tf) is materialized once, written
    * range-partitioned and SORTED by term (so every parquet row group
    * covers a narrow term range, the same earn-the-pruning layout as
    * [[graft.ops.BandIndex]]); a query then reads only the matched
    * terms' postings — the `term IN (…)` predicate must reach the
    * scan as a pushed filter (`require`d), never a post-scan filter
    * over the whole index. Conjunction = group-count over the
    * surviving postings (docs holding ALL terms), ranked by tf sum
    * with a TakeOrdered top-k. At 100 TB the index build is one
    * shuffle, the index is ~tokens-sized, and each query's cost is
    * the matched postings, not the corpus. */
  private def qInvertedSearch(s: SparkSession, dir: String): DataFrame = {
    // stamp-keyed like d11/d12/x5: the postings build runs once per
    // source content; every later call (and bench passes 2..N) is
    // probe-only — the production steady state. The parquet job's
    // _SUCCESS is the completion marker; a crash mid-build leaves no
    // marker and the next call rebuilds.
    val base = s"/tmp/graft_invix/${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
      s"_${sourceStamp(s, dir, "documents")}"
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    if (!fsys.exists(new org.apache.hadoop.fs.Path(s"$base/ix/_SUCCESS")))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(filter(split(col("text"), "\\s+"),
          w => length(w) > 0)).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .repartitionByRange(8, col("term"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(s"$base/ix")
    val terms = Seq("window", "scan", "merge")
    val q = s.read.parquet(s"$base/ix")
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(countDistinct("term").as("nt"), sum("tf").as("score"))
      .filter(col("nt") === terms.size)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
    val plan = q.queryExecution.executedPlan.toString
    // the membership predicate itself must be pushed — IsNotNull(term)
    // alone (which Spark also pushes) would leave every search
    // streaming the whole postings index through a post-scan filter
    require(plan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(term[^\\]]*\\].*"),
      s"term IN predicate did not push into the postings scan:\n$plan")
    q
  }

  /** IX2 — BM25 RANKED RETRIEVAL over the stored postings index: ix1
    * answers boolean AND; this is the scored top-k a retrieval stage
    * (or a decontamination audit) actually runs. Okapi BM25 with the
    * textbook constants k1=1.2, b=0.75:
    *
    *   idf(t)     = ln((N − df + 0.5)/(df + 0.5) + 1)
    *   s(d,t)     = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Engine shape: the SAME range-partitioned postings layout as ix1,
    * with the document length DENORMALIZED into each posting row at
    * index-build time (the classic search-index trade: one long per
    * posting buys probe-time independence from any doc-side table)
    * plus a one-row (N, avgdl) stats sidecar. A probe reads ONLY the
    * queried terms' postings (the `In` pushdown is REQUIREd in-plan,
    * as in ix1); df per term comes from the pruned postings
    * themselves (one tiny agg), N/avgdl from the sidecar (one-row
    * broadcast), so probe cost is O(matching postings) — independent
    * of corpus size. Scores are summed as integer MICROS
    * (floor(s·1e6 + 0.5) per (doc, term), then an exact integer sum)
    * — addition order can't wobble a double, so the ranking and the
    * cross-engine oracle are bit-stable by construction. */
  /** The stamp-keyed stored BM25 index (d11/d12/x5 contract): build
    * once per source content, probe forever. Shared by ix2 (ranked
    * retrieval) and hx1 (hybrid fusion) — one index, two consumers.
    * The stats sidecar is written LAST, so its _SUCCESS is the
    * build's commit point — a crash between the postings and stats
    * writes leaves no sidecar and the next call rebuilds both.
    * Returns (postings path, stats path). */
  private def bm25IndexPaths(s: SparkSession, dir: String): (String, String) = {
    val base = s"/tmp/graft_bm25/${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
      s"_${sourceStamp(s, dir, "documents")}"
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    // BOTH artifacts must be complete (the d11 every-artifact guard):
    // stats-last ordering makes stats/_SUCCESS the commit point for a
    // clean build, but a partially cleaned dir (ix evicted, stats
    // surviving) must rebuild rather than crash on every probe
    if (!fsys.exists(new org.apache.hadoop.fs.Path(s"$base/stats/_SUCCESS")) ||
      !fsys.exists(new org.apache.hadoop.fs.Path(s"$base/ix/_SUCCESS"))) {
      val post = Search.postings(t(s, dir, "documents"), "doc_id", "text")
      post.repartitionByRange(8, col("term"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(s"$base/ix")
      Search.corpusStats(post, "doc_id")
        .write.mode("overwrite").parquet(s"$base/stats")
    }
    (s"$base/ix", s"$base/stats")
  }

  private def qBm25Rank(s: SparkSession, dir: String): DataFrame = {
    val (ixPath, statsPath) = bm25IndexPaths(s, dir)
    val terms = Seq("spark", "vector", "window")
    val q = Search.bm25Rank(
      s.read.parquet(ixPath).filter(col("term").isin(terms: _*)),
      "doc_id", s.read.parquet(statsPath), k = 20)
    val plan = q.queryExecution.executedPlan.toString
    require(plan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(term[^\\]]*\\].*"),
      s"term IN predicate did not push into the postings scan:\n$plan")
    q
  }

  /** HLL1 — cardinality two ways, completing the sketch trio
    * (hh1 frequency, qs1 quantiles): exact per-group distinct counts
    * (the answer that ships) next to HyperLogLog++
    * (`approx_count_distinct`, the fixed-size mergeable register set
    * that replaces the per-group distinct hash table when the key
    * domain outgrows memory — and the only option under streaming
    * retraction-free accumulation). The sketch's relative-error
    * contract is `require`d in-query: |estimate − truth| must stay
    * within 5·rsd of truth for every group (HLL++ with Spark's fixed
    * hash is deterministic on fixed data, so this is a stable gate,
    * not a flaky probabilistic one). */
  private def qDistinctSketch(s: SparkSession, dir: String): DataFrame = {
    val rsd = 0.01
    val q = t(s, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users"),
        approx_count_distinct("user_id", rsd).as("__est"),
        count(lit(1)).as("n"))
    q.collect().foreach { r =>
      val (g, exact, est) = (r.getString(0), r.getLong(1), r.getLong(2))
      require(math.abs(est - exact) <= 5 * rsd * exact + 1,
        s"HLL blew its rsd bound for '$g': est $est vs exact $exact")
    }
    q.drop("__est").orderBy("event_type")
  }

  /** SKS1 — the STORED sketch family ([[graft.ops.Sketches]]).
    * hh1/qs1/hll1 prove the sketch guarantees but rebuild their
    * sketches from raw data per question; at 100 TB the production
    * shape persists one bounded sketch-state row per (group, shard)
    * at ingest — stamp-keyed like the d11/x5 stored indexes — and
    * answers every later question by reading + merging STATE whose
    * size is set by the sketch dials (#shards × k grid points,
    * 2^lgK registers, depth×width counters), never the corpus. The
    * merges are exact algebra, REQUIREd here: merged CMS ==
    * one-pass CMS bit-for-bit (count matrices sum) and within its
    * `truth ≤ est ≤ truth + ε·N` bound; merged HLL estimate ==
    * one-pass estimate (registers max) and within the rsd bound of
    * exact; merged quantile-grid estimates' EXACT ranks within the
    * mergeable-summary slack `O(N/k + #shards)` of their targets.
    * The exact per-type aggregate is the output (the oracle anchor);
    * the one-pass rebuilds live in the REQUIREs only — a production
    * deployment keeps just the stored partials. */
  private def qStoredSketches(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_sketches/${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
      s"_${sourceStamp(s, dir, "events")}"
    val ev = t(s, dir, "events")
      .select("event_id", "event_type", "user_id", "value")
    val shard = pmod(col("event_id"), lit(8))
    val (eps, conf, seed, lgK, k) = (0.001, 0.99, 42, 12, 128)
    if (!Sketches.exists(s, root, "cms", "etype") ||
      !Sketches.exists(s, root, "hll", "users") ||
      !Sketches.exists(s, root, "qgrid", "value")) {
      // the INGEST side, paid once per source stamp
      Sketches.save(Sketches.cmsPartials(ev, "event_type", shard,
        eps, conf, seed), root, "cms", "etype")
      Sketches.save(Sketches.hllPartials(ev, "user_id", Seq("event_type"),
        shard, lgK), root, "hll", "users")
      Sketches.save(Sketches.quantilePartials(ev, "value",
        Seq("event_type"), shard, k), root, "qgrid", "value")
    }
    // exact anchors — the oracle's view of the same corpus
    val exact = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"),
        round(sum("value"), 2).as("total"))
    val exactRows = exact.collect()
    // CMS: merged-from-stored == one-pass (bit-exact sums), ε bound
    val cms = Sketches.mergeCms(s, s"$root/cms_etype")
    val onePassCms = {
      val p = Sketches.cmsPartials(ev, "event_type", lit(0), eps, conf, seed)
        .select("cms").first().getAs[Array[Byte]](0)
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(p))
    }
    require(cms.totalCount() == onePassCms.totalCount(),
      "merged CMS lost mass vs one-pass")
    val cmsSlack = (eps * cms.totalCount()).toLong
    exactRows.foreach { r =>
      val (g, n) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(g)
      require(est == onePassCms.estimateCount(g),
        s"CMS merge not exact for '$g': $est vs ${onePassCms.estimateCount(g)}")
      require(est >= n && est <= n + cmsSlack,
        s"stored CMS blew its ε bound on '$g': $est vs $n (+$cmsSlack)")
    }
    // HLL: the union of stored partials must meet the SAME rsd bound
    // as a one-pass sketch (register merge is per-slot max — exact —
    // but DataSketches' LIST→SET→HLL mode promotion can happen at
    // different points on the two paths, so estimates agree within
    // the error class, not bit-for-bit; the shard split must cost no
    // accuracy, which is the claim that matters)
    val mergedHll = Sketches.hllEstimates(
        s.read.parquet(s"$root/hll_users"), Seq("event_type"), "est")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val onePassHll = Sketches.hllEstimates(
        Sketches.hllPartials(ev, "user_id", Seq("event_type"), lit(0), lgK),
        Seq("event_type"), "est")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rsd = 1.04 / math.sqrt((1 << lgK).toDouble)
    exactRows.foreach { r =>
      val (g, nu) = (r.getString(0), r.getLong(2))
      require(math.abs(mergedHll(g) - nu) <= 5 * rsd * nu + 1,
        s"stored HLL blew its rsd bound on '$g': ${mergedHll(g)} vs $nu")
      require(math.abs(mergedHll(g) - onePassHll(g)) <= 2 * rsd * nu + 1,
        s"HLL union drifted beyond the error class for '$g': " +
          s"${mergedHll(g)} vs one-pass ${onePassHll(g)}")
    }
    // quantile grids: each merged estimate's EXACT rank within the
    // mergeable-summary slack of its target
    val ests = Sketches.quantileEstimates(
      s.read.parquet(s"$root/qgrid_value"), Seq("event_type"),
      Seq(0.5 -> "p50", 0.9 -> "p90"))
    ev.join(broadcast(ests), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("N"),
        sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("value") <= col("p90"), 1L).otherwise(0L)).as("r90"))
      .collect().foreach { r =>
        val n = r.getLong(1)
        val slack = 2.0 * n / k + 2 * 8 + 2 // 2(N/k) + 2·#shards + ties
        Seq(0.5 -> r.getLong(2), 0.9 -> r.getLong(3)).foreach {
          case (q, rank) =>
            require(math.abs(rank - q * n) <= slack,
              s"stored quantile grid missed rank for '${r.getString(0)}' " +
                s"q=$q: rank $rank of $n (slack $slack)")
        }
      }
    exact.orderBy("event_type")
  }

  /** E12 — TIME TRAVEL through the command surface: the snapshot
    * store's committed generations are retained as
    * `__snaphist/v=N.json` records (day→version map + the tombstones
    * live at that commit), and `openSnapshotAt(table, v)` reads the
    * corpus EXACTLY as generation v committed it — the
    * reproducibility primitive a training pipeline needs (record the
    * generation a run consumed; any later job re-reads the identical
    * bytes, regardless of upserts/deletes/drops since). Here
    * generation 1 holds only the odd event-ids, generation 2 upserts
    * the full set; the query reads AT generation 1 after generation 2
    * committed, `require`s the live read has visibly moved on, and
    * hash-checks the odd-only aggregate — a time-travel read that
    * leaked ANY post-generation row would mismatch. */
  private def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_timetravel/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    val ev = t(s, dir, "events").filter(col("user_id") < 10)
    clientEventPayloads(ev.filter(col("event_id") % 2 === 1))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev") // generation 1: odd event-ids only
    clientEventPayloads(ev)
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev") // generation 2: the full set (odds re-slot)
    val v1 = eng.snapshotVersions("ev").min
    val at1 = eng.openSnapshotAt("ev", v1).get
    require(at1.count() < eng.get("*.ev", "{}").count(),
      "time travel did not pin the older generation")
    at1.groupBy("subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("subject")
  }

  /** E13 — SQL time travel through the engine front door
    * ([[graft.api.Engine.exposeSqlAt]]): generation 1 (odd event-ids
    * only) is registered as a FROZEN SQL view — day partitions pinned
    * to the generation record's day→version map, the view's tombstone
    * predicate to its as-of-commit tombstones — and then a range
    * delete lands as a LATER generation. The live exposure re-pins
    * and sees the delete; the time-travel view must keep reading
    * exactly what generation 1 committed (REQUIREd: the live view's
    * row count moved, the pinned view's did not), and its day
    * predicate must still prune through the pinned catalog partitions
    * (REQUIREd in-plan, the e11 pattern). This is e12's
    * reproducibility contract extended to SQL clients — a training
    * run re-reading its data months later through plain SQL. */
  private def qTimeTravelSql(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_tt_sql/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    val ev = t(s, dir, "events").filter(col("user_id") < 10)
    clientEventPayloads(ev.filter(col("event_id") % 2 === 1))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev") // generation 1: odd event-ids only
    clientEventPayloads(ev)
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev") // generation 2: the full set (odds re-slot)
    val v1 = eng.snapshotVersions("ev").min
    val at = eng.exposeSqlAt("ev", v1, db = "graft_tt")
    val live = eng.exposeSql("ev", db = "graft_tt")
    val atBefore = s.sql(s"SELECT count(*) AS n FROM $at").first().getLong(0)
    // the delete lands AFTER both exposures: the live view re-pins,
    // the time-travel view must not move
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-20T23:59:59.999Z").toEpochMilli
    eng.del("u2.ev", s"""{range:{start:$lo,stop:$hi}}""")
    val liveN = s.sql(s"SELECT count(*) AS n FROM $live").first().getLong(0)
    val atN = s.sql(s"SELECT count(*) AS n FROM $at").first().getLong(0)
    require(atN == atBefore,
      s"time-travel view moved with a later commit: $atBefore -> $atN")
    require(atN < liveN,
      s"time-travel view is not pinned to the older generation " +
        s"($atN rows vs live $liveN)")
    val q = s.sql(
      s"""SELECT subject, count(*) AS n, round(sum(value), 2) AS total
         FROM $at
         WHERE __day BETWEEN '2024-01-08' AND '2024-01-20'
         GROUP BY subject ORDER BY subject""")
    val plan = q.queryExecution.executedPlan.toString
    val pf = plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").trim
    require(plan.contains("PartitionFilters: [") && !pf.isEmpty &&
      pf.contains("__day"),
      s"time-travel SQL day predicate did not prune partitions:\n$plan")
    q
  }

  /** E18 — GENERATION CHANGE FEED
    * ([[graft.api.Engine.changesBetween]] / [[graft.ops.Cdc.diff]]):
    * the store's time-travel history turned into CDC. Three commits
    * land — generation 1 (odd event-ids), generation 2 (evens
    * inserted, u3's odds re-slotted with value+1 = updates), then a
    * range delete on u2 as its own generation — and the feed between
    * the first and last generations must report exactly the inserts,
    * updates, and deletes that a downstream incremental consumer
    * (index maintenance, sketch append, training-mix refresh) would
    * apply instead of re-reading the table. REQUIREd in-query: the
    * feed's arithmetic closes — |gen₁| + inserts − deletes = |genₙ|
    * (updates cancel), the incremental-consumer contract. Output:
    * per (subject, op) counts and net value delta (insert adds its
    * value, delete subtracts, update contributes the difference) —
    * every op class lands in the hash. */
  private def qChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_changes/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    val ev = t(s, dir, "events").filter(col("user_id") < 10)
    clientEventPayloads(ev.filter(col("event_id") % 2 === 1))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev") // generation 1: odd event-ids
    clientEventPayloads(ev.filter(col("event_id") % 2 === 1 &&
        col("user_id") === 3)
        .withColumn("value", col("value") + 1))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    clientEventPayloads(ev.filter(col("event_id") % 2 === 0))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev") // generation 2: evens inserted, u3 odds updated
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-20T23:59:59.999Z").toEpochMilli
    eng.del("u2.ev", s"""{range:{start:$lo,stop:$hi}}""") // generation 3
    val vs = eng.snapshotVersions("ev")
    val feed = eng.changesBetween("ev", vs.min, vs.max)
      .localCheckpoint() // consumed twice: the REQUIRE agg + the output
    val ops = feed.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(ops.keySet == Set("insert", "update", "delete"),
      s"the scenario must exercise every op class, got $ops")
    val n1 = eng.openSnapshotAt("ev", vs.min).get.count()
    val nN = eng.openSnapshotAt("ev", vs.max).get.count()
    require(n1 + ops("insert") - ops("delete") == nN,
      s"change feed does not close: $n1 + ${ops("insert")} - " +
        s"${ops("delete")} != $nN")
    feed.groupBy(col("subject"), col("op"))
      .agg(count(lit(1)).as("n"),
        round(sum(coalesce(col("new").getField("value"), lit(0.0)) -
          coalesce(col("old").getField("value"), lit(0.0))), 2).as("delta"))
      .orderBy("subject", "op")
  }

  /** E20 — CROSS-ERA CHANGE FEED ([[graft.api.Engine.changesBetween]]
    * across a schema-evolve boundary): the reference converts on
    * EVERY read path (sis_dynamic.h:12-51), so its change consumers
    * never see an era seam — here the feed aligns the older pin to
    * the newer era ([[graft.ops.Convert.alignKeeping]], the same
    * never-cross-type rule e17 proves for live reads) before the
    * diff. The flow: ingest odds under schema v0 (qty I4, int flag),
    * commit; `evolve` to v1 (qty widened I8, flag crossed to C,
    * score added); ingest evens + re-value u5's odds under v1,
    * commit; range-delete u6 as a third generation; feed between
    * the first and last generations. REQUIREd in-query: (a) the feed
    * closes (|g₁| + inserts − deletes = |gₙ|); (b) every op class
    * appears; (c) NO phantom rows — a row untouched across the
    * boundary must not surface (its old side zero-fills exactly like
    * its era-1 rewrite), so every update is u5's; (d) an update's
    * old-side score is the aligned 0.0, not null — added fields read
    * as values under the convert rule. Output: per (subject, op)
    * counts plus value and score deltas — the added-field column
    * flows through the feed arithmetic into the hash. */
  private def qCrossEraFeed(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_xera_feed/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]," +
      "qty:[I,4],flag:[I,4]}}}")
    val ev = t(s, dir, "events")
      .filter(col("user_id") >= 4 && col("user_id") <= 9)
    def payloads(rows: DataFrame, fields: org.apache.spark.sql.Column*)
        : Array[(Long, String)] =
      rows.select(col("user_id"), to_json(struct(fields: _*)).as("j"))
        .groupBy("user_id")
        .agg(concat(lit("["), concat_ws(",", collect_list("j")),
          lit("]")).as("arr"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
    // generation 1 — era 0: odd event-ids under the old layout
    payloads(ev.filter(col("event_id") % 2 === 1),
      col("ts").as("t"), col("event_type").as("etype"),
      col("value").as("value"),
      (col("event_id") % 100).cast("int").as("qty"),
      col("user_id").cast("int").as("flag"))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev")
    eng.evolve("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]," +
      "qty:[I,8],flag:[C,8],score:[F,8]}}}")
    // generation 2 — era 1: evens inserted; u5's odds re-valued
    def v1Fields = Seq(
      col("ts").as("t"), col("event_type").as("etype"),
      col("value").as("value"),
      (col("event_id") % 100).cast("long").as("qty"),
      concat(lit("f"), col("user_id")).as("flag"),
      (col("value") * 2).as("score"))
    payloads(ev.filter(col("event_id") % 2 === 0), v1Fields: _*)
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    payloads(ev.filter(col("event_id") % 2 === 1 &&
        col("user_id") === 5).withColumn("value", col("value") + 1),
        v1Fields: _*)
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev")
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-20T23:59:59.999Z").toEpochMilli
    eng.del("u6.ev", s"""{range:{start:$lo,stop:$hi}}""") // generation 3
    val vs = eng.snapshotVersions("ev")
    val feed = eng.changesBetween("ev", vs.min, vs.max)
      .localCheckpoint() // consumed by the REQUIRE aggs + the output
    import org.apache.spark.sql.types.StructType
    val oldFields = feed.schema("old").dataType
      .asInstanceOf[StructType].fieldNames.toSet
    require(oldFields.contains("score") && !oldFields.contains("extra"),
      s"cross-era feed must carry the NEWER era's payload, got $oldFields")
    val ops = feed.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(ops.keySet == Set("insert", "update", "delete"),
      s"the scenario must exercise every op class, got $ops")
    val n1 = eng.openSnapshotAt("ev", vs.min).get.count()
    val nN = eng.openSnapshotAt("ev", vs.max).get.count()
    require(n1 + ops("insert") - ops("delete") == nN,
      s"cross-era feed does not close: $n1 + ${ops("insert")} - " +
        s"${ops("delete")} != $nN")
    val phantom = feed.filter(col("op") === "update" &&
      col("subject") =!= "u5").count()
    require(phantom == 0, s"$phantom rows untouched across the evolve " +
      "boundary surfaced as updates — era alignment leaked a diff")
    val badZero = feed.filter(col("op") === "update" &&
      !(col("old").getField("score") <=> lit(0.0))).count()
    require(badZero == 0, "an update's old-side score must be the " +
      "aligned 0.0 (never-cross-type zero-fill), not null")
    feed.groupBy(col("subject"), col("op"))
      .agg(count(lit(1)).as("n"),
        round(sum(coalesce(col("new").getField("value"), lit(0.0)) -
          coalesce(col("old").getField("value"), lit(0.0))), 2).as("dv"),
        round(sum(coalesce(col("new").getField("score"), lit(0.0)) -
          coalesce(col("old").getField("score"), lit(0.0))), 2).as("ds"))
      .orderBy("subject", "op")
  }

  /** E21 — ATOMIC MULTI-TABLE COMMIT ([[graft.api.Engine.saveAll]] /
    * [[graft.api.Engine.openAtomicSnapshot]]): the reference's serial
    * dispatcher gives cross-key consistency implicitly
    * (sisdb_server.c:474-476 — every write drains before the next
    * command); here it is an explicit stage→marker→finalize protocol
    * (stage every table's commit inertly, flip ONE marker naming the
    * pre-commit generations, finalize each replayably). Three rounds
    * land on two tables: round 1 commits both through saveAll; round
    * 2 commits with a fault-injection probe INSIDE the second table's
    * commit — at that instant the per-table views are provably MIXED
    * (ev post, fx pre), and the marker-aware atomic view is REQUIREd
    * to still serve BOTH tables at their pre-commit generations;
    * round 3 crashes the saveAll mid-finalize (after the marker,
    * after ev committed, before fx), and a NEW engine over the same
    * root is REQUIREd to roll the commit FORWARD at open — marker
    * released, both tables serving every round's rows. Output: per
    * (table, subject) aggregates of the recovered atomic view,
    * hash-checked against the full three-round relational rebuild —
    * a lost fx round or a doubled replay would mismatch. */
  private def qAtomicCommit(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_e21_atomic/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    eng.create("{fx:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    val ev = t(s, dir, "events").filter(col("user_id") < 8)
    def ingest(round: Int): Unit = {
      clientEventPayloads(ev.filter(col("event_id") % 3 === round))
        .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
      clientEventPayloads(ev.filter(col("event_id") % 3 === round)
          .withColumn("value", col("value") * 3))
        .foreach { case (u, arr) => eng.set(s"u$u.fx", arr) }
    }
    def counts(view: Map[String, Option[DataFrame]]): Map[String, Long] =
      view.map { case (t, df) => t -> df.map(_.count()).getOrElse(0L) }
    // round 1: both tables land as one atomic point
    ingest(0)
    val g1 = eng.saveAll(Seq("ev", "fx"))
    require(g1.values.forall(_ >= 1L), s"saveAll committed nothing: $g1")
    val pre = counts(eng.openAtomicSnapshot(Seq("ev", "fx")))
    require(pre("ev") > 0 && pre("fx") > 0, s"round 1 ingested nothing: $pre")
    // round 2: probe INSIDE fx's commit — ev is already finalized, fx
    // is not; the naive per-table reads are mixed, the atomic view
    // must still be all-pre (the never-mix contract)
    ingest(1)
    val fxStore = eng.storeHandle("fx")
    var midMixed = Option.empty[(Long, Long)]
    var midAtomic = Option.empty[Map[String, Long]]
    fxStore.onBeforeSnapshotClaim = () => if (midAtomic.isEmpty) {
      midMixed = Some((eng.openSnapshot("ev").get.count(),
        eng.openSnapshot("fx").get.count()))
      midAtomic = Some(counts(eng.openAtomicSnapshot(Seq("ev", "fx"))))
    }
    eng.saveAll(Seq("ev", "fx"))
    fxStore.onBeforeSnapshotClaim = () => ()
    val (midEv, midFx) = midMixed.getOrElse(
      throw new IllegalStateException("mid-commit probe never fired"))
    require(midEv > pre("ev") && midFx == pre("fx"),
      s"the mid-commit window was not mixed (ev $midEv vs ${pre("ev")}, " +
        s"fx $midFx vs ${pre("fx")}) — the probe missed the race")
    require(midAtomic.get == pre,
      s"mid-commit atomic view leaked the half-committed middle: " +
        s"${midAtomic.get} != $pre")
    // round 3: crash AFTER the marker and ev's finalize, BEFORE fx's —
    // a new engine over the root must roll the commit forward at open
    ingest(2)
    var thrown = false
    fxStore.onBeforeSnapshotClaim = () => if (!thrown) {
      thrown = true
      throw new RuntimeException("injected crash mid-atomic-commit")
    }
    val died = scala.util.Try(eng.saveAll(Seq("ev", "fx")))
    require(died.isFailure && thrown,
      "the injected mid-commit crash did not fire")
    require(eng.atomicMarker().nonEmpty,
      "the crashed saveAll must leave its marker (the roll-forward claim)")
    val eng2 = new graft.api.Engine(s, root)
    require(eng2.atomicMarker().isEmpty,
      "open-time recovery did not release the atomic marker")
    val post = eng2.openAtomicSnapshot(Seq("ev", "fx"))
    val postN = counts(post)
    require(postN("ev") > midEv && postN("fx") > pre("fx"),
      s"roll-forward lost a table's round-3 rows: $postN")
    post("ev").get.select(lit("ev").as("tbl"), col("subject"), col("value"))
      .unionByName(post("fx").get.select(lit("fx").as("tbl"),
        col("subject"), col("value")))
      .groupBy("tbl", "subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("tbl", "subject")
  }

  /** E22 — FACTOR/KV TABLES UNDER THE VERSIONED-COMMIT SURFACE: the
    * reference gives factor tables the SAME cross-key consistency as
    * structured sdb keys (one serial dispatcher,
    * sisdb_server.c:474-476; frwdb is a single-writer store whose
    * readers pin [start, stop] history, workers/frwdb/frwdb.h:28-33 +
    * frwdb_reader.c:676-905), and a training run pinning "events +
    * factors" reproducibly is exactly the multi-table read the cut
    * machinery exists for. Here every table class — a structured sdb
    * table (`set`), an auto-created factor table (`fset`,
    * disk/readme.md's degenerate `factor {time:T, value:F8}`), and a
    * ONE-style KV table (`kset`) — rides the SAME TsStore generation
    * machinery, so ONE `saveAll` commits all three atomically, ONE
    * `snapshotAll` cut pins all three, and a post-cut `fset`/`kset`
    * never leaks into the pinned read. REQUIREd in-query: the atomic
    * commit returns a generation for every class; the cut-pinned
    * factor read has FEWER days than the live one (post-cut inserts
    * excluded) and differs in value on at least one shared day
    * (post-cut updates excluded); the pinned KV value is the pre-cut
    * write while the live read serves the overwrite. Output: per-user
    * factor aggregates of the pinned AND live reads plus the
    * data-derived KV row, hash-checked against the relational rebuild
    * of both factor states from the source events. */
  private def qFactorVersioned(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_e22_fver/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    val ev = t(s, dir, "events").filter(col("user_id") < 6)
    def factorPayloads(rows: DataFrame): Array[(Long, String)] =
      rows.groupBy(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(round(avg("value"), 6).as("factor"))
        .select(col("user_id"), to_json(struct(
          to_timestamp(col("day"), "yyyy-MM-dd").as("time"),
          col("factor").as("value"))).as("j"))
        .groupBy("user_id")
        .agg(concat(lit("["), concat_ws(",", collect_list("j")),
          lit("]")).as("arr"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
    // pre-cut state: factors over the ODD event-ids, one KV config,
    // the ev rows — committed as ONE atomic point across all classes
    val odds = ev.filter(pmod(col("event_id"), lit(2)) === 1)
    factorPayloads(odds).foreach { case (u, arr) =>
      eng.fset(s"u$u.macd", arr) }
    eng.kset("cfg.mode", "A")
    clientEventPayloads(odds).foreach { case (u, arr) =>
      eng.set(s"u$u.ev", arr) }
    val gens = eng.saveAll() // default = EVERY catalog table
    require(Seq("ev", "macd", "__one").forall(t => gens.get(t).exists(_ >= 1L)),
      s"saveAll must commit every table class (sdb + factor + KV): $gens")
    val cut = eng.snapshotAll()
    // post-cut drift on every class: factors recomputed over ALL
    // events (updates shared days, inserts even-only days), the KV
    // overwritten, more ev rows — committed atomically again
    factorPayloads(ev).foreach { case (u, arr) =>
      eng.fset(s"u$u.macd", arr) }
    eng.kset("cfg.mode", "B")
    clientEventPayloads(ev.filter(pmod(col("event_id"), lit(2)) === 0))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.saveAll()
    // the pinned multi-table read: all classes AT the cut
    val pin = eng.openSnapshotAllAt(cut)
    val fxCut = pin("macd").getOrElse(
      throw new IllegalStateException("factor table missing from the cut"))
      .localCheckpoint() // consumed by REQUIREs + output
    val fxLive = eng.openSnapshot("macd").get.localCheckpoint()
    val nCut = fxCut.count(); val nLive = fxLive.count()
    require(nCut > 0 && nCut < nLive,
      s"post-cut factor inserts leaked into the pinned read " +
        s"($nCut pinned vs $nLive live)")
    val changed = fxCut.alias("c")
      .join(fxLive.alias("l"), Seq("subject", "time"))
      .filter(col("c.value") =!= col("l.value")).count()
    require(changed > 0,
      "post-cut factor updates did not change any shared day — the " +
        "leak check is vacuous")
    val kvCut = pin("__one").get.filter(col("subject") === "cfg.mode")
      .select("value").head.getString(0)
    val kvLive = eng.kget("cfg.mode").select("value").head.getString(0)
    require(kvCut == "A" && kvLive == "B",
      s"KV cut/live mismatch: pinned '$kvCut', live '$kvLive'")
    def aggOf(df: DataFrame, tag: String) =
      df.groupBy(col("subject")).agg(count(lit(1)).as("n"),
          round(sum("value"), 4).as("total"))
        .select(lit(tag).as("src"), col("subject").as("key"),
          col("n"), col("total"))
    aggOf(fxCut, "fx_cut")
      .unionByName(aggOf(fxLive, "fx_live"))
      .unionByName(pin("__one").get.filter(col("subject") === "cfg.mode")
        .select(lit("kv").as("src"),
          concat(lit("mode="), col("value")).as("key"),
          lit(1L).as("n"), lit(0.0).as("total")))
      .orderBy("src", "key")
  }

  /** E23 — SCHEMA EVOLUTION ON THE DEGENERATE TABLE CLASSES, UNDER
    * CUTS: e17/e20 proved evolve + cross-era reads on a structured
    * sdb table; the reference converts on EVERY read path for EVERY
    * key style (sis_dynamic.h:12-51), so the same contract must hold
    * on the auto-created factor table (`fset`, disk/readme.md's
    * `factor {time:T, value:F8}`) and the ONE-style KV table — the
    * classes e22 just put under versioned commits. Arc: commit
    * factors + KV atomically, cut, EVOLVE both tables (factor gains
    * `conf:[F,8]`, KV gains `note:[C,16]`), write era-1 rows through
    * the same `fset`/`set` surfaces, commit + cut again. REQUIREd
    * in-query: the first cut's pinned read serves the PRE-evolve era
    * exactly (no `conf`/`note` column, the pre-cut KV value); the
    * live read aligns old factor rows to the new era with the PROVEN
    * zero-fill (conf = 0.0, never null, for the users era 1 did not
    * rewrite); the second cut serves the post-evolve era including
    * the new KV field. Output: per-user factor aggregates of the
    * pinned and live reads plus both KV states, hash-checked against
    * the relational rebuild from the source events. */
  private def qFactorEvolve(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_e23_fevo/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    val ev = t(s, dir, "events").filter(col("user_id") < 6)
    // era-0 factors: avg value per (user, day) over the ODD event-ids
    def payloads(rows: DataFrame, withConf: Boolean): Array[(Long, String)] = {
      val g = rows.groupBy(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(round(avg("value"), 6).as("factor"),
          count(lit(1)).cast("double").as("conf"))
      val j =
        if (withConf) to_json(struct(
          to_timestamp(col("day"), "yyyy-MM-dd").as("time"),
          col("factor").as("value"), col("conf")))
        else to_json(struct(
          to_timestamp(col("day"), "yyyy-MM-dd").as("time"),
          col("factor").as("value")))
      g.select(col("user_id"), j.as("j")).groupBy("user_id")
        .agg(concat(lit("["), concat_ws(",", collect_list("j")),
          lit("]")).as("arr"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }
    payloads(ev.filter(pmod(col("event_id"), lit(2)) === 1),
      withConf = false).foreach { case (u, arr) => eng.fset(s"u$u.macd", arr) }
    eng.kset("cfg.mode", "A")
    val gens = eng.saveAll()
    require(Seq("macd", "__one").forall(t => gens.get(t).exists(_ >= 1L)),
      s"saveAll must commit the factor and KV classes: $gens")
    val cut1 = eng.snapshotAll()
    // the era bump, on BOTH degenerate classes — same evolve surface
    // the structured tables use (main index / solely unchanged)
    eng.evolve("{macd:{fields:{time:[T,8],value:[F,8],conf:[F,8]}}}")
    eng.evolve("{__one:{fields:{t:[T,8],value:[C,256],note:[C,16]}}}")
    // era-1 rewrites: users 0-2 re-derive over ALL events with a real
    // conf (count per day); users 3-5 stay era-0 rows, so the live
    // read must ALIGN them (conf zero-fills to 0.0). The KV row is
    // rewritten through the structured `set` path carrying the new
    // field — the same (subject, t=0) upsert slot kset writes.
    payloads(ev.filter(col("user_id") < 3), withConf = true)
      .foreach { case (u, arr) => eng.fset(s"u$u.macd", arr) }
    eng.set("cfg.mode.__one",
      """{"t":"1970-01-01T00:00:00Z","value":"B","note":"v2"}""")
    val gens2 = eng.saveAll()
    require(Seq("macd", "__one").forall(t => gens2.get(t).exists(g =>
      gens.get(t).exists(_ < g))),
      s"the post-evolve saveAll must advance every class: $gens2 vs $gens")
    val cut2 = eng.snapshotAll()
    // cut 1 pins the PRE-evolve era exactly — schema and values
    val pin1 = eng.openSnapshotAllAt(cut1)
    val fxCut = pin1("macd").getOrElse(throw new IllegalStateException(
      "factor table missing from cut 1")).localCheckpoint()
    require(!fxCut.columns.contains("conf"),
      "cut 1 must serve the factor table's pre-evolve era (no conf)")
    val kvPin1 = pin1("__one").get.filter(col("subject") === "cfg.mode")
      .localCheckpoint()
    require(!kvPin1.columns.contains("note"),
      "cut 1 must serve the KV table's pre-evolve era (no note)")
    require(kvPin1.select("value").head.getString(0) == "A",
      "cut 1 must pin the pre-cut KV value")
    // the live read aligns old rows to the NEW era: conf zero-fills
    val fxLive = eng.openSnapshot("macd").get.localCheckpoint()
    require(fxLive.columns.contains("conf"),
      "the live factor read must serve the post-evolve era")
    val unwritten = fxLive.filter(col("subject").isin("u3", "u4", "u5"))
    require(unwritten.filter(col("conf").isNull).count() == 0 &&
      unwritten.filter(col("conf") =!= 0.0).count() == 0,
      "era-0 factor rows must align with conf zero-filled to 0.0")
    require(fxLive.filter(col("subject") < "u3" && col("conf") > 0.0)
      .count() > 0, "era-1 factor rows lost their conf values")
    // cut 2 pins the POST-evolve era, new KV field included
    val kvPin2 = eng.openSnapshotAllAt(cut2)("__one").get
      .filter(col("subject") === "cfg.mode").localCheckpoint()
    require(kvPin2.select("value", "note").head() ==
      org.apache.spark.sql.Row("B", "v2"),
      "cut 2 must pin the post-evolve KV row with its new field")
    def aggOf(df: DataFrame, tag: String) =
      df.groupBy(col("subject")).agg(count(lit(1)).as("n"),
          round(sum("value"), 4).as("total"),
          round(coalesce(sum("conf"), lit(0.0)), 2).as("conf_sum"))
        .select(lit(tag).as("src"), col("subject").as("key"),
          col("n"), col("total"), col("conf_sum"))
    aggOf(fxCut.withColumn("conf", lit(0.0)), "fx_cut")
      .unionByName(aggOf(fxLive, "fx_live"))
      .unionByName(kvPin1.select(lit("kv_cut1").as("src"),
        concat(lit("mode="), col("value")).as("key"),
        lit(1L).as("n"), lit(0.0).as("total"), lit(0.0).as("conf_sum")))
      .unionByName(kvPin2.select(lit("kv_cut2").as("src"),
        concat(lit("mode="), col("value"), lit(":"), col("note")).as("key"),
        lit(1L).as("n"), lit(0.0).as("total"), lit(0.0).as("conf_sum")))
      .orderBy("src", "key")
  }

  /** E14 — SCHEDULED vacuum on the commit path
    * ([[graft.api.Engine.autoVacuum]]): a deployment
    * that never calls vacuum() accumulates superseded version dirs
    * and generation records without bound — the reference runs its
    * own save/pack housekeeping on a schedule for the same reason
    * (sisdb.c:137-169). Four full re-ingest generations land with
    * auto-vacuum at cadence 2 (keepSuperseded 0, zero graces — the
    * most aggressive dials); the REQUIREs pin the boundedness claim:
    * after the final even-generation commit every day directory holds
    * EXACTLY the one live version dir, not four. The final corpus
    * aggregate is what the oracle hash-checks — reclamation that
    * touched a live file would mismatch. */
  private def qAutoVacuum(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_autovac/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    // phase-stamped trace: the e-family dominates the bench tail and
    // is engine-plumbing-bounded by construction — these stderr lines
    // ride every Verify/Bench run so a regression names its PHASE
    // (payload prep vs per-generation ingest+commit[+auto-vacuum] vs
    // audit) instead of re-adjudicating the total. The committed
    // reference trace is in PLANS.md ("e14 phase trace").
    val tq0 = System.nanoTime
    var tqLast = tq0
    def phase(name: String): Unit = {
      val now = System.nanoTime
      System.err.println(f"[e14] phase $name: ${(now - tqLast) / 1e9}%.2fs" +
        f" (total ${(now - tq0) / 1e9}%.2fs)")
      tqLast = now
    }
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    eng.autoVacuum(everyGenerations = 2, keepSuperseded = 0,
      removedDayGraceMs = 0L, supersededGraceMs = 0L)
    phase("open+create")
    val ev = t(s, dir, "events").filter(col("user_id") < 6)
    val payloads = clientEventPayloads(ev)
    phase("payload-prep")
    (1 to 4).foreach { g =>
      payloads.foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
      eng.save("ev") // every day advances a generation each save
      phase(s"ingest+commit gen $g" +
        (if (g % 2 == 0) " (+auto-vacuum)" else ""))
    }
    // boundedness, the claim itself: 4 generations committed, yet each
    // day dir holds exactly its ONE live version
    val f = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val dayDirs = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/ev"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__day="))
    require(dayDirs.nonEmpty, "auto-vacuum query ingested nothing")
    dayDirs.foreach { d =>
      val vs = f.listStatus(d.getPath)
        .count(_.getPath.getName.startsWith("__v="))
      require(vs == 1,
        s"auto-vacuum did not bound versions: ${d.getPath.getName} holds $vs")
    }
    phase("boundedness-audit") // the returned read+agg runs lazily at
    // the harness's collect — its cost is the bench total minus these
    eng.get("*.ev", "{}")
      .groupBy("subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("subject")
  }

  /** E15 — ENGINE-WIDE CONSISTENT SNAPSHOT CUT
    * ([[graft.api.Engine.snapshotAll]]): per-table time travel cannot
    * record one reproducible point across N tables — generations
    * drift as commits interleave (the reference's multi-table read
    * pattern, frwdb_reader.c:676-905, has the same need). Two tables
    * commit interleaved generations; ONE cut records the pair; then
    * both tables move (a full re-ingest on `ev`, a range delete on
    * `fx`) and an aggressive vacuum (keepSuperseded 0, keepHistory 1)
    * lands on both. REQUIREd in-query: the cut still reads EXACTLY
    * the recorded pair — `ev`'s live view grew past it, `fx`'s shrank
    * below it, and the vacuum retained the cut-pinned generations
    * that keepHistory alone would have retired. The oracle hash-checks
    * the pair's content: a cut that leaked any post-cut row (or lost
    * a pinned generation) mismatches. */
  private def qSnapshotCut(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_snapcut/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    eng.create("{fx:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    val ev = t(s, dir, "events").filter(col("user_id") < 8)
    val odds = ev.filter(col("event_id") % 2 === 1)
    clientEventPayloads(odds)
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev") // ev generation 1: odd event-ids
    clientEventPayloads(odds.withColumn("value", col("value") * 2))
      .foreach { case (u, arr) => eng.set(s"u$u.fx", arr) }
    eng.save("fx") // fx generation 1: odd event-ids, doubled values
    val cut = eng.snapshotAll(Seq("ev", "fx"))
    // post-cut drift on BOTH tables, in opposite directions
    clientEventPayloads(ev)
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev") // ev generation 2: the full set
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-20T23:59:59.999Z").toEpochMilli
    eng.del("u2.fx", s"""{range:{start:$lo,stop:$hi}}""") // fx generation 2
    // aggressive retention that would retire generation 1 on both
    // tables — the cut record must pin it through the vacuum
    eng.vacuum("ev", keepSuperseded = 0, keepHistory = 1)
    eng.vacuum("fx", keepSuperseded = 0, keepHistory = 1)
    val pair = eng.openSnapshotAllAt(cut)
    val evAt = pair("ev").getOrElse(
      throw new IllegalStateException("cut lost ev's pinned generation"))
    val fxAt = pair("fx").getOrElse(
      throw new IllegalStateException("cut lost fx's pinned generation"))
    require(evAt.count() < eng.get("*.ev", "{}").count(),
      "cut did not pin ev: the cut view tracked the live re-ingest")
    require(fxAt.count() > eng.get("*.fx", "{}").count(),
      "cut did not pin fx: the cut view tracked the live delete")
    evAt.select(lit("ev").as("tbl"), col("subject"), col("value"))
      .unionByName(
        fxAt.select(lit("fx").as("tbl"), col("subject"), col("value")))
      .groupBy("tbl", "subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("tbl", "subject")
  }

  /** E16 — cut manifest export ([[graft.api.Engine.exportCutManifest]]):
    * a recorded cut handed to a reader that has NO engine — a trainer
    * on another cluster, plain pyarrow. The export is one JSON
    * document: per table, the cut generation, every concrete data
    * file of every pinned (day → version) dir, and the generation's
    * as-of tombstones. This query plays the external reader: it
    * parses the JSON, reads EXACTLY the listed files, applies the
    * manifest's kill predicate (`NOT (subject = s AND __seq <= g)`),
    * and REQUIREs (1) the tombstone entry is load-bearing (the raw
    * files hold MORE rows than the corpus — a reader that skipped
    * the predicate would resurrect dropped subjects), (2) the
    * manifest read row-matches `openSnapshotAllAt` exactly, after
    * post-cut drift moved the live tables. Oracle-checked against
    * the same aggregate recomputed from the source events. */
  /** E19 — RESTORE TO CUT ([[graft.api.Engine.restoreToCut]]): the
    * rollback half of the cut lifecycle — e15 records the point, e19
    * returns the live corpus to it after post-cut damage (a bad full
    * re-ingest, a range delete, a subject drop, and an un-flushed hot
    * tail). Each table restore is a metadata-only roll-forward commit
    * ([[graft.store.TsStore.restoreTo]]: the new manifest re-points
    * at the cut's pinned version dirs — no data file moves at any
    * corpus size), and the cut's own vacuum pins are what guarantee
    * the targets still exist. REQUIREd in-query: (1) the restored
    * live reads row-match the cut reads EXACTLY on both tables — the
    * dropped subject resurrected, the poisoned hot tail discarded,
    * (2) history is NOT rewritten: the post-cut bad generation still
    * time-travels whole, (3) the restores minted NEW generations
    * (roll-forward, not pointer rewind). Oracle = e15's relational
    * contract (the cut state re-derived from the source events). */
  private def qRestoreCut(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_restore/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    eng.create("{fx:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    val ev = t(s, dir, "events").filter(col("user_id") < 8)
    val odds = ev.filter(col("event_id") % 2 === 1)
    clientEventPayloads(odds)
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev") // ev generation 1: the good corpus
    clientEventPayloads(odds.withColumn("value", col("value") * 2))
      .foreach { case (u, arr) => eng.set(s"u$u.fx", arr) }
    eng.save("fx") // fx generation 1
    val cut = eng.snapshotAll(Seq("ev", "fx"))
    // post-cut damage: a bad full re-ingest (ev gen 2), a range
    // delete (fx gen 2), a subject drop (fx tombstone), and a
    // poisoned UN-FLUSHED hot tail (ev) the restore must discard
    clientEventPayloads(ev)
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev")
    val badEvRows = eng.get("*.ev", "{}").count()
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-20T23:59:59.999Z").toEpochMilli
    eng.del("u2.fx", s"""{range:{start:$lo,stop:$hi}}""")
    eng.drop("u3.fx")
    clientEventPayloads(
        odds.filter(col("user_id") === 1)
          .withColumn("value", col("value") * 100))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    val gens = eng.restoreToCut(cut)
    require(gens == Map("ev" -> 3L, "fx" -> 3L),
      s"restore must mint NEW generations (roll-forward), got $gens")
    // (1) live == the cut view, exactly, on both tables
    val pinned = eng.openSnapshotAllAt(cut)
    Seq("ev", "fx").foreach { tbl =>
      val want = pinned(tbl).getOrElse(throw new IllegalStateException(
        s"cut lost $tbl's pinned generation"))
        .select("subject", "t", "etype", "value")
      val got = eng.get(s"*.$tbl", "{}")
        .select("subject", "t", "etype", "value")
      require(got.count() == want.count() &&
        got.except(want).isEmpty && want.except(got).isEmpty,
        s"restored live state of '$tbl' diverged from the cut view")
    }
    // (2) the bad generation still time-travels whole — restore is
    // roll-forward, never history rewrite
    val badAt = eng.openSnapshotAt("ev", 2L).getOrElse(
      throw new IllegalStateException(
        "restore rewrote history: ev generation 2 vanished")).count()
    require(badAt == badEvRows,
      s"restore rewrote history: ev@2 has $badAt rows, expected $badEvRows")
    eng.get("*.ev", "{}")
      .select(lit("ev").as("tbl"), col("subject"), col("value"))
      .unionByName(eng.get("*.fx", "{}")
        .select(lit("fx").as("tbl"), col("subject"), col("value")))
      .groupBy("tbl", "subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("tbl", "subject")
  }

  private def qCutManifest(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_cutman/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    eng.create("{fx:{fields:{t:[T,8],etype:[C,16],value:[F,8]}}}")
    val ev = t(s, dir, "events")
      .filter(col("user_id") >= 8 && col("user_id") <= 13)
      .filter(col("event_id") % 3 === 0)
    clientEventPayloads(ev)
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev")
    clientEventPayloads(ev.withColumn("value", col("value") * 3))
      .foreach { case (u, arr) => eng.set(s"u$u.fx", arr) }
    eng.save("fx")
    // drop AFTER the flush: the tombstone is a meta-only mutation (no
    // commit), so the cut below must mint a tombstone-only generation
    // ([[graft.store.TsStore.commitPendingTombstones]]) or it would
    // resurrect u9 — and the gen-1 files still CONTAIN u9's rows,
    // which is what makes the manifest's tombstone entry load-bearing
    eng.drop("u9.fx")
    val cut = eng.snapshotAll(Seq("ev", "fx"))
    // post-cut drift: the manifest must keep describing the cut
    clientEventPayloads(ev.limit(50))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev")
    val manifest = eng.exportCutManifest(cut, s"$root/cut_$cut.json")
    // ── the external reader: manifest JSON only, no engine ──
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(manifest)))
    import scala.jdk.CollectionConverters._
    def externalRead(tbl: String): DataFrame = {
      val tn = node.path("tables").path(tbl)
      val files = tn.path("files").elements().asScala
        .map(_.path("path").asText()).toSeq
      val tombs = tn.path("tombstones").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toSeq
      val raw = s.read.parquet(files: _*)
      val dead = tombs.map { case (subj, g) =>
        col("subject") === subj && col("__seq") <= g
      }.reduceOption(_ || _)
      if (tbl == "fx") {
        require(tombs.nonEmpty, "fx manifest lost the tombstone")
        require(raw.count() > dead.fold(raw)(d => raw.filter(!d)).count(),
          "tombstone not load-bearing: raw files hold no dropped rows")
      }
      dead.fold(raw)(d => raw.filter(!d)).drop("__seq")
    }
    val pair = eng.openSnapshotAllAt(cut)
    Seq("ev", "fx").foreach { tbl =>
      val viaEngine = pair(tbl).get
        .select("subject", "t", "etype", "value")
        .collect().map(_.toSeq).sortBy(_.toString)
      val viaManifest = externalRead(tbl)
        .select("subject", "t", "etype", "value")
        .collect().map(_.toSeq).sortBy(_.toString)
      require(viaEngine.sameElements(viaManifest),
        s"manifest read of '$tbl' diverged from openSnapshotAllAt")
    }
    externalRead("ev").select(lit("ev").as("tbl"), col("subject"),
        col("value"))
      .unionByName(externalRead("fx").select(lit("fx").as("tbl"),
        col("subject"), col("value")))
      .groupBy("tbl", "subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("tbl", "subject")
  }

  /** E17 — SCHEMA EVOLUTION wired into the store
    * ([[graft.api.Engine.evolve]] → [[graft.store.TsStore
    * .evolveSchema]]): the reference's version-tolerant convert
    * (sis_dynamic.h:12-51 — schema dictionaries exchanged, a
    * field-by-field converter bridges record layouts; the rule,
    * sis_dynamic.h:110-117: same style carries/widens via cast,
    * different styles are NEVER coerced → 0/"", absent fields
    * likewise) as a first-class engine operation instead of a
    * standalone kernel. The flow: ingest + flush under schema v0
    * (qty I4, flag I4, extra I4), `evolve` to v1 (qty widened to I8,
    * flag crossed to C → old rows read "", score added → old rows
    * read 0.0, extra dropped), ingest + flush under v1. REQUIREd
    * in-query: (a) the LIVE read serves the union of both eras
    * aligned to the NEW schema (qty LongType, flag StringType, score
    * present, extra gone); (b) time travel to the pre-evolve
    * generation serves the OLD schema exactly as committed (qty
    * IntegerType, flag IntegerType, extra present, score absent) —
    * an evolve must never rewrite history. The returned frame
    * aggregates BOTH arms so the oracle hash-checks the alignment
    * semantics value-by-value: old-era rows contribute carried qty,
    * blank flags and zero score to the live arm; the gen-1 arm sums
    * the old-style int flags and the later-dropped `extra` field,
    * proving the old values (not zeroed ghosts) are served. */
  private def qSchemaEvolve(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_evolve_q/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val eng = new graft.api.Engine(s, root)
    eng.create("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]," +
      "qty:[I,4],flag:[I,4],extra:[I,4]}}}")
    val ev = t(s, dir, "events")
      .filter(col("user_id") >= 14 && col("user_id") <= 19)
    def payloads(rows: DataFrame, fields: org.apache.spark.sql.Column*)
        : Array[(Long, String)] =
      rows.select(col("user_id"), to_json(struct(fields: _*)).as("j"))
        .groupBy("user_id")
        .agg(concat(lit("["), concat_ws(",", collect_list("j")),
          lit("]")).as("arr"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
    // era 0: even event-ids, old layout (flag carries user_id, extra 1)
    payloads(ev.filter(col("event_id") % 2 === 0),
      col("ts").as("t"), col("event_type").as("etype"),
      col("value").as("value"),
      (col("event_id") % 100).cast("int").as("qty"),
      col("user_id").cast("int").as("flag"), lit(1).as("extra"))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev")
    val genOld = eng.snapshotVersions("ev").last
    eng.evolve("{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8]," +
      "qty:[I,8],flag:[C,8],score:[F,8]}}}")
    // era 1: odd event-ids, new layout (string flag, real score)
    payloads(ev.filter(col("event_id") % 2 === 1),
      col("ts").as("t"), col("event_type").as("etype"),
      col("value").as("value"),
      (col("event_id") % 100).cast("long").as("qty"),
      concat(lit("f"), col("user_id")).as("flag"),
      (col("value") * 2).as("score"))
      .foreach { case (u, arr) => eng.set(s"u$u.ev", arr) }
    eng.save("ev")
    import org.apache.spark.sql.types._
    val live = eng.get("*.ev", "{}")
    val lt = live.schema.fields.map(f => f.name -> f.dataType).toMap
    require(lt("qty") == LongType && lt("flag") == StringType &&
      lt.contains("score") && !lt.contains("extra"),
      "live read must serve the union aligned to the NEW schema")
    val at = eng.openSnapshotAt("ev", genOld).getOrElse(
      throw new IllegalStateException("pre-evolve generation lost"))
    val ot = at.schema.fields.map(f => f.name -> f.dataType).toMap
    require(ot("qty") == IntegerType && ot("flag") == IntegerType &&
      ot.contains("extra") && !ot.contains("score"),
      "time travel must serve the OLD schema exactly as committed")
    val liveArm = live.groupBy("subject").agg(
      count(lit(1)).as("n"),
      sum("qty").as("qty_sum"),
      round(sum("value"), 2).as("value_sum"),
      round(sum("score"), 2).as("score_sum"),
      sum(when(col("flag") === "", 1L).otherwise(0L)).as("aux"))
      .withColumn("src", lit("live"))
    val oldArm = at.groupBy("subject").agg(
      count(lit(1)).as("n"),
      sum("qty").cast("long").as("qty_sum"),
      round(sum("value"), 2).as("value_sum"),
      lit(0.0).as("score_sum"), // v0 has no score field — by design
      (sum("flag") + sum("extra")).cast("long").as("aux"))
      .withColumn("src", lit("gen1"))
    liveArm.unionByName(oldArm)
      .select("src", "subject", "n", "qty_sum", "value_sum",
        "score_sum", "aux")
      .orderBy("src", "subject")
  }

  /** ST8 — STREAMING sketch maintenance
    * ([[graft.ops.Sketches.appendBatch]]): sks1's production shape
    * under a live feed. Each micro-batch lands ONE partial-state row
    * set per (group, batch-shard) in the stamp-keyed sketch store —
    * the batch id keys the subdirectory and the write overwrites it,
    * so a crashed/replayed batch re-lands in the SAME slot instead of
    * double-counting (REQUIREd: after replaying batch 0 through the
    * sink again, the merged CMS totalCount still equals the exact row
    * count). Queries merge state exactly as sks1 (all three guarantee
    * families REQUIREd in-query); the steady cost is state size
    * (dials × batches), never the corpus. */
  private def qStreamSketch(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_streamsketch/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // two feed files in pinned mtime order (the st6 pattern)
    val now = System.currentTimeMillis()
    writeFeedFile(ev, base, col("event_id") % 2 === 0, "b0", now - 120000L)
    writeFeedFile(ev, base, col("event_id") % 2 === 1, "b1", now - 60000L)
    val root = s"$base/sketch"
    val stamp = "evfeed"
    val (eps, conf, seed, k) = (0.001, 0.99, 42, 64)
    val sink: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (b, id) => {
        val bd = b.toDF()
        Sketches.appendBatch(Sketches.cmsPartials(
          bd, "user_id", lit(id), eps, conf, seed), root, "cms", stamp, id)
        Sketches.appendBatch(Sketches.hllPartials(
          bd, "user_id", Seq("event_type"), lit(id)), root, "hll", stamp, id)
        Sketches.appendBatch(Sketches.quantilePartials(
          bd, "value", Seq("event_type"), lit(id), k), root, "qgrid", stamp, id)
      }
    val q = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/feed")
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // CRASH REPLAY: redeliver batch 0 through the sink exactly as a
    // restarted checkpoint would — same rows, same batch id. The
    // overwrite-into-slot contract makes it a no-op.
    sink(s.read.parquet(s"$base/feed/b0.parquet"), 0L)
    val exactRows = ev.count()
    val cms = Sketches.mergeCms(s, s"$root/cms_$stamp")
    require(cms.totalCount() == exactRows,
      s"replayed batch double-counted: CMS totalCount ${cms.totalCount()} " +
        s"vs $exactRows exact rows")
    // CMS guarantee vs exact truth (the hh1 bound)
    val exactUsers = ev.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    exactUsers.foreach { case (u, n) =>
      val est = cms.estimateCount(u)
      require(est >= n && est <= n + (eps * exactRows).toLong + 1,
        s"stored CMS broke its bound for user $u: $est vs exact $n")
    }
    // HLL union within the rsd error class vs exact distincts
    val mergedHll = Sketches.hllEstimates(
      s.read.parquet(s"$root/hll_$stamp"), Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rsd = 1.04 / math.sqrt(1 << 12)
    val exact = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct("user_id").as("n_users"),
        round(sum("value"), 2).as("total"))
      .orderBy("event_type")
    exact.collect().foreach { r =>
      val (g, nu) = (r.getString(0), r.getLong(2))
      require(math.abs(mergedHll(g) - nu) <= 4 * rsd * nu + 1,
        s"streamed HLL blew its rsd bound on '$g': ${mergedHll(g)} vs $nu")
    }
    // quantile grids: merged estimate's EXACT rank within the
    // mergeable-summary slack (2 batch-shards)
    val ests = Sketches.quantileEstimates(
      s.read.parquet(s"$root/qgrid_$stamp"), Seq("event_type"),
      Seq(0.5 -> "p50", 0.9 -> "p90"))
    ev.join(broadcast(ests), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("N"),
        sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("value") <= col("p90"), 1L).otherwise(0L)).as("r90"))
      .collect().foreach { r =>
        val n = r.getLong(1)
        val slack = 2.0 * n / k + 2 * 2 + 2
        Seq(0.5 -> r.getLong(2), 0.9 -> r.getLong(3)).foreach {
          case (qq, rank) =>
            require(math.abs(rank - qq * n) <= slack,
              s"streamed quantile grid missed rank for '${r.getString(0)}' " +
                s"q=$qq: rank $rank of $n (slack $slack)")
        }
      }
    exact
  }

  /** SKS2 — sketch-store BATCH COMPACTION
    * ([[graft.ops.Sketches.compactCmsBatches]] and siblings): the
    * piece that makes st8's streaming maintenance survive a LONG
    * stream. One slot per micro-batch is correct but accretes forever
    * (a week at a 10 s trigger ≈ 60k slot dirs per kind — every query
    * pays the listing); compaction folds all slots at or below a safe
    * watermark (strictly below the newest batch — the only one a
    * checkpoint can ever redeliver) into ONE consolidated slot via
    * each family's own merge algebra, through a stage → marker →
    * apply protocol that rolls forward from a crash. REQUIREd
    * in-query: exactly two slots remain per kind; CMS estimates are
    * BIT-EQUAL before/after (elementwise sums are exact); HLL holds
    * its rsd class; quantile grids hold the one-extra-level DOUBLED
    * rank slack; and a replayed newest batch still lands
    * idempotently after compaction. The oracle hash-checks the exact
    * anchors. */
  private def qSketchCompaction(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_skcompact/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val ev = t(s, dir, "events")
      .select("event_id", "event_type", "user_id", "value")
    val (eps, conf, seed, lgK, k, batches) = (0.001, 0.99, 42, 12, 64, 6)
    val stamp = "evfeed"
    def land(b: Long, bd: DataFrame): Unit = {
      Sketches.appendBatch(Sketches.cmsPartials(
        bd, "event_type", lit(b), eps, conf, seed), root, "cms", stamp, b)
      Sketches.appendBatch(Sketches.hllPartials(
        bd, "user_id", Seq("event_type"), lit(b), lgK), root, "hll", stamp, b)
      Sketches.appendBatch(Sketches.quantilePartials(
        bd, "value", Seq("event_type"), lit(b), k), root, "qgrid", stamp, b)
    }
    (0L until batches.toLong).foreach(b =>
      land(b, ev.filter(pmod(col("event_id"), lit(batches)) === b)))
    val exactRows = ev.count()
    val beforeCms = Sketches.mergeCms(s, s"$root/cms_$stamp")
    val exact = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"),
        round(sum("value"), 2).as("total"))
      .orderBy("event_type")
    val anchors = exact.collect()
    val beforeEsts = anchors.map(r =>
      r.getString(0) -> beforeCms.estimateCount(r.getString(0))).toMap
    // fold slots 0..4 — the newest (5) keeps its own slot because a
    // checkpoint replay can only ever redeliver the newest batch
    require(Sketches.compactCmsBatches(s, root, stamp, upTo = 4L) == 5,
      "CMS compaction folded an unexpected slot count")
    require(Sketches.compactHllBatches(s, root, stamp, upTo = 4L) == 5,
      "HLL compaction folded an unexpected slot count")
    require(Sketches.compactQuantileBatches(s, root, stamp, upTo = 4L, k) == 5,
      "quantile compaction folded an unexpected slot count")
    val f = org.apache.hadoop.fs.FileSystem
      .get(s.sparkContext.hadoopConfiguration)
    Seq("cms", "hll", "qgrid").foreach { kind =>
      val slots = f.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/${kind}_$stamp"))
        .filter(x => x.isDirectory && x.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName).sorted.toSeq
      require(slots == Seq("batch=4", "batch=5"),
        s"$kind compaction left unexpected slots: $slots")
    }
    // CMS: bit-exact across the fold; total mass preserved
    val cms = Sketches.mergeCms(s, s"$root/cms_$stamp")
    require(cms.totalCount() == exactRows,
      s"compaction changed CMS mass: ${cms.totalCount()} vs $exactRows")
    anchors.foreach { r =>
      val g = r.getString(0)
      require(cms.estimateCount(g) == beforeEsts(g),
        s"compaction changed a CMS estimate for '$g': " +
          s"${cms.estimateCount(g)} vs ${beforeEsts(g)}")
    }
    // replay of the NEWEST batch after compaction: still a no-op
    land(5L, ev.filter(pmod(col("event_id"), lit(batches)) === 5L))
    require(Sketches.mergeCms(s, s"$root/cms_$stamp").totalCount() == exactRows,
      "a post-compaction replay of the newest batch double-counted")
    // HLL: the consolidated slot was built by the same union the read
    // side applies — the rsd class must hold
    val mergedHll = Sketches.hllEstimates(
      s.read.parquet(s"$root/hll_$stamp"), Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rsd = 1.04 / math.sqrt((1 << lgK).toDouble)
    anchors.foreach { r =>
      val (g, nu) = (r.getString(0), r.getLong(2))
      require(math.abs(mergedHll(g) - nu) <= 5 * rsd * nu + 1,
        s"compacted HLL blew its rsd bound on '$g': ${mergedHll(g)} vs $nu")
    }
    // quantile grids: ONE extra summarization level — the grid term
    // of the rank slack doubles (2·2N/k), shard terms unchanged
    val ests = Sketches.quantileEstimates(
      s.read.parquet(s"$root/qgrid_$stamp"), Seq("event_type"),
      Seq(0.5 -> "p50", 0.9 -> "p90"))
    ev.join(broadcast(ests), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("N"),
        sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("value") <= col("p90"), 1L).otherwise(0L)).as("r90"))
      .collect().foreach { r =>
        val n = r.getLong(1)
        val slack = 4.0 * n / k + 2 * batches + 2
        Seq(0.5 -> r.getLong(2), 0.9 -> r.getLong(3)).foreach {
          case (q, rank) =>
            require(math.abs(rank - q * n) <= slack,
              s"compacted quantile grid missed rank for '${r.getString(0)}' " +
                s"q=$q: rank $rank of $n (slack $slack)")
        }
      }
    exact
  }

  /** P5: composable filter tree — predicates combined as an explicitly
    * nested AND/OR/NOT tree (the reference's s_sis_filter node tree,
    * workers/sisdb/sisdb_io.c filter walk) in native Column algebra, so
    * Catalyst still pushes the whole tree into the scan. */
  private def qFilterTree(s: SparkSession, dir: String): DataFrame = {
    val leafA = col("l_returnflag") === "R" && col("l_quantity") > 30.0
    val leafB = !(col("l_linestatus") === "F") &&
      col("l_discount").between(0.05, 0.07)
    val tree = (leafA || leafB) && !(col("l_tax") > 0.07)
    t(s, dir, "lineitem").filter(tree)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** W9 ratio partitions: split a ranked set 20/30/50 — exact ntile via
    * the range-partitioned two-pass (no global window), then a scalar
    * bucket→tier map. */
  private def qRatioParts(s: SparkSession, dir: String): DataFrame =
    Analytics.buckets(t(s, dir, "orders"), 10,
        Seq(col("o_totalprice"), col("o_orderkey")), "bucket")
      .withColumn("tier", when(col("bucket") <= 2, "t20")
        .when(col("bucket") <= 5, "t30").otherwise("t50"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("tier")

  /** A3 block stats: per-storage-block (day) row count / min / max /
    * sum — the reference keeps these in block heads for search
    * positioning (the same stats parquet row groups carry; here
    * surfaced as a queryable summary). */
  private def qBlockStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        min(unix_millis(col("ts"))).as("t_lo"),
        max(unix_millis(col("ts"))).as("t_hi"),
        round(min("value"), 2).as("v_lo"),
        round(max("value"), 2).as("v_hi"),
        round(sum("value"), 2).as("total"))
      .orderBy("day")

  /** T5 dict-stream ids (workers/snodb dict-stream protocol: a dense
    * name→id dictionary ships ahead of coded rows): deterministic ids
    * by sorted name, built without a global window; encode = broadcast
    * join. */
  private def qDictIds(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val dict = Catalog.dictionary(e, "event_type", "id")
    e.join(broadcast(dict), "event_type")
      .groupBy("event_type", "id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("id")
  }

  /** M4 time-index append: merge a second batch into a keyed series —
    * no unique fields, equal times keep both rows (arrival order is
    * asserted in WriteSpec; the merged multiset is checked here). */
  private def qAppend(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("t_ms"),
        col("value"), col("event_id"))
    val existing = e.filter(col("event_id") % 2 === 0).drop("event_id")
    val incoming = e.filter(col("event_id") % 2 === 1).drop("event_id")
    Write.append(existing, incoming, "user_id", "t_ms")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), min("t_ms").as("t_lo"),
        max("t_ms").as("t_hi"), round(sum("value"), 2).as("total"))
      .orderBy("user_id")
  }

  /** M8 pack: compact a day-partitioned store to one file per day and
    * prove the logical content is untouched. */
  private def qPack(s: SparkSession, dir: String): DataFrame = {
    val store = s"/tmp/graft_store/${dir.replaceAll("[^A-Za-z0-9]", "_")}/events_pack"
    val e = t(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Write.save(e, store, Seq("day"))
    Write.pack(s, store, Seq("day"), targetFiles = 1)
    s.read.parquet(store)
      .withColumn("day", col("day").cast("string"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("day")
  }

  /** M10 — pack with the Z-ORDER layout option on the store's own
    * files ([[graft.store.TsStore.pack]] zorderBy): the weekly pack
    * rewrites everything anyway (sisdb.c:586-602), so the rewrite can
    * buy a 2-D-prunable layout for free — each rewritten day's files
    * cover compact (subject, time) rectangles instead of
    * subject-sorted stripes. REQUIREd in-query from the same footer
    * stats an engine prunes with: a (subject range × time band) box
    * must skip files, EACH dim alone must skip files (a 1-D sort's
    * non-leading dim skips none), and the 2-D box must read no more
    * files than either single dim. Content equality with the
    * pre-pack store is what the oracle hash checks. */
  private def qPackZorder(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_packz/${dir.replaceAll("[^A-Za-z0-9]", "_")}/st"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"/tmp/graft_packz/${dir.replaceAll("[^A-Za-z0-9]", "_")}"))
    // ONE day of events, so every skipped file is skipped by the
    // z-layout's intra-day rectangles — day-partition pruning (s2's
    // job) cannot take the credit
    val e = t(s, dir, "events")
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-08")
      .select(concat(lit("u"), col("user_id")).as("subject"),
        unix_millis(col("ts")).as("t_ms"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val st = new graft.store.TsStore(s, root, subject = "subject",
      time = "t_ms", soleCols = Nil, dayCol = col("day"))
    st.set(e); st.save()
    st.pack(16, zorderBy = Some(("subject", "t_ms")))
    // the live manifest's files only: the pre-pack version stays on
    // disk for pinned readers until a vacuum
    val live = graft.store.TsStore.openSnapshot(s, root).get
    // footer-stat selectivity over the packed files (box: a subject
    // range × the middle fifth of the time span)
    val mm = live
      .agg(min("t_ms"), max("t_ms")).collect()(0)
    val (tLo, tHi) = (mm.getLong(0), mm.getLong(1))
    val (bLo, bHi) = (tLo + (tHi - tLo) * 2 / 5, tLo + (tHi - tLo) * 3 / 5)
    val stats = live
      .groupBy(col("_metadata.file_name").as("f"))
      .agg(min("subject").as("mnS"), max("subject").as("mxS"),
        min("t_ms").as("mnT"), max("t_ms").as("mxT"))
      .collect()
    val total = stats.length
    def subjHit(r: org.apache.spark.sql.Row) =
      r.getString(2) >= "u2" && r.getString(1) <= "u5"
    def tHit(r: org.apache.spark.sql.Row) =
      r.getLong(4) >= bLo && r.getLong(3) <= bHi
    val (sOnly, tOnly) = (stats.count(subjHit), stats.count(tHit))
    val both = stats.count(r => subjHit(r) && tHit(r))
    require(sOnly < total && tOnly < total,
      s"z-pack layout pruned nothing on a single dim: " +
        s"subject $sOnly/$total, time $tOnly/$total")
    require(both <= sOnly && both <= tOnly && both < total,
      s"2-D box not selective on the z-packed store: $both/$total " +
        s"(subject $sOnly, time $tOnly)")
    st.read()
      .groupBy("subject")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
        min("t_ms").as("t_lo"), max("t_ms").as("t_hi"))
      .orderBy("subject")
  }

  /** O1 sorted series maintenance: day-partitioned store written
    * sorted-within-files; the read-back PROVES physical order via
    * `_metadata.row_index` (per-file monotone ts), so a merge reader
    * can stream each file without re-sorting. */
  private def qSortedRead(s: SparkSession, dir: String): DataFrame = {
    val store = s"/tmp/graft_store/${dir.replaceAll("[^A-Za-z0-9]", "_")}/events_sorted"
    val e = t(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    e.repartition(col("day"))
      .sortWithinPartitions(col("day"), col("ts"), col("event_id"))
      .write.mode("overwrite").partitionBy("day").parquet(store)
    val r = s.read.parquet(store).select(
      col("day").cast("string").as("day"),
      unix_millis(col("ts")).as("t_ms"),
      col("_metadata.file_path").as("__f"),
      col("_metadata.row_index").as("__ri"))
    val w = Window.partitionBy("__f").orderBy("__ri")
    r.withColumn("__ok",
        col("t_ms") >= coalesce(lag("t_ms", 1).over(w), col("t_ms")))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), bool_and(col("__ok")).as("sorted"),
        min("t_ms").as("t_lo"), max("t_ms").as("t_hi"))
      .orderBy("day")
  }

  /** S8 DBF round-trip: a dimension serialized to dBase fixed-width
    * records (the vendor feed format) and parsed back distributed. */
  private def qDbfRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"/tmp/graft_dbf/${dir.replaceAll("[^A-Za-z0-9]", "_")}/nation"
    val src = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("NKEY"),
        col("n_name").as("NAME"), col("n_regionkey").cast("long").as("REGION"))
      .repartition(1) // one bounded vendor file; scale = one file per day/market
    Dbf.write(src, Seq(
      Dbf.DbfField("NKEY", 'N', 10, 0),
      Dbf.DbfField("NAME", 'C', 25, 0),
      Dbf.DbfField("REGION", 'N', 10, 0)), tmp)
    Dbf.read(s, tmp + "/*.dbf")
      .select(col("NKEY").as("nkey"), col("NAME").as("name"),
        col("REGION").as("region"))
      .orderBy("nkey")
  }

  /** T1/T3/T4 in one checked pass: a REAL Structured Streaming run
    * (file source → availableNow → foreachBatch) lands the feed in the
    * finalized day-partitioned store while the in-process registry fans
    * each micro-batch out to exact / prefix / wildcard subscribers.
    * Output rows: per-day store aggregates (`day:*`) + per-subscriber
    * delivered rows (`sub:*`) — both recomputable by the oracle.
    *
    * The `sub:*` COUNTS come from the live callbacks (summing per-batch
    * integer counts is exact, so they really prove per-batch delivery);
    * the `sub:*` TOTALS are recomputed single-pass over the finalized
    * store with each subscriber's own predicate. Summing per-micro-batch
    * double partials would add in a different order than the oracle's
    * one-pass sum, and a total landing exactly on a .005 boundary after
    * round(,2) could flake — likelihood grows with batch count. */
  private def qStreamFinalize(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_stream_q/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val e = t(s, dir, "events")
      .withColumn("subject", concat(lit("u"), col("user_id")))
      .select("subject", "ts", "value")
    e.write.mode("overwrite").parquet(s"$base/feed")
    val subs = new graft.stream.SubRegistry
    val partials =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def collector(id: String): DataFrame => Unit = { df =>
      val n = df.count()
      if (n > 0) partials.add((id, n))
    }
    val subConds = Seq[(String, Column)](
      "sub:exact_u3" -> (col("subject") === "u3"),
      "sub:prefix_u1" -> col("subject").startsWith("u1"),
      "sub:all" -> lit(true))
    subs.subscribe("sub:exact_u3", Seq("u3"))(collector("sub:exact_u3"))
    subs.subscribe("sub:prefix_u1", Seq("u1*"))(collector("sub:prefix_u1"))
    subs.subscribe("sub:all", Seq("*"))(collector("sub:all"))
    val q = graft.stream.Ingest.start(s, s"$base/feed", e.schema,
      s"$base/store", s"$base/ckpt", "subject", "ts",
      date_format(col("ts"), "yyyy-MM-dd"), subs)
    q.awaitTermination()
    val store = graft.stream.Ingest.read(s, s"$base/store")
    val stored = store
      .groupBy(concat(lit("day:"), col("__day")).as("key"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
    // one aggregate pass over the store for every subscriber's total
    val totalsRow = store.agg(
      round(sum(when(subConds(0)._2, col("value"))), 2),
      round(sum(when(subConds(1)._2, col("value"))), 2),
      round(sum(when(subConds(2)._2, col("value"))), 2)).collect()(0)
    val totals = subConds.map(_._1).zipWithIndex.map { case (k, i) =>
      k -> (if (totalsRow.isNullAt(i)) 0.0 else totalsRow.getDouble(i))
    }.toMap
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val counts = partials.toArray(Array.empty[(String, Long)])
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val rows = counts.toSeq.map { case (k, n) =>
      org.apache.spark.sql.Row(k, n, totals(k))
    }
    val delivered = s.createDataFrame(
      s.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("key", StringType),
        StructField("n", LongType), StructField("total", DoubleType))))
    stored.unionByName(delivered).orderBy("key")
  }

  /** S5 WAL / crash recovery, oracle-checked: run 1 ingests with a
    * fault injected after batch 1's store files LAND but before its
    * checkpoint commit (the torn state a real kill leaves — reference:
    * fsync-before-ack redo log replayed on startup, sisdb_server.c:
    * 448-453, workers/sisdb/sisdb.c:603-639). Run 2 restarts from the
    * same checkpoint: the offset log replays batch 1, the idempotent
    * `__batch`-partition overwrite heals its torn files instead of
    * duplicating them, and batch 2 completes. The final store must
    * equal the single-run answer exactly — a duplicated or lost batch
    * shifts every count and fails the hash. */
  private def qWalResume(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_stream_wal/${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val e = t(s, dir, "events")
      .filter(col("event_id") % 10 === 0)
      .withColumn("subject", concat(lit("u"), col("user_id")))
      .select("subject", "ts", "value")
    e.repartition(3).write.mode("overwrite").parquet(s"$base/feed")
    def run(crashAt: Option[Long]) = graft.stream.Ingest.start(
      s, s"$base/feed", e.schema, s"$base/store", s"$base/ckpt",
      "subject", "ts", date_format(col("ts"), "yyyy-MM-dd"),
      new graft.stream.SubRegistry, availableNow = true,
      maxFilesPerTrigger = Some(1), crashAfterBatch = crashAt)
    val q1 = run(Some(1L))
    val crashed =
      try { q1.awaitTermination(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
    require(crashed, "fault injection did not fire — recovery unproven")
    // the crash must have left batch 1's files in the store (else the
    // replay below would prove nothing)
    require(s.read.parquet(s"$base/store").filter(col("__batch") === 1)
      .limit(1).count() > 0, "no torn batch-1 files — recovery unproven")
    run(None).awaitTermination()
    graft.stream.Ingest.read(s, s"$base/store")
      .groupBy(col("__day").cast("string").as("day"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("day")
  }

  /** T6 frwdb factor store (workers/frwdb/frwdb.h:28-83: per-subject
    * factor series written in batches, read back by time range):
    * computed per-(subject, day) factors merged through `factorSet`
    * batches, read back with a ranged `factorGet`. */
  private def qFactorStore(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(round(avg("value"), 6).as("factor"))
      .select(concat(lit("u"), col("user_id")).as("subject"),
        unix_millis(to_timestamp(col("day"), "yyyy-MM-dd")).as("time"),
        col("factor"), col("day"))
    val first = daily.filter(col("day") < "2024-01-15").drop("day")
    val rest = daily.filter(col("day") >= "2024-01-15").drop("day")
    val merged = graft.store.KvStore.factorSet(
      Some(graft.store.KvStore.factorSet(None, first)), rest)
    val lo = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
    graft.store.KvStore.factorGet(merged, "u7", lo, hi)
      .select("time", "factor")
  }

  /** KV1 — the reference's unstructured key styles (SIS_SDB_STYLE_ONE /
    * MUL, src/core/disk/sis_disk.io.h:206-210) and the degenerate
    * built-in `string {index, value}` table (src/core/disk/readme.md):
    * ONE = single value per key, last write wins — modeled as the
    * compacted view after a manual override write for `u1`; MUL =
    * ordered list per key — `u2`'s full sequence. Both styles over one
    * generic `(key, seq, value)` KV DataFrame per SURVEY §1.4. */
  private def qKvStyles(s: SparkSession, dir: String): DataFrame = {
    val kv = t(s, dir, "events").select(
      concat(lit("u"), col("user_id")).as("key"),
      evKey.as("seq"),
      concat(col("event_type"), lit("#"), col("event_id")).as("value"))
    val one = graft.store.KvStore.setOne(kv, "u1",
      lit("manual#override"), lit(Long.MaxValue))
    val mul = graft.store.KvStore.getMul(kv, "u2")
    one.select(lit("one").as("op"), col("key"), col("seq"), col("value"))
      .unionByName(mul.select(lit("mul").as("op"), col("key"), col("seq"),
        col("value")))
      .orderBy("op", "key", "seq")
  }

  /** O4 search positioning (sisdb_fmap_read.c: block-head search to
    * land on the right file offset; disk/readme.md block stats): the
    * reference binary-searches block heads; the Spark equivalent is
    * partition pruning (day) + parquet row-group min/max skipping
    * (time) — and the query REQUIRES both in its own physical plan
    * before returning rows, so a pushdown regression fails loudly. */
  private def qSearchPosition(s: SparkSession, dir: String): DataFrame = {
    val store = s"/tmp/graft_store/${dir.replaceAll("[^A-Za-z0-9]", "_")}/events_pos"
    val e = t(s, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("t_ms", unix_millis(col("ts")))
    e.repartition(col("day"))
      .sortWithinPartitions(col("day"), col("t_ms")) // sorted blocks → tight row-group stats
      .write.mode("overwrite").partitionBy("day").parquet(store)
    val lo = java.time.Instant.parse("2024-01-10T06:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-10T18:00:00Z").toEpochMilli
    val q = s.read.parquet(store)
      .filter(col("day") === "2024-01-10" && col("t_ms").between(lo, hi))
    val plan = q.queryExecution.executedPlan.toString
    require(plan.contains("PartitionFilters: [") &&
      !plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").trim.isEmpty,
      s"day partition pruning missing from plan:\n$plan")
    require(plan.contains("GreaterThanOrEqual(t_ms") || plan.contains("gte(t_ms"),
      s"t_ms stat pushdown missing from plan:\n$plan")
    q.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("event_type")
  }

  /** Skew lever 1: two-stage salted aggregation — identical answers to
    * the plain groupBy (checked by the oracle), but a hot key's rows
    * spread over `salt` reducers in stage 1. */
  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(t(s, dir, "events"), Seq("event_type"), salt = 8,
        partial = Seq("n" -> count(lit(1)), "total" -> sum("value")),
        merge = Seq("n" -> sum(col("n")), "total" -> sum(col("total"))))
      .select(col("event_type"), col("n"), round(col("total"), 2).as("total"))
      .orderBy("event_type")

  /** Skew lever 2: salted equi-join (fact salted n ways, dim replicated
    * n ways) — same rows as the plain join, hot keys spread. */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
    val dim = t(s, dir, "orders")
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    Skew.saltedJoin(fact, dim, Seq("okey"), n = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total"))
      .orderBy("o_orderpriority")
  }

  /** Multimodal decode/frame-sample plumbing end to end: binary payload
    * → probe metadata (mapPartitions, one decoder per partition) →
    * per-frame explode → per-doc frame counts. The Fake decoder is
    * FNV-seeded, so the oracle recomputes every field exactly. */
  private def qMultimodalProbe(s: SparkSession, dir: String): DataFrame = {
    val withPayload = t(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val meta = graft.multimodal.Multimodal.withMeta(withPayload, "payload")
    val frames = graft.multimodal.Multimodal
      .sampleFrames(meta, "payload", everyMs = 60000L)
    frames.groupBy(col("doc_id"), col("media_meta.kind").as("kind"),
        col("media_meta.n_bytes").as("n_bytes"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"),
        col("media_meta.duration_ms").as("duration_ms"))
      .agg(count(lit(1)).as("n_frames"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split (90/5/5): FNV-bucket the doc id
    * into percentage bands. Pure per-row hash math — no RNG, no
    * shuffle; assignments are stable as the corpus grows. */
  private def qHashSplit(s: SparkSession, dir: String): DataFrame =
    Pipeline.hashSplit(t(s, dir, "documents"),
        col("doc_id"), Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy("doc_id")

  /** Stratified mixture sampling: per-language keep-rates (en 0.9,
    * zh 0.4, default 0.6) applied as id-hash thresholds — the
    * pretraining mixture-weighting stage, deterministic and
    * broadcast-joined (rates table is tiny, corpus never shuffles). */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    Pipeline.stratifiedSample(t(s, dir, "documents"),
        col("lang"), col("doc_id"),
        rates = Map("en" -> 0.9, "zh" -> 0.4), default = 0.6)
      .select(col("doc_id"), col("lang"), col("__bucket").as("bucket"))
      .orderBy("doc_id")

  /** Deterministic global corpus shuffle (training order): total order
    * by id-hash, materialized 1-based position via the two-pass
    * range-partition + broadcast-offsets rank — no single-partition
    * sort stage anywhere in the plan. */
  private def qGlobalShuffle(s: SparkSession, dir: String): DataFrame =
    Pipeline.globalShuffle(t(s, dir, "documents")
        .select(col("doc_id")), col("doc_id"), salt = "epoch0")
      .select(col("doc_id"), col("__shuf").as("shuffle_key"), col("pos"))
      .orderBy("pos")

  /** SMP3 mixture balancing: every language deterministically
    * down-sampled to the smallest language's share — rates derived
    * from the data (the flatten-the-mixture stage), selection a pure
    * function of doc_id. (lang, not source, because the corpus is
    * language-skewed ~3.4:1 — the source mix is uniform and would
    * make the check vacuous.) */
  private def qSourceMix(s: SparkSession, dir: String): DataFrame =
    Pipeline.balanceGroups(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"))
      .orderBy("doc_id")

  /** SMP4 sqrt-temperature mixture sampling over the language-skewed
    * corpus: big languages flattened TOWARD (not onto) the smallest
    * language's share — keep rate `sqrt(min/|g|)`. */
  private def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    Pipeline.temperatureSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"))
      .orderBy("doc_id")

  /** Concat-and-chunk sequence packing into 512-token context windows:
    * the corpus as one virtual token stream (exclusive global running
    * sum of whitespace-token counts, computed with the same two-pass
    * offset trick), one row per (document, window) overlap. */
  private def qPackChunks(s: SparkSession, dir: String): DataFrame =
    Pipeline.packChunks(t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"), TextFunctions.tokenCountWs(col("text")), ctx = 512)
      .select(col("doc_id"), col("n_tok"), col("tok_offset"),
        col("chunk_id"), col("n_in_chunk"))
      .orderBy("doc_id", "chunk_id")

  /** Sliding-window chunking: 200-char windows every 150 chars
    * (50-char overlap) — per-row explode, no shuffle. */
  private def qChunkOverlap(s: SparkSession, dir: String): DataFrame =
    Pipeline.chunkSliding(t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("text"), size = 200, stride = 150)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"), col("chunk_len"))
      .orderBy("doc_id", "chunk_idx")

  /** Multimodal feature extraction: payload → fixed-dim embedding via
    * the partition-local decoder (one instance per partition, rows
    * streamed). The Fake decoder's LCG-over-FNV features reproduce
    * exactly in the oracle, so the whole mapPartitions path is
    * hash-checked, not just row-counted. */
  private def qMultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val withPayload = t(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    graft.multimodal.Multimodal.withFeatures(withPayload, "payload", dim = 4)
      .select(col("doc_id"),
        element_at(col("features"), 1).cast("double").as("f0"),
        element_at(col("features"), 2).cast("double").as("f1"),
        element_at(col("features"), 3).cast("double").as("f2"),
        element_at(col("features"), 4).cast("double").as("f3"))
      .orderBy("doc_id")
  }

  // ───────────────────────── the inventory ───────────────────────────

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_range_scan" -> qRangeScan _,
    "s2_partition_pruned" -> qPartitionPruned _,
    "s4_replay_day" -> qReplayDay _,
    "s7_csv_roundtrip" -> qCsvRoundtrip _,
    "s9_json_ingest" -> qJsonIngest _,
    "s10_render_rows" -> qRenderRows _,
    "sc1_schema_zint" -> qSchemaZint _,
    "cv1_convert" -> qConvert _,
    "e1_engine_roundtrip" -> qEngineRoundtrip _,
    "e2_engine_multikey" -> qEngineMultikey _,
    "e3_engine_update" -> qEngineUpdate _,
    "e4_engine_factor" -> qEngineFactor _,
    "e5_engine_replay" -> qEngineReplay _,
    "e6_engine_del" -> qEngineDel _,
    "e7_engine_ingest" -> qEngineIngest _,
    "e8_engine_restart" -> qEngineRestart _,
    "e9_engine_pub" -> qEnginePub _,
    "e10_snapshot_reader" -> qSnapshotReader _,
    "kv2_engine_kv" -> qEngineKv _,
    "u1_sql_table" -> qSqlTable _,
    "p1_projection" -> qProjection _,
    "p2_last_per_key" -> qLastPerKey _,
    "p2a_range_eq" -> qRangeEq _,
    "p2b_range_open" -> qRangeOpen _,
    "p2c_range_ifprev" -> qRangeIfprev _,
    "p3_where_offset" -> qWhereOffset _,
    "p4_predicates" -> qPredicates _,
    "p6_prefix_match" -> qPrefixMatch _,
    "j1_merge_streams" -> qMergeStreams _,
    "j2_asof_join" -> qAsOf _,
    "j3_join_revenue" -> qJoinRevenue _,
    "j4_range_join" -> qRangeJoin _,
    "j5_interval_overlap" -> qIntervalOverlap _,
    "a9_profile_stats" -> qProfileStats _,
    "a0_pricing_summary" -> qPricingSummary _,
    "a1_rollup_ohlc" -> qRollupOhlc _,
    "a10_rollup_incr" -> qRollupIncremental _,
    "a11_cdc_rollup" -> qCdcRollup _,
    "a1_rollup_month" -> qRollupMonth _,
    "a4_stats" -> qStats _,
    "a5_damped_avg" -> qDampedAvg _,
    "a5b_damped_ratio" -> qDampedRatio _,
    "a6_normalize" -> qNormalize _,
    "a6b_normalize_split" -> qNormalizeSplit _,
    "a7_buckets" -> qBuckets _,
    "a8_topk" -> qTopK _,
    "w1_drift" -> qDrift _,
    "w3_running_sum" -> qRunningSum _,
    "w4_trend" -> qTrend _,
    "w5_corr" -> qCorr _,
    "w6_lag_corr" -> qLagCorr _,
    "w7_dir_corr" -> qDirCorr _,
    "o2_limit_per_key" -> qLimitPerKey _,
    "set_ops" -> qSetOps _,
    "m2_bset_roundtrip" -> qBsetRoundtrip _,
    "m3_upsert" -> qUpsert _,
    "m5_delete_range" -> qDeleteRange _,
    "m6_drop_key" -> qDropKey _,
    "m9_update_search" -> qUpdateBySearch _,
    "tu_time_units" -> qTimeUnits _,
    "d1_dedup_exact" -> qDedupExact _,
    "d2_minhash_lsh" -> qMinhashLsh _,
    "d7_dup_clusters" -> qDupClusters _,
    "d3_simhash" -> qSimhash _,
    "d4_ngram_jaccard" -> qNgramJaccard _,
    "d4b_ngram_prefix" -> qNgramJaccardPrefix _,
    "d5_cosine_dup" -> qCosineDup _,
    "d5b_cosine_dup_blocked" -> qCosineDupBlocked _,
    "d6_winnow_pairs" -> qWinnowPairs _,
    "d9_semantic_dedup" -> qSemanticDedup _,
    "d10_quality_reps" -> qQualityReps _,
    "d11_incremental_dedup" -> qIncrementalDedup _,
    "d12_stored_index" -> qStoredIndex _,
    "d13_segment_dedup" -> qSegmentDedup _,
    "x1_ann_topk" -> qAnnTopK _,
    "x2_ann_lsh" -> qAnnLsh _,
    "x3_ann_ivf" -> qAnnIvf _,
    "x5_ann_ivf_stored" -> qAnnIvfStored _,
    "x7_ann_ivf_append" -> qAnnIvfAppend _,
    "x9_ivf_drift" -> qIvfDrift _,
    "x10_ivf_cutover" -> qIvfCutover _,
    "x6_ann_quantized" -> qAnnQuantized _,
    "x11_random_projection" -> qRandomProjection _,
    "x12_pq_adc" -> qPqAdc _,
    "x13_ivfpq" -> qIvfPq _,
    "x14_ivfpq_stored" -> qStoredIvfPq _,
    "st10_stream_vector_index" -> qStreamVectorIndex _,
    "st11_stream_cdc_rollup" -> qStreamCdcRollup _,
    "e24_evolve_maintained" -> qEvolveMaintainedBars _,
    "x15_pq_drift_retrain" -> qStoredPqDriftRetrain _,
    "tx1_lang_id" -> qLangId _,
    "tx2_text_quality" -> qTextQuality _,
    "tx5_repetition" -> qRepetition _,
    "tx6_pii_scrub" -> qPiiScrub _,
    "x4_contamination" -> qContamination _,
    "x8_contamination_bloom" -> qContaminationBloom _,
    "d8_boilerplate_spans" -> qBoilerplateSpans _,
    "tx7_unigram_nll" -> qUnigramNll _,
    "tok1_bpe_pairs" -> qBpePairs _,
    "tok2_bpe_train" -> qBpeTrain _,
    "tok3_bpe_encode" -> qBpeEncode _,
    "tx3_token_count" -> qTokenCount _,
    "tx8_quality_gate" -> qQualityGate _,
    "tx9_source_cap" -> qSourceCap _,
    "tx10_bigram_nll" -> qBigramNll _,
    "tx11_dsir_select" -> qDsirSelect _,
    "tx12_dsir_resample" -> qDsirResample _,
    "hx1_hybrid_rrf" -> qHybridRrf _,
    "sp1_sequence_pack" -> qSequencePack _,
    "pl1_curation_pipeline" -> qCurationPipeline _,
    "tx4_fingerprint" -> qFingerprint _,
    "mm1_multimodal_meta" -> qMultimodalMeta _,
    "st1_stream_window" -> qStreamWindow _,
    "st3_session_window" -> qSessionWindow _,
    "st4_stream_dedup" -> qStreamDedup _,
    "st6_stream_admit" -> qStreamAdmit _,
    "st9_stream_gate" -> qStreamAdmitGated _,
    "st5_stream_sessions" -> qStreamSessions _,
    "st7_stream_join" -> qStreamJoin _,
    "e11_snapshot_sql" -> qSnapshotSql _,
    "z1_zorder_scan" -> qZorderScan _,
    "hh1_heavy_hitters" -> qHeavyHitters _,
    "qs1_quantile_sketch" -> qQuantileSketch _,
    "ix1_inverted_search" -> qInvertedSearch _,
    "ix2_bm25_rank" -> qBm25Rank _,
    "hll1_distinct_sketch" -> qDistinctSketch _,
    "sks1_stored_sketches" -> qStoredSketches _,
    "e12_time_travel" -> qTimeTravel _,
    "e13_time_travel_sql" -> qTimeTravelSql _,
    "e14_auto_vacuum" -> qAutoVacuum _,
    "e15_snapshot_cut" -> qSnapshotCut _,
    "e16_cut_manifest" -> qCutManifest _,
    "e17_schema_evolve" -> qSchemaEvolve _,
    "e18_change_feed" -> qChangeFeed _,
    "e19_restore_cut" -> qRestoreCut _,
    "e20_cross_era_feed" -> qCrossEraFeed _,
    "e21_atomic_commit" -> qAtomicCommit _,
    "e22_factor_versioned" -> qFactorVersioned _,
    "e23_factor_evolve" -> qFactorEvolve _,
    "st8_stream_sketch" -> qStreamSketch _,
    "sks2_compacted_sketches" -> qSketchCompaction _,
    "m10_pack_zorder" -> qPackZorder _,
    "st2_live_bars" -> qLiveBars _,
    "p5_filter_tree" -> qFilterTree _,
    "w9_ratio_parts" -> qRatioParts _,
    "w10_rolling_z" -> qRollingZ _,
    "o5_resample_grid" -> qResampleGrid _,
    "a3_block_stats" -> qBlockStats _,
    "t5_dict_ids" -> qDictIds _,
    "m4_append" -> qAppend _,
    "m8_pack" -> qPack _,
    "o1_sorted_read" -> qSortedRead _,
    "s8_dbf_roundtrip" -> qDbfRoundtrip _,
    "t4_stream_finalize" -> qStreamFinalize _,
    "t7_wal_resume" -> qWalResume _,
    "t6_factor_store" -> qFactorStore _,
    "kv1_one_mul_styles" -> qKvStyles _,
    "o4_search_position" -> qSearchPosition _,
    "sk1_salted_agg" -> qSaltedAgg _,
    "sk2_salted_join" -> qSaltedJoin _,
    "mm2_multimodal_probe" -> qMultimodalProbe _,
    "mm3_multimodal_features" -> qMultimodalFeatures _,
    "smp1_hash_split" -> qHashSplit _,
    "smp2_stratified_sample" -> qStratifiedSample _,
    "smp3_source_mix" -> qSourceMix _,
    "smp4_temperature_mix" -> qTemperatureMix _,
    "shf1_global_shuffle" -> qGlobalShuffle _,
    "pk1_pack_chunks" -> qPackChunks _,
    "ch1_chunk_overlap" -> qChunkOverlap _)

  // ─────────────────────────── oracles ───────────────────────────────

  /** Shared DuckDB prefix for the minhash-LSH dup-cluster oracles
    * (d7, d10): shingles → FNV → minhash sig → banded candidates →
    * est-Jaccard pairs → recursive-CTE closure → `cl(doc_id,
    * cluster_id)`. */
  /** Shared DuckDB prefix (shingles → FNV → minhash signatures, CTEs
    * `g` through `sg`) for every minhash oracle. d7/d10 extend it with
    * banding + recursive closure ([[minhashCcCte]]); d11 appends its
    * own asymmetric new×index banding. Built by CONCATENATION — never
    * by slicing a formatted string, which silently breaks on any
    * whitespace change. */
  /** tx8's Gopher keep-set as ONE reusable oracle block — pl1 and st9
    * interpolate it, so a threshold change lands everywhere at once
    * (the minhashSigCte discipline applied to the gate). Raw string:
    * backslashes stay literal. */
  private lazy val gopherKeepSql: String =
    """SELECT doc_id FROM (
             SELECT doc_id,
               len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS n_words,
               len(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
               len(text) AS n_chars,
               len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
               len(list_filter(string_split_regex(text, '\s+'),
                     x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
               len(list_filter(string_split_regex(lower(text), '\s+'),
                     x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x)))
                 AS n_stop_hits
             FROM documents) b
           WHERE n_words >= 50 AND n_words <= 100000
             AND (CASE WHEN n_words = 0 THEN 0.0
                    ELSE n_nonspace::DOUBLE / n_words::DOUBLE END) >= 3.0
             AND (CASE WHEN n_words = 0 THEN 0.0
                    ELSE n_nonspace::DOUBLE / n_words::DOUBLE END) <= 10.0
             AND (CASE WHEN n_chars = 0 THEN 0.0
                    ELSE n_punct::DOUBLE / n_chars::DOUBLE END) <= 0.1
             AND (CASE WHEN n_words = 0 THEN 0.0
                    ELSE n_alpha::DOUBLE / n_words::DOUBLE END) >= 0.8
             AND n_stop_hits >= 2"""

  private lazy val minhashSigCte: String = {
      val coefList = Dedup.minhashCoefs(32)
        .map { case (a, b) => s"{'a': $a, 'b': $b}" }.mkString(", ")
      s"""WITH RECURSIVE g AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+'),
                     x -> len(x) > 0) AS w
                 FROM documents)),
         fh AS (
           SELECT doc_id, list_transform(grams, s -> list_reduce(
             list_prepend(14695981039346656037::HUGEINT,
               list_transform(range(1, length(s)+1), ci -> ascii(s[ci])::HUGEINT)),
             (a, b) -> (xor(a::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
                       % 18446744073709551616::HUGEINT)) AS fps
           FROM g),
         hm AS (
           SELECT doc_id, list_transform(fps, fp -> ((((
             CASE WHEN fp >= 9223372036854775808::HUGEINT
                  THEN fp - 18446744073709551616::HUGEINT ELSE fp END)::BIGINT % 2147483647)
             + 2147483647) % 2147483647)) AS hms
           FROM fh),
         sg AS (
           SELECT doc_id, list_transform([$coefList]::STRUCT(a BIGINT, b BIGINT)[], c ->
             list_min(list_transform(hms, h -> (c.a * h + c.b) % 2147483647))) AS sig
           FROM hm)"""
  }

  private lazy val minhashCcCte: String =
    minhashSigCte + s""",
         bk AS (
           SELECT doc_id, b, sig[2*b+1]::VARCHAR || ',' || sig[2*b+2]::VARCHAR AS key
           FROM (SELECT doc_id, unnest(range(16)) AS b, sig FROM sg)),
         cd AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bk x JOIN bk y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
         pr AS (
           SELECT id_a, id_b FROM cd JOIN sg sa ON sa.doc_id = cd.id_a
           JOIN sg sb ON sb.doc_id = cd.id_b
           WHERE len(list_filter(range(32), i -> sa.sig[i+1] = sb.sig[i+1])) >= 16),
         ed AS (
           SELECT id_a AS u, id_b AS v FROM pr
           UNION SELECT id_b, id_a FROM pr),
         reach AS (
           SELECT doc_id AS root, doc_id AS node FROM documents
           UNION
           SELECT reach.root, ed.v FROM reach JOIN ed ON ed.u = reach.node),
         cl AS (
           SELECT root AS doc_id, min(node) AS cluster_id FROM reach GROUP BY root)"""

  def oracleSql: Map[String, String] = Map(
    "s1_range_scan" ->
      """SELECT l_orderkey, l_linenumber, epoch_ms(l_shipdate) AS ship_ms,
         round(l_extendedprice, 2) AS price
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
         ORDER BY l_orderkey, l_linenumber""",
    "s2_partition_pruned" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-14'
         GROUP BY 1, 2 ORDER BY day, event_type""",
    "s4_replay_day" ->
      s"""SELECT event_id, user_id, epoch_ms(ts) AS t_ms
          FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-05'
          ORDER BY $evKeySql""",
    "m6_drop_key" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
         round(sum(value), 2) AS total
         FROM events WHERE user_id != 3 GROUP BY 1 ORDER BY event_type""",
    "s7_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "s9_json_ingest" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY user_id ORDER BY user_id""",
    "s10_render_rows" ->
      """SELECT o_orderkey,
         o_orderkey::VARCHAR || ',' || o_orderpriority AS csv,
         '{"o_orderkey":' || o_orderkey || ',"o_orderpriority":"' ||
           o_orderpriority || '"}' AS js
         FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""",
    "sc1_schema_zint" ->
      """SELECT l_orderkey, l_linenumber,
         floor(abs(l_extendedprice) * 100.0 + 0.5) / 100.0 AS price_dec
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "cv1_convert" ->
      """SELECT l_returnflag AS flag, count(*) AS n, 0::BIGINT AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price, round(sum(0.0), 2) AS sum_tax
         FROM lineitem GROUP BY 1 ORDER BY flag""",
    "e1_engine_roundtrip" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events
         WHERE user_id < 10
           AND epoch_ms(ts) BETWEEN 1704672000000 AND 1705795199999
         GROUP BY 1 ORDER BY subject""",
    "e2_engine_multikey" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events
         WHERE user_id IN (1, 3, 5)
           AND epoch_ms(ts) BETWEEN 1704672000000 AND 1705795199999
         GROUP BY 1 ORDER BY subject""",
    "e3_engine_update" ->
      """SELECT 'u' || user_id AS subject, event_type AS etype,
         count(*) AS n,
         round(sum(CASE WHEN user_id = 3 AND event_type = 'error'
                        THEN 0.0 ELSE value END), 2) AS total
         FROM events WHERE user_id < 10
         GROUP BY 1, 2 ORDER BY subject, etype""",
    "e4_engine_factor" ->
      """WITH d AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             round(avg(value), 6) AS factor
           FROM events WHERE user_id < 10 GROUP BY 1, 2)
         SELECT epoch_ms(day::TIMESTAMP) AS time, factor
         FROM d
         WHERE user_id = 7
           AND epoch_ms(day::TIMESTAMP) BETWEEN 1704067200000 AND 1706745600000
         ORDER BY time""",
    "e5_engine_replay" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events
         WHERE user_id IN (1, 3) AND strftime(ts, '%Y-%m-%d') = '2024-01-05'
         GROUP BY 1 ORDER BY subject""",
    "e6_engine_del" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events
         WHERE user_id < 10 AND NOT (user_id = 2
           AND epoch_ms(ts) BETWEEN 1704844800000 AND 1705795199999)
         GROUP BY 1 ORDER BY subject""",
    "e7_engine_ingest" ->
      """SELECT 'u' || user_id AS subject, event_type AS etype,
         count(*) AS n, round(sum(value), 2) AS total
         FROM events WHERE user_id < 10
         GROUP BY 1, 2 ORDER BY subject, etype""",
    "e8_engine_restart" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events WHERE user_id < 10 AND user_id <> 4
         GROUP BY 1 ORDER BY subject""",
    "e9_engine_pub" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events WHERE user_id IN (1, 3)
         GROUP BY 1 ORDER BY subject""",
    // two saves put every day at two on-disk versions and the delete
    // advances more AFTER the SQL exposure — a registration that read
    // anything but the committed manifest would double-count or
    // resurrect rows and hash-mismatch
    "e11_snapshot_sql" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events
         WHERE user_id < 10
           AND strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-20'
           AND NOT (user_id = 2
             AND epoch_ms(ts) BETWEEN 1704844800000 AND 1705795199999)
         GROUP BY 1 ORDER BY subject""",
    // generation 1 = odd event-ids only; a time-travel read that
    // leaked any generation-2 row (the full set) would hash-mismatch
    "e12_time_travel" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events
         WHERE user_id < 10 AND event_id % 2 = 1
         GROUP BY 1 ORDER BY subject""",
    // the SQL-front-door reading of the same generation-1 pin, with a
    // day predicate (pruning REQUIREd in-plan): a frozen view that
    // leaked the generation-2 re-ingest OR the post-exposure delete
    // would hash-mismatch
    "e13_time_travel_sql" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events
         WHERE user_id < 10 AND event_id % 2 = 1
           AND strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-20'
         GROUP BY 1 ORDER BY subject""",
    // four full re-ingest generations with auto-vacuum at cadence 2:
    // the final corpus equals ONE clean ingest (upserts dedupe), and
    // the in-query REQUIRE pins exactly one version dir per day —
    // a vacuum that reclaimed a live file would hash-mismatch here
    "e14_auto_vacuum" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events WHERE user_id < 6
         GROUP BY 1 ORDER BY subject""",
    // the cut pair = both tables' generation-1 corpora (odd event-ids;
    // fx carries doubled values so the pair is distinguishable): a cut
    // that leaked the post-cut re-ingest on ev, the post-cut delete on
    // fx, or lost a vacuum-pinned generation would hash-mismatch
    "e15_snapshot_cut" -> cutStateOracle,
    // e19 restores the live corpus TO the e15-style cut, so its
    // relational contract is e15's verbatim: the cut state re-derived
    // from the source events (post-cut damage restored away, REQUIREd)
    "e19_restore_cut" -> cutStateOracle,
    // e16's manifest read reproduces the cut exactly, so the oracle
    // recomputes the same aggregate from the source events — u9.fx is
    // dropped (tombstoned) BEFORE the cut, the post-cut re-ingest of
    // 50 payload rows into ev is invisible to the cut by construction
    "e16_cut_manifest" ->
      """SELECT tbl, subject, count(*) AS n, round(sum(v), 2) AS total
         FROM (
           SELECT 'ev' AS tbl, 'u' || user_id AS subject, value AS v
           FROM events
           WHERE user_id BETWEEN 8 AND 13 AND event_id % 3 = 0
           UNION ALL
           SELECT 'fx' AS tbl, 'u' || user_id AS subject, value * 3 AS v
           FROM events
           WHERE user_id BETWEEN 8 AND 13 AND event_id % 3 = 0
             AND user_id != 9)
         GROUP BY 1, 2 ORDER BY tbl, subject""",
    // e17: both arms recomputed from the source events under the
    // documented convert rules — live arm: every event, qty carried,
    // old (even event-id) rows contribute blank flags + zero score;
    // gen1 arm: only the pre-evolve (even) rows under the OLD layout,
    // aux = sum(int flag = user_id) + sum(extra = 1). A live read
    // that leaked old-style flags, zeroed carried qty, or a time
    // travel that served the new schema would hash-mismatch.
    "e17_schema_evolve" ->
      """SELECT src, subject, n, qty_sum, value_sum, score_sum, aux
         FROM (
           SELECT 'live' AS src, 'u' || user_id AS subject,
             count(*) AS n,
             sum(event_id % 100)::BIGINT AS qty_sum,
             round(sum(value), 2) AS value_sum,
             round(sum(CASE WHEN event_id % 2 = 0 THEN 0.0
                            ELSE value * 2 END), 2) AS score_sum,
             sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS aux
           FROM events WHERE user_id BETWEEN 14 AND 19
           GROUP BY user_id
           UNION ALL
           SELECT 'gen1' AS src, 'u' || user_id AS subject,
             count(*) AS n,
             sum(event_id % 100)::BIGINT AS qty_sum,
             round(sum(value), 2) AS value_sum,
             0.0 AS score_sum,
             (sum(user_id) + count(*))::BIGINT AS aux
           FROM events
           WHERE user_id BETWEEN 14 AND 19 AND event_id % 2 = 0
           GROUP BY user_id)
         ORDER BY src, subject""",
    // exact anchors; the streamed per-batch sketch state (CMS
    // totalCount == exact rows AFTER a replayed batch, HLL rsd class,
    // quantile-grid rank slack) is REQUIREd in-query against these
    "st8_stream_sketch" ->
      """SELECT event_type, count(*) AS n,
         count(DISTINCT user_id) AS n_users,
         round(sum(value), 2) AS total
         FROM events GROUP BY 1 ORDER BY event_type""",
    // exact anchors again; compaction must not change ANY answer —
    // CMS bit-equality, HLL rsd class, the doubled grid slack, the
    // two-slot layout, and post-compaction replay idempotence are all
    // REQUIREd in-query before these anchors are returned
    "sks2_compacted_sketches" ->
      """SELECT event_type, count(*) AS n,
         count(DISTINCT user_id) AS n_users,
         round(sum(value), 2) AS total
         FROM events GROUP BY 1 ORDER BY event_type""",
    // one day packed under the z-order layout option: content must be
    // untouched by the layout rewrite (the 2-D footer selectivity is
    // REQUIREd in-query against the same stats an engine prunes with)
    "m10_pack_zorder" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total,
         min(epoch_ms(ts)) AS t_lo, max(epoch_ms(ts)) AS t_hi
         FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-08'
         GROUP BY 1 ORDER BY subject""",
    // exact distinct counts; the in-query HLL rsd bound is extra
    "hll1_distinct_sketch" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         count(*) AS n
         FROM events GROUP BY 1 ORDER BY event_type""",
    // exact anchors; the stored-sketch merges (CMS == one-pass
    // bit-exact, HLL union == one-pass, quantile-grid rank slack)
    // are REQUIREd in-query against these
    "sks1_stored_sketches" ->
      """SELECT event_type, count(*) AS n,
         count(DISTINCT user_id) AS n_users,
         round(sum(value), 2) AS total
         FROM events GROUP BY 1 ORDER BY event_type""",
    // conjunctive search over the postings: docs holding ALL query
    // terms, ranked by tf sum (top-20, doc_id tiebreak)
    "ix1_inverted_search" ->
      """WITH w AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                    x -> len(x) > 0)) AS term
           FROM documents),
         p AS (
           SELECT term, doc_id, count(*) AS tf FROM w
           WHERE term IN ('window', 'scan', 'merge') GROUP BY 1, 2),
         m AS (
           SELECT doc_id, count(DISTINCT term) AS nt,
             sum(tf)::BIGINT AS score
           FROM p GROUP BY 1)
         SELECT doc_id, score FROM m WHERE nt = 3
         ORDER BY score DESC, doc_id LIMIT 20""",
    // ix2: BM25 (k1=1.2, b=0.75) with the identical expression tree on
    // both engines; per-(doc,term) scores land as integer micros
    // (floor(s*1e6 + 0.5)) and SUM exactly, so addition order is moot.
    // Constants appear pre-folded (2.2, 0.25) so the two engines run
    // the same IEEE ops in the same order.
    "ix2_bm25_rank" ->
      """WITH w AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                    x -> len(x) > 0)) AS term
           FROM documents),
         dlt AS (SELECT doc_id, count(*)::BIGINT AS dl FROM w GROUP BY 1),
         st AS (SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl FROM dlt),
         p AS (
           SELECT term, doc_id, count(*)::BIGINT AS tf FROM w
           WHERE term IN ('spark', 'vector', 'window') GROUP BY 1, 2),
         dft AS (SELECT term, count(*)::DOUBLE AS df FROM p GROUP BY 1),
         sc AS (
           SELECT p.doc_id,
             floor(
               (ln((st.n - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                * (p.tf::DOUBLE * 2.2) /
                (p.tf::DOUBLE + 1.2 * (0.25 + 0.75 * ((dlt.dl)::DOUBLE / st.avgdl))))
               * 1e6 + 0.5)::BIGINT AS micro
           FROM p JOIN dft USING (term) JOIN dlt ON p.doc_id = dlt.doc_id
           CROSS JOIN st)
         SELECT doc_id, count(*)::BIGINT AS n_terms,
           sum(micro)::BIGINT AS score_1e6
         FROM sc GROUP BY doc_id
         ORDER BY score_1e6 DESC, doc_id LIMIT 20""",
    // exact rank-⌈q·n⌉ values; both engines compute the identical IEEE
    // product q*n, so the selected ranks agree. The in-query sketch
    // rank-error REQUIRE is extra.
    "qs1_quantile_sketch" ->
      """WITH r AS (
           SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         SELECT l_returnflag, q, n, v FROM (
           SELECT l_returnflag, 'p50' AS q, n, l_extendedprice AS v
           FROM r WHERE rn = ceil(0.5 * n)
           UNION ALL
           SELECT l_returnflag, 'p90', n, l_extendedprice
           FROM r WHERE rn = ceil(0.9 * n)
           UNION ALL
           SELECT l_returnflag, 'p99', n, l_extendedprice
           FROM r WHERE rn = ceil(0.99 * n))
         ORDER BY l_returnflag, q""",
    // exact top-20 bigrams; the in-query CMS bound check is extra
    // (both engines agree on the exact counts)
    "hh1_heavy_hitters" ->
      """WITH w AS (
           SELECT list_filter(string_split_regex(text, '\s+'),
                    x -> len(x) > 0) AS w
           FROM documents),
         b AS (
           SELECT unnest(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i+1])) AS bigram
           FROM w)
         SELECT bigram, count(*) AS n FROM b
         GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""",
    // the aggregate is computed off the PRUNED z-ordered files; a
    // file wrongly skipped would drop its rows and hash-mismatch
    "z1_zorder_scan" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
         FROM events
         WHERE user_id BETWEEN 3 AND 6 AND value BETWEEN 20 AND 60
         GROUP BY 1 ORDER BY event_type""",
    "e10_snapshot_reader" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events
         WHERE user_id < 5 AND NOT (user_id = 2
           AND strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-20')
         GROUP BY 1 ORDER BY subject""",
    "kv2_engine_kv" ->
      s"""WITH c AS (
           SELECT 'mode.u' || user_id AS key, count(*)::VARCHAR AS value
           FROM events WHERE user_id < 5 GROUP BY user_id),
         f AS (
           SELECT event_type, row_number() OVER (ORDER BY $evKeySql) AS rn
           FROM events WHERE user_id = 2)
         SELECT 'one' AS op, key, 0::BIGINT AS seq, value FROM c
         UNION ALL
         SELECT 'mul' AS op, 'log' AS key, rn AS seq, event_type AS value
         FROM f WHERE rn <= 5
         ORDER BY op, key, seq""",
    "u1_sql_table" ->
      """SELECT 'u' || user_id AS subject, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events
         WHERE user_id < 10
           AND strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-20'
         GROUP BY 1 ORDER BY subject""",
    "p2a_range_eq" ->
      """SELECT user_id, event_id, strftime(ts, '%Y%m%d')::BIGINT AS day
         FROM events WHERE strftime(ts, '%Y%m%d')::BIGINT = 20240115
         ORDER BY user_id, event_id""",
    "p2b_range_open" ->
      """SELECT user_id, event_id, strftime(ts, '%Y%m%d')::BIGINT AS day
         FROM events WHERE strftime(ts, '%Y%m%d')::BIGINT >= 20240125
         ORDER BY user_id, event_id""",
    "p2c_range_ifprev" ->
      s"""WITH e AS (
            SELECT user_id, event_id, $evKeySql AS k,
              strftime(ts, '%Y%m%d')::BIGINT AS day
            FROM events),
          hit AS (SELECT DISTINCT user_id FROM e WHERE day = 20240115)
          SELECT user_id, event_id, day FROM e WHERE day = 20240115
          UNION ALL
          SELECT user_id, event_id, day FROM (
            SELECT user_id, event_id, day,
              row_number() OVER (PARTITION BY user_id ORDER BY day DESC, k DESC) AS rn
            FROM e
            WHERE day < 20240115
              AND user_id NOT IN (SELECT user_id FROM hit))
          WHERE rn = 1
          ORDER BY user_id, event_id""",
    "p1_projection" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
         FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey""",
    "p2_last_per_key" ->
      s"""SELECT user_id, arg_max(epoch_ms(ts), $evKeySql) AS last_ms,
          arg_max(event_type, $evKeySql) AS event_type,
          round(arg_max(value, $evKeySql), 2) AS value
          FROM events GROUP BY user_id ORDER BY user_id""",
    "p3_where_offset" ->
      """WITH s AS (
           SELECT l_suppkey, l_orderkey, l_linenumber, epoch_ms(l_shipdate) AS ship_ms,
             lead(CASE WHEN l_shipdate = TIMESTAMP '1996-06-15' THEN 1 ELSE 0 END, 1, 0)
               OVER (PARTITION BY l_suppkey
                     ORDER BY epoch_ms(l_shipdate), l_orderkey, l_linenumber) AS sel
           FROM lineitem)
         SELECT l_suppkey, l_orderkey, l_linenumber, ship_ms FROM s
         WHERE sel = 1 ORDER BY l_suppkey, l_orderkey, l_linenumber""",
    "p4_predicates" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         round(sum(o_totalprice), 2) AS total
         FROM orders
         WHERE o_orderstatus IN ('F','O') AND o_totalprice BETWEEN 1000 AND 50000
           AND o_orderpriority LIKE '%URGENT%'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "p6_prefix_match" ->
      """SELECT source, count(*) AS n, sum(n_chars)::BIGINT AS chars
         FROM documents WHERE source LIKE 'src1%' GROUP BY source ORDER BY source""",
    "j1_merge_streams" ->
      """SELECT * FROM (
           SELECT epoch_ms(ts) AS t_ms, 'event' AS kind, round(value, 2) AS v FROM events
           UNION ALL
           SELECT epoch_ms(o_orderdate), 'order', round(o_totalprice, 2) FROM orders)
         ORDER BY t_ms, kind, v""",
    "j2_asof_join" ->
      s"""SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS p_ms,
          (SELECT max(epoch_ms(c.ts)*1000000+c.event_id) FROM events c
           WHERE c.event_type = 'click' AND c.user_id = p.user_id
             AND epoch_ms(c.ts)*1000000+c.event_id <= epoch_ms(p.ts)*1000000+p.event_id)
            AS click_key
          FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""",
    "j4_range_join" ->
      """WITH day AS (
           SELECT user_id, event_id, epoch_ms(ts) AS t_ms, value
           FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-10'),
         win AS (
           SELECT user_id AS w_user, min(t_ms) AS lo_ms,
                  min(t_ms) + 21600000 AS hi_ms
           FROM day GROUP BY user_id)
         SELECT w.w_user AS user_id, count(*) AS n_in_window,
                round(sum(d.value), 2) AS total
         FROM win w JOIN day d ON d.t_ms >= w.lo_ms AND d.t_ms < w.hi_ms
         GROUP BY 1 ORDER BY user_id""",
    "j5_interval_overlap" ->
      """WITH uw AS (
           SELECT user_id, min(epoch_ms(ts)) AS u_lo,
                  min(epoch_ms(ts)) + 21600000 AS u_hi
           FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-10'
           GROUP BY user_id),
         m AS (SELECT k AS m_id, 1704844800000 + k*10800000 AS m_lo,
                      1704844800000 + k*10800000 + 7200000 AS m_hi
               FROM (SELECT unnest(range(8)) AS k))
         SELECT uw.user_id, count(*) AS n_maint, min(m_id) AS first_maint
         FROM uw JOIN m ON uw.u_lo < m.m_hi AND m.m_lo < uw.u_hi
         GROUP BY 1 ORDER BY user_id""",
    "a9_profile_stats" ->
      """WITH a AS (
           SELECT min(l_quantity) AS min_q, max(l_quantity) AS max_q,
             sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_q,
             count(DISTINCT l_quantity) AS ndv_q,
             min(l_extendedprice) AS min_p, max(l_extendedprice) AS max_p,
             sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_p,
             count(DISTINCT l_extendedprice) AS ndv_p,
             min(l_returnflag) AS min_r, max(l_returnflag) AS max_r,
             sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_r,
             count(DISTINCT l_returnflag) AS ndv_r
           FROM lineitem)
         SELECT 'l_quantity' AS col_name, min_q AS min_num, max_q AS max_num,
           NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str,
           null_q AS n_null, ndv_q AS n_distinct FROM a
         UNION ALL
         SELECT 'l_extendedprice', min_p, max_p, NULL, NULL, null_p, ndv_p FROM a
         UNION ALL
         SELECT 'l_returnflag', NULL::DOUBLE, NULL::DOUBLE, min_r, max_r,
           null_r, ndv_r FROM a
         ORDER BY col_name""",
    "j3_join_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "a0_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 6) AS avg_qty,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "a1_rollup_ohlc" ->
      s"""SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
          round(arg_min(value, $evKeySql), 6) AS open,
          round(max(value), 6) AS high,
          round(min(value), 6) AS low,
          round(arg_max(value, $evKeySql), 6) AS close,
          count(*) AS cnt, round(sum(value), 2) AS volume
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // st11: the final state rebuilt relationally (bootstrap pmod<2
    // with u3's six days re-valued +1, the streamed/crash-drilled
    // quarters inserted, u2's range deleted), then a1's relational
    // OHLC contract over it — a replayed batch that doubled a slot, a
    // died-mid-maintenance batch never recovered, or an unpropagated
    // delete would mismatch bar-for-bar
    "st11_stream_cdc_rollup" ->
      s"""WITH fin AS (
           SELECT event_type AS etype, strftime(ts, '%Y-%m-%d') AS day,
             CASE WHEN user_id = 3 AND event_id % 4 < 2
                    AND strftime(ts, '%Y-%m-%d')
                      BETWEEN '2024-01-03' AND '2024-01-08'
                  THEN value + 1 ELSE value END AS value,
             $evKeySql AS k
           FROM events
           WHERE user_id < 10
             AND NOT (user_id = 2 AND strftime(ts, '%Y-%m-%d')
               BETWEEN '2024-01-10' AND '2024-01-15'))
         SELECT etype, day,
           round(arg_min(value, k), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(arg_max(value, k), 6) AS close,
           count(*) AS cnt, round(sum(value), 2) AS volume
         FROM fin GROUP BY 1, 2 ORDER BY 1, 2""",
    // e24: the maintained-bar lifecycle ACROSS a schema-evolve era
    // bump, rebuilt relationally — thirds 0/1 land under era 0
    // (score zero-fills to 0.0 on alignment), third 2 under era 1
    // (score = 2·value), u3's era-0 rows on six days re-valued
    // (value+1, score follows), u2's range deleted across both eras;
    // volume = qty + score under the POST-evolve definition, so a
    // null-poisoned alignment or a missed era-0 rebuild mismatches
    "e24_evolve_maintained" ->
      s"""WITH fin AS (
           SELECT event_type AS etype, strftime(ts, '%Y-%m-%d') AS day,
             CASE WHEN user_id = 3 AND event_id % 3 < 2
                    AND strftime(ts, '%Y-%m-%d')
                      BETWEEN '2024-01-03' AND '2024-01-08'
                  THEN value + 1 ELSE value END AS v,
             (event_id % 100)
               + CASE WHEN user_id = 3 AND event_id % 3 < 2
                        AND strftime(ts, '%Y-%m-%d')
                          BETWEEN '2024-01-03' AND '2024-01-08'
                      THEN (value + 1) * 2
                      WHEN event_id % 3 = 2 THEN value * 2
                      ELSE 0.0 END AS vol,
             $evKeySql AS k
           FROM events
           WHERE user_id < 8
             AND NOT (user_id = 2 AND strftime(ts, '%Y-%m-%d')
               BETWEEN '2024-01-10' AND '2024-01-15'))
         SELECT etype, day,
           round(arg_min(v, k), 6) AS open,
           round(max(v), 6) AS high,
           round(min(v), 6) AS low,
           round(arg_max(v, k), 6) AS close,
           count(*) AS cnt, round(sum(vol), 2) AS volume
         FROM fin GROUP BY 1, 2 ORDER BY 1, 2""",
    // a10 maintains the SAME bars incrementally (batch slots + merge +
    // compaction), so its relational contract is a1's over the union —
    // a maintenance bug shows up as an a10-only mismatch
    // a11: the final state rebuilt relationally (last quarter
    // inserted, u3's two days re-valued, u2's range deleted), then
    // a10's relational OHLC contract over it — a maintenance pass
    // that missed a dirty day, double-counted an insert slot, or
    // kept a stale partial would mismatch bar-for-bar
    "a11_cdc_rollup" ->
      s"""WITH fin AS (
           SELECT event_type AS etype, strftime(ts, '%Y-%m-%d') AS day,
             CASE WHEN user_id = 3 AND event_id % 4 < 3
                    AND strftime(ts, '%Y-%m-%d')
                      BETWEEN '2024-01-03' AND '2024-01-08'
                  THEN value + 1 ELSE value END AS value,
             $evKeySql AS k
           FROM events
           WHERE user_id < 10
             AND NOT (user_id = 2 AND strftime(ts, '%Y-%m-%d')
               BETWEEN '2024-01-10' AND '2024-01-15'))
         SELECT etype, day,
           round(arg_min(value, k), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(arg_max(value, k), 6) AS close,
           count(*) AS cnt, round(sum(value), 2) AS volume
         FROM fin GROUP BY 1, 2 ORDER BY 1, 2""",
    "a10_rollup_incr" ->
      s"""SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
          round(arg_min(value, $evKeySql), 6) AS open,
          round(max(value), 6) AS high,
          round(min(value), 6) AS low,
          round(arg_max(value, $evKeySql), 6) AS close,
          count(*) AS cnt, round(sum(value), 2) AS volume
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "a1_rollup_month" ->
      s"""WITH day_bars AS (
           SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             arg_min(value, $evKeySql) AS open, max(value) AS high,
             min(value) AS low, arg_max(value, $evKeySql) AS close,
             sum(value) AS volume
           FROM events GROUP BY 1, 2)
          SELECT event_type, substr(day, 1, 7) AS month,
            round(arg_min(open, day), 6) AS open, round(max(high), 6) AS high,
            round(min(low), 6) AS low, round(arg_max(close, day), 6) AS close,
            round(sum(volume), 2) AS volume
          FROM day_bars GROUP BY 1, 2 ORDER BY 1, 2""",
    "a4_stats" ->
      """SELECT event_type, round(avg(value), 6) AS avg_value,
         round(median(value), 6) AS med_value,
         round(quantile_cont(value, 0.9), 6) AS p90_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "a5_damped_avg" ->
      s"""WITH s AS (
            SELECT user_id,
              list(value ORDER BY $evKeySql) AS vs
            FROM events GROUP BY user_id),
          f AS (
            SELECT user_id,
              list_reduce(
                -- avgm deliberately FIRST: duckdb's list_reduce evaluates
                -- result-struct fields sequentially with in-place updates,
                -- so a field after nums would read the incremented nums
                list_prepend({'avgm': 0.0, 'nums': 0}::STRUCT(avgm DOUBLE, nums INT),
                  list_transform(vs, v -> {'avgm': v, 'nums': 0}::STRUCT(avgm DOUBLE, nums INT))),
                (acc, x) -> CASE
                  WHEN abs(x.avgm) < 1e-7 THEN acc
                  WHEN acc.nums = 0 THEN {'avgm': x.avgm, 'nums': 1}
                  WHEN acc.nums < 10 THEN
                    {'avgm': (acc.avgm * 9 + x.avgm) / 10, 'nums': acc.nums + 1}
                  WHEN acc.nums < 100 THEN
                    {'avgm': (acc.avgm * acc.nums + x.avgm) / (acc.nums + 1), 'nums': acc.nums + 1}
                  ELSE {'avgm': (acc.avgm * 99 + x.avgm) / 100, 'nums': acc.nums}
                END) AS r
            FROM s)
          SELECT user_id, round(r.avgm, 6) AS avgm, r.nums AS n_used
          FROM f ORDER BY user_id""",
    "a5b_damped_ratio" ->
      s"""WITH s AS (
            SELECT user_id,
              list({'avgr': value, 'avgm': (event_id % 7 + 1)::DOUBLE, 'nums': 0}
                     ::STRUCT(avgr DOUBLE, avgm DOUBLE, nums INT)
                   ORDER BY $evKeySql) AS vs
            FROM events GROUP BY user_id),
          f AS (
            SELECT user_id,
              list_reduce(
                -- input elements smuggle (son, mom) in (avgr, avgm);
                -- result fields ordered so in-place evaluation never
                -- reads an already-updated field
                list_prepend({'avgr': 0.0, 'avgm': 0.0, 'nums': 0}
                  ::STRUCT(avgr DOUBLE, avgm DOUBLE, nums INT), vs),
                (acc, x) -> CASE
                  WHEN abs(x.avgm) < 1e-7
                       OR (abs(x.avgr) < 1e-7 AND acc.nums < 10) THEN acc
                  WHEN acc.nums = 0 THEN
                    {'avgr': x.avgr / x.avgm, 'avgm': x.avgr, 'nums': 1}
                  WHEN acc.nums < 10 THEN {
                    'avgr': (acc.avgm * 9) / (acc.avgm * 9 + x.avgr) * acc.avgr
                            + x.avgr / (acc.avgm * 9 + x.avgr) * (x.avgr / x.avgm),
                    'avgm': (acc.avgm * 9 + x.avgr) / 10,
                    'nums': acc.nums + 1}
                  WHEN acc.nums < 100 THEN {
                    'avgr': (acc.avgm * acc.nums) / (acc.avgm * acc.nums + x.avgr) * acc.avgr
                            + x.avgr / (acc.avgm * acc.nums + x.avgr) * (x.avgr / x.avgm),
                    'avgm': (acc.avgm * acc.nums + x.avgr) / (acc.nums + 1),
                    'nums': acc.nums + 1}
                  ELSE {
                    'avgr': (acc.avgm * 99) / (acc.avgm * 99 + x.avgr) * acc.avgr
                            + x.avgr / (acc.avgm * 99 + x.avgr) * (x.avgr / x.avgm),
                    'avgm': (acc.avgm * 99 + x.avgr) / 100,
                    'nums': acc.nums}
                END) AS r
            FROM s)
          SELECT user_id, round(r.avgm, 6) AS avgm, round(r.avgr, 6) AS avgr,
            r.nums AS n_used
          FROM f ORDER BY user_id""",
    "a6b_normalize_split" ->
      """WITH m AS (SELECT o_orderpriority, avg(o_totalprice) AS mid,
                      min(o_totalprice) AS mn, max(o_totalprice) AS mx
                    FROM orders GROUP BY 1)
         SELECT o_orderkey,
           round(CASE WHEN o_totalprice = mid THEN 0.5
             WHEN o_totalprice < mid THEN
               CASE WHEN mn >= mid THEN 0.001
                 ELSE greatest(0.001,
                   0.001 + (o_totalprice - mn) / (mid - mn) * (0.5 - 0.001)) END
             ELSE
               CASE WHEN mx <= mid THEN 0.999
                 ELSE least(0.999,
                   0.5 + (o_totalprice - mid) / (mx - mid) * (0.999 - 0.5)) END
           END, 6) AS norm
         FROM orders JOIN m USING (o_orderpriority)
         ORDER BY o_orderkey""",
    "a6_normalize" ->
      """SELECT o_orderkey, o_orderpriority,
         round(CASE WHEN mx = mn THEN 0.5 ELSE (o_totalprice - mn) / (mx - mn) END, 6) AS norm
         FROM (SELECT o_orderkey, o_orderpriority, o_totalprice,
                 min(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mn,
                 max(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mx
               FROM orders)
         ORDER BY o_orderkey""",
    "a7_buckets" ->
      """SELECT bucket, count(*) AS n, round(sum(o_totalprice), 2) AS total,
         round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
         FROM (SELECT o_totalprice,
                 ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
               FROM orders)
         GROUP BY bucket ORDER BY bucket""",
    "a8_topk" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""",
    "w1_drift" ->
      s"""SELECT event_id,
          round(value - lag(value, 1) OVER w, 6) AS drift,
          round(value - 2 * lag(value, 1) OVER w + lag(value, 2) OVER w, 6) AS accel,
          round(avg(value) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS ravg10
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY $evKeySql)
          ORDER BY event_id""",
    "w3_running_sum" ->
      s"""SELECT event_id, row_number() OVER w AS rn,
          round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
            AS cum_value
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY $evKeySql)
          ORDER BY event_id""",
    "w5_corr" ->
      """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "w6_lag_corr" ->
      """WITH d AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
             avg(CASE WHEN event_type = 'click' THEN value END) AS cv,
             avg(CASE WHEN event_type = 'purchase' THEN value END) AS pv
           FROM events GROUP BY 1),
         l AS (SELECT cv,
             lag(pv, 1) OVER w AS pv1, lag(pv, 2) OVER w AS pv2,
             lag(pv, 3) OVER w AS pv3, lag(pv, 4) OVER w AS pv4,
             lag(pv, 5) OVER w AS pv5, pv AS pv0
           FROM d WINDOW w AS (ORDER BY day))
         SELECT 0 AS "offset", round(corr(cv, pv0), 6) AS corr_xy FROM l
         UNION ALL SELECT 1, round(corr(cv, pv1), 6) FROM l
         UNION ALL SELECT 2, round(corr(cv, pv2), 6) FROM l
         UNION ALL SELECT 3, round(corr(cv, pv3), 6) FROM l
         UNION ALL SELECT 4, round(corr(cv, pv4), 6) FROM l
         UNION ALL SELECT 5, round(corr(cv, pv5), 6) FROM l
         ORDER BY "offset"""",
    "w7_dir_corr" ->
      """WITH d AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
             avg(CASE WHEN event_type = 'click' THEN value END) AS cv,
             avg(CASE WHEN event_type = 'purchase' THEN value END) AS pv
           FROM events GROUP BY 1),
         l AS (SELECT cv - lag(cv) OVER (ORDER BY day) AS x,
                 pv - lag(pv) OVER (ORDER BY day) AS y
               FROM d),
         c AS (SELECT
             sum(CASE WHEN (x > 1e-8 AND y > 1e-8)
                        OR (x < -1e-8 AND y < -1e-8) THEN 1 ELSE 0 END)::DOUBLE AS sames,
             count(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END)::DOUBLE AS total
           FROM l)
         SELECT round(CASE WHEN sames = total - sames THEN 0.0
           WHEN sames > total - sames THEN ((sames / total) - 0.5) * 2
           ELSE ((-(total - sames) / total) - 0.5) * 2 END, 6) AS corr_dir
         FROM c""",
    "o2_limit_per_key" ->
      s"""SELECT user_id, event_id FROM (
           SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY $evKeySql DESC) AS rn
           FROM events)
          WHERE rn <= 3 ORDER BY user_id, event_id""",
    "set_ops" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT
         SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
         EXCEPT
         SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
         ORDER BY user_id""",
    "m3_upsert" ->
      """SELECT user_id, event_type, day, round(value, 2) AS value FROM (
           SELECT user_id, event_type, strftime(ts, '%Y-%m-%d') AS day, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, strftime(ts, '%Y-%m-%d')
               ORDER BY (CASE WHEN event_id >= 5000 THEN event_id ELSE -1 END) DESC,
                        event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY user_id, event_type, day""",
    "m5_delete_range" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
         FROM events
         WHERE ts NOT BETWEEN TIMESTAMP '2024-01-10' AND TIMESTAMP '2024-01-20'
         GROUP BY event_type ORDER BY event_type""",
    "m2_bset_roundtrip" ->
      """SELECT l_returnflag AS flag, count(*) AS n,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(floor(l_extendedprice * 100.0 + 0.5) / 100.0), 2) AS sum_price
         FROM lineitem GROUP BY 1 ORDER BY flag""",
    "m9_update_search" ->
      """SELECT event_type, count(*) AS n,
         round(sum(CASE WHEN event_type = 'error' THEN 0.0 ELSE value END), 2) AS total
         FROM events GROUP BY event_type ORDER BY event_type""",
    "tu_time_units" ->
      """SELECT year(l_shipdate)*10000 + month(l_shipdate)*100 + day(l_shipdate) AS day_int,
         epoch_ms(l_shipdate) + 86399999 AS eod_ms
         FROM (SELECT DISTINCT l_shipdate FROM lineitem)
         ORDER BY day_int""",
    "d1_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
         FROM documents
         GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
         ORDER BY doc_id""",
    "d4_ngram_jaccard" ->
      """WITH g AS (
           SELECT doc_id, lang,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
           FROM (SELECT doc_id, lang,
                   list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS w
                 FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                 len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jac
         FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
         WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
               len(list_distinct(list_concat(a.grams, b.grams))) >= 0.05
         ORDER BY id_a, id_b""",
    "d4b_ngram_prefix" ->
      """WITH g AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS w
                 FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                 len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jac
         FROM g a JOIN g b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
               len(list_distinct(list_concat(a.grams, b.grams))) >= 0.7
         ORDER BY id_a, id_b""",
    // x6: the full two-stage quantized pipeline replayed — identical
    // int8 quantization (floor(x/s+0.5), clamp), integer-exact approx
    // cosine (scales cancel), top-20 survivors, exact rerank to 5.
    "x6_ann_quantized" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         qz AS (
           SELECT vec_id, v,
             CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
                  ELSE list_transform(v, x -> least(127, greatest(-127,
                         floor(x / s + 0.5)::INT))::DOUBLE) END AS qd
           FROM (SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
                 FROM e)),
         qn AS (
           SELECT vec_id, qd, list_inner_product(qd, qd) AS qn2 FROM qz),
         ap AS (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_inner_product(a.qd, b.qd) / sqrt(a.qn2 * b.qn2) AS approx
           FROM qn a JOIN qn b ON b.vec_id != a.vec_id
           WHERE a.vec_id < 10),
         surv AS (
           SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY approx DESC, neighbor_id) AS rn
             FROM ap) WHERE rn <= 20),
         scored AS (
           SELECT query_id, neighbor_id,
             list_inner_product(qe.v, ce.v) /
               (sqrt(list_inner_product(qe.v, qe.v)) *
                sqrt(list_inner_product(ce.v, ce.v))) AS cosine
           FROM surv JOIN e qe ON qe.vec_id = surv.query_id
                     JOIN e ce ON ce.vec_id = surv.neighbor_id),
         rk AS (
           SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
           rank::INT AS rank
         FROM rk WHERE rank <= 5 ORDER BY query_id, rank""",
    "d5_cosine_dup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_inner_product(a.v, b.v) /
                 (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)
             AS cosine
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_inner_product(a.v, b.v) /
               (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.3
         ORDER BY id_a, id_b""",
    "x1_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_inner_product(q.v, c.v) /
                 (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v)))
                   AS cos_raw
               FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
         r AS (SELECT query_id, neighbor_id, cos_raw,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_raw DESC, neighbor_id) AS rank
               FROM s)
         SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // tx5: word-level repetition. The n-gram "top" maximizes
    // occurrences × gram length (tie-free numeric max); fractions use
    // the floor(x*1e6+0.5) rounding both engines agree on.
    "tx5_repetition" ->
      """WITH L AS (
           SELECT doc_id, len(text) AS n_chars,
             list_filter(string_split_regex(text, '[\t\n\x0B\f\r ]+'),
               x -> len(x) > 0) AS w
           FROM documents),
         bs AS (
           SELECT doc_id, n_chars, len(w) AS n_words,
             len(list_distinct(w)) AS n_dwords
           FROM L),
         g2 AS (
           SELECT doc_id, unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS g
           FROM L WHERE len(w) >= 2),
         c2 AS (
           SELECT doc_id, max(c * len(g)) AS top2
           FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g)
           GROUP BY doc_id),
         g3 AS (
           SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
           FROM L WHERE len(w) >= 3),
         c3 AS (
           SELECT doc_id, max(c * len(g)) AS top3
           FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g)
           GROUP BY doc_id)
         SELECT bs.doc_id, bs.n_words,
           floor((CASE WHEN n_words = 0 THEN 0
             ELSE (n_words - n_dwords)::DOUBLE / n_words END) * 1e6 + 0.5) / 1e6
             AS dup_word_frac,
           floor(coalesce(top2, 0)::DOUBLE / n_chars * 1e6 + 0.5) / 1e6
             AS top_bigram_char_frac,
           floor(coalesce(top3, 0)::DOUBLE / n_chars * 1e6 + 0.5) / 1e6
             AS top_trigram_char_frac
         FROM bs LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
         ORDER BY bs.doc_id""",
    // tx6: the same deterministic PII planting, then the same
    // regex chain (Java∩RE2 subset; DuckDB needs the explicit 'g').
    "tx6_pii_scrub" ->
      """WITH p AS (
           SELECT doc_id, text ||
             CASE doc_id % 4
               WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
               WHEN 1 THEN ' server at 10.' || (doc_id % 256) || '.0.1 up'
               WHEN 2 THEN ' call +1-555-' || (1000 + doc_id % 9000) || ' today'
               ELSE '' END AS t
           FROM documents),
         e1 AS (SELECT doc_id, t,
           regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS s1 FROM p),
         e2 AS (SELECT doc_id, t, s1,
           regexp_replace(s1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS s2
           FROM e1),
         e3 AS (SELECT doc_id, t, s1, s2,
           regexp_replace(s2, '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g') AS s3
           FROM e2)
         SELECT doc_id, s3 AS scrubbed, t != s1 AS had_email,
           s1 != s2 AS had_ip, s2 != s3 AS had_phone
         FROM e3 ORDER BY doc_id""",
    // x4: word-3-gram decontamination; the oracle joins gram STRINGS
    // where Spark joins their 8-byte hashes — identical result short
    // of a 2^-64 collision (the same equivalence d4 relies on).
    "x4_contamination" ->
      """WITH g AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '[\t\n\x0B\f\r ]+'),
                     x -> len(x) > 0) AS w
                 FROM documents)),
         b AS (SELECT doc_id AS bench_id, unnest(grams) AS gram FROM g
               WHERE doc_id % 97 = 3),
         c AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         m AS (SELECT c.doc_id, b.bench_id, c.gram
               FROM c JOIN b USING (gram) WHERE c.doc_id != b.bench_id)
         SELECT doc_id, count(DISTINCT bench_id) AS n_bench_docs,
           count(DISTINCT gram) AS n_shared_grams
         FROM m GROUP BY doc_id
         HAVING count(DISTINCT gram) >= 3 ORDER BY doc_id""",
    // x8 = x4's exact semantics on a different bench slice — the
    // bloom is a prefilter whose survivors are exactly confirmed, so
    // the oracle is the EXACT contamination SQL: any false positive
    // leaking through would hash-mismatch here
    "x8_contamination_bloom" ->
      """WITH g AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '[\t\n\x0B\f\r ]+'),
                     x -> len(x) > 0) AS w
                 FROM documents)),
         b AS (SELECT doc_id AS bench_id, unnest(grams) AS gram FROM g
               WHERE doc_id % 89 = 5),
         c AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         m AS (SELECT c.doc_id, b.bench_id, c.gram
               FROM c JOIN b USING (gram) WHERE c.doc_id != b.bench_id)
         SELECT doc_id, count(DISTINCT bench_id) AS n_bench_docs,
           count(DISTINCT gram) AS n_shared_grams
         FROM m GROUP BY doc_id
         HAVING count(DISTINCT gram) >= 2 ORDER BY doc_id""",
    "d8_boilerplate_spans" ->
      """WITH g AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '[\t\n\x0B\f\r ]+'),
                     x -> len(x) > 0) AS w
                 FROM documents)),
         e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         dfq AS (SELECT gram, count(*) AS df FROM e GROUP BY 1),
         boiler AS (SELECT gram FROM dfq WHERE df >= 4),
         n AS (SELECT doc_id, count(*) AS n_grams FROM e GROUP BY 1),
         nb AS (SELECT e.doc_id, count(*) AS n_boiler
                FROM e JOIN boiler USING (gram) GROUP BY 1)
         SELECT n.doc_id AS doc_id, n_grams, coalesce(n_boiler, 0) AS n_boiler,
           round(coalesce(n_boiler, 0)::DOUBLE / n_grams, 6) AS boiler_ratio
         FROM n LEFT JOIN nb ON n.doc_id = nb.doc_id
         ORDER BY n.doc_id""",
    // top-20 merge candidates under a TOTAL (n desc, pair asc) order,
    // so LIMIT picks identical rows in both engines
    "tok1_bpe_pairs" ->
      """WITH tk AS (
           SELECT unnest(list_filter(
             string_split_regex(text, '\s+'), x -> len(x) > 1)) AS tok
           FROM documents),
         p AS (
           SELECT unnest(list_transform(range(1, len(tok)),
             i -> substr(tok, i, 2))) AS pair
           FROM tk)
         SELECT pair, count(*) AS n FROM p
         GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20""",
    // tok2: three unrolled BPE rounds. Greedy one-pass merging equals
    // repeat-leftmost (a merged symbol is strictly longer than either
    // side, so it can never re-match the pair within the round) — the
    // recursive CTEs iterate leftmost replacement per word until no
    // occurrence remains; rows already merge-free pass through the
    // base case. Argmax is total-ordered (n DESC, a, b).
    "tok2_bpe_train" ->
      """WITH RECURSIVE
         words AS (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                     x -> len(x) > 0)) AS w FROM documents),
         s1 AS (SELECT list_transform(generate_series(1, len(w)),
                  i -> w[i:i]) AS syms FROM words),
         p1 AS (SELECT syms, unnest(generate_series(1, len(syms)-1)) AS i
                FROM s1 WHERE len(syms) >= 2),
         c1 AS (SELECT syms[i] AS a, syms[i+1] AS b, count(*)::BIGINT AS n
                FROM p1 GROUP BY 1, 2),
         m1 AS (SELECT a, b, n FROM c1 ORDER BY n DESC, a, b LIMIT 1),
         mg1(syms) AS (
           SELECT s1.syms FROM s1
           UNION ALL
           SELECT list_concat(list_concat(syms[1:j-1], [a||b]),
                    syms[j+2:len(syms)])
           FROM (SELECT syms,
                   list_min(list_filter(generate_series(1, len(syms)-1),
                     i -> syms[i] = m1.a AND syms[i+1] = m1.b)) AS j,
                   m1.a AS a, m1.b AS b
                 FROM mg1, m1) t
           WHERE j IS NOT NULL),
         s2 AS (
           SELECT syms FROM mg1, m1
           WHERE list_min(list_filter(generate_series(1, len(syms)-1),
                   i -> syms[i] = m1.a AND syms[i+1] = m1.b)) IS NULL),
         p2 AS (SELECT syms, unnest(generate_series(1, len(syms)-1)) AS i
                FROM s2 WHERE len(syms) >= 2),
         c2 AS (SELECT syms[i] AS a, syms[i+1] AS b, count(*)::BIGINT AS n
                FROM p2 GROUP BY 1, 2),
         m2 AS (SELECT a, b, n FROM c2 ORDER BY n DESC, a, b LIMIT 1),
         mg2(syms) AS (
           SELECT s2.syms FROM s2
           UNION ALL
           SELECT list_concat(list_concat(syms[1:j-1], [a||b]),
                    syms[j+2:len(syms)])
           FROM (SELECT syms,
                   list_min(list_filter(generate_series(1, len(syms)-1),
                     i -> syms[i] = m2.a AND syms[i+1] = m2.b)) AS j,
                   m2.a AS a, m2.b AS b
                 FROM mg2, m2) t
           WHERE j IS NOT NULL),
         s3 AS (
           SELECT syms FROM mg2, m2
           WHERE list_min(list_filter(generate_series(1, len(syms)-1),
                   i -> syms[i] = m2.a AND syms[i+1] = m2.b)) IS NULL),
         p3 AS (SELECT syms, unnest(generate_series(1, len(syms)-1)) AS i
                FROM s3 WHERE len(syms) >= 2),
         c3 AS (SELECT syms[i] AS a, syms[i+1] AS b, count(*)::BIGINT AS n
                FROM p3 GROUP BY 1, 2),
         m3 AS (SELECT a, b, n FROM c3 ORDER BY n DESC, a, b LIMIT 1)
         SELECT 1 AS round, a AS left_sym, b AS right_sym, a||b AS merged, n FROM m1
         UNION ALL SELECT 2, a, b, a||b, n FROM m2
         UNION ALL SELECT 3, a, b, a||b, n FROM m3
         ORDER BY round""",
    // tok3: training re-derived over DISTINCT words weighted by
    // occurrence count (pair counts and merges are functions of the
    // word multiset — identical argmaxes, recursion over the
    // vocabulary instead of the corpus), then encoded lengths join
    // back to per-doc occurrences. Validated against an independent
    // driver-side reference implementation. NOTE: unrolls exactly 3
    // rounds — an empty m2/m3 would annihilate downstream CTEs, so
    // the query REQUIREs training did not exhaust early (it cannot on
    // this corpus; a degenerate fixture fails loudly, not falsely).
    "tok3_bpe_encode" ->
      """WITH RECURSIVE
         ws0 AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                   x -> len(x) > 0) AS ws FROM documents),
         words AS (
           SELECT doc_id, ws[wi] AS w FROM (
             SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS wi
             FROM ws0)),
         wc AS (SELECT w, count(*)::BIGINT AS cnt FROM words GROUP BY w),
         e1 AS (SELECT w, cnt, list_transform(generate_series(1, len(w)),
                  i -> w[i:i]) AS syms FROM wc),
         p1 AS (SELECT syms, cnt, unnest(generate_series(1, len(syms)-1)) AS i
                FROM e1 WHERE len(syms) >= 2),
         c1 AS (SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt)::BIGINT AS n
                FROM p1 GROUP BY 1, 2),
         m1 AS (SELECT a, b, n FROM c1 ORDER BY n DESC, a, b LIMIT 1),
         mg1(w, cnt, syms) AS (
           SELECT w, cnt, syms FROM e1
           UNION ALL
           SELECT w, cnt, list_concat(list_concat(syms[1:j-1], [a||b]),
                    syms[j+2:len(syms)])
           FROM (SELECT w, cnt, syms,
                   list_min(list_filter(generate_series(1, len(syms)-1),
                     i -> syms[i] = m1.a AND syms[i+1] = m1.b)) AS j,
                   m1.a AS a, m1.b AS b
                 FROM mg1, m1) t
           WHERE j IS NOT NULL),
         e2 AS (SELECT w, cnt, syms FROM mg1, m1
                WHERE list_min(list_filter(generate_series(1, len(syms)-1),
                        i -> syms[i] = m1.a AND syms[i+1] = m1.b)) IS NULL),
         p2 AS (SELECT syms, cnt, unnest(generate_series(1, len(syms)-1)) AS i
                FROM e2 WHERE len(syms) >= 2),
         c2 AS (SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt)::BIGINT AS n
                FROM p2 GROUP BY 1, 2),
         m2 AS (SELECT a, b, n FROM c2 ORDER BY n DESC, a, b LIMIT 1),
         mg2(w, cnt, syms) AS (
           SELECT w, cnt, syms FROM e2
           UNION ALL
           SELECT w, cnt, list_concat(list_concat(syms[1:j-1], [a||b]),
                    syms[j+2:len(syms)])
           FROM (SELECT w, cnt, syms,
                   list_min(list_filter(generate_series(1, len(syms)-1),
                     i -> syms[i] = m2.a AND syms[i+1] = m2.b)) AS j,
                   m2.a AS a, m2.b AS b
                 FROM mg2, m2) t
           WHERE j IS NOT NULL),
         e3 AS (SELECT w, cnt, syms FROM mg2, m2
                WHERE list_min(list_filter(generate_series(1, len(syms)-1),
                        i -> syms[i] = m2.a AND syms[i+1] = m2.b)) IS NULL),
         p3 AS (SELECT syms, cnt, unnest(generate_series(1, len(syms)-1)) AS i
                FROM e3 WHERE len(syms) >= 2),
         c3 AS (SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt)::BIGINT AS n
                FROM p3 GROUP BY 1, 2),
         m3 AS (SELECT a, b, n FROM c3 ORDER BY n DESC, a, b LIMIT 1),
         mg3(w, cnt, syms) AS (
           SELECT w, cnt, syms FROM e3
           UNION ALL
           SELECT w, cnt, list_concat(list_concat(syms[1:j-1], [a||b]),
                    syms[j+2:len(syms)])
           FROM (SELECT w, cnt, syms,
                   list_min(list_filter(generate_series(1, len(syms)-1),
                     i -> syms[i] = m3.a AND syms[i+1] = m3.b)) AS j,
                   m3.a AS a, m3.b AS b
                 FROM mg3, m3) t
           WHERE j IS NOT NULL),
         e4 AS (SELECT w, cnt, syms FROM mg3, m3
                WHERE list_min(list_filter(generate_series(1, len(syms)-1),
                        i -> syms[i] = m3.a AND syms[i+1] = m3.b)) IS NULL),
         enc AS (SELECT w, len(w)::BIGINT AS s0, len(syms)::BIGINT AS s3 FROM e4)
         SELECT wd.doc_id, sum(e.s0)::BIGINT AS n_sym0,
           sum(e.s3)::BIGINT AS n_sym
         FROM words wd JOIN enc e USING (w)
         GROUP BY wd.doc_id ORDER BY wd.doc_id""",
    "tx7_unigram_nll" ->
      """WITH tk AS (
           SELECT doc_id, unnest(list_filter(
             string_split_regex(text, '\s+'), x -> len(x) > 0)) AS tok
           FROM documents),
         v AS (SELECT tok, count(*) AS tf FROM tk GROUP BY 1),
         tot AS (SELECT sum(tf) AS total FROM v)
         SELECT doc_id, count(*) AS n_tokens,
           round(avg(ln(total::DOUBLE) - ln(tf::DOUBLE)), 6) AS avg_nll
         FROM tk JOIN v USING (tok) CROSS JOIN tot
         GROUP BY doc_id ORDER BY doc_id""",
    "tx2_text_quality" ->
      """SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS n_tokens,
         round(len(regexp_replace(text, '\s', '', 'g'))::DOUBLE /
           len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)), 6)
           AS mean_token_len,
         round((len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
           / len(text), 6) AS punct_ratio,
         round(len(list_filter(string_split_regex(lower(text), '\s+'),
             x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x)))::DOUBLE
           / len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)), 6)
           AS en_stopword_ratio,
         floor((
           least(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) / 64.0, 1.0) * 0.35
           + (CASE WHEN len(regexp_replace(text, '\s', '', 'g'))::DOUBLE /
                len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))
                BETWEEN 2.5 AND 9.0 THEN 1.0 ELSE 0.3 END) * 0.25
           + (1.0 - least((len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
                / len(text) * 4.0, 1.0)) * 0.2
           + least(len(list_filter(string_split_regex(lower(text), '\s+'),
               x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x)))::DOUBLE
               / len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) * 5.0, 1.0) * 0.2
           ) * 1e6 + 0.5) / 1e6 AS quality
         FROM documents ORDER BY doc_id""",
    // sp1: the same BPE-ish token counts, one ordered prefix sum, and
    // pure integer chunk arithmetic — the whole placement map
    // reproduces relationally. `//` truncates toward zero in DuckDB
    // but every operand here is non-negative, so it IS floor.
    "sp1_sequence_pack" ->
      """WITH tok AS (
           SELECT doc_id,
             len(regexp_extract_all(text, '[\p{L}]+|[0-9]+|[^\p{L}0-9\s]'))::BIGINT AS tokens
           FROM documents),
         pos AS (
           SELECT doc_id, tokens,
             coalesce(sum(tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS strt
           FROM tok WHERE tokens > 0),
         ch AS (
           SELECT doc_id, tokens, strt,
             unnest(generate_series(strt // 512,
               (strt + tokens - 1) // 512))::BIGINT AS seq
           FROM pos)
         SELECT doc_id, seq,
           (greatest(strt, seq * 512) - seq * 512)::BIGINT AS off,
           (greatest(strt, seq * 512) - strt)::BIGINT AS doc_off,
           (least(strt + tokens, (seq + 1) * 512)
             - greatest(strt, seq * 512))::BIGINT AS len
         FROM ch ORDER BY doc_id, seq""",
    // pl1: the tx8 gate, d13 segment dedup, tx3 token pricing and sp1
    // packing blocks composed verbatim — the pipeline a pretraining
    // run executes, end-to-end, on the same literal thresholds
    "pl1_curation_pipeline" ->
      ("""WITH g AS (""" + gopherKeepSql + """),
         ws AS (
           SELECT d.doc_id, list_filter(string_split_regex(d.text, '\s+'),
                    x -> len(x) > 0) AS w
           FROM documents d JOIN g USING (doc_id)),
         idx AS (
           SELECT doc_id, w,
             unnest(generate_series(0, (len(w) - 1) // 8)) AS seg
           FROM ws WHERE len(w) > 0),
         seg AS (
           SELECT doc_id, seg,
             array_to_string(w[seg * 8 + 1 : seg * 8 + 8], ' ') AS s
           FROM idx),
         own AS (
           SELECT s, min(doc_id * 1000000 + seg) AS firstk
           FROM seg GROUP BY s),
         re AS (
           SELECT seg.doc_id,
             string_agg(seg.s, ' ' ORDER BY seg.seg) AS text
           FROM seg JOIN own USING (s)
           WHERE seg.doc_id * 1000000 + seg.seg = own.firstk
           GROUP BY seg.doc_id),
         tok AS (
           SELECT doc_id,
             len(regexp_extract_all(text, '[\p{L}]+|[0-9]+|[^\p{L}0-9\s]'))::BIGINT AS tokens
           FROM re),
         pos AS (
           SELECT doc_id, tokens,
             coalesce(sum(tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS strt
           FROM tok WHERE tokens > 0),
         ch AS (
           SELECT doc_id, tokens, strt,
             unnest(generate_series(strt // 512,
               (strt + tokens - 1) // 512))::BIGINT AS seq
           FROM pos)
         SELECT doc_id, seq,
           (greatest(strt, seq * 512) - seq * 512)::BIGINT AS off,
           (greatest(strt, seq * 512) - strt)::BIGINT AS doc_off,
           (least(strt + tokens, (seq + 1) * 512)
             - greatest(strt, seq * 512))::BIGINT AS len
         FROM ch ORDER BY doc_id, seq"""),
    "tx3_token_count" ->
      """SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS n_tok_ws,
         len(regexp_extract_all(text, '[\p{L}]+|[0-9]+|[^\p{L}0-9\s]')) AS n_tok_bpe,
         len(text) AS n_chars_total
         FROM documents ORDER BY doc_id""",
    // d13: corpus-first ownership per distinct 8-word segment. The
    // owner key packs (doc_id, seg) into one BIGINT (seg < 1e6 always:
    // it's bounded by words-per-doc / 8) so min() gives the
    // lexicographic first occurrence; survivors re-glue with a single
    // space, matching Spark's array_join over the seg-sorted structs.
    "d13_segment_dedup" ->
      """WITH ws AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                    x -> len(x) > 0) AS w
           FROM documents),
         idx AS (
           SELECT doc_id, w,
             unnest(generate_series(0, (len(w) - 1) // 8)) AS seg
           FROM ws WHERE len(w) > 0),
         seg AS (
           SELECT doc_id, seg,
             array_to_string(w[seg * 8 + 1 : seg * 8 + 8], ' ') AS s
           FROM idx),
         own AS (
           SELECT s, min(doc_id * 1000000 + seg) AS firstk
           FROM seg GROUP BY s),
         kept AS (
           SELECT seg.doc_id, seg.seg, seg.s
           FROM seg JOIN own USING (s)
           WHERE seg.doc_id * 1000000 + seg.seg = own.firstk)
         SELECT a.doc_id, a.n_segs,
           coalesce(k.n_kept, 0)::BIGINT AS n_kept,
           coalesce(k.text_dedup, '') AS text_dedup
         FROM (SELECT doc_id, count(*)::BIGINT AS n_segs FROM seg GROUP BY 1) a
         LEFT JOIN (SELECT doc_id, count(*)::BIGINT AS n_kept,
                      string_agg(s, ' ' ORDER BY seg) AS text_dedup
                    FROM kept GROUP BY doc_id) k USING (doc_id)
         ORDER BY a.doc_id""",
    // tx8: the Gopher gate re-derived relationally — same counting
    // definitions as tx2 (non-space chars / ws tokens for mean word
    // length, punct-class chars / chars, en stop-list hits), plus the
    // alpha-word count; thresholds are the published constants.
    // e18: both generation states rebuilt relationally (g1 = odds;
    // gN = all minus u2's deleted slice, u3's odds re-valued), then
    // the same keyed full-outer diff; the day predicate is e10's
    // proven range mapping
    "e18_change_feed" ->
      """WITH ev AS (
           SELECT 'u' || user_id AS subject, user_id, event_id, ts,
             event_type, value
           FROM events WHERE user_id < 10),
         g1 AS (
           SELECT subject, ts, event_type, value FROM ev
           WHERE event_id % 2 = 1),
         g2 AS (
           SELECT subject, ts, event_type,
             CASE WHEN user_id = 3 AND event_id % 2 = 1
               THEN value + 1 ELSE value END AS value
           FROM ev
           WHERE NOT (user_id = 2
             AND strftime(ts, '%Y-%m-%d')
               BETWEEN '2024-01-10' AND '2024-01-20')),
         d AS (
           SELECT coalesce(g1.subject, g2.subject) AS subject,
             CASE WHEN g2.subject IS NULL THEN 'delete'
                  WHEN g1.subject IS NULL THEN 'insert'
                  WHEN g1.value != g2.value
                    OR g1.event_type != g2.event_type THEN 'update'
                  END AS op,
             coalesce(g2.value, 0) - coalesce(g1.value, 0) AS dv
           FROM g1 FULL OUTER JOIN g2
             ON g1.subject = g2.subject AND g1.ts = g2.ts)
         SELECT subject, op, count(*)::BIGINT AS n,
           round(sum(dv), 2) AS delta
         FROM d WHERE op IS NOT NULL
         GROUP BY subject, op ORDER BY subject, op""",
    // e21: the recovered atomic view must hold EXACTLY the three
    // rounds' rows in both tables (the %3 splits partition the
    // stream) — a rolled-back fx round, a lost marker, or a doubled
    // replay would change the (n, total) rows
    "e21_atomic_commit" ->
      """SELECT tbl, subject, count(*)::BIGINT AS n,
           round(sum(v), 2) AS total
         FROM (
           SELECT 'ev' AS tbl, 'u' || user_id AS subject, value AS v
           FROM events WHERE user_id < 8
           UNION ALL
           SELECT 'fx' AS tbl, 'u' || user_id AS subject, value * 3 AS v
           FROM events WHERE user_id < 8)
         GROUP BY 1, 2 ORDER BY tbl, subject""",
    // e22: the cut-pinned factor state is the odd-event-id per-day
    // averages (post-cut fset excluded), the live state the all-event
    // averages — a leaked post-cut insert/update or a lost pinned day
    // changes (n, total); the KV row derives from the pinned read
    "e22_factor_versioned" ->
      """WITH fo AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             round(avg(value), 6) AS f
           FROM events WHERE user_id < 6 AND event_id % 2 = 1
           GROUP BY 1, 2),
         fa AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             round(avg(value), 6) AS f
           FROM events WHERE user_id < 6 GROUP BY 1, 2)
         SELECT * FROM (
           SELECT 'fx_cut' AS src, 'u' || user_id AS key,
             count(*)::BIGINT AS n, round(sum(f), 4) AS total
           FROM fo GROUP BY 2, user_id
           UNION ALL
           SELECT 'fx_live' AS src, 'u' || user_id AS key,
             count(*)::BIGINT AS n, round(sum(f), 4) AS total
           FROM fa GROUP BY 2, user_id
           UNION ALL
           SELECT 'kv' AS src, 'mode=A' AS key, 1::BIGINT AS n,
             0.0 AS total)
         ORDER BY src, key""",
    // e23: the pinned arm is the odd-split factors (era 0, conf_sum
    // pinned 0 — the column does not exist at cut 1); the live arm is
    // users 0-2 re-derived over ALL events (era 1, conf = events per
    // day) plus users 3-5 still on their era-0 rows with the aligned
    // 0.0 conf zero-fill; the KV rows pin both cut states. A null
    // where the aligned 0.0 belongs, a leaked post-evolve column in
    // the pinned read, or a lost upsert would all hash-mismatch.
    "e23_factor_evolve" ->
      """WITH fo AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             round(avg(value), 6) AS f
           FROM events WHERE user_id < 6 AND event_id % 2 = 1
           GROUP BY 1, 2),
         fa AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             round(avg(value), 6) AS f, count(*)::DOUBLE AS conf
           FROM events WHERE user_id < 3 GROUP BY 1, 2)
         SELECT * FROM (
           SELECT 'fx_cut' AS src, 'u' || user_id AS key,
             count(*)::BIGINT AS n, round(sum(f), 4) AS total,
             0.0 AS conf_sum
           FROM fo GROUP BY 2, user_id
           UNION ALL
           SELECT 'fx_live' AS src, 'u' || user_id AS key,
             count(*)::BIGINT AS n, round(sum(f), 4) AS total,
             round(sum(conf), 2) AS conf_sum
           FROM fa GROUP BY 2, user_id
           UNION ALL
           SELECT 'fx_live' AS src, 'u' || user_id AS key,
             count(*)::BIGINT AS n, round(sum(f), 4) AS total,
             0.0 AS conf_sum
           FROM fo WHERE user_id >= 3 GROUP BY 2, user_id
           UNION ALL
           SELECT 'kv_cut1' AS src, 'mode=A' AS key, 1::BIGINT AS n,
             0.0 AS total, 0.0 AS conf_sum
           UNION ALL
           SELECT 'kv_cut2' AS src, 'mode=B:v2' AS key, 1::BIGINT AS n,
             0.0 AS total, 0.0 AS conf_sum)
         ORDER BY src, key""",
    // e20: e18's relational diff ACROSS the evolve boundary — g1 is
    // the odd split ALIGNED to the new era (score reads the 0.0
    // zero-fill, per e17's proven convert rules), gN is the final
    // state (evens with score = 2·value; u5's odds re-valued with
    // score = 2·(value+1); other odds carry the era-0 zero score;
    // u6's deleted slice gone). A phantom delete+insert pair for an
    // untouched row, or a null where the aligned 0.0 belongs, would
    // change the (op, n, ds) rows and hash-mismatch.
    "e20_cross_era_feed" ->
      """WITH ev AS (
           SELECT 'u' || user_id AS subject, user_id, event_id, ts,
             event_type, value
           FROM events WHERE user_id BETWEEN 4 AND 9),
         g1 AS (
           SELECT subject, ts, event_type, value, 0.0 AS score FROM ev
           WHERE event_id % 2 = 1),
         gn AS (
           SELECT subject, ts, event_type,
             CASE WHEN user_id = 5 AND event_id % 2 = 1
               THEN value + 1 ELSE value END AS value,
             CASE WHEN event_id % 2 = 0 THEN value * 2
                  WHEN user_id = 5 THEN (value + 1) * 2
                  ELSE 0.0 END AS score
           FROM ev
           WHERE NOT (user_id = 6
             AND strftime(ts, '%Y-%m-%d')
               BETWEEN '2024-01-10' AND '2024-01-20')),
         d AS (
           SELECT coalesce(g1.subject, gn.subject) AS subject,
             CASE WHEN gn.subject IS NULL THEN 'delete'
                  WHEN g1.subject IS NULL THEN 'insert'
                  WHEN g1.value != gn.value
                    OR g1.event_type != gn.event_type
                    OR g1.score != gn.score THEN 'update'
                  END AS op,
             coalesce(gn.value, 0) - coalesce(g1.value, 0) AS dv,
             coalesce(gn.score, 0) - coalesce(g1.score, 0) AS ds
           FROM g1 FULL OUTER JOIN gn
             ON g1.subject = gn.subject AND g1.ts = gn.ts)
         SELECT subject, op, count(*)::BIGINT AS n,
           round(sum(dv), 2) AS dv, round(sum(ds), 2) AS ds
         FROM d WHERE op IS NOT NULL
         GROUP BY subject, op ORDER BY subject, op""",
    // tx10: model tables rebuilt relationally from the even split,
    // the same interpolation arithmetic (0.7*pbi + 0.3*puni, add-1
    // unigram smoothing) per odd-split bigram; avg + round(6) is
    // tx7's proven tolerance discipline
    "tx10_bigram_nll" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
             x -> len(x) > 0) AS w
           FROM documents),
         trn AS (SELECT * FROM w WHERE doc_id % 2 = 0),
         uni AS (
           SELECT tok, count(*)::BIGINT AS tf FROM (
             SELECT unnest(w) AS tok FROM trn) GROUP BY 1),
         tot AS (SELECT sum(tf)::BIGINT AS total, count(*)::BIGINT AS v
                 FROM uni),
         tb AS (
           SELECT doc_id, unnest(list_transform(range(2, len(w) + 1),
             i -> struct_pack(prev := w[i-1], tok := w[i]))) AS b
           FROM trn WHERE len(w) >= 2),
         bi AS (
           SELECT b.prev AS prev, b.tok AS tok, count(*)::BIGINT AS cb
           FROM tb GROUP BY 1, 2),
         ctx AS (SELECT prev, sum(cb)::BIGINT AS cc FROM bi GROUP BY 1),
         sb AS (
           SELECT doc_id, unnest(list_transform(range(2, len(w) + 1),
             i -> struct_pack(prev := w[i-1], tok := w[i]))) AS b
           FROM w WHERE doc_id % 2 = 1 AND len(w) >= 2),
         scored AS (
           SELECT sb.doc_id,
             0.7 * (CASE WHEN ctx.cc IS NULL THEN 0.0
               ELSE coalesce(bi.cb, 0)::DOUBLE / ctx.cc::DOUBLE END)
             + 0.3 * ((coalesce(uni.tf, 0) + 1)::DOUBLE
               / (tot.total + tot.v)::DOUBLE) AS p
           FROM sb
           LEFT JOIN bi ON bi.prev = sb.b.prev AND bi.tok = sb.b.tok
           LEFT JOIN ctx ON ctx.prev = sb.b.prev
           LEFT JOIN uni ON uni.tok = sb.b.tok
           CROSS JOIN tot)
         SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           round(avg(-ln(p)), 6) AS avg_nll2
         FROM scored GROUP BY doc_id ORDER BY doc_id""",
    // tx11: hashed-n-gram featurization re-derived from the same FNV
    // fold; per-bucket log-ratios quantize to micros BEFORE the
    // per-doc sum, so the rank key is exact integer arithmetic
    "tx11_dsir_select" ->
      s"""WITH w AS (
           SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'),
             x -> len(x) > 0) AS w
           FROM documents),
         uni AS (SELECT doc_id, lang, unnest(w) AS g FROM w),
         bi AS (
           SELECT doc_id, lang, unnest(list_transform(range(2, len(w) + 1),
             i -> w[i-1] || ' ' || w[i])) AS g
           FROM w WHERE len(w) >= 2),
         g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
         hb AS (SELECT doc_id, lang,
           ((${toSigned(fnvU("g"))} % 4096) + 4096) % 4096 AS b FROM g),
         tm AS (SELECT b, count(*)::BIGINT AS tc FROM hb
                WHERE lang = 'en' GROUP BY b),
         rm AS (SELECT b, count(*)::BIGINT AS rc FROM hb GROUP BY b),
         tt AS (SELECT count(*)::BIGINT AS T FROM hb WHERE lang = 'en'),
         rt AS (SELECT count(*)::BIGINT AS R FROM hb),
         sb AS (SELECT doc_id, b, count(*)::BIGINT AS n FROM hb
                WHERE lang != 'en' GROUP BY doc_id, b),
         term AS (
           SELECT sb.doc_id, sb.n,
             floor((ln((coalesce(tc, 0) + 1)::DOUBLE / (T + 4096)::DOUBLE)
                  - ln((coalesce(rc, 0) + 1)::DOUBLE / (R + 4096)::DOUBLE))
               * 1e6 + 0.5)::BIGINT AS mic
           FROM sb LEFT JOIN tm USING (b) LEFT JOIN rm USING (b)
           CROSS JOIN tt CROSS JOIN rt),
         dw AS (
           SELECT doc_id, sum(n)::BIGINT AS n_grams,
             sum(n * mic)::BIGINT AS logw_micros
           FROM term GROUP BY doc_id)
         SELECT doc_id, n_grams, logw_micros,
           round(logw_micros / 1e6, 6) AS logw, rank
         FROM (
           SELECT *, row_number() OVER (
             ORDER BY logw_micros DESC, doc_id)::INT AS rank
           FROM dw)
         WHERE rank <= 50 ORDER BY rank""",
    // tx12: tx11's weight CTEs + the same FNV→2²⁰-grid→Gumbel noise
    // arithmetic (seed 42 inlined); the resample key is an exact
    // BIGINT sum so the order is unambiguous in both engines
    "tx12_dsir_resample" ->
      s"""WITH w AS (
           SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'),
             x -> len(x) > 0) AS w
           FROM documents),
         uni AS (SELECT doc_id, lang, unnest(w) AS g FROM w),
         bi AS (
           SELECT doc_id, lang, unnest(list_transform(range(2, len(w) + 1),
             i -> w[i-1] || ' ' || w[i])) AS g
           FROM w WHERE len(w) >= 2),
         g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
         hb AS (SELECT doc_id, lang,
           ((${toSigned(fnvU("g"))} % 4096) + 4096) % 4096 AS b FROM g),
         tm AS (SELECT b, count(*)::BIGINT AS tc FROM hb
                WHERE lang = 'en' GROUP BY b),
         rm AS (SELECT b, count(*)::BIGINT AS rc FROM hb GROUP BY b),
         tt AS (SELECT count(*)::BIGINT AS T FROM hb WHERE lang = 'en'),
         rt AS (SELECT count(*)::BIGINT AS R FROM hb),
         sb AS (SELECT doc_id, b, count(*)::BIGINT AS n FROM hb
                WHERE lang != 'en' GROUP BY doc_id, b),
         term AS (
           SELECT sb.doc_id, sb.n,
             floor((ln((coalesce(tc, 0) + 1)::DOUBLE / (T + 4096)::DOUBLE)
                  - ln((coalesce(rc, 0) + 1)::DOUBLE / (R + 4096)::DOUBLE))
               * 1e6 + 0.5)::BIGINT AS mic
           FROM sb LEFT JOIN tm USING (b) LEFT JOIN rm USING (b)
           CROSS JOIN tt CROSS JOIN rt),
         dw AS (
           SELECT doc_id, sum(n)::BIGINT AS n_grams,
             sum(n * mic)::BIGINT AS logw_micros
           FROM term GROUP BY doc_id),
         gk AS (
           SELECT doc_id, n_grams, logw_micros,
             floor(-ln(-ln(
               ((((${toSigned(fnvU("doc_id::VARCHAR || ':42'"))} % 1048576)
                  + 1048576) % 1048576) + 1)::DOUBLE / 1048578.0))
               * 1e6 + 0.5)::BIGINT AS gumbel_micros
           FROM dw)
         SELECT doc_id, n_grams, logw_micros, gumbel_micros,
           logw_micros + gumbel_micros AS key_micros, rank
         FROM (
           SELECT *, row_number() OVER (
             ORDER BY (logw_micros + gumbel_micros) DESC, doc_id)::INT AS rank
           FROM gk)
         WHERE rank <= 50 ORDER BY rank""",
    // tx9: the capped set from the plain one-window formulation —
    // proving saltedTopN's two-phase rank exact, slice by slice
    "tx9_source_cap" ->
      """SELECT doc_id, source, n_chars, rank FROM (
           SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id)::INT AS rank
           FROM documents)
         WHERE rank <= 10 ORDER BY source, rank""",
    // hx1: both retrieval lists rebuilt relationally (the ix2 BM25
    // block + the x1 cosine block), then the same integer-quotient
    // RRF fold; `//` on BIGINT truncates toward zero == Spark's `div`
    // on the positive quotients
    "hx1_hybrid_rrf" ->
      """WITH w AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                    x -> len(x) > 0)) AS term
           FROM documents),
         dlt AS (SELECT doc_id, count(*)::BIGINT AS dl FROM w GROUP BY 1),
         st AS (SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl FROM dlt),
         p AS (
           SELECT term, doc_id, count(*)::BIGINT AS tf FROM w
           WHERE term IN ('spark', 'vector', 'window') GROUP BY 1, 2),
         dft AS (SELECT term, count(*)::DOUBLE AS df FROM p GROUP BY 1),
         sc AS (
           SELECT p.doc_id,
             floor(
               (ln((st.n - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                * (p.tf::DOUBLE * 2.2) /
                (p.tf::DOUBLE + 1.2 * (0.25 + 0.75 * ((dlt.dl)::DOUBLE / st.avgdl))))
               * 1e6 + 0.5)::BIGINT AS micro
           FROM p JOIN dft USING (term) JOIN dlt ON p.doc_id = dlt.doc_id
           CROSS JOIN st),
         txt AS (
           SELECT doc_id, row_number() OVER (
               ORDER BY score_1e6 DESC, doc_id)::INT AS rank
           FROM (SELECT doc_id, sum(micro)::BIGINT AS score_1e6
                 FROM sc GROUP BY doc_id)
           QUALIFY rank <= 20),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         vs AS (
           SELECT c.vec_id AS doc_id,
             list_inner_product(q.v, c.v) /
               (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v)))
               AS cos_raw
           FROM e c CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q
           WHERE c.vec_id != 0),
         vec AS (
           SELECT doc_id, row_number() OVER (
               ORDER BY cos_raw DESC, doc_id)::INT AS rank
           FROM vs QUALIFY rank <= 20),
         u AS (
           SELECT doc_id, 'text' AS sys, rank FROM txt
           UNION ALL
           SELECT doc_id, 'vec' AS sys, rank FROM vec),
         f AS (
           SELECT doc_id, count(*)::BIGINT AS n_lists,
             max(CASE WHEN sys = 'text' THEN rank END)::INT AS rank_text,
             max(CASE WHEN sys = 'vec' THEN rank END)::INT AS rank_vec,
             sum(1000000000000 // (60 + rank))::BIGINT AS rrf_1e12
           FROM u GROUP BY doc_id)
         SELECT doc_id, n_lists, rank_text, rank_vec, rrf_1e12
         FROM f ORDER BY rrf_1e12 DESC, doc_id LIMIT 10""",
    "tx8_quality_gate" ->
      """WITH b AS (
           SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS n_words,
             len(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
             len(text) AS n_chars,
             len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
             len(list_filter(string_split_regex(text, '\s+'),
                   x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_filter(string_split_regex(lower(text), '\s+'),
                   x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x)))
               AS n_stop_hits
           FROM documents),
         r AS (
           SELECT doc_id, n_words,
             CASE WHEN n_words = 0 THEN 0.0
                  ELSE n_nonspace::DOUBLE / n_words::DOUBLE END AS mean_raw,
             CASE WHEN n_chars = 0 THEN 0.0
                  ELSE n_punct::DOUBLE / n_chars::DOUBLE END AS punct_raw,
             CASE WHEN n_words = 0 THEN 0.0
                  ELSE n_alpha::DOUBLE / n_words::DOUBLE END AS alpha_raw,
             n_stop_hits
           FROM b)
         SELECT doc_id, n_words,
           round(mean_raw, 6) AS mean_word_len,
           round(punct_raw, 6) AS punct_ratio,
           round(alpha_raw, 6) AS frac_alpha_words,
           n_stop_hits,
           (n_words >= 50 AND n_words <= 100000) AS f_words,
           (mean_raw >= 3.0 AND mean_raw <= 10.0) AS f_meanlen,
           (punct_raw <= 0.1) AS f_punct,
           (alpha_raw >= 0.8) AS f_alpha,
           (n_stop_hits >= 2) AS f_stops,
           ((n_words >= 50 AND n_words <= 100000)
             AND (mean_raw >= 3.0 AND mean_raw <= 10.0)
             AND (punct_raw <= 0.1) AND (alpha_raw >= 0.8)
             AND (n_stop_hits >= 2)) AS keep
         FROM r ORDER BY doc_id""",
    "mm1_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS sha
         FROM documents ORDER BY doc_id""",
    "st1_stream_window" ->
      """SELECT (epoch_ms(ts) // 21600000) * 21600000 AS win_ms, event_type,
         count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY 1, 2 ORDER BY win_ms, event_type""",
    // st3: Spark's session_window merge rule as gaps-and-islands — a
    // new session starts when the gap from the previous event is >= the
    // 2 h timeout; the session's end is its last event + timeout.
    "st3_session_window" ->
      """WITH o AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 7200000
                  THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         si AS (
           SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
           FROM o)
         SELECT user_id, min(epoch_ms(ts)) AS sess_start_ms,
           max(epoch_ms(ts)) + 7200000 AS sess_end_ms,
           count(*) AS n, round(sum(value), 2) AS total
         FROM si GROUP BY user_id, sid
         ORDER BY user_id, sess_start_ms""",
    "w10_rolling_z" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_ms(ts)*1000000+event_id AS k, value
           FROM events WHERE user_id < 5)
         SELECT user_id, event_id, count(*) OVER w AS n_win,
           round((value - avg(value) OVER w) /
             NULLIF(stddev_samp(value) OVER w, 0), 4) AS z
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY k
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    "o5_resample_grid" ->
      """WITH d AS (
           SELECT user_id, epoch_ms(ts)*1000000+event_id AS k, value
           FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-10'),
         u AS (SELECT DISTINCT user_id FROM d),
         g AS (SELECT user_id, unnest(generate_series(1704844800000,
                 1704844800000 + 23*3600000, 3600000)) AS g_ms FROM u)
         SELECT g.user_id, g.g_ms,
           (SELECT arg_max(value, k) FROM d
             WHERE d.user_id = g.user_id
               AND d.k <= g.g_ms*1000000+999999) AS value
         FROM g ORDER BY user_id, g_ms""",
    // only sessions finalized by the final watermark (global max ts -
    // 24 h) are emitted in append mode — the oracle applies that cut
    "st5_stream_sessions" ->
      """WITH e AS (
           SELECT user_id, ts, value FROM events
           WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-05' AND '2024-01-07'),
         wm AS (SELECT max(epoch_ms(ts)) - 86400000 AS cut FROM e),
         o AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 7200000
                  THEN 1 ELSE 0 END AS brk
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         si AS (
           SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
           FROM o),
         sess AS (
           SELECT user_id, min(epoch_ms(ts)) AS sess_start_ms,
             max(epoch_ms(ts)) + 7200000 AS sess_end_ms,
             count(*) AS n, round(sum(value), 2) AS total
           FROM si GROUP BY user_id, sid)
         SELECT user_id, sess_start_ms, sess_end_ms, n, total
         FROM sess CROSS JOIN wm WHERE sess_end_ms <= cut
         ORDER BY user_id, sess_start_ms""",
    // the 96 h watermark exceeds the 3-day replay span, so the
    // streaming inner join emits exactly the batch join's pairs
    "st7_stream_join" ->
      """WITH e AS (
           SELECT * FROM events
           WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-05' AND '2024-01-07')
         SELECT v.user_id AS user_id, v.event_id AS view_id,
           c.event_id AS click_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS delay_us
         FROM e v JOIN e c
           ON v.user_id = c.user_id
          AND v.event_type = 'view' AND c.event_type = 'click'
          AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
         ORDER BY view_id, click_id""",
    // the stream carried every event TWICE; a correct dedup returns
    // exactly the duplicate-free batch answer
    "st4_stream_dedup" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
           count(DISTINCT event_id) AS n_ids, round(sum(value), 2) AS total
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-05' AND '2024-01-07'
         GROUP BY 1 ORDER BY day""",
    // live stateful rollup: every 6h bar EXCEPT each subject's last
    // (still-open) one; open/close ordered by the unique (t, event_id)
    // key, so both engines pick identical rows
    "st2_live_bars" ->
      s"""WITH e AS (
           SELECT 'u' || user_id AS subject, $evKeySql AS k,
             epoch_ms(ts) AS t, value AS v
           FROM events),
         b AS (
           SELECT subject, (t // 21600000) * 21600000 AS bar_start,
             arg_min(v, k) AS open, max(v) AS high, min(v) AS low,
             arg_max(v, k) AS close, count(*) AS n
           FROM e GROUP BY 1, 2),
         lastb AS (SELECT subject, max(bar_start) AS mb FROM b GROUP BY 1)
         SELECT b.subject AS subject, b.bar_start, b.open, b.high, b.low,
           b.close, b.n
         FROM b JOIN lastb ON b.subject = lastb.subject AND b.bar_start < lastb.mb
         ORDER BY b.subject, b.bar_start""",
    // FNV-1a 64 is reproducible in plain SQL (unlike murmur/xxhash):
    // fold code points (== UTF-8 bytes for the ASCII corpus) through
    // h = (h xor b) * prime mod 2^64 in HUGEINT, then map to signed.
    "tx4_fingerprint" ->
      """WITH n AS (
           SELECT doc_id,
             regexp_replace(lower(trim(text)), '[\t\n\x0B\f\r ]+', ' ', 'g') AS s
           FROM documents),
         f AS (
           SELECT doc_id, list_reduce(
             list_prepend(14695981039346656037::HUGEINT,
               list_transform(range(1, length(s)+1), i -> ascii(s[i])::HUGEINT)),
             (h, b) -> (xor(h::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
                       % 18446744073709551616::HUGEINT) AS fp
           FROM n)
         SELECT doc_id, (CASE WHEN fp >= 9223372036854775808::HUGEINT
           THEN fp - 18446744073709551616::HUGEINT ELSE fp END)::BIGINT AS fingerprint
         FROM f ORDER BY doc_id""",
    // simhash = per-bit majority over per-token FNV hashes (the token
    // multiset: lowercase, \s-split, empties dropped).
    "d3_simhash" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[\t\n\x0B\f\r ]+'),
               w -> w != '') AS toks
           FROM documents),
         h AS (
           SELECT doc_id, list_transform(toks, w -> list_reduce(
             list_prepend(14695981039346656037::HUGEINT,
               list_transform(range(1, length(w)+1), i -> ascii(w[i])::HUGEINT)),
             (a, b) -> (xor(a::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
                       % 18446744073709551616::HUGEINT)) AS hs
           FROM t),
         s AS (
           SELECT doc_id,
             list_sum(list_transform(range(64), b ->
               CASE WHEN 2 * len(list_filter(hs, x -> (x // (1::HUGEINT << b)) % 2 = 1))
                         > len(hs)
                    THEN (1::HUGEINT << b) ELSE 0::HUGEINT END)) AS sh
           FROM h)
         SELECT doc_id, (CASE WHEN sh >= 9223372036854775808::HUGEINT
           THEN sh - 18446744073709551616::HUGEINT ELSE sh END)::BIGINT AS simhash
         FROM s ORDER BY doc_id""",
    // language ID: per-language stopword-evidence ratio (rounded to 9
    // digits like the Spark side), argmax by (score, lang) struct order.
    "tx1_lang_id" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[\t\n\x0B\f\r ]+'),
               t -> t != '') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS ntok, toks FROM t),
         s AS (
           SELECT doc_id,
             round(CASE WHEN ntok=0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
               ['der','die','und','das','von','zu','mit','den','ein','ist'], t)))::DOUBLE / ntok END, 9) AS s_de,
             round(CASE WHEN ntok=0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
               ['the','a','of','and','to','in','is','that','it','for'], t)))::DOUBLE / ntok END, 9) AS s_en,
             round(CASE WHEN ntok=0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
               ['el','la','de','que','y','en','un','los','se','por'], t)))::DOUBLE / ntok END, 9) AS s_es,
             round(CASE WHEN ntok=0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
               ['le','la','de','et','les','des','en','un','du','que'], t)))::DOUBLE / ntok END, 9) AS s_fr,
             round(CASE WHEN ntok=0 THEN 0.0 ELSE len(list_filter(toks, t -> list_contains(
               ['的','了','是','在','我','有','和','就','不','人'], t)))::DOUBLE / ntok END, 9) AS s_zh
           FROM c),
         b AS (
           SELECT doc_id, list_reverse_sort([
             {'score': s_de, 'lang': 'de'}, {'score': s_en, 'lang': 'en'},
             {'score': s_es, 'lang': 'es'}, {'score': s_fr, 'lang': 'fr'},
             {'score': s_zh, 'lang': 'zh'}])[1] AS best
           FROM s)
         SELECT doc_id,
           CASE WHEN best.score < 0.02 THEN 'und' ELSE best.lang END AS lang_pred
         FROM b ORDER BY doc_id""",
    // W4 trend-turn: the Aggregator's early-exit backward scan has an
    // exact relational form — maxi is the low end of the contiguous run
    // of "new running-max from the right" positions ending at the
    // nearest rate-qualified candidate ((v-last)/last is monotone in v,
    // so the rate check holds throughout the run); dually for mini.
    // DuckDB 1.0's list_reduce miscomputes early-exit folds on large
    // vectors, so windows are not just nicer — they're required.
    "w4_trend" ->
      """WITH e AS (
           SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_ms(ts)*1000000+event_id) - 1 AS idx,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM events),
         l1 AS (
           SELECT user_id, value, idx, n,
             max(CASE WHEN idx = n - 1 THEN value END) OVER (PARTITION BY user_id) AS last,
             max(value) OVER (PARTITION BY user_id ORDER BY idx
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS rmax,
             min(value) OVER (PARTITION BY user_id ORDER BY idx
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS rmin
           FROM e),
         l2 AS (
           SELECT *, (idx <= n - 2 AND value > rmax) AS nmx,
                     (idx <= n - 2 AND value < rmin) AS nmn
           FROM l1),
         l3 AS (
           SELECT *,
             max(CASE WHEN nmx AND (value - last) / last > 0.02 THEN idx END)
               OVER (PARTITION BY user_id) AS m0x,
             max(CASE WHEN nmn AND (last - value) / last > 0.02 THEN idx END)
               OVER (PARTITION BY user_id) AS m0n
           FROM l2),
         l4 AS (
           SELECT *,
             max(CASE WHEN idx < m0x AND NOT nmx THEN idx END)
               OVER (PARTITION BY user_id) AS gapx,
             max(CASE WHEN idx < m0n AND NOT nmn THEN idx END)
               OVER (PARTITION BY user_id) AS gapn
           FROM l3),
         agg AS (
           SELECT user_id,
             any_value(n) AS n, any_value(last) AS last,
             list(value ORDER BY idx) AS vs,
             CASE WHEN any_value(m0x) IS NULL THEN -1
                  ELSE coalesce(any_value(gapx), -1) + 1 END AS maxi,
             CASE WHEN any_value(m0n) IS NULL THEN -1
                  ELSE coalesce(any_value(gapn), -1) + 1 END AS mini
           FROM l4 GROUP BY user_id),
         sd AS (
           SELECT user_id, vs, n, last,
             (n < 3 OR abs(last) < 1e-5) AS degen,
             CASE WHEN (n < 3 OR abs(last) < 1e-5) THEN 0
                  WHEN (maxi >= 0 OR mini >= 0) AND maxi > mini THEN maxi
                  WHEN (maxi >= 0 OR mini >= 0) AND maxi < mini THEN mini
                  ELSE 0 END AS start,
             CASE WHEN (n < 3 OR abs(last) < 1e-5) THEN 0
                  WHEN (maxi >= 0 OR mini >= 0) AND maxi > mini THEN -1
                  WHEN (maxi >= 0 OR mini >= 0) AND maxi < mini THEN 1
                  ELSE 0 END AS dir
           FROM agg),
         seg AS (
           SELECT user_id, n, last, degen, start, dir, vs[start + 1:] AS sg,
             list_min(vs[start + 1:]) AS smn, list_max(vs[start + 1:]) AS smx
           FROM sd),
         nrm AS (
           SELECT user_id, n, last, degen, start, dir, len(sg) AS sn, sg,
             list_transform(sg, v -> CASE WHEN smx <= smn OR v <= smn THEN 0.001
               WHEN v >= smx THEN 0.999
               ELSE 0.001 + 0.998 * (v - smn) / (smx - smn) END) AS o
           FROM seg),
         fit AS (
           SELECT user_id, n, last, degen, start, dir, sg, sn,
             list_sum(list_transform(range(sn), i -> i::DOUBLE)) AS sx,
             list_sum(o) AS sy,
             list_sum(list_transform(range(sn), i -> i::DOUBLE * i)) AS sxx,
             list_sum(list_transform(range(sn), i -> i * o[i + 1])) AS sxy
           FROM nrm),
         res AS (
           SELECT user_id, dir, start,
             CASE WHEN degen THEN 0.02
                  WHEN start = 0 THEN (last - 0.0) / last
                  ELSE (last - sg[1]) / last END AS rate,
             CASE WHEN degen THEN 0.0
                  WHEN sn * sxx - sx * sx = 0 THEN 0.0
                  ELSE (sn * sxy - sx * sy) / (sn * sxx - sx * sx) END AS drift
           FROM fit)
         SELECT user_id, dir, start,
           floor(rate * 1e6 + 0.5) / 1e6 AS rate,
           floor(drift * 1e6 + 0.5) / 1e6 AS drift
         FROM res ORDER BY user_id""",
    "p5_filter_tree" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_extendedprice), 2) AS total
         FROM lineitem
         WHERE ((l_returnflag = 'R' AND l_quantity > 30.0)
                OR (NOT (l_linestatus = 'F') AND l_discount BETWEEN 0.05 AND 0.07))
           AND NOT (l_tax > 0.07)
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "w9_ratio_parts" ->
      """SELECT CASE WHEN bucket <= 2 THEN 't20'
                     WHEN bucket <= 5 THEN 't30' ELSE 't50' END AS tier,
         count(*) AS n, round(sum(o_totalprice), 2) AS total,
         round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
         FROM (SELECT o_totalprice,
                 ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
               FROM orders)
         GROUP BY tier ORDER BY tier""",
    "a3_block_stats" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
         min(epoch_ms(ts)) AS t_lo, max(epoch_ms(ts)) AS t_hi,
         round(min(value), 2) AS v_lo, round(max(value), 2) AS v_hi,
         round(sum(value), 2) AS total
         FROM events GROUP BY day ORDER BY day""",
    "t5_dict_ids" ->
      """WITH d AS (
           SELECT event_type,
             row_number() OVER (ORDER BY event_type) AS id
           FROM (SELECT DISTINCT event_type FROM events))
         SELECT e.event_type, d.id, count(*) AS n,
           round(sum(e.value), 2) AS total
         FROM events e JOIN d USING (event_type)
         GROUP BY e.event_type, d.id ORDER BY d.id""",
    "m4_append" ->
      """SELECT user_id, count(*) AS n, min(epoch_ms(ts)) AS t_lo,
         max(epoch_ms(ts)) AS t_hi, round(sum(value), 2) AS total
         FROM events GROUP BY user_id ORDER BY user_id""",
    "m8_pack" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events GROUP BY day ORDER BY day""",
    "o1_sorted_read" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
         true AS sorted, min(epoch_ms(ts)) AS t_lo, max(epoch_ms(ts)) AS t_hi
         FROM events GROUP BY day ORDER BY day""",
    "s8_dbf_roundtrip" ->
      """SELECT n_nationkey::BIGINT AS nkey, n_name AS name,
         n_regionkey::BIGINT AS region
         FROM nation ORDER BY nkey""",
    // the whole minhash-LSH pipeline reproduced in SQL: FNV shingle
    // hashes → pmod p → (a·h+b) mod p minima (the EXACT coefficients
    // the Spark side draws, inlined below) → 2-row bands → bucket join
    // → signature-agreement estimate. The Spark side buckets by
    // xxhash64 of the band slice; the oracle joins on the slice values
    // — identical candidate sets short of a 2^-64 hash collision.
    "d2_minhash_lsh" -> {
      val coefList = Dedup.minhashCoefs(32)
        .map { case (a, b) => s"{'a': $a, 'b': $b}" }.mkString(", ")
      s"""WITH g AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
               ELSE list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+'),
                     x -> len(x) > 0) AS w
                 FROM documents)),
         fh AS (
           SELECT doc_id, list_transform(grams, s -> list_reduce(
             list_prepend(14695981039346656037::HUGEINT,
               list_transform(range(1, length(s)+1), ci -> ascii(s[ci])::HUGEINT)),
             (a, b) -> (xor(a::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
                       % 18446744073709551616::HUGEINT)) AS fps
           FROM g),
         hm AS (
           SELECT doc_id, list_transform(fps, fp -> ((((
             CASE WHEN fp >= 9223372036854775808::HUGEINT
                  THEN fp - 18446744073709551616::HUGEINT ELSE fp END)::BIGINT % 2147483647)
             + 2147483647) % 2147483647)) AS hms
           FROM fh),
         sg AS (
           SELECT doc_id, list_transform([$coefList]::STRUCT(a BIGINT, b BIGINT)[], c ->
             list_min(list_transform(hms, h -> (c.a * h + c.b) % 2147483647))) AS sig
           FROM hm),
         bk AS (
           SELECT doc_id, b, sig[2*b+1]::VARCHAR || ',' || sig[2*b+2]::VARCHAR AS key
           FROM (SELECT doc_id, unnest(range(16)) AS b, sig FROM sg)),
         cd AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bk x JOIN bk y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id),
         est AS (
           SELECT id_a, id_b,
             len(list_filter(range(32), i -> sa.sig[i+1] = sb.sig[i+1])) AS eq
           FROM cd JOIN sg sa ON sa.doc_id = cd.id_a JOIN sg sb ON sb.doc_id = cd.id_b)
         SELECT id_a, id_b, round(eq::DOUBLE / 32, 6) AS est_jaccard
         FROM est WHERE eq > 0 ORDER BY id_a, id_b"""
    },
    // d7: the d2 signature pipeline again (est-Jaccard >= 0.5, i.e.
    // >= 16 of 32 hashes agree), then transitive closure by recursive
    // CTE — min reachable doc_id == the component label Spark's
    // min-label propagation converges to.
    "d7_dup_clusters" ->
      s"""$minhashCcCte,
         sz AS (SELECT cluster_id, count(*) AS csize FROM cl GROUP BY cluster_id)
         SELECT cl.doc_id, cl.cluster_id, sz.csize,
           cl.doc_id = cl.cluster_id AS keep
         FROM cl JOIN sz USING (cluster_id) ORDER BY cl.doc_id""",
    // the shared prefix up to the signatures (sg), then asymmetric
    // incoming×index band candidates and the per-incoming-doc verdict;
    // candidates re-derived from the 2-row band slices exactly like d2
    "d11_incremental_dedup" -> {
      s"""$minhashSigCte,
         bki AS (
           SELECT doc_id, b, sig[2*b+1]::VARCHAR || ',' || sig[2*b+2]::VARCHAR AS key
           FROM (SELECT doc_id, unnest(range(16)) AS b, sig FROM sg
                 WHERE doc_id % 10 = 0)),
         bkx AS (
           SELECT doc_id, b, sig[2*b+1]::VARCHAR || ',' || sig[2*b+2]::VARCHAR AS key
           FROM (SELECT doc_id, unnest(range(16)) AS b, sig FROM sg
                 WHERE doc_id % 10 != 0)),
         cd AS (
           SELECT DISTINCT i.doc_id AS doc_id, x.doc_id AS index_id
           FROM bki i JOIN bkx x ON i.b = x.b AND i.key = x.key),
         sc AS (
           SELECT cd.doc_id, cd.index_id,
             len(list_filter(range(32), k -> sa.sig[k+1] = sb.sig[k+1])) / 32.0 AS est
           FROM cd JOIN sg sa ON sa.doc_id = cd.doc_id
                   JOIN sg sb ON sb.doc_id = cd.index_id),
         r AS (
           SELECT doc_id, index_id, est,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY est DESC, index_id ASC) AS rn,
             count(*) OVER (PARTITION BY doc_id) AS nm,
             max(est) OVER (PARTITION BY doc_id) AS me
           FROM sc WHERE est >= 0.5)
         SELECT i.doc_id, (b.doc_id IS NOT NULL) AS is_dup,
           coalesce(b.nm, 0) AS n_matches, b.index_id AS best_match,
           round(b.me, 6) AS best_score
         FROM (SELECT doc_id FROM sg WHERE doc_id % 10 = 0) i
         LEFT JOIN (SELECT * FROM r WHERE rn = 1) b USING (doc_id)
         ORDER BY i.doc_id"""
    },
    // st6: the two admission stages replayed relationally — stage 0
    // screens batch 0 (doc_id%20=0) against the curated index
    // (doc_id%10!=0); stage 1 screens batch 1 (doc_id%20=10) against
    // index ∪ stage-0 admissions. Same banded candidates + est-sig
    // verdicts as d11; batch ids from the pinned file order.
    "st6_stream_admit" -> {
      s"""$minhashSigCte,
         bkall AS (
           SELECT doc_id, b, sig[2*b+1]::VARCHAR || ',' || sig[2*b+2]::VARCHAR AS key
           FROM (SELECT doc_id, unnest(range(16)) AS b, sig FROM sg)),
         bkx AS (SELECT * FROM bkall WHERE doc_id % 10 != 0),
         cand0 AS (
           SELECT DISTINCT n.doc_id AS nid, x.doc_id AS xid
           FROM (SELECT * FROM bkall WHERE doc_id % 20 = 0) n
           JOIN bkx x ON n.b = x.b AND n.key = x.key),
         dup0 AS (
           SELECT DISTINCT c.nid FROM cand0 c
           JOIN sg sa ON sa.doc_id = c.nid JOIN sg sb ON sb.doc_id = c.xid
           WHERE len(list_filter(range(32), k -> sa.sig[k+1] = sb.sig[k+1])) / 32.0 >= 0.5),
         adm0 AS (
           SELECT doc_id FROM sg WHERE doc_id % 20 = 0
             AND doc_id NOT IN (SELECT nid FROM dup0)),
         bkidx1 AS (
           SELECT * FROM bkx
           UNION ALL
           SELECT * FROM bkall WHERE doc_id IN (SELECT doc_id FROM adm0)),
         cand1 AS (
           SELECT DISTINCT n.doc_id AS nid, x.doc_id AS xid
           FROM (SELECT * FROM bkall WHERE doc_id % 20 = 10) n
           JOIN bkidx1 x ON n.b = x.b AND n.key = x.key),
         dup1 AS (
           SELECT DISTINCT c.nid FROM cand1 c
           JOIN sg sa ON sa.doc_id = c.nid JOIN sg sb ON sb.doc_id = c.xid
           WHERE len(list_filter(range(32), k -> sa.sig[k+1] = sb.sig[k+1])) / 32.0 >= 0.5),
         adm1 AS (
           SELECT doc_id FROM sg WHERE doc_id % 20 = 10
             AND doc_id NOT IN (SELECT nid FROM dup1))
         SELECT doc_id, 0 AS batch FROM adm0
         UNION ALL SELECT doc_id, 1 AS batch FROM adm1
         ORDER BY doc_id"""
    },
    // st9: st6's admission blocks with the tx8 gate composed in front
    // — batch docs must be in `gt` to be screened, admitted, or
    // appended to the index; the seed corpus is unchanged
    "st9_stream_gate" -> {
      s"""$minhashSigCte,
         gt AS ($gopherKeepSql),
         bkall AS (
           SELECT doc_id, b, sig[2*b+1]::VARCHAR || ',' || sig[2*b+2]::VARCHAR AS key
           FROM (SELECT doc_id, unnest(range(16)) AS b, sig FROM sg)),
         bkx AS (SELECT * FROM bkall WHERE doc_id % 10 != 0),
         cand0 AS (
           SELECT DISTINCT n.doc_id AS nid, x.doc_id AS xid
           FROM (SELECT * FROM bkall WHERE doc_id % 20 = 0
                   AND doc_id IN (SELECT doc_id FROM gt)) n
           JOIN bkx x ON n.b = x.b AND n.key = x.key),
         dup0 AS (
           SELECT DISTINCT c.nid FROM cand0 c
           JOIN sg sa ON sa.doc_id = c.nid JOIN sg sb ON sb.doc_id = c.xid
           WHERE len(list_filter(range(32), k -> sa.sig[k+1] = sb.sig[k+1])) / 32.0 >= 0.5),
         adm0 AS (
           SELECT doc_id FROM sg WHERE doc_id % 20 = 0
             AND doc_id IN (SELECT doc_id FROM gt)
             AND doc_id NOT IN (SELECT nid FROM dup0)),
         bkidx1 AS (
           SELECT * FROM bkx
           UNION ALL
           SELECT * FROM bkall WHERE doc_id IN (SELECT doc_id FROM adm0)),
         cand1 AS (
           SELECT DISTINCT n.doc_id AS nid, x.doc_id AS xid
           FROM (SELECT * FROM bkall WHERE doc_id % 20 = 10
                   AND doc_id IN (SELECT doc_id FROM gt)) n
           JOIN bkidx1 x ON n.b = x.b AND n.key = x.key),
         dup1 AS (
           SELECT DISTINCT c.nid FROM cand1 c
           JOIN sg sa ON sa.doc_id = c.nid JOIN sg sb ON sb.doc_id = c.xid
           WHERE len(list_filter(range(32), k -> sa.sig[k+1] = sb.sig[k+1])) / 32.0 >= 0.5),
         adm1 AS (
           SELECT doc_id FROM sg WHERE doc_id % 20 = 10
             AND doc_id IN (SELECT doc_id FROM gt)
             AND doc_id NOT IN (SELECT nid FROM dup1))
         SELECT doc_id, 0 AS batch FROM adm0
         UNION ALL SELECT doc_id, 1 AS batch FROM adm1
         ORDER BY doc_id"""
    },
    // d12: the same asymmetric band-candidate set as d11 (shared sig
    // prefix, 2-row band slices joined new×index) — the Spark side
    // probes a STORED (index_id, band, bucket) table instead of
    // re-banding, and the pair set must come out identical
    "d12_stored_index" -> {
      s"""$minhashSigCte,
         bki AS (
           SELECT doc_id, b, sig[2*b+1]::VARCHAR || ',' || sig[2*b+2]::VARCHAR AS key
           FROM (SELECT doc_id, unnest(range(16)) AS b, sig FROM sg
                 WHERE doc_id % 10 = 0)),
         bkx AS (
           SELECT doc_id, b, sig[2*b+1]::VARCHAR || ',' || sig[2*b+2]::VARCHAR AS key
           FROM (SELECT doc_id, unnest(range(16)) AS b, sig FROM sg
                 WHERE doc_id % 10 != 0))
         SELECT DISTINCT i.doc_id AS doc_id, x.doc_id AS index_id
         FROM bki i JOIN bkx x ON i.b = x.b AND i.key = x.key
         ORDER BY doc_id, index_id"""
    },
    // d7's cluster CTE + per-doc quality, (q desc, doc_id asc) argmax
    "d10_quality_reps" ->
      s"""$minhashCcCte,
         q AS (SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'),
             x -> len(x) > 0))::BIGINT AS q FROM documents),
         j AS (SELECT cl.cluster_id, cl.doc_id, q.q
               FROM cl JOIN q USING (doc_id)),
         r AS (SELECT cluster_id, doc_id, q,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY q DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY cluster_id) AS csize
               FROM j)
         SELECT cluster_id, doc_id AS best_doc, q AS best_q, csize
         FROM r WHERE rn = 1 ORDER BY cluster_id""",
    // winnowing: FNV char-16-gram hashes, window-64 minima. The
    // rightmost-tie rule picks an INDEX but the emitted value is the
    // window minimum either way, and pairs join on values — so the
    // fingerprint SET is just distinct window minima. Minima compare
    // as SIGNED longs (WinnowExpr uses Java long compare), hence the
    // signed mapping before list_min.
    "d6_winnow_pairs" ->
      """WITH nrm AS (
           SELECT doc_id,
             regexp_replace(lower(trim(text)), '[\t\n\x0B\f\r ]+', ' ', 'g') AS s
           FROM documents),
         hu AS (
           SELECT doc_id, s, length(s) AS n,
             CASE WHEN length(s) < 16 THEN NULL
             ELSE list_transform(range(1, length(s) - 16 + 2), i -> list_reduce(
               list_prepend(14695981039346656037::HUGEINT,
                 list_transform(range(i, i + 16), ci -> ascii(s[ci])::HUGEINT)),
               (a, b) -> (xor(a::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
                         % 18446744073709551616::HUGEINT)) END AS hraw
           FROM nrm),
         hs AS (
           SELECT doc_id, s, n,
             list_transform(hraw, fp -> (CASE WHEN fp >= 9223372036854775808::HUGEINT
               THEN fp - 18446744073709551616::HUGEINT ELSE fp END)::BIGINT) AS h
           FROM hu),
         wh AS (
           SELECT doc_id, n, h, list_reduce(
               list_prepend(14695981039346656037::HUGEINT,
                 list_transform(range(1, n + 1), ci -> ascii(s[ci])::HUGEINT)),
               (a, b) -> (xor(a::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
                         % 18446744073709551616::HUGEINT) AS wraw
           FROM hs),
         gr AS (
           SELECT doc_id,
             CASE WHEN n < 16 THEN [(CASE WHEN wraw >= 9223372036854775808::HUGEINT
                 THEN wraw - 18446744073709551616::HUGEINT ELSE wraw END)::BIGINT]
               WHEN len(h) <= 64 THEN [list_min(h)]
               ELSE list_distinct(list_transform(range(1, len(h) - 64 + 2),
                      st -> list_min(h[st:st+63]))) END AS fps
           FROM wh)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.fps, b.fps))::BIGINT AS shared
         FROM gr a JOIN gr b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.fps, b.fps)) >= 2
         ORDER BY id_a, id_b""",
    // random-hyperplane LSH reproduced exactly: the plane doubles are
    // drawn HERE (same JVM, same seed as lshTopK) and inlined as
    // literals — Double.toString round-trips, so DuckDB parses the
    // identical doubles and every sign/dot/cosine matches bit-for-bit
    // (both engines sum dot products in ascending index order).
    // dim=64 matches the embeddings tables at every SF.
    "x2_ann_lsh" -> {
      val planes = graft.functions.VectorFunctions.randomPlanes(16, 64)
      val sigbits = planes.zipWithIndex.map { case (p, i) =>
        val lit = p.map(_.toString).mkString("[", ",", "]")
        s"(CASE WHEN list_inner_product(v, $lit) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sg AS (SELECT vec_id, v, ($sigbits)::BIGINT AS sig FROM e),
         bd AS (
           SELECT vec_id, v, b, (sig // (1 << (4*b))) % 16 AS bucket
           FROM (SELECT vec_id, v, sig, unnest(range(4)) AS b FROM sg)),
         q AS (SELECT vec_id AS query_id, v AS qv, b, bucket FROM bd WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, v AS cv, b, bucket FROM bd),
         cand AS (
           SELECT DISTINCT query_id, neighbor_id
           FROM q JOIN c ON q.b = c.b AND q.bucket = c.bucket
           WHERE neighbor_id != query_id),
         scored AS (
           SELECT query_id, neighbor_id,
             list_inner_product(qe.v, ce.v) /
               (sqrt(list_inner_product(qe.v, qe.v)) * sqrt(list_inner_product(ce.v, ce.v))) AS cosine
           FROM cand JOIN e qe ON qe.vec_id = cand.query_id
                     JOIN e ce ON ce.vec_id = cand.neighbor_id),
         rk AS (
           SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank::INT AS rank
         FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""
    },
    "t4_stream_finalize" ->
      """SELECT * FROM (
           SELECT 'day:' || strftime(ts, '%Y-%m-%d') AS key, count(*) AS n,
             round(sum(value), 2) AS total
           FROM events GROUP BY key
           UNION ALL
           SELECT 'sub:all', count(*), round(sum(value), 2)
           FROM events HAVING count(*) > 0
           UNION ALL
           SELECT 'sub:exact_u3', count(*), round(sum(value), 2)
           FROM events WHERE user_id = 3 HAVING count(*) > 0
           UNION ALL
           SELECT 'sub:prefix_u1', count(*), round(sum(value), 2)
           FROM events WHERE ('u' || user_id) LIKE 'u1%' HAVING count(*) > 0)
         ORDER BY key""",
    // crash + resume must converge to exactly the single-pass answer
    "t7_wal_resume" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
           round(sum(value), 2) AS total
         FROM events WHERE event_id % 10 = 0
         GROUP BY day ORDER BY day""",
    "t6_factor_store" ->
      """WITH d AS (
           SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
             round(avg(value), 6) AS factor
           FROM events GROUP BY 1, 2)
         SELECT epoch_ms(day::TIMESTAMP) AS time, factor
         FROM d
         WHERE user_id = 7
           AND epoch_ms(day::TIMESTAMP) BETWEEN 1704067200000 AND 1706745600000
         ORDER BY time""",
    "kv1_one_mul_styles" ->
      """WITH kv AS (
           SELECT 'u' || user_id AS key,
             epoch_ms(ts)*1000000 + event_id AS seq,
             event_type || '#' || event_id AS value
           FROM events)
         SELECT 'one' AS op, key, seq, value FROM (
           SELECT key, seq, value,
             row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
           FROM (SELECT * FROM kv UNION ALL
                 SELECT 'u1', 9223372036854775807, 'manual#override'))
         WHERE rn = 1
         UNION ALL
         SELECT 'mul' AS op, key, seq, value FROM kv WHERE key = 'u2'
         ORDER BY op, key, seq""",
    // same inlined-plane reproduction as x2, with d5b's (56 planes,
    // 8 bands → 7-bit buckets) parameters
    "d5b_cosine_dup_blocked" -> {
      val planes = graft.functions.VectorFunctions.randomPlanes(56, 64)
      val sigbits = planes.zipWithIndex.map { case (p, i) =>
        val lit = p.map(_.toString).mkString("[", ",", "]")
        s"(CASE WHEN list_inner_product(v, $lit) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sg AS (SELECT vec_id, v, ($sigbits)::BIGINT AS sig FROM e),
         bd AS (
           SELECT vec_id, v, b, (sig // (1::BIGINT << (7*b))) % 128 AS bucket
           FROM (SELECT vec_id, v, sig, unnest(range(8)) AS b FROM sg)),
         cd AS (
           SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
           FROM bd x JOIN bd y ON x.b = y.b AND x.bucket = y.bucket
                      AND x.vec_id < y.vec_id),
         scored AS (
           SELECT id_a, id_b,
             list_inner_product(ae.v, be.v) /
               (sqrt(list_inner_product(ae.v, ae.v)) * sqrt(list_inner_product(be.v, be.v))) AS cosine
           FROM cd JOIN e ae ON ae.vec_id = cd.id_a
                   JOIN e be ON be.vec_id = cd.id_b)
         SELECT id_a, id_b, round(cosine, 6) AS cosine
         FROM scored WHERE cosine >= 0.3 ORDER BY id_a, id_b"""
    },
    // d5b's inlined-plane candidate SQL + d7's recursive-CTE closure:
    // the oracle re-runs the whole SemDeDup pipeline relationally
    "d9_semantic_dedup" -> {
      val planes = graft.functions.VectorFunctions.randomPlanes(56, 64)
      val sigbits = planes.zipWithIndex.map { case (p, i) =>
        val lit = p.map(_.toString).mkString("[", ",", "]")
        s"(CASE WHEN list_inner_product(v, $lit) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sg AS (SELECT vec_id, v, ($sigbits)::BIGINT AS sig FROM e),
         bd AS (
           SELECT vec_id, v, b, (sig // (1::BIGINT << (7*b))) % 128 AS bucket
           FROM (SELECT vec_id, v, sig, unnest(range(8)) AS b FROM sg)),
         cd AS (
           SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
           FROM bd x JOIN bd y ON x.b = y.b AND x.bucket = y.bucket
                      AND x.vec_id < y.vec_id),
         pr AS (
           SELECT id_a, id_b FROM (
             SELECT id_a, id_b,
               list_inner_product(ae.v, be.v) /
                 (sqrt(list_inner_product(ae.v, ae.v)) *
                  sqrt(list_inner_product(be.v, be.v))) AS cosine
             FROM cd JOIN e ae ON ae.vec_id = cd.id_a
                     JOIN e be ON be.vec_id = cd.id_b)
           WHERE cosine >= 0.3),
         ed AS (
           SELECT id_a AS u, id_b AS v FROM pr
           UNION SELECT id_b, id_a FROM pr),
         reach AS (
           SELECT vec_id AS root, vec_id AS node FROM embeddings
           UNION
           SELECT reach.root, ed.v FROM reach JOIN ed ON ed.u = reach.node),
         cl AS (
           SELECT root AS vec_id, min(node) AS cluster_id FROM reach GROUP BY root),
         sz AS (SELECT cluster_id, count(*) AS csize FROM cl GROUP BY cluster_id)
         SELECT cl.vec_id, cl.cluster_id, sz.csize,
           cl.vec_id = cl.cluster_id AS keep
         FROM cl JOIN sz USING (cluster_id) ORDER BY cl.vec_id"""
    },
    "o4_search_position" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
         FROM events
         WHERE strftime(ts, '%Y-%m-%d') = '2024-01-10'
           AND epoch_ms(ts) BETWEEN 1704866400000 AND 1704909600000
         GROUP BY event_type ORDER BY event_type""",
    "sk1_salted_agg" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY event_type ORDER BY event_type""",
    "sk2_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
         round(sum(l_extendedprice), 2) AS total
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the Fake decoder's probe/frame fields recomputed from the same
    // FNV-1a seed; >>16 / >>8 become exact floor divisions (numerator
    // made divisible by subtracting the positive mod first)
    "mm2_multimodal_probe" ->
      """WITH f AS (
           SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             (CASE WHEN fp >= 9223372036854775808::HUGEINT
               THEN fp - 18446744073709551616::HUGEINT ELSE fp END)::BIGINT AS h
           FROM (SELECT doc_id, text, list_reduce(
             list_prepend(14695981039346656037::HUGEINT,
               list_transform(range(1, length(text)+1), i -> ascii(text[i])::HUGEINT)),
             (a, b) -> (xor(a::UBIGINT, b::UBIGINT)::HUGEINT * 1099511628211::HUGEINT)
                       % 18446744073709551616::HUGEINT) AS fp
           FROM documents)),
         m AS (
           SELECT doc_id, n_bytes,
             abs(h) % 1920 + 1 AS width,
             abs((h - ((h % 65536 + 65536) % 65536)) // 65536) % 1080 + 1 AS height,
             abs((h - ((h % 256 + 256) % 256)) // 256) % 600000 AS duration_ms
           FROM f)
         SELECT doc_id, 'image' AS kind, n_bytes::INT AS n_bytes,
           width::INT AS width, height::INT AS height,
           duration_ms::BIGINT AS duration_ms,
           (duration_ms // 60000 + 1)::BIGINT AS n_frames
         FROM m ORDER BY doc_id""",
    // id-hash split: FNV of 'split:<id>' → signed long → pmod 100 band
    "smp1_hash_split" ->
      s"""WITH f AS (SELECT doc_id, 'split:' || doc_id::VARCHAR AS s FROM documents),
         h AS (SELECT doc_id, ${toSigned(fnvU("s"))} AS h FROM f),
         b AS (SELECT doc_id, ((h % 100) + 100) % 100 AS bucket FROM h)
         SELECT doc_id, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         FROM b ORDER BY doc_id""",
    "smp3_source_mix" ->
      s"""WITH c AS (SELECT lang AS g, count(*) AS cnt FROM documents GROUP BY 1),
         m AS (SELECT min(cnt) AS mn FROM c),
         f AS (SELECT doc_id, lang,
           'balance:' || doc_id::VARCHAR AS s FROM documents),
         h AS (SELECT doc_id, lang, ${toSigned(fnvU("s"))} AS h FROM f),
         b AS (SELECT doc_id, lang,
           ((h % 1000000) + 1000000) % 1000000 AS bucket FROM h)
         SELECT b.doc_id, b.lang FROM b
         JOIN c ON b.lang = c.g CROSS JOIN m
         WHERE bucket * cnt < mn * 1000000
         ORDER BY doc_id""",
    "smp4_temperature_mix" ->
      s"""WITH c AS (SELECT lang AS g, count(*) AS cnt FROM documents GROUP BY 1),
         m AS (SELECT min(cnt) AS mn FROM c),
         t AS (SELECT g, floor(sqrt(mn::DOUBLE / cnt::DOUBLE) * 1000000)::BIGINT
                 AS thr FROM c CROSS JOIN m),
         f AS (SELECT doc_id, lang,
           'temper:' || doc_id::VARCHAR AS s FROM documents),
         h AS (SELECT doc_id, lang, ${toSigned(fnvU("s"))} AS h FROM f),
         b AS (SELECT doc_id, lang,
           ((h % 1000000) + 1000000) % 1000000 AS bucket FROM h)
         SELECT b.doc_id, b.lang FROM b
         JOIN t ON b.lang = t.g
         WHERE bucket < thr
         ORDER BY doc_id""",
    "smp2_stratified_sample" ->
      s"""WITH f AS (SELECT doc_id, lang,
             'sample:' || doc_id::VARCHAR AS s FROM documents),
         h AS (SELECT doc_id, lang, ${toSigned(fnvU("s"))} AS h FROM f),
         b AS (SELECT doc_id, lang, ((h % 10000) + 10000) % 10000 AS bucket FROM h)
         SELECT doc_id, lang, bucket FROM b
         WHERE bucket < CASE lang WHEN 'en' THEN 9000
                                  WHEN 'zh' THEN 4000 ELSE 6000 END
         ORDER BY doc_id""",
    "shf1_global_shuffle" ->
      s"""WITH f AS (SELECT doc_id, 'epoch0:' || doc_id::VARCHAR AS s FROM documents),
         h AS (SELECT doc_id, ${toSigned(fnvU("s"))} AS shuffle_key FROM f)
         SELECT doc_id, shuffle_key,
           row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos
         FROM h ORDER BY pos""",
    // concat-and-chunk packing: exclusive global token cumsum in
    // doc_id order, then every 512-token window a document overlaps
    "pk1_pack_chunks" ->
      raw"""WITH d AS (SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))::BIGINT AS n_tok
           FROM documents),
         o AS (SELECT doc_id, n_tok,
             coalesce(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_offset
           FROM d),
         e AS (SELECT doc_id, n_tok, tok_offset,
             unnest(generate_series(tok_offset // 512,
               (tok_offset + n_tok - 1) // 512)) AS chunk_id
           FROM o WHERE n_tok > 0)
         SELECT doc_id, n_tok, tok_offset, chunk_id,
           least(tok_offset + n_tok, (chunk_id + 1) * 512)
             - greatest(tok_offset, chunk_id * 512) AS n_in_chunk
         FROM e ORDER BY doc_id, chunk_id""",
    // sliding 200-char windows every 150 chars; last window starts at
    // the first position that reaches the end of the text
    "ch1_chunk_overlap" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         e AS (SELECT doc_id, text,
             unnest(generate_series(0, CASE WHEN n <= 200 THEN 0
               ELSE (n - 200 + 149) // 150 END)) AS chunk_idx
           FROM d)
         SELECT doc_id, chunk_idx,
           substr(text, (chunk_idx * 150 + 1)::INT, 200) AS chunk_text,
           length(substr(text, (chunk_idx * 150 + 1)::INT, 200)) AS chunk_len
         FROM e ORDER BY doc_id, chunk_idx""",
    // the Fake decoder's feature LCG replayed in 2^64 space: four
    // steps of h = h*A + C, each feature = (h >>> 40)/2^24 - 0.5
    // (exact in float32, hence exact as DOUBLE on both sides)
    "mm3_multimodal_features" ->
      s"""WITH f AS (SELECT doc_id, ${fnvU("text")} AS h0 FROM documents),
         l1 AS (SELECT doc_id, (h0 * 6364136223846793005::HUGEINT
           + 1442695040888963407::HUGEINT) % 18446744073709551616::HUGEINT AS h1 FROM f),
         l2 AS (SELECT *, (h1 * 6364136223846793005::HUGEINT
           + 1442695040888963407::HUGEINT) % 18446744073709551616::HUGEINT AS h2 FROM l1),
         l3 AS (SELECT *, (h2 * 6364136223846793005::HUGEINT
           + 1442695040888963407::HUGEINT) % 18446744073709551616::HUGEINT AS h3 FROM l2),
         l4 AS (SELECT *, (h3 * 6364136223846793005::HUGEINT
           + 1442695040888963407::HUGEINT) % 18446744073709551616::HUGEINT AS h4 FROM l3)
         SELECT doc_id,
           ((h1 // 1099511627776)::BIGINT - 8388608)::DOUBLE / 16777216.0 AS f0,
           ((h2 // 1099511627776)::BIGINT - 8388608)::DOUBLE / 16777216.0 AS f1,
           ((h3 // 1099511627776)::BIGINT - 8388608)::DOUBLE / 16777216.0 AS f2,
           ((h4 // 1099511627776)::BIGINT - 8388608)::DOUBLE / 16777216.0 AS f3
         FROM l4 ORDER BY doc_id""") ++ ivfOracleEntry

  /** x3's oracle, built from the centroids qAnnIvf froze this run (see
    * [[IvfOracle]]). Reproduces the exact IVF plan relationally:
    *  - cell score = list_inner_product(v, c) − |c|²/2, with |c|²/2
    *    precomputed in Scala and inlined (so the summation order of the
    *    half-norm never has to match);
    *  - corpus cell = argmax score; Spark's `greatest` over
    *    struct(s, cell) breaks score ties toward the LARGER cell id,
    *    hence ORDER BY s DESC, cell DESC;
    *  - queries probe the nprobe=4 best cells (same tie order —
    *    sort_array(desc) on struct(s, cell));
    *  - candidates = equi-join on cell, re-ranked by exact cosine. */
  private def ivfOracleSqlFor(cents: Array[Array[Double]],
      corpusCte: String =
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"): String = {
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      val lit = c.map(_.toString).mkString("[", ",", "]")
      val half = (c.map(x => x * x).sum / 2).toString
      s"($i, $lit::DOUBLE[], $half)"
    }.mkString(",\n             ")
    s"""WITH e AS ($corpusCte),
           cent AS (SELECT * FROM (VALUES
             $centRows) AS t(cell, cv, half)),
           sc AS (
             SELECT e.vec_id, cent.cell,
               list_inner_product(e.v, cent.cv) - cent.half AS s
             FROM e CROSS JOIN cent),
           asg AS (
             SELECT vec_id AS neighbor_id, cell FROM (
               SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, cell DESC) AS rn
               FROM sc) WHERE rn = 1),
           q AS (
             SELECT vec_id AS query_id, cell FROM (
               SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, cell DESC) AS rn
               FROM sc WHERE vec_id < 10) WHERE rn <= 4),
           cand AS (
             SELECT q.query_id, a.neighbor_id
             FROM q JOIN asg a ON q.cell = a.cell
             WHERE a.neighbor_id != q.query_id),
           scored AS (
             SELECT query_id, neighbor_id,
               list_inner_product(qe.v, ce.v) /
                 (sqrt(list_inner_product(qe.v, qe.v)) * sqrt(list_inner_product(ce.v, ce.v))) AS cosine
             FROM cand JOIN e qe ON qe.vec_id = cand.query_id
                       JOIN e ce ON ce.vec_id = cand.neighbor_id),
           rk AS (
             SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
             FROM scored)
           SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank::INT AS rank
           FROM rk WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  private def ivfOracleEntry: Map[String, String] =
    IvfOracle.centroids.map(c => "x3_ann_ivf" -> ivfOracleSqlFor(c)).toMap ++
      // x5 probes the STORED index built from the same frozen
      // centroids, so the relational contract — and hence the SQL —
      // is x3's; a store/probe bug shows up as an x5-only mismatch
      IvfOracle.storedCentroids
        .map(c => "x5_ann_ivf_stored" -> ivfOracleSqlFor(c)).toMap ++
      // x7 probes the INCREMENTALLY-built tree; assignment is a pure
      // per-row function of (vector, frozen centroids), so the union
      // relational contract — and hence the SQL — is again x3's with
      // x7's own centroids (trained on the base split only) inlined
      IvfOracle.incrementalCentroids
        .map(c => "x7_ann_ivf_append" -> ivfOracleSqlFor(c)).toMap ++
      // x9's monitor output is pure relational algebra over the same
      // inlined-centroid assignment: per-cell counts and shares of
      // the held-out half vs its +1-per-coordinate covariate shift
      IvfOracle.driftCentroids
        .map(c => "x9_ivf_drift" -> ivfDriftOracleSqlFor(c)).toMap ++
      // x10's post-cutover probe is x3's relational contract with the
      // RETRAINED (g2) centroids inlined, over the drifted-union
      // corpus (even vec_ids as stored, odd ones translated +1 per
      // coordinate — x9's covariate shift)
      IvfOracle.cutoverCentroids
        .map(c => "x10_ivf_cutover" -> ivfOracleSqlFor(c,
          """SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id % 2 = 0
             UNION ALL
             SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> x + 1.0) AS v
               FROM embeddings WHERE vec_id % 2 = 1""")).toMap ++
      // x11: the projection matrix is the frozen constant (same
      // freeze-the-planes trick as x2/x3); list_inner_product is the
      // proven bit-parity twin of DotProductExpr
      RpOracle.planes.map(p => "x11_random_projection" ->
        rpOracleSqlFor(p)).toMap ++
      // x12: codebooks AND the per-query distance table are the
      // frozen constants; per-subspace assignment is x3's argmax
      // form, the ADC sum is an explicit left-associated chain so
      // both engines add the 8 lookups in the same order
      (for (b <- PqOracle.books; d <- PqOracle.dt)
        yield "x12_pq_adc" -> pqOracleSqlFor(b, d)).toMap ++
      // x13: every frozen constant of x3 AND x12 plus the driver-side
      // probed-cell list; the SQL composes x3's assignment CTE (as a
      // pruning filter) with x12's encode/ADC/re-rank chain
      (for (c <- IvfPqOracle.cents; b <- IvfPqOracle.books;
            d <- IvfPqOracle.dt; q <- IvfPqOracle.query;
            p <- IvfPqOracle.probed)
        yield "x13_ivfpq" -> ivfPqOracleSqlFor(c, b, d, q, p)).toMap ++
      // x14: the stored probe is REQUIREd row-equal to x13's in-query
      // formulation with x14's OWN frozen constants (trained on the
      // candidate set at build time, read back from the sidecars), so
      // the same composed SQL proves the whole persisted tree —
      // sidecar round-trip, directory pruning, ADC, re-rank
      (for (c <- StoredIvfPqOracle.cents; b <- StoredIvfPqOracle.books;
            d <- StoredIvfPqOracle.dt; q <- StoredIvfPqOracle.query;
            p <- StoredIvfPqOracle.probed)
        yield "x14_ivfpq_stored" -> ivfPqOracleSqlFor(c, b, d, q, p)).toMap ++
      // st10: the streamed tree's probe is REQUIREd row-equal to the
      // in-query formulation over the union, with constants trained
      // on the BASE split only (frozen through the streaming appends)
      // — the same composed SQL proves it
      (for (c <- StreamPqOracle.cents; b <- StreamPqOracle.books;
            d <- StreamPqOracle.dt; q <- StreamPqOracle.query;
            p <- StreamPqOracle.probed)
        yield "st10_stream_vector_index" ->
          ivfPqOracleSqlFor(c, b, d, q, p)).toMap ++
      // x15: the post-cutover probe is x13's composed SQL with the
      // RETRAINED (g2) constants over the shifted-union corpus
      // (pmod-3 vec_ids translated +1 per coordinate, x9's shift)
      (for (c <- PqDriftOracle.cents; b <- PqDriftOracle.books;
            d <- PqDriftOracle.dt; q <- PqDriftOracle.query;
            p <- PqDriftOracle.probed)
        yield "x15_pq_drift_retrain" -> ivfPqOracleSqlFor(c, b, d, q, p,
          corpusSql = """SELECT vec_id, embedding::DOUBLE[] AS v
             FROM embeddings WHERE vec_id != 0 AND vec_id % 4 < 3
             UNION ALL
             SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> x + 1.0) AS v
               FROM embeddings WHERE vec_id % 4 = 3""")).toMap

  /** The shared PQ encode→ADC→re-rank SQL chain over a source CTE
    * named `src` with columns (vec_id, v[, cell]) — x12 and x13
    * differ ONLY in the prologue producing `src` and in whether
    * `cell` rides the output, so the assignment tie-rule, the slice
    * arithmetic, and the left-associated ADC sum exist exactly once
    * and cannot silently diverge between the two oracles. */
  private def pqSqlChain(books: Array[Array[Array[Double]]],
      dt: Array[Array[Double]], query: Array[Double],
      srcCtes: String, carryCell: Boolean): String = {
    val dsub = books(0)(0).length
    val bookRows = (for ((book, mi) <- books.zipWithIndex;
        (c, k) <- book.zipWithIndex) yield {
      val lit = c.map(_.toString).mkString("[", ",", "]")
      val half = (c.map(x => x * x).sum / 2).toString
      s"($mi, $k, $lit::DOUBLE[], $half)"
    }).mkString(",\n             ")
    val codeCols = books.indices.map(mi =>
      s"max(CASE WHEN mi = $mi THEN code END) AS c$mi").mkString(",\n             ")
    val adcChain = dt.zipWithIndex.map { case (row, mi) =>
      val litList = row.map(_.toString).mkString("[", ",", "]")
      s"list_extract($litList::DOUBLE[], c$mi + 1)"
    }.mkString("\n               + ")
    val qlit = query.map(_.toString).mkString("[", ",", "]")
    val qq = query.map(x => x * x).sum.toString
    val cellRr = if (carryCell) "src.cell, " else ""
    val cellOut = if (carryCell) "cell, " else ""
    s"""WITH $srcCtes,
           book AS (SELECT * FROM (VALUES
             $bookRows) AS t(mi, k, cv, half)),
           sc AS (
             SELECT src.vec_id, book.mi, book.k,
               list_inner_product(
                 list_slice(src.v, book.mi * $dsub + 1,
                   (book.mi + 1) * $dsub),
                 book.cv) - book.half AS s
             FROM src CROSS JOIN book),
           asg AS (
             SELECT vec_id, mi, k AS code FROM (
               SELECT vec_id, mi, k,
                 row_number() OVER (PARTITION BY vec_id, mi
                   ORDER BY s DESC, k DESC) AS rn
               FROM sc) WHERE rn = 1),
           codes AS (
             SELECT vec_id,
             $codeCols
             FROM asg GROUP BY vec_id),
           sl AS (
             SELECT vec_id, adc_rank FROM (
               SELECT vec_id,
                 row_number() OVER (ORDER BY adc, vec_id)::INT AS adc_rank
               FROM (SELECT vec_id, $adcChain AS adc FROM codes))
             WHERE adc_rank <= 100),
           rr AS (
             SELECT sl.vec_id, ${cellRr}sl.adc_rank,
               $qq + list_inner_product(src.v, src.v)
                 - 2.0 * list_inner_product($qlit::DOUBLE[], src.v) AS d2
             FROM sl JOIN src ON src.vec_id = sl.vec_id)
         SELECT vec_id, ${cellOut}adc_rank, round(d2, 6) AS d2, rank FROM (
           SELECT vec_id, ${cellOut}adc_rank, d2,
             row_number() OVER (ORDER BY d2, vec_id)::INT AS rank
           FROM rr)
         WHERE rank <= 10 ORDER BY rank"""
  }

  private def pqOracleSqlFor(books: Array[Array[Array[Double]]],
      dt: Array[Array[Double]]): String =
    pqSqlChain(books, dt, PqOracle.query.get,
      srcCtes = """src AS (SELECT vec_id, embedding::DOUBLE[] AS v
             FROM embeddings WHERE vec_id != 0)""",
      carryCell = false)

  private def ivfPqOracleSqlFor(cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], dt: Array[Array[Double]],
      query: Array[Double], probed: Seq[Int],
      corpusSql: String = """SELECT vec_id, embedding::DOUBLE[] AS v
             FROM embeddings WHERE vec_id != 0"""): String = {
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      val lit = c.map(_.toString).mkString("[", ",", "]")
      val half = (c.map(x => x * x).sum / 2).toString
      s"($i, $lit::DOUBLE[], $half)"
    }.mkString(",\n             ")
    // x3's assignment CTE as a pruning prologue; the PQ chain itself
    // is pqSqlChain, shared verbatim with x12
    pqSqlChain(books, dt, query,
      srcCtes = s"""e AS ($corpusSql),
           cent AS (SELECT * FROM (VALUES
             $centRows) AS t(cell, cv, half)),
           asgc AS (
             SELECT vec_id, cell FROM (
               SELECT e.vec_id, cent.cell, row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY (list_inner_product(e.v, cent.cv) - cent.half)
                     DESC, cent.cell DESC) AS rn
               FROM e CROSS JOIN cent) WHERE rn = 1),
           src AS (
             SELECT e.vec_id, e.v, asgc.cell
             FROM e JOIN asgc ON e.vec_id = asgc.vec_id
             WHERE asgc.cell IN (${probed.mkString(", ")}))""",
      carryCell = true)
  }

  private def rpOracleSqlFor(planes: Seq[Array[Double]]): String = {
    val rows = planes.zipWithIndex.map { case (p, j) =>
      s"($j, ${p.map(_.toString).mkString("[", ",", "]")}::DOUBLE[])"
    }.mkString(",\n             ")
    val scale = (1.0 / math.sqrt(planes.size.toDouble)).toString
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           p AS (SELECT * FROM (VALUES
             $rows) AS t(dim, pv))
         SELECT e.vec_id, p.dim,
           round(list_inner_product(e.v, p.pv) * $scale, 6) AS v
         FROM e CROSS JOIN p ORDER BY e.vec_id, p.dim"""
  }

  private def ivfDriftOracleSqlFor(cents: Array[Array[Double]]): String = {
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      val lit = c.map(_.toString).mkString("[", ",", "]")
      val half = (c.map(x => x * x).sum / 2).toString
      s"($i, $lit::DOUBLE[], $half)"
    }.mkString(",\n             ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             FROM embeddings WHERE vec_id % 2 = 1),
           cent AS (SELECT * FROM (VALUES
             $centRows) AS t(cell, cv, half)),
           held AS (SELECT cell FROM (
             SELECT e.vec_id, cent.cell, row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY (list_inner_product(e.v, cent.cv) - cent.half)
                   DESC, cent.cell DESC) AS rn
             FROM e CROSS JOIN cent) WHERE rn = 1),
           dr AS (SELECT cell FROM (
             SELECT e.vec_id, cent.cell, row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY (list_inner_product(
                     list_transform(e.v, x -> x + 1.0), cent.cv)
                   - cent.half) DESC, cent.cell DESC) AS rn
             FROM e CROSS JOIN cent) WHERE rn = 1),
           hc AS (SELECT cell, count(*) AS n_held FROM held GROUP BY cell),
           dc AS (SELECT cell, count(*) AS n_drift FROM dr GROUP BY cell),
           j AS (SELECT coalesce(hc.cell, dc.cell) AS cell,
                   coalesce(n_held, 0) AS n_held,
                   coalesce(n_drift, 0) AS n_drift
                 FROM hc FULL OUTER JOIN dc ON hc.cell = dc.cell)
           SELECT cell, n_held, n_drift,
             round(n_held::DOUBLE / (SELECT sum(n_held) FROM j), 6)
               AS share_held,
             round(n_drift::DOUBLE / (SELECT sum(n_drift) FROM j), 6)
               AS share_drift
           FROM j ORDER BY cell"""
  }
}
