package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Param

/** The reference's `get` query semantics re-expressed as DataFrame
  * transformations.
  *
  * Reference contract (workers/sisdb/sisdb_fmap.h:101-137, parse in
  * workers/sisdb/sisdb_io.c:23-93, exec sisdb_fmap_ctrl.c:575-663):
  *
  *  - `range {start, stop}`: inclusive [start, stop] on the main (time)
  *    index. `start = -1` ⇒ latest record; `stop = 0` ⇒ rows == start;
  *    `stop = -1` ⇒ start..latest. `ifprev = 1` ⇒ if nothing matched,
  *    fall back to the last record before `start` (as-of).
  *  - `where {start, offset}`: strict equality on the main index;
  *    `offset = ±N` steps N records back/forward from the match
  *    (sisdb_fmap_ctrl.c:575-592, offset walk 411-438).
  *  - `count = ±N` caps the result to the first/last N rows
  *    (sisdb_fmap.h:150-160).
  *  - `fields:"a,b"` projects columns (sisdb_io.c:79-93).
  *
  * All operators are per-subject: windows partition by the subject
  * column, so on a cluster each key's series is processed inside one
  * shuffle partition — no driver-side iteration, no cross-key skew
  * coupling.
  *
  * Per-command values — the range bounds, the `ifprev` fallback bound,
  * the `where` match value and the `count` cap — enter the plan as
  * [[graft.functions.Param]]s, not literals: the generated code then
  * has the same text for every value, so a session's later commands
  * hit Spark's codegen cache instead of paying a Janino compile each.
  * The `where` offset stays a literal, because `lag`/`lead` need a
  * foldable offset for their window frame. The bounds are not typed
  * `time` literals either: a timestamp literal is inlined into
  * `FilterExec`'s generated code (bringing the compile back), and
  * parquet pushdown on it saves nothing on the store's one row group
  * per day file — the store prunes whole days instead
  * ([[graft.store.TsStore.read]]).
  */
object Query {

  /** Inclusive time-range query with the reference's sentinel semantics.
    *
    * @param start  -1 ⇒ latest row per subject
    * @param stop   0 ⇒ equality with start; -1 ⇒ open-ended (to latest)
    * @param ifprev fall back to last row strictly before `start` when
    *               the range matches nothing (per subject)
    */
  def range(
      df: DataFrame,
      subject: String,
      time: String,
      start: Long,
      stop: Long,
      ifprev: Boolean = false,
      tieBreak: Seq[String] = Nil,
      toLong: Column => Column = identity): DataFrame = {
    val t = toLong(col(time))
    if (start == -1L) {
      // latest record per subject: one shuffle, map-side combinable
      lastRows(df, subject, time, toLong)
    } else {
      val cond =
        if (stop == 0L) t === Param(start)
        else if (stop == -1L) t >= Param(start)
        else t.between(Param(start), Param(stop))
      if (!ifprev) df.filter(cond)
      else {
        // rows matching, plus per-subject as-of fallback when none match
        val w = Window.partitionBy(subject)
        val matched = df.withColumn("__hit", max(when(cond, 1).otherwise(0)).over(w))
        val hits = matched.filter(col("__hit") === 1 && cond).drop("__hit")
        val prevW = Window.partitionBy(subject)
          .orderBy(t.desc +: tieBreak.map(col(_).desc): _*)
        val fallback = matched
          .filter(col("__hit") === 0 && t < Param(start))
          .withColumn("__rn", row_number().over(prevW))
          .filter(col("__rn") === 1)
          .drop("__hit", "__rn")
        hits.unionByName(fallback)
      }
    }
  }

  /** Exact-match (`where`) with record-offset navigation: the row(s)
    * `offset` records away from each exact match in time order.
    */
  def whereOffset(
      df: DataFrame,
      subject: String,
      time: String,
      value: Long,
      offset: Int,
      tieBreak: Seq[String] = Nil,
      toLong: Column => Column = identity): DataFrame = {
    val t = toLong(col(time))
    val order = t.asc +: tieBreak.map(col(_).asc)
    val w = Window.partitionBy(subject).orderBy(order: _*)
    // Row r is selected iff the row `offset` positions away from r (in
    // time order) is an exact match — i.e. shift the hit marker by
    // -offset onto r. Single window pass, one shuffle, no join.
    val hit = when(t === Param(value), 1).otherwise(0)
    val shifted =
      if (offset == 0) hit
      else if (offset > 0) lag(hit, offset).over(w)
      else lead(hit, -offset).over(w)
    df.withColumn("__sel", shifted)
      .filter(col("__sel") === 1)
      .drop("__sel")
  }

  /** Latest record per subject (`gets`, workers/sisdb/sisdb.c:358-395):
    * single aggregation — map-side partial `max_by` keeps the shuffle
    * tiny (one row per subject per input partition).
    */
  def lastRows(
      df: DataFrame,
      subject: String,
      time: String,
      toLong: Column => Column = identity,
      tieBreak: Option[String] = None): DataFrame = {
    val key = tieBreak match {
      case Some(tb) => struct(toLong(col(time)), col(tb))
      case None     => struct(toLong(col(time)))
    }
    val others = df.columns.filterNot(_ == subject)
    df.groupBy(subject)
      .agg(max_by(struct(others.toSeq.map(col): _*), key).as("__row"))
      .select(col(subject) +: others.toSeq.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** `count = ±N`: first (N>0) or last (N<0) N rows per subject in time
    * order (sisdb_fmap.h:150-160).
    */
  def limitPerSubject(
      df: DataFrame,
      subject: String,
      time: String,
      count: Int,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(count != 0, "count must be non-zero")
    val base =
      if (count > 0) col(time).asc +: tieBreak.map(col(_).asc)
      else col(time).desc +: tieBreak.map(col(_).desc)
    val w = Window.partitionBy(subject).orderBy(base: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= Param(math.abs(count)))
      .drop("__rn")
  }

  /** Field projection (`fields:"open,close"`, sisdb_io.c:79-93). */
  def fields(df: DataFrame, names: Seq[String]): DataFrame =
    df.select(names.map(col): _*)

  /** Full `get` matrix entry "day1 0 ±N day2" (sisdb_fmap.h:104-110):
    * a range filter with a count cap — count > 0 keeps the first N of
    * the matched range per subject, count < 0 the last N. */
  def rangeCount(
      df: DataFrame,
      subject: String,
      time: String,
      start: Long,
      stop: Long,
      count: Int,
      tieBreak: Seq[String] = Nil,
      toLong: Column => Column = identity): DataFrame =
    limitPerSubject(range(df, subject, time, start, stop, toLong = toLong),
      subject, time, count, tieBreak)
}
