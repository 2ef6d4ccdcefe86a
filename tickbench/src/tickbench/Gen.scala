package tickbench

/** SplitMix64: a tiny, fully specified PRNG, so the same seed yields the
  * same inputs on every JVM. */
final class Rng(private var state: Long) {
  def next(): Long = {
    state += 0x9E3779B97F4A7C15L
    Rng.mix(state)
  }
  /** Uniform in [0, n). */
  def below(n: Long): Long = java.lang.Long.remainderUnsigned(next(), n)
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** An independent stream per (seed, tags...). */
  def of(seed: Long, tags: Long*): Rng =
    new Rng(tags.foldLeft(mix(seed))((h, t) => mix(h ^ mix(t + 0x632BE59BD9B4E019L))))
}

/** The predicted reply of one op, compared against what the engine
  * returned. */
final case class Expect(rows: Long, volSum: Long, centsSum: Long,
    timeSum: Long, bars: Long)

/** One ranged point query: `get <subject>.tick {range:{start,stop}}`. */
final case class QueryOp(subject: String, startMs: Long, stopMs: Long,
    expect: Expect)

/** One bar scan: every subject's ticks of one day rolled into 1-minute
  * bars. */
final case class BarOp(day: Int, startMs: Long, stopMs: Long, expect: Expect)

/** One ingest cycle: `batches` JSON batches for one subject, each
  * followed by a read-back of its latest tick, then a save. */
final case class IngestCycle(subject: String, batches: Vector[IngestBatch])
final case class IngestBatch(json: String, rows: Int, lastTimeMs: Long,
    lastCents: Long, lastVol: Long)

/** Seeded tick history and op sequences.
  *
  * History: `subjects` × `days` × `ticksPerDay` ticks on the A-share
  * session (09:30-11:30, 13:00-15:00 UTC); per subject and day, times
  * are strictly increasing, prices are a cent random walk and volumes
  * are round lots. Prices are whole cents, so every checksum is an
  * exact integer sum. Ingest writes a new live day after the history.
  */
final class Gen(val seed: Long, val subjects: Int, val days: Int,
    val ticksPerDay: Int) {
  import Gen._

  val names: Vector[String] = Vector.tabulate(subjects)(subjectName)
  def dayStartMs(d: Int): Long = Day0Ms + d * DayMs
  val liveDay: Int = days

  private def idx(s: Int, d: Int, i: Int) = (s * days + d) * ticksPerDay + i
  private val n = subjects * days * ticksPerDay
  val timeMs = new Array[Long](n)
  val cents = new Array[Long](n)
  val vol = new Array[Long](n)

  for (s <- 0 until subjects; d <- 0 until days) {
    val (t, p, v) = series(seed, d, s, ticksPerDay)
    System.arraycopy(t, 0, timeMs, idx(s, d, 0), ticksPerDay)
    System.arraycopy(p, 0, cents, idx(s, d, 0), ticksPerDay)
    System.arraycopy(v, 0, vol, idx(s, d, 0), ticksPerDay)
  }

  def rowCount: Long = n.toLong

  /** History day `d` as (subject, time ms, cents, vol) rows. */
  def dayRows(d: Int): Iterator[(String, Long, Long, Long)] =
    for (s <- (0 until subjects).iterator; i <- (0 until ticksPerDay).iterator)
      yield { val k = idx(s, d, i); (names(s), timeMs(k), cents(k), vol(k)) }

  private def expectOf(s: Int, d: Int, lo: Long, hi: Long): Expect = {
    var rows, v, c, t = 0L
    var minutes = Set.empty[Long]
    for (i <- 0 until ticksPerDay) {
      val k = idx(s, d, i)
      if (timeMs(k) >= lo && timeMs(k) <= hi) {
        rows += 1; v += vol(k); c += cents(k); t += timeMs(k)
        minutes += timeMs(k) / 60000L
      }
    }
    Expect(rows, v, c, t, minutes.size.toLong)
  }

  /** The `j`-th ranged query: a seeded subject, day and 10-minute window
    * inside one half of the session. */
  def queryOp(j: Long): QueryOp = {
    val r = Rng.of(seed, QueryTag, j)
    val s = r.below(subjects).toInt
    val d = r.below(days).toInt
    val half = if (r.below(2) == 0) AmOpenMs else PmOpenMs
    val start = dayStartMs(d) + half + r.below(HalfMs - WindowMs + 1)
    val stop = start + WindowMs - 1
    QueryOp(names(s), start, stop, expectOf(s, d, start, stop))
  }

  /** Each history day's whole-day expectation, summed over subjects:
    * computed once, as there are only `days` distinct bar scans. */
  private lazy val dayExpect: Vector[Expect] = Vector.tabulate(days) { d =>
    val e = (0 until subjects).map(expectOf(_, d, dayStartMs(d), dayStartMs(d) + DayMs - 1))
    Expect(e.map(_.rows).sum, e.map(_.volSum).sum, e.map(_.centsSum).sum,
      e.map(_.timeSum).sum, e.map(_.bars).sum)
  }

  /** The `j`-th bar scan: a seeded history day. */
  def barOp(j: Long): BarOp = {
    val d = Rng.of(seed, BarTag, j).below(days).toInt
    BarOp(d, dayStartMs(d), dayStartMs(d) + DayMs - 1, dayExpect(d))
  }

  /** The `c`-th ingest cycle on the live day. Times are globally unique
    * (one slot per ingested row, 10 ms apart), so every written row is
    * a new row and the store grows by exactly the rows set. */
  def ingestCycle(c: Long, batches: Int, rowsPerBatch: Int): IngestCycle = {
    val r = Rng.of(seed, IngestTag, c)
    val s = r.below(subjects).toInt
    val base = dayStartMs(liveDay)
    val out = Vector.tabulate(batches) { k =>
      val sb = new StringBuilder("[")
      var t, p, v = 0L
      for (i <- 0 until rowsPerBatch) {
        t = base + ((c * batches + k) * rowsPerBatch + i) * LiveStepMs
        require(t < base + DayMs, "ingest ran past the live day")
        p = 100 + r.below(99900)
        v = 100L * (1 + r.below(50))
        if (i > 0) sb.append(',')
        sb.append("{\"time\":\"").append(java.time.Instant.ofEpochMilli(t))
          .append("\",\"price\":").append(centsToPrice(p))
          .append(",\"vol\":").append(v).append('}')
      }
      IngestBatch(sb.append(']').toString, rowsPerBatch, t, p, v)
    }
    IngestCycle(names(s), out)
  }
}

object Gen {
  val Day0Ms: Long = java.time.Instant.parse("2024-01-02T00:00:00Z").toEpochMilli
  val DayMs: Long = 86400000L
  val AmOpenMs: Long = (9 * 60 + 30) * 60000L
  val PmOpenMs: Long = 13 * 3600000L
  val HalfMs: Long = 2 * 3600000L
  val SessionMs: Long = 2 * HalfMs
  val WindowMs: Long = 10 * 60000L
  val LiveStepMs: Long = 10L
  private val HistoryTag = 1L
  private val QueryTag = 2L
  private val BarTag = 3L
  private val IngestTag = 4L

  /** One subject's ticks on history day `d`: (time ms, cents, vol),
    * from a stream of its own. */
  def series(seed: Long, d: Int, s: Int, ticks: Int)
      : (Array[Long], Array[Long], Array[Long]) = {
    val r = Rng.of(seed, HistoryTag, s, d)
    val step = SessionMs / ticks
    val t, p, v = new Array[Long](ticks)
    var price = 1000 + r.below(9000)
    for (i <- 0 until ticks) {
      t(i) = Day0Ms + d * DayMs + sessionWall(i * step + r.below(step))
      price = math.max(100L, price + r.below(7) - 3)
      p(i) = price
      v(i) = 100L * (1 + r.below(50))
    }
    (t, p, v)
  }

  def subjectName(s: Int): String = f"SH${600000 + s}%06d"

  /** Session offset → time of day. */
  def sessionWall(off: Long): Long =
    if (off < HalfMs) AmOpenMs + off else PmOpenMs + (off - HalfMs)

  /** Whole cents as the shortest decimal that parses to cents / 100.0. */
  def centsToPrice(c: Long): String = (c / 100.0).toString
}
