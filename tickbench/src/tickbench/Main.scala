package tickbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.api.Engine
import graft.ops.Rollup
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** One closed-loop, single-client run of one workload against the
  * engine's public surface. Records every op's timing and checked
  * reply, plus (traced) the per-op layer counters, and writes them as
  * one JSON record; `run.py` turns records into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <cpus> <dir>
  * `Main digest <seed> <n>` prints a digest of the generated inputs.
  */
object Main {
  val TickDsl = "{tick:{fields:{time:[T,8],price:[F,8],vol:[I,8]}}}"
  // History: subjects × days × ticks per subject-day. Each day is one
  // feed file and one ingest micro-batch.
  val Subjects = 100
  val Days = 2
  val Ticks = 800
  // Set-up runs this many times per run; setup_s takes the median.
  val Loads = 3
  // tick_ingest cycle: Batches × (set of Rows JSON rows, then gets), then save.
  val Batches = 2
  val Rows = 200

  /** Warm-up steps before measurement (one step is one get, one bar
    * scan or one whole ingest cycle), sized from block medians of long
    * runs: they cover the steepest part of the JIT warm-up curve, and
    * keep a run, set-up included, near 40 s. */
  def warmup(workload: String): Int = workload match {
    case "tick_query" => 100
    case "tick_ingest" => 12
    case "bar_scan" => 80
  }

  final case class Conf(workload: String, seed: Long, seconds: Double,
      traced: Boolean, cpus: Int, dir: String)

  /** One executed command, part of step `step` of the workload's op
    * sequence. `probe0/1` bracket it in the traced run. */
  final case class OpRec(id: String, kind: String, step: Long, t0Ns: Long,
      t1Ns: Long, rows: Long, bars: Long, ok: Boolean, warm: Boolean,
      probe0: Option[Probe], probe1: Option[Probe])

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("digest")) {
      println(digest(argv(1).toLong, argv(2).toInt))
      return
    }
    val Array(w, seed, secs, tr, cpus, dir) = argv
    val c = Conf(w, seed.toLong, secs.toDouble, tr == "1", cpus.toInt, dir)
    require(Set("tick_query", "tick_ingest", "bar_scan")(c.workload),
      s"unknown workload ${c.workload}")
    new Run(c).run()
  }

  /** A digest of the history and of the first `n` ops of every workload
    * — the determinism self-test compares these across seeds. */
  def digest(seed: Long, n: Int): String = {
    val g = new Gen(seed, 8, 3, 50)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(x: Any): Unit = md.update(x.toString.getBytes("UTF-8"))
    Seq(g.timeMs, g.cents, g.vol).foreach(_.foreach(add))
    (0 until n).foreach { j =>
      add(g.queryOp(j)); add(g.barOp(j)); add(g.ingestCycle(j, 2, 3))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private final class Run(c: Conf) {
    private val nano0 = System.nanoTime()
    private val wall0 = System.currentTimeMillis()
    private def wallMs(ns: Long): Double = wall0 + (ns - nano0) / 1e6
    private def secsSince(ns: Long): Double = (System.nanoTime() - ns) / 1e9
    private def secs(span: (Long, Long)): Double = (span._2 - span._1) / 1e9
    private val mapper = new ObjectMapper()
    private val failures = Vector.newBuilder[String]
    private var failureCount = 0
    private def fail(msg: String): Unit = {
      if (failureCount < 20) failures += msg
      failureCount += 1
    }

    def run(): Unit = {
      val tGen = System.nanoTime()
      val gen = new Gen(c.seed, Subjects, Days, Ticks)
      val genArraysS = secsSince(tGen)

      val tSession = System.nanoTime()
      val spark = session()
      val sessionSpan = (tSession, System.nanoTime())
      val trace = if (c.traced) Some(new Trace(spark)) else None

      val tFeed = System.nanoTime()
      val feed = s"${c.dir}/feed"
      writeFeed(gen, feed)
      val genS = genArraysS + secsSince(tFeed)

      // set-up is repeated `Loads` times on fresh roots and the median
      // reported; the last store serves the workload
      val loads = (1 to Loads).map { k =>
        val t0 = System.nanoTime()
        val engine = new Engine(spark, s"${c.dir}/store$k")
        engine.create(TickDsl)
        val q = engine.startIngest("tick", feed, s"${c.dir}/ckpt$k",
          maxFilesPerTrigger = Some(1))
        q.awaitTermination()
        val span = (t0, System.nanoTime())
        if (k > 1) deleteTree(s"${c.dir}/store${k - 1}")
        (engine, span, q.recentProgress.filter(_.numInputRows > 0).toSeq)
      }
      val engine = loads.last._1

      val ops = Vector.newBuilder[OpRec]
      var ingested = 0L
      // One command: only `call` is timed; `check` then judges its reply
      // and returns (rows, bars, ok).
      def op[R](kind: String, id: String, step: Long, warm: Boolean)(call: => R)(
          check: R => (Long, Long, Boolean)): Unit = {
        def failed(e: Exception) = {
          fail(s"$id: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          (0L, 0L, false)
        }
        val p0 = trace.map(_ => Probe.now())
        val t0 = System.nanoTime()
        val reply =
          try Right(trace.fold(call)(_.tagged(id)(call)))
          catch { case e: Exception => Left(e) }
        val t1 = System.nanoTime()
        val p1 = trace.map(_ => Probe.now())
        val (rows, bars, ok) = reply match {
          case Right(r) => try check(r) catch { case e: Exception => failed(e) }
          case Left(e) => failed(e)
        }
        ops += OpRec(id, kind, step, t0, t1, rows, bars, ok, warm, p0, p1)
      }

      // one step of the workload's op sequence
      def step(j: Long, warm: Boolean): Unit = c.workload match {
        case "tick_query" =>
          val q = gen.queryOp(j)
          op("get", s"get-$j", j, warm) {
            engine.get(s"${q.subject}.tick",
              s"""{range:{start:${q.startMs},stop:${q.stopMs}},format:"j"}""")
              .select("payload").collect()
          } { reply => (reply.length.toLong, 0L, checkPayload(j, reply, q.expect)) }
        case "bar_scan" =>
          val b = gen.barOp(j)
          op("bar", s"bar-$j", j, warm) {
            val day = engine.get("*.tick", s"{range:{start:${b.startMs},stop:${b.stopMs}}}")
            Rollup.ohlc(day,
              Seq(col("subject"), date_trunc("minute", col("time")).as("minute")),
              unix_millis(col("time")), col("price"), Some(col("vol")))
              .select("cnt", "volume").collect()
          } { bars =>
            val cnt = bars.map(_.getLong(0)).sum
            val volume = bars.map(_.getLong(1)).sum
            val ok = bars.length == b.expect.bars && cnt == b.expect.rows &&
              volume == b.expect.volSum
            if (!ok) fail(s"bar-$j: bars ${bars.length}/${b.expect.bars} " +
              s"cnt $cnt/${b.expect.rows} volume $volume/${b.expect.volSum}")
            (cnt, bars.length.toLong, ok)
          }
        case "tick_ingest" =>
          val cyc = gen.ingestCycle(j, Batches, Rows)
          val key = s"${cyc.subject}.tick"
          cyc.batches.zipWithIndex.foreach { case (b, k) =>
            op("set", s"set-$j-$k", j, warm)(engine.set(key, b.json)) { n =>
              ingested += n
              if (n != b.rows) fail(s"set-$j-$k: set $n of ${b.rows} rows")
              (n, 0L, n == b.rows)
            }
            op("gets", s"gets-$j-$k", j, warm) {
              engine.gets(key).select("time", "price", "vol").collect()
            } { last =>
              val ok = last.length == 1 &&
                last(0).getTimestamp(0).getTime == b.lastTimeMs &&
                math.round(last(0).getDouble(1) * 100) == b.lastCents &&
                last(0).getLong(2) == b.lastVol
              if (!ok) fail(s"gets-$j-$k: ${last.mkString(",")} is not the tick " +
                s"just written (${b.lastTimeMs}, ${b.lastCents}, ${b.lastVol})")
              (last.length.toLong, 0L, ok)
            }
          }
          op("save", s"save-$j", j, warm)(engine.save("tick"))(_ => (0L, 0L, true))
      }

      val tWarm = System.nanoTime()
      val warmSteps = warmup(c.workload)
      (0 until warmSteps).foreach(j => step(j, warm = true))
      val warmSpan = (tWarm, System.nanoTime())

      val tMeasure = System.nanoTime()
      val deadline = tMeasure + (c.seconds * 1e9).toLong
      var j = warmSteps.toLong
      while (System.nanoTime() < deadline) { step(j, warm = false); j += 1 }

      if (c.workload == "tick_ingest") {
        val n = engine.get("*.tick").count()
        if (n != gen.rowCount + ingested)
          fail(s"store holds $n rows, expected ${gen.rowCount} loaded + $ingested ingested")
      }

      val all = ops.result()
      trace.foreach(_.drain())
      val record = Map(
        "workload" -> c.workload, "seed" -> c.seed, "cpus" -> c.cpus,
        "traced" -> c.traced,
        "gen_s" -> genS, "session_s" -> secs(sessionSpan),
        "load_s" -> loads.map(l => secs(l._2)), "warmup_s" -> secs(warmSpan),
        "loaded_rows" -> gen.rowCount, "ingested_rows" -> ingested,
        "failures" -> failures.result(), "failure_count" -> failureCount,
        "ops" -> all.map(o => opJson(o, trace))) ++
        trace.map(t => traceJson(t, all, loads.flatMap(_._3),
          Loads, s"${c.dir}/store$Loads/tick", gen.rowCount + ingested,
          Loads * gen.rowCount + ingested,
          Seq("setup.session" -> sessionSpan, "setup.warmup" -> warmSpan) ++
            loads.zipWithIndex.map { case (l, k) => s"setup.load.${k + 1}" -> l._2 }))
          .getOrElse(Map.empty)
      val out = java.nio.file.Paths.get(c.dir, "record.json")
      java.nio.file.Files.write(out, new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsBytes(record))
      spark.stop()
    }

    /** A ranged get's reply is one rendered JSON object per tick; its
      * row count and checksums must match the generator's window. */
    private def checkPayload(j: Long, reply: Array[Row], e: Expect): Boolean = {
      var vol, cents, time = 0L
      reply.foreach { r =>
        val n = mapper.readTree(r.getString(0))
        vol += n.get("vol").asLong()
        cents += math.round(n.get("price").asDouble() * 100)
        time += java.time.OffsetDateTime.parse(n.get("time").asText())
          .toInstant.toEpochMilli
      }
      val ok = reply.length == e.rows && vol == e.volSum &&
        cents == e.centsSum && time == e.timeSum
      if (!ok) fail(s"get-$j: rows ${reply.length}/${e.rows} vol $vol/${e.volSum} " +
        s"cents $cents/${e.centsSum} time $time/${e.timeSum}")
      ok
    }

    private def opJson(o: OpRec, trace: Option[Trace]): Map[String, Any] = {
      val base = Map[String, Any]("id" -> o.id, "kind" -> o.kind, "step" -> o.step,
        "t0" -> wallMs(o.t0Ns), "t1" -> wallMs(o.t1Ns),
        "ms" -> (o.t1Ns - o.t0Ns) / 1e6, "rows" -> o.rows, "bars" -> o.bars,
        "ok" -> o.ok, "warm" -> o.warm)
      (trace, o.probe0, o.probe1) match {
        case (Some(t), Some(p0), Some(p1)) =>
          val tasks = t.tasksOf(o.id)
          val ph = t.phasesIn(wallMs(o.t0Ns).toLong, wallMs(o.t1Ns).toLong + 1)
          base ++ Map(
            "stages" -> tasks.map(_.stage).distinct.size,
            "tasks" -> tasks.size,
            "task_run_ms" -> tasks.map(_.runMs).sum,
            "records_read" -> tasks.map(_.recordsRead).sum,
            "bytes_read" -> tasks.map(_.bytesRead).sum,
            "bytes_written" -> tasks.map(_.bytesWritten).sum,
            "analysis_ms" -> ph.map(_.analysisMs).sum,
            "optimizer_ms" -> ph.map(_.optimizerMs).sum,
            "planning_ms" -> ph.map(_.planningMs).sum,
            "compiles" -> (p1.compiles - p0.compiles),
            "compile_ms" -> (p1.compileMs - p0.compileMs),
            "gc_ms" -> (p1.gcMs - p0.gcMs),
            "fs" -> CountingLocalFs.Kinds.zipWithIndex.map { case (k, i) =>
              k -> (p1.fs(i) - p0.fs(i)) }.toMap)
        case _ => base
      }
    }

    /** Spans: each op, the Spark jobs it issued, and the set-up phases.
      * Times are wall-clock ms; `parent` names the enclosing span. */
    private def spans(t: Trace, ops: Seq[OpRec],
        setup: Seq[(String, (Long, Long))]): Seq[Map[String, Any]] = {
      def span(name: String, id: String, start: Double, end: Double,
          parent: String, op: String) = Map("name" -> name, "id" -> id,
        "start" -> start, "end" -> end, "parent" -> parent, "op" -> op)
      setup.map { case (n, (a, b)) => span(n, n, wallMs(a), wallMs(b), "setup", "") } ++
        ops.flatMap { o =>
          span(s"op.${o.kind}", o.id, wallMs(o.t0Ns), wallMs(o.t1Ns), "", o.id) +:
            t.jobsOf(o.id).map(jb => span("spark.job", s"job-${jb.id}",
              jb.startMs.toDouble, jb.endMs.toDouble, o.id, o.id))
        }
    }

    private def traceJson(t: Trace, ops: Seq[OpRec],
        progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
        loads: Int, root: String, storeRows: Long, committedRows: Long,
        setupSpans: Seq[(String, (Long, Long))]): Map[String, Any] = {
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val files = walk(new java.io.File(root))
      val dayDirs = Option(new java.io.File(root).listFiles).getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("__day="))
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum
      Map(
        "stream" -> progress.map(p => Map(
          "batch_ms" -> dur(p, "triggerExecution"),
          "add_batch_ms" -> dur(p, "addBatch"),
          "wal_commit_ms" -> dur(p, "walCommit"),
          "latest_offset_ms" -> dur(p, "latestOffset"),
          "query_planning_ms" -> dur(p, "queryPlanning"))),
        "stream_batches_per_load" -> progress.size.toDouble / loads,
        "bytes_written_total" -> t.allTasks.map(_.bytesWritten).sum,
        "committed_rows" -> committedRows,
        "store_rows" -> storeRows,
        "disk_bytes" -> files.map(_.length).sum,
        "data_files" -> files.count(_.getName.endsWith(".parquet")),
        "day_dirs" -> dayDirs,
        "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
        "heap_peak_mb" -> heapPeak / 1048576.0,
        "spans" -> spans(t, ops, setupSpans))
    }

    private def session(): SparkSession = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("tickbench")
      // graft.Bench's session settings
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "100000")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // keep every file the run writes inside its own directory
      .config("spark.local.dir", s"${c.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.dir}/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config(if (c.traced) Map("spark.hadoop.fs.file.impl" ->
        classOf[CountingLocalFs].getName) else Map.empty[String, String])
      .getOrCreate()

    /** The bulk-load feed: one parquet file per history day, so the
      * ingest stream commits one micro-batch per day. Written straight
      * through parquet's own writer: generating inputs runs no Spark job. */
    private def writeFeed(gen: Gen, feed: String): Unit = {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message tick { required int64 time (TIMESTAMP(MICROS,true)); " +
          "required double price; required int64 vol; required binary subject (STRING); }")
      val groups = new SimpleGroupFactory(schema)
      (0 until gen.days).foreach { d =>
        val w = ExampleParquetWriter
          .builder(new org.apache.hadoop.fs.Path(f"$feed/day-$d%03d.parquet"))
          .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
        try gen.dayRows(d).foreach { case (subject, t, cents, v) =>
          w.write(groups.newGroup().append("time", t * 1000L)
            .append("price", cents / 100.0).append("vol", v).append("subject", subject))
        } finally w.close()
      }
    }

    private def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f) else Nil

    private def deleteTree(p: String): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
  }
}
