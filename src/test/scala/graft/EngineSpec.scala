package graft

import graft.api.Engine
import java.nio.file.Files

/** Drive the command facade exactly like a reference client: create →
  * set → get (range/where/fields/format) → keys → sub → del → drop →
  * save → pack. */
class EngineSpec extends SparkSpec {

  private def mkEngine = new Engine(spark,
    Files.createTempDirectory("graft_engine").toString)

  private val stkDay =
    "{stk_day:{fields:{time:[D,4],open:[P,4,1,2],close:[P,4,1,2],vol:[U,4]}}}"

  test("set json rows, get with range + fields + array format") {
    val e = mkEngine
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """[{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100},
          {"time":"2021-01-05","open":10.50,"close":10.40,"vol":200},
          {"time":"2021-02-01","open":10.40,"close":11.00,"vol":300}]""")
    e.set("SH600601.stk_day",
      """{"time":"2021-01-04","open":5.00,"close":5.10,"vol":50}""")

    // range in day-int space, projected fields, array format
    val out = e.get("SH600600.stk_day",
      """{range:{start:20210101,stop:20210131},fields:"time,close",format:"a"}""")
    val rows = out.select("payload").collect().map(_.getString(0)).sorted
    assert(rows.length == 2)
    assert(rows(0).contains("10.50") && rows(1).contains("10.40"))

    // latest per subject (start=-1) across a wildcard
    val last = e.get("*.stk_day", """{range:{start:-1}}""")
    assert(last.count() == 2)

    // where + equality
    val w = e.get("SH600600.stk_day", """{where:{start:20210105}}""")
    assert(w.count() == 1)
    assert(w.collect()(0).getAs[Double]("close") == 10.4)
  }

  test("same-time set replaces (time-indexed upsert), keys matching") {
    val e = mkEngine
    e.create(stkDay)
    e.set("SH600600.stk_day", """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    e.set("SH600600.stk_day", """{"time":"2021-01-04","open":1.0,"close":3.0,"vol":2}""")
    val got = e.get("SH600600.stk_day", """{where:{start:20210104}}""")
    assert(got.count() == 1) // 修改即全部替换 — same time replaces
    assert(got.collect()(0).getAs[Double]("close") == 3.0)

    e.set("SZ000001.stk_day", """{"time":"2021-01-04","open":9.0,"close":9.1,"vol":3}""")
    assert(e.keys("SH6*.stk_day").count() == 1)
    assert(e.keys("*.stk_day").count() == 2)
  }

  test("comma-list key addressing: get, keys, sub (sisdb.h:44-49)") {
    val e = mkEngine
    e.create(stkDay)
    e.set("SH600600.stk_day", """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    e.set("SH600601.stk_day", """{"time":"2021-01-04","open":3.0,"close":4.0,"vol":2}""")
    e.set("SZ000001.stk_day", """{"time":"2021-01-04","open":9.0,"close":9.1,"vol":3}""")

    // exact comma list — compiles to one In(subject, …), one scan
    val two = e.get("SH600600,SH600601.stk_day", """{range:{start:-1}}""")
    assert(two.select("subject").collect().map(_.getString(0)).sorted
      .sameElements(Array("SH600600", "SH600601")))
    // mixed prefix + exact elements
    assert(e.get("SH6*,SZ000001.stk_day", """{range:{start:-1}}""").count() == 3)
    assert(e.keys("SH600601,SZ0*.stk_day").collect().map(_.getString(0)).sorted
      .sameElements(Array("SH600601", "SZ000001")))
    // a `*` element swallows the list
    assert(e.keys("SH600600,*.stk_day").count() == 3)

    // count < 0 through the command surface: last N per subject
    e.set("SH600600.stk_day",
      """[{"time":"2021-01-05","open":2.0,"close":2.5,"vol":2},
          {"time":"2021-01-06","open":3.0,"close":3.5,"vol":3}]""")
    val lastTwo = e.get("SH600600.stk_day", """{count:-2}""")
    assert(lastTwo.count() == 2)
    assert(lastTwo.select("close").collect().map(_.getDouble(0)).sorted
      .sameElements(Array(2.5, 3.5)))

    // comma list inside a single sub pattern
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    e.sub("mk", Seq("SH600601,SZ000001"))(df => seen.addAndGet(df.count()))
    e.set("SH600600.stk_day", """{"time":"2021-01-05","open":1.0,"close":2.0,"vol":1}""")
    e.set("SH600601.stk_day", """{"time":"2021-01-05","open":3.0,"close":4.0,"vol":2}""")
    e.set("SZ000001.stk_day", """{"time":"2021-01-05","open":9.0,"close":9.2,"vol":3}""")
    assert(seen.get() == 2) // SH600600 not subscribed
  }

  test("multi-table get returns tagged rendered payloads") {
    val e = mkEngine
    e.create(stkDay)
    e.create(
      "{stk_week:{fields:{time:[D,4],open:[P,4,1,2],close:[P,4,1,2],vol:[U,4]}}}")
    e.set("SH600600.stk_day", """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    e.set("SH600600.stk_week", """{"time":"2021-01-08","open":1.0,"close":2.2,"vol":5}""")
    val out = e.get("SH600600.stk_day,stk_week", """{range:{start:-1}}""")
    val rows = out.select("table", "payload").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.size == 2)
    assert(rows("stk_day").contains("2.0") && rows("stk_week").contains("2.2"))
    // DataFrame format is ill-defined across schemas — loud error
    val err = intercept[IllegalArgumentException] {
      e.get("SH600600.stk_day,stk_week", """{format:"s"}""")
    }
    assert(err.getMessage.contains("rendered"))
    // a malformed format must fail the same clear way, not surface as
    // a missing-payload AnalysisException downstream
    assert(intercept[IllegalArgumentException] {
      e.get("SH600600.stk_day,stk_week", """{format:"sx"}""")
    }.getMessage.contains("rendered"))

    // per-table params: each table gets its own fields; unlisted tables
    // inherit the shared params
    val per = e.get("SH600600.stk_day,stk_week",
      """{range:{start:-1},tables:{stk_day:{range:{start:-1},fields:"time,vol"}}}""")
      .select("table", "payload").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(per("stk_day").contains("vol") && !per("stk_day").contains("close"))
    assert(per("stk_week").contains("close"))
  }

  test("table-qualified sub patterns: subjects.tables (sisdb.h:44-49)") {
    val e = mkEngine
    e.create(stkDay)
    e.create(
      "{stk_week:{fields:{time:[D,4],open:[P,4,1,2],close:[P,4,1,2],vol:[U,4]}}}")
    val dayOnly = new java.util.concurrent.atomic.AtomicLong(0)
    val weekAny = new java.util.concurrent.atomic.AtomicLong(0)
    val both = new java.util.concurrent.atomic.AtomicLong(0)
    e.sub("dayOnly", Seq("SH600600.stk_day"))(df => dayOnly.addAndGet(df.count()))
    e.sub("weekAny", Seq("*.stk_week"))(df => weekAny.addAndGet(df.count()))
    e.sub("both", Seq("SH600600.stk_day,stk_week"))(df => both.addAndGet(df.count()))

    e.set("SH600600.stk_day", """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    e.set("SH600600.stk_week", """{"time":"2021-01-08","open":1.0,"close":2.0,"vol":5}""")
    e.set("SZ000001.stk_day", """{"time":"2021-01-04","open":9.0,"close":9.1,"vol":3}""")

    assert(dayOnly.get() == 1) // its table and subject only
    assert(weekAny.get() == 1) // any subject, week table only
    assert(both.get() == 2)    // SH600600 across the table comma list
  }

  test("bset: packed binary rows through the command surface (M2)") {
    import graft.sources.BinaryRows
    import org.apache.spark.sql.functions.{col, struct}
    val e = mkEngine
    val sdb = e.create(stkDay)
    import spark.implicits._
    val packed = Seq(
      ("2021-01-04", 10.10, 10.50, 100L),
      ("2021-01-05", 10.50, 10.40, 200L))
      .toDF("time", "open", "close", "vol")
      .select(col("time").cast("date").as("time"), col("open"),
        col("close"), col("vol"))
      .select(BinaryRows.pack(
        struct(col("time"), col("open"), col("close"), col("vol")), sdb).as("b"))
      .collect().map(_.getAs[Array[Byte]]("b")).toSeq
    assert(e.bset("SH600600.stk_day", packed) == 2)
    val back = e.get("SH600600.stk_day",
      """{range:{start:20210101,stop:20210131}}""").orderBy("time").collect()
    assert(back.length == 2)
    assert(back(0).getAs[Double]("close") == 10.50 &&
      back(1).getAs[Long]("vol") == 200L)
    // binary and JSON sets land in the same store: same-time JSON set
    // replaces the packed row
    e.set("SH600600.stk_day",
      """{"time":"2021-01-05","open":10.50,"close":9.99,"vol":300}""")
    val merged = e.get("SH600600.stk_day", """{where:{start:20210105}}""").collect()
    assert(merged.length == 1 && merged(0).getAs[Double]("close") == 9.99)
  }

  test("show and gets: catalog introspection + last-row sugar (sisdb.c:15,22)") {
    val e = mkEngine
    e.create(stkDay)
    e.create(
      "{stk_week:{fields:{time:[D,4],open:[P,4,1,2],close:[P,4,1,2],vol:[U,4]}}}")
    val tables = e.show().collect()
    assert(tables.map(_.getString(0)).sorted.sameElements(
      Array("stk_day", "stk_week")))
    assert(tables.forall(_.getString(2) == "time"))
    val fields = e.show("stk_day").collect()
    assert(fields.map(_.getString(0)).toSeq ==
      Seq("time", "open", "close", "vol"))
    assert(fields.find(_.getString(0) == "close").get.getInt(4) == 2) // dot
    e.set("SH600600.stk_day",
      """[{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1},
          {"time":"2021-01-05","open":2.0,"close":3.0,"vol":2}]""")
    e.set("SH600601.stk_day", """{"time":"2021-01-04","open":5.0,"close":5.1,"vol":3}""")
    val last = e.gets("SH600600,SH600601.stk_day").collect()
    assert(last.length == 2)
    assert(last.map(_.getAs[Double]("close")).sorted.sameElements(
      Array(3.0, 5.1)))
  }

  test("keys accepts a table comma list (sisdb.h:44-49)") {
    val e = mkEngine
    e.create(stkDay)
    e.create(
      "{stk_week:{fields:{time:[D,4],open:[P,4,1,2],close:[P,4,1,2],vol:[U,4]}}}")
    e.set("SH600600.stk_day", """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    e.set("SZ000001.stk_week", """{"time":"2021-01-08","open":9.0,"close":9.1,"vol":2}""")
    assert(e.keys("*.stk_day,stk_week").collect().map(_.getString(0)).sorted
      .sameElements(Array("SH600600", "SZ000001")))
    assert(e.keys("SH6*.stk_day,stk_week").count() == 1)
  }

  test("bad inputs fail with clear errors, not corruption") {
    val e = mkEngine
    e.create(stkDay)
    val unknown = intercept[IllegalArgumentException] {
      e.set("SH600600.nosuch", """{"time":"2021-01-04"}""")
    }
    assert(unknown.getMessage.contains("nosuch"))
    val badKey = intercept[IllegalArgumentException] {
      e.get("notable", "{}")
    }
    assert(badKey.getMessage.contains("subject.table"))
    // store untouched by the failures
    e.set("SH600600.stk_day", """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    assert(e.get("SH600600.stk_day", """{range:{start:-1}}""").count() == 1)
  }

  test("sub fan-out on set; del range; drop; save + pack") {
    val e = mkEngine
    e.create(stkDay)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    e.sub("client1", Seq("SH6*"))(df => seen.addAndGet(df.count()))
    e.set("SH600600.stk_day",
      """[{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1},
          {"time":"2021-01-05","open":2.0,"close":3.0,"vol":2},
          {"time":"2021-01-06","open":3.0,"close":4.0,"vol":3}]""")
    e.set("SZ000001.stk_day", """{"time":"2021-01-04","open":9.0,"close":9.1,"vol":4}""")
    assert(seen.get() == 3) // prefix subscriber saw only SH6*

    e.del("SH600600.stk_day", """{range:{start:20210105,stop:20210105}}""")
    assert(e.get("SH600600.stk_day", """{range:{start:20210101,stop:20211231}}""")
      .count() == 2)

    e.save("stk_day")
    e.pack("stk_day", files = 1)
    assert(e.get("SH600600.stk_day", """{range:{start:20210101,stop:20211231}}""")
      .count() == 2)

    e.drop("SZ000001.stk_day")
    assert(e.keys("*.stk_day").count() == 1)
  }

  test("pub: publish without a store write (memdb.h:43-44)") {
    val e = mkEngine
    e.create(stkDay)
    val seen = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    e.sub("w", Seq("SH6*.stk_day"))(df =>
      df.collect().foreach(r => seen +=
        ((r.getAs[String]("subject"), r.getAs[Long]("vol")))))
    // matching subscriber sees typed rows; nothing lands in the store
    val n = e.pub("SH600600.stk_day",
      """[{"time":"2021-01-04","open":1.0,"close":2.0,"vol":7},
          {"time":"2021-01-05","open":2.0,"close":3.0,"vol":8}]""")
    assert(n == 2)
    assert(seen.toSeq == Seq(("SH600600", 7L), ("SH600600", 8L)))
    // table-qualified patterns filter pub like set: wrong subject → no fan-out
    e.pub("SZ000001.stk_day",
      """{"time":"2021-01-04","open":9.0,"close":9.0,"vol":9}""")
    assert(seen.size == 2, "pub leaked past the subject pattern")
    // the store never saw the published rows
    assert(e.get("*.stk_day", "{}").count() == 0,
      "pub wrote to the store — must be transient")
  }

  test("del sentinels mirror the reference (sisdb_io.c:246-288)") {
    def freshEngine = {
      val e = mkEngine
      e.create(stkDay)
      e.set("SH600600.stk_day",
        """[{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1},
            {"time":"2021-01-05","open":2.0,"close":3.0,"vol":2},
            {"time":"2021-01-06","open":3.0,"close":4.0,"vol":3}]""")
      e
    }
    def times(e: Engine) = e.get("SH600600.stk_day", "{}")
      .select("time").collect().map(_.getDate(0).toString).sorted.toSeq

    // missing stop defaults to START — a point delete, not "to index 0"
    val e1 = freshEngine
    e1.del("SH600600.stk_day", """{range:{start:20210105}}""")
    assert(times(e1) == Seq("2021-01-04", "2021-01-06"),
      s"missing-stop point delete broke: ${times(e1)}")

    // stop:-1 is open-ended (start..latest)
    val e2 = freshEngine
    e2.del("SH600600.stk_day", """{range:{start:20210105,stop:-1}}""")
    assert(times(e2) == Seq("2021-01-04"), s"open-ended del broke: ${times(e2)}")

    // where:{start} is an exact-index point delete
    val e3 = freshEngine
    e3.del("SH600600.stk_day", """{where:{start:20210104}}""")
    assert(times(e3) == Seq("2021-01-05", "2021-01-06"),
      s"where-form del broke: ${times(e3)}")

    // no params / range without start: the command is a NO-OP ("必须带
    // 参数 否则不执行删除操作") — nothing deleted, nothing thrown
    val e4 = freshEngine
    e4.del("SH600600.stk_day", "{}")
    e4.del("SH600600.stk_day", """{range:{stop:20210106}}""")
    e4.del("SH600600.stk_day", """{where:{}}""")
    assert(times(e4).size == 3, s"param-less del was not a no-op: ${times(e4)}")

    // dels = comma-list del
    val e5 = freshEngine
    e5.set("SH600601.stk_day",
      """{"time":"2021-01-05","open":5.0,"close":5.1,"vol":9}""")
    e5.dels("SH600600,SH600601.stk_day", """{range:{start:20210105}}""")
    assert(e5.get("*.stk_day", "{}").count() == 2)
  }

  test("update command: AND/OR/range search, val assignment (sisdb.h:50-53)") {
    val e = mkEngine
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """[{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1},
          {"time":"2021-01-05","open":2.0,"close":3.0,"vol":2},
          {"time":"2021-01-06","open":3.0,"close":4.0,"vol":3}]""")
    // AND object search: one row matched, val rewrites two fields
    val n = e.update("SH600600.stk_day",
      """{search:{vol:2}, val:{close:9.9, vol:20}}""")
    assert(n == 1)
    val row = e.get("SH600600.stk_day", """{where:{start:20210105}}""").collect()(0)
    assert(row.getAs[Double]("close") == 9.9 && row.getAs[Long]("vol") == 20L)

    // range search {min,max} + OR array; update survives save
    assert(e.update("SH600600.stk_day",
      """{search:[{vol:{min:3,max:5}},{vol:1}], val:{open:0.0}}""") == 2)
    e.save("stk_day")
    val opens = e.get("SH600600.stk_day", """{range:{start:20210101,stop:20211231}}""")
      .orderBy("time").collect().map(_.getAs[Double]("open")).toSeq
    assert(opens == Seq(0.0, 2.0, 0.0))

    // malformed params rejected loudly
    assert(intercept[IllegalArgumentException] {
      e.update("SH600600.stk_day", """{val:{open:1.0}}""")
    }.getMessage.contains("search"))
    assert(intercept[IllegalArgumentException] {
      e.update("SH600600.stk_day", """{search:{vol:1}, val:{nosuch:1.0}}""")
    }.getMessage.contains("nosuch"))
  }

  test("factor auto-create: fset/fget (disk/readme.md degenerate table)") {
    val e = mkEngine
    // no create() — first fset declares the {time:T, value:F8} table
    e.fset("00001.macd", 1000L, 12.60)
    e.fset("00001.macd", 2000L, 12.70)
    e.fset("00002.macd", 1000L, -1.5)
    val got = e.fget("00001.macd", 0L, 1500L).collect()
    assert(got.length == 1 && got(0).getAs[Double]("value") == 12.60)
    assert(e.fget("*.macd", 0L, 3000L).count() == 3)
    // same factor name under a different subject stays separate; a
    // second factor table auto-creates independently
    e.fset("00001.boll", 1000L, 7.0)
    assert(e.fget("00001.boll", 0L, 3000L).collect()(0)
      .getAs[Double]("value") == 7.0)
  }

  test("unstructured ONE/MUL styles: kset/kget/kpush/krange") {
    val e = mkEngine
    e.kset("cfg.host", "first")
    e.kset("cfg.host", "second") // ONE: last write wins
    e.kset("cfg.port", "8080")
    assert(e.kget("cfg.host").collect()(0).getAs[String]("value") == "second")
    assert(e.kget("cfg.*").count() == 2) // pattern vocabulary applies
    e.kpush("log", "a"); e.kpush("log", "b"); e.kpush("log", "c")
    assert(e.krange("log").collect().map(_.getAs[String]("value")).toSeq ==
      Seq("a", "b", "c"))
    // keys are bare strings — the KV surface must not require a
    // subject.table shape and dots inside keys are data, not splits
    assert(e.kget("cfg.host").collect()(0).getAs[String]("key") == "cfg.host")
    // subscribing to a dotted KV key: table-qualify the pattern (the
    // sub grammar splits on the LAST dot, so the __one qualifier makes
    // "cfg.host" the subject side)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    e.sub("kvwatch", Seq("cfg.host.__one"))(df => seen.addAndGet(df.count()))
    e.kset("cfg.host", "third")
    e.kset("cfg.other", "x") // different key — not delivered
    assert(seen.get() == 1)
  }

  test("replay command: stored day through subs, table-qualified patterns") {
    val e = mkEngine
    e.create(stkDay)
    e.create(
      "{stk_week:{fields:{time:[D,4],open:[P,4,1,2],close:[P,4,1,2],vol:[U,4]}}}")
    e.set("SH600600.stk_day",
      """[{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1},
          {"time":"2021-01-04","open":1.0,"close":2.5,"vol":2},
          {"time":"2021-01-05","open":2.0,"close":3.0,"vol":3}]""")
    e.set("SZ000001.stk_day", """{"time":"2021-01-04","open":9.0,"close":9.1,"vol":4}""")
    val sh = new java.util.concurrent.atomic.AtomicLong(0)
    val wk = new java.util.concurrent.atomic.AtomicLong(0)
    e.sub("sh", Seq("SH6*.stk_day"))(df => sh.addAndGet(df.count()))
    e.sub("wk", Seq("*.stk_week"))(df => wk.addAndGet(df.count()))
    // day 2021-01-04: SH600600 has ONE live row there (same-time upsert
    // collapsed vol 1→2) + SZ's row; the week-table subscriber sees none
    val replayed = e.replay("stk_day", "2021-01-04", slices = 2)
    assert(replayed == 2, s"replayed $replayed")
    assert(sh.get() == 1, "subject+table pattern missed/overcounted replay")
    assert(wk.get() == 0, "table-qualified pattern leaked a replay of another table")
  }

  test("drop is a tombstone: no rewrite, SQL view tracks it, pack erases") {
    val e = mkEngine
    e.create(stkDay)
    e.set("SH600600.stk_day", """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    e.set("SZ000001.stk_day", """{"time":"2021-01-04","open":9.0,"close":9.1,"vol":2}""")
    val qn = e.exposeSql("stk_day", db = "graft_tomb")
    assert(spark.sql(s"SELECT * FROM $qn").count() == 2)
    e.drop("SZ000001.stk_day")
    // Scala path and SQL path agree immediately, with no file rewrite
    assert(e.keys("*.stk_day").count() == 1)
    assert(spark.sql(s"SELECT * FROM $qn").count() == 1,
      "SQL view still serves dropped subject")
    // re-create after drop
    e.set("SZ000001.stk_day", """{"time":"2021-01-05","open":8.0,"close":8.1,"vol":3}""")
    e.save("stk_day")
    assert(spark.sql(s"SELECT subject FROM $qn").count() == 2)
    // pack materializes; view stays correct with the tombstone gone
    e.pack("stk_day", files = 1)
    assert(spark.sql(s"SELECT * FROM $qn").count() == 2)
    assert(e.get("SZ000001.stk_day", """{range:{start:-1}}""").collect()(0)
      .getAs[Long]("vol") == 3L)
  }

  test("startIngest: streamed rows land in the addressable store (T3)") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val base = Files.createTempDirectory("graft_engine_ing").toString
    val e = new Engine(spark, s"$base/root")
    e.create(stkDay)
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    e.sub("live", Seq("*.stk_day"))(df => seen.addAndGet(df.count()))
    Seq(("2021-01-04", 1.0, 2.0, 1L, "SH600600"),
        ("2021-01-05", 2.0, 3.0, 2L, "SH600600"),
        ("2021-01-04", 9.0, 9.1, 3L, "SZ000001"))
      .toDF("time", "open", "close", "vol", "subject")
      .select(col("time").cast("date").as("time"), col("open"),
        col("close"), col("vol").cast("long").as("vol"), col("subject"))
      .write.mode("overwrite").parquet(s"$base/feed")
    e.startIngest("stk_day", s"$base/feed", s"$base/ckpt")
      .awaitTermination()
    assert(seen.get() == 3, "subscribers did not see the streamed batch")
    assert(e.get("*.stk_day", """{range:{start:20210101,stop:20211231}}""")
      .count() == 3)
    // a SECOND run over the same checkpoint re-processes nothing and
    // the store stays exact (idempotent redelivery either way)
    e.startIngest("stk_day", s"$base/feed", s"$base/ckpt")
      .awaitTermination()
    assert(e.get("*.stk_day", """{range:{start:20210101,stop:20211231}}""")
      .count() == 3)
    // the streamed store is fully addressable: ranged del still works
    e.del("SH600600.stk_day", """{range:{start:20210105,stop:20210105}}""")
    assert(e.get("*.stk_day", """{range:{start:20210101,stop:20211231}}""")
      .count() == 2)
  }

  test("engine restart: cold data, tombstones and sequences survive") {
    val root = Files.createTempDirectory("graft_engine_rs").toString
    val e1 = new Engine(spark, root)
    e1.create(stkDay)
    e1.set("SH600600.stk_day", """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    e1.set("SZ000001.stk_day", """{"time":"2021-01-04","open":9.0,"close":9.1,"vol":2}""")
    e1.save("stk_day")
    e1.drop("SZ000001.stk_day")
    e1.kset("cfg", "v1")
    e1.save("__one")

    // a NEW engine over the same root (fresh process in production):
    // schemas REHYDRATE from the persisted catalog sidecar — no
    // create is re-issued — and stores re-attach to cold files + meta
    val e2 = new Engine(spark, root)
    assert(e2.catalog.tables.contains("stk_day") &&
      e2.catalog.tables.contains("__one"),
      s"catalog did not rehydrate: ${e2.catalog.tables}")
    assert(e2.get("SH600600.stk_day", """{range:{start:-1}}""").count() == 1)
    assert(e2.keys("*.stk_day").collect().map(_.getString(0)).toSeq ==
      Seq("SH600600"), "tombstone did not survive engine restart")
    assert(e2.kget("cfg").collect()(0).getAs[String]("value") == "v1")
    // re-creating the dropped subject post-restart works: the restored
    // sequence watermark outranks the stored tombstone
    e2.set("SZ000001.stk_day", """{"time":"2021-01-05","open":8.0,"close":8.1,"vol":3}""")
    e2.save("stk_day")
    assert(e2.keys("*.stk_day").count() == 2)
    assert(e2.get("SZ000001.stk_day", """{range:{start:-1}}""").collect()(0)
      .getAs[Long]("vol") == 3L)
  }

  test("catalog sidecar: DSL round-trip and SQL exposure survive restart") {
    // toDsl must round-trip every declaration detail the engine relies
    // on (styles, widths, dots, index/solely flags)
    val dsl = "{snap:{fields:{t:[T,8],px:[P,4,1,2],qty:[U,4],tag:[C,16,1,0,O]}}}"
    val parsed = graft.schema.SdbSchema.parse(dsl)
    assert(graft.schema.SdbSchema.parse(parsed.toDsl) == parsed,
      s"toDsl round-trip drifted: ${parsed.toDsl}")

    val root = Files.createTempDirectory("graft_engine_cat").toString
    val e1 = new Engine(spark, root)
    e1.create(stkDay)
    e1.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    val qn = e1.exposeSql("stk_day", db = "graft_rs")
    assert(spark.sql(s"SELECT count(*) FROM $qn").head().getLong(0) == 1)
    // wipe the session catalog (a fresh process has none), reopen
    spark.sql(s"DROP VIEW IF EXISTS $qn")
    spark.sql(s"DROP TABLE IF EXISTS graft_rs.stk_day__files")
    val e2 = new Engine(spark, root)
    // the SQL exposure was re-registered at open from the sidecar
    assert(spark.sql(s"SELECT vol FROM $qn").head().getLong(0) == 1L,
      "SQL exposure did not survive engine restart")
    // and the rehydrated declaration carries the full field detail
    val sdb = e2.catalog.get("stk_day").get
    assert(sdb.dotOf("close") == 2 && sdb.mainIndex.get.name == "time")
  }

  test("rehydration never rewrites the catalog sidecar (crash mid-open is lossless)") {
    val root = Files.createTempDirectory("graft_engine_cat2").toString
    val e1 = new Engine(spark, root)
    e1.create(stkDay)
    e1.create("{idx_day:{fields:{t:[T,8],v:[F,8]}}}")
    e1.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    e1.exposeSql("stk_day", db = "graft_rh_a")
    e1.exposeSql("stk_day", db = "graft_rh_b")
    val sidecar = newestCatalogPath(root)
    val before = java.nio.file.Files.readAllBytes(sidecar)
    val mtime = java.nio.file.Files.getLastModifiedTime(sidecar)
    // reopen: the replay funnels through exposeSql, which used to
    // persist the sidecar per exposure while exposedDbs was still a
    // partial subset — a crash between those rewrites permanently lost
    // the not-yet-replayed exposures. Rehydration must treat the
    // sidecar as read-only: same newest generation, same bytes, same
    // mtime after open.
    val e2 = new Engine(spark, root)
    assert(e2.catalog.tables.toSet == Set("stk_day", "idx_day"))
    assert(newestCatalogPath(root) == sidecar &&
      java.nio.file.Files.getLastModifiedTime(sidecar) == mtime &&
      java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(sidecar), before),
      "open rewrote the catalog sidecar during rehydration")
    // and a post-open exposure still persists (the flag was cleared) —
    // as a NEW committed generation
    e2.exposeSql("stk_day", db = "graft_rh_c")
    assert(new String(java.nio.file.Files.readAllBytes(
      newestCatalogPath(root)), "UTF-8")
      .contains("graft_rh_c"), "post-open exposure not persisted")
  }

  test("exposeSql registration stays live across save, del and pack") {
    val e = mkEngine
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    val qn = e.exposeSql("stk_day", db = "graft_live")
    assert(spark.sql(s"SELECT * FROM $qn").count() == 1)

    // a later set + save creates a brand-new day partition: the SQL
    // view must pick it up without re-running exposeSql
    e.set("SH600600.stk_day",
      """{"time":"2021-02-01","open":2.0,"close":3.0,"vol":2}""")
    e.save("stk_day")
    assert(spark.sql(s"SELECT * FROM $qn").count() == 2,
      "SQL view went stale after save created a new partition")

    // del rewrites the cold store (possibly removing whole days): the
    // SQL view must track the removal too
    e.del("SH600600.stk_day", """{range:{start:20210104,stop:20210104}}""")
    assert(spark.sql(s"SELECT * FROM $qn").count() == 1,
      "SQL view went stale after del removed a partition")

    // pack rewrites files in place — SQL must not serve the stale index
    e.pack("stk_day", files = 1)
    assert(spark.sql(s"SELECT * FROM $qn").count() == 1)
  }

  test("exposeSql into two databases keeps BOTH registrations live") {
    val e = mkEngine
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":1.0,"close":2.0,"vol":1}""")
    val first = e.exposeSql("stk_day", db = "graft_live_a")
    val second = e.exposeSql("stk_day", db = "graft_live_b")
    assert(spark.sql(s"SELECT * FROM $first").count() == 1)
    assert(spark.sql(s"SELECT * FROM $second").count() == 1)

    // a save after the SECOND registration must also reach the FIRST —
    // re-exposing used to overwrite the store's single callback slot,
    // silently freezing the earlier view at its registration snapshot
    e.set("SH600600.stk_day",
      """{"time":"2021-02-01","open":2.0,"close":3.0,"vol":2}""")
    e.save("stk_day")
    assert(spark.sql(s"SELECT * FROM $first").count() == 2,
      "earlier SQL registration went stale after a later exposeSql")
    assert(spark.sql(s"SELECT * FROM $second").count() == 2)
  }

  test("snapshot-mode engine: pinned reader across del, mode checked on reopen") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """[{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100},
          {"time":"2021-01-05","open":10.50,"close":10.40,"vol":200},
          {"time":"2021-02-01","open":10.40,"close":11.00,"vol":300}]""")
    e.save("stk_day")
    // the engine's stores really are in snapshot layout
    val f = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(f.listStatus(new org.apache.hadoop.fs.Path(root))
      .exists(_.getPath.getName.startsWith("stk_day__snapshot.")),
      "engine store not in snapshot mode")
    // a reader pinned through the engine surface survives a delete
    val pinned = e.openSnapshot("stk_day").get
    e.del("SH600600.stk_day", """{range:{start:20210101,stop:20210131}}""")
    assert(pinned.count() == 3, "pinned engine reader lost rows across del")
    assert(e.get("SH600600.stk_day", "{}").count() == 1)
    assert(e.openSnapshot("stk_day").get.count() == 1)
    // vacuum through the engine surface: past the removal grace the
    // emptied days' version dirs are reclaimed, reads unchanged
    e.vacuum("stk_day", keepSuperseded = 0, removedDayGraceMs = 0L)
    assert(e.get("SH600600.stk_day", "{}").count() == 1)
    // a root of the retired flat layout (its catalog recorded
    // "snapshots": false) fails at open, not lazily per table
    val flatRoot = Files.createTempDirectory("graft_engine").toString
    Files.write(java.nio.file.Paths.get(flatRoot, "__catalog.json"),
      s"""{"snapshots":false,"tables":{"stk_day":"$stkDay"},"exposed":{}}"""
        .getBytes("UTF-8"))
    assertThrows[IllegalArgumentException] { new Engine(spark, flatRoot) }
    // a reopen rehydrates and still serves the post-del state
    assert(new Engine(spark, root)
      .get("SH600600.stk_day", "{}").count() == 1)
    // an unknown table throws like every other command — never a
    // silent None a typo would read as "no data"
    assertThrows[IllegalArgumentException] { e.openSnapshot("stk_dya") }
  }

  test("a file:// root works while fs.defaultFS names another scheme") {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.defaultFS", "fs.otherscheme.impl")
      .map(k => k -> Option(conf.get(k)))
    val root = "file://" + Files.createTempDirectory("graft_engine").toString
    try {
      conf.set("fs.otherscheme.impl", classOf[OtherSchemeFs].getName)
      conf.set("fs.defaultFS", "otherscheme:///")
      // the default filesystem would refuse every file:// path with
      // Hadoop's wrong-FS check — the engine must resolve the root's own
      assert(org.apache.hadoop.fs.FileSystem.get(conf).getScheme == "otherscheme")
      val e = new Engine(spark, root)
      e.create(stkDay)
      e.set("SH600600.stk_day",
        """{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100}""")
      e.save("stk_day")
      assert(e.get("SH600600.stk_day", "{}").count() == 1)
      val reopened = new Engine(spark, root)
      assert(reopened.get("SH600600.stk_day", "{}").count() == 1)
      // a maintained rollup under the same root: its bars, cursor,
      // round marker and maintenance lease resolve the root's
      // filesystem too
      import org.apache.spark.sql.functions._
      e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
      e.set("u1.ev", """{"t":"2024-01-01T01:00:00Z","value":1.0}""")
      val barRoot = s"$root/bars"
      val grp = Seq(lit("all").as("g"))
      val okey = unix_millis(col("t"))
      e.bootstrapRollup("ev", barRoot, grp, okey, col("value"), col("value"))
      e.set("u1.ev", """{"t":"2024-01-02T01:00:00Z","value":3.0}""")
      e.save("ev")
      assert(e.maintainRollup("ev", barRoot, grp, okey, col("value"),
        col("value"))._1 == Seq("2024-01-02"))
      assert(graft.ops.Rollup.finalizeBars(
        spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
        .agg(sum("volume")).head.getDouble(0) == 4.0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("snapshot-mode exposeSql pins partitions to the committed manifest") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """[{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100},
          {"time":"2021-01-05","open":10.50,"close":10.40,"vol":200},
          {"time":"2021-02-01","open":10.40,"close":11.00,"vol":300}]""")
    e.save("stk_day")
    // rewrite one day at a higher version: the 01-04 day dir now holds
    // TWO __v=N dirs on disk — naive discovery would read both
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":10.20,"close":10.60,"vol":150}""")
    e.save("stk_day")
    val qn = e.exposeSql("stk_day", db = "graft_snapsql")
    val rows = spark.sql(
      s"SELECT __day, vol FROM $qn ORDER BY __day").collect()
    assert(rows.length == 3, s"expected 3 rows, got ${rows.toSeq}")
    assert(rows.head.getLong(1) == 150,
      "SQL read a superseded version, not the committed rewrite")
    // a later save re-pins the changed day through onColdChange
    e.set("SH600600.stk_day",
      """{"time":"2021-01-05","open":10.55,"close":10.45,"vol":250}""")
    e.save("stk_day")
    assert(spark.sql(s"SELECT sum(vol) FROM $qn").collect()(0).getLong(0)
      == 150 + 250 + 300, "live registration missed a version advance")
    // a delete that empties days drops their partitions; survivors stay
    e.del("SH600600.stk_day", """{range:{start:20210101,stop:20210131}}""")
    assert(spark.sql(s"SELECT count(*) FROM $qn").collect()(0).getLong(0)
      == 1, "deleted days still visible through SQL")
    // pack rewrites the layout wholesale; the re-sync keeps SQL exact
    e.pack("stk_day")
    assert(spark.sql(s"SELECT sum(vol) FROM $qn").collect()(0).getLong(0)
      == 300, "pack desynced the SQL registration")
    // day predicates prune through the catalog partitions
    val plan = spark.sql(
      s"SELECT * FROM $qn WHERE __day = '20210201'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("__day"),
      s"snapshot SQL scan did not prune partitions:\n$plan")
    // a restarted engine replays the exposure over the same manifest —
    // drop the live registrations FIRST, or the assertion would pass
    // off the first engine's catalog entries even if rehydration
    // registered nothing
    spark.sql(s"DROP VIEW $qn")
    spark.sql(s"DROP TABLE graft_snapsql.stk_day__files")
    val e2 = new Engine(spark, root)
    assert(spark.sql(s"SELECT sum(vol) FROM $qn").collect()(0).getLong(0)
      == 300, "rehydrated exposure lost the pinned partitions")
  }

  test("auto-vacuum bounds version dirs across many commits; pinned reader within grace unaffected") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    // every 2 generations, keep 1 superseded version per day but give
    // live-superseded versions a LONG time grace — so a reader pinned
    // mid-run stays whole while counts are still bounded
    e.autoVacuum(everyGenerations = 2, keepSuperseded = 1,
      removedDayGraceMs = 0L, supersededGraceMs = 3600L * 1000)
    def gen(i: Int): Unit = {
      e.set("SH600600.stk_day",
        s"""{"time":"2021-01-04","open":10.10,"close":10.${i}0,"vol":${100 + i}}""")
      e.save("stk_day")
    }
    gen(1); gen(2)
    val pinned = e.openSnapshot("stk_day").get
    val pinnedRows = pinned.collect().toSeq
    (3 to 10).foreach(gen)
    // the pinned reader is inside the time grace: every version it
    // references must still exist
    assert(pinned.collect().toSeq == pinnedRows,
      "auto-vacuum reclaimed a version a reader within grace had pinned")
    // now tighten the grace and drive two more commits — the dir count
    // must stay bounded by the retention dial, not grow with commits
    e.autoVacuum(everyGenerations = 2, keepSuperseded = 1,
      removedDayGraceMs = 0L, supersededGraceMs = 0L)
    gen(11); gen(12)
    val f = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val versions = f.listStatus(new org.apache.hadoop.fs.Path(
        s"$root/stk_day/__day=2021-01-04"))
      .count(_.getPath.getName.startsWith("__v="))
    assert(versions <= 2, // live + keepSuperseded
      s"auto-vacuum did not bound version dirs: $versions after 12 commits")
    assert(e.get("SH600600.stk_day", "{}").count() == 1)
  }

  test("saveAll: staged-but-unmarked commits roll BACK at the next open") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100}""")
    val g1 = e.saveAll(Seq("stk_day"))
    assert(g1("stk_day") >= 1L)
    // simulate a saveAll dying BEFORE its commit point: the stage is
    // durable, but no marker ever lands
    e.set("SH600600.stk_day",
      """{"time":"2021-01-05","open":10.20,"close":10.60,"vol":120}""")
    // staged tmps are writer-token-suffixed — probe by prefix
    def stagedTmps: Seq[String] = new java.io.File(root).list().toSeq
      .filter(_.startsWith("stk_day__staged_save"))
    assert(e.storeHandle("stk_day").stageSave(),
      "the hot tail must stage")
    assert(stagedTmps.nonEmpty)
    val e2 = new Engine(spark, root)
    assert(e2.atomicMarker().isEmpty)
    // all-pre: the staged round is invisible and its tmp discarded
    assert(e2.get("SH600600.stk_day", "{}").count() == 1,
      "a staged-but-unmarked commit leaked")
    assert(e2.openAtomicSnapshot(Seq("stk_day"))("stk_day").get.count() == 1)
    assert(stagedTmps.isEmpty,
      "open did not roll the unmarked stage back")
  }

  test("atomic marker pins pre-commit generations past aggressive auto-vacuum") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.create("{stk_two:{fields:{time:[D,4],open:[P,4,1,2]," +
      "close:[P,4,1,2],vol:[U,4]}}}")
    // harsh dials for a time-travel deployment: vacuum after EVERY
    // generation, retaining only the single newest history record
    // (keepHistory = 1) — without the marker pin, stk_day's finalize
    // mints generation 2 and its own auto-vacuum immediately reclaims
    // the v=1 record the in-flight marker still points at
    e.autoVacuum(everyGenerations = 1, keepSuperseded = 0,
      removedDayGraceMs = 0L, keepHistory = 1, supersededGraceMs = 0L)
    def ingest(day: Int): Unit = {
      e.set("SH600600.stk_day",
        s"""{"time":"2021-01-0$day","open":10.10,"close":10.50,"vol":100}""")
      e.set("SH600600.stk_two",
        s"""{"time":"2021-01-0$day","open":20.10,"close":20.50,"vol":200}""")
    }
    ingest(4)
    e.saveAll(Seq("stk_day", "stk_two"))
    ingest(5)
    // probe INSIDE stk_two's finalize: stk_day has already finalized
    // AND auto-vacuumed under the marker — the atomic view must still
    // serve its pinned pre-commit generation, not degrade to None
    var midView = Option.empty[Map[String, Long]]
    e.storeHandle("stk_two").onBeforeSnapshotClaim = () =>
      if (midView.isEmpty)
        midView = Some(e.openAtomicSnapshot(Seq("stk_day", "stk_two"))
          .map { case (t, df) => t -> df.map(_.count()).getOrElse(-1L) })
    e.saveAll(Seq("stk_day", "stk_two"))
    assert(midView.contains(Map("stk_day" -> 1L, "stk_two" -> 1L)),
      s"mid-commit atomic view degraded under auto-vacuum: $midView")
  }

  test("auto-vacuum with a cutMaxAgeMs dial surfaces stale-cut warnings") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100}""")
    e.save("stk_day")
    val cut = e.snapshotAll(Seq("stk_day")) // pins generation 1 forever
    Thread.sleep(5)
    // every generation auto-vacuums; the 1 ms staleness horizon makes
    // the cut flagged on the very next scheduled run
    e.autoVacuum(everyGenerations = 1, keepSuperseded = 0,
      removedDayGraceMs = 0L, supersededGraceMs = 0L, cutMaxAgeMs = 1L)
    e.set("SH600600.stk_day",
      """{"time":"2021-01-05","open":10.20,"close":10.60,"vol":120}""")
    e.save("stk_day") // commit → scheduled vacuum → audit
    val warns = e.lastStaleCutWarnings
    assert(warns.size == 1 && warns.head.contains(s"cut $cut") &&
      warns.head.contains("dropSnapshotCut"),
      s"scheduled vacuum did not surface the forgotten cut: $warns")
    // warnings never auto-drop — the cut still opens
    assert(e.openSnapshotAllAt(cut)("stk_day").nonEmpty)
    // without the dial (default 0) the audit stays silent
    e.lastStaleCutWarnings = Seq.empty
    e.autoVacuum(everyGenerations = 1, keepSuperseded = 0,
      removedDayGraceMs = 0L, supersededGraceMs = 0L)
    e.set("SH600600.stk_day",
      """{"time":"2021-01-06","open":10.30,"close":10.70,"vol":130}""")
    e.save("stk_day")
    assert(e.lastStaleCutWarnings.isEmpty,
      "undialed auto-vacuum must not run the cut audit")
  }

  test("exposeSqlAt: frozen time-travel view across later delete and pack; live view moves") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """[{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100},
          {"time":"2021-02-01","open":10.40,"close":11.00,"vol":300}]""")
    e.save("stk_day") // generation 1
    e.set("SH600600.stk_day",
      """{"time":"2021-01-05","open":10.50,"close":10.40,"vol":200}""")
    e.save("stk_day") // generation 2
    val v1 = e.snapshotVersions("stk_day").min
    val at = e.exposeSqlAt("stk_day", v1, db = "graft_tt_spec")
    val live = e.exposeSql("stk_day", db = "graft_tt_spec")
    def vols(qn: String) = spark.sql(s"SELECT sum(vol) FROM $qn")
      .collect()(0).getLong(0)
    assert(vols(at) == 400 && vols(live) == 600)
    // a later delete + pack: the live view tracks, the pinned one not
    e.del("SH600600.stk_day", """{range:{start:20210101,stop:20210131}}""")
    e.pack("stk_day")
    assert(vols(live) == 300, "live view missed the delete")
    assert(vols(at) == 400,
      "time-travel view moved with commits after its generation")
    // day pruning still works through the pinned catalog partitions
    val plan = spark.sql(s"SELECT * FROM $at WHERE __day = '20210104'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("__day"),
      s"time-travel SQL scan did not prune partitions:\n$plan")
    // an unknown generation fails loudly, listing what is retained
    val ex = intercept[IllegalArgumentException] {
      e.exposeSqlAt("stk_day", 999L)
    }
    assert(ex.getMessage.contains("999"))
    // vacuuming the generation's record away makes the REGISTRATION
    // unobtainable afterwards (the durable artifact is the record)
    e.vacuum("stk_day", keepSuperseded = 0, removedDayGraceMs = 0L,
      keepHistory = 0)
    intercept[IllegalArgumentException] {
      e.exposeSqlAt("stk_day", v1, db = "graft_tt_spec2")
    }
  }

  test("exposeSqlAt after engine restart: the rehydrated catalog re-derives the identical pinned view") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """[{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100},
          {"time":"2021-02-01","open":10.40,"close":11.00,"vol":300}]""")
    e.save("stk_day") // generation 1
    e.set("SH600600.stk_day",
      """{"time":"2021-01-05","open":10.50,"close":10.40,"vol":200}""")
    e.save("stk_day") // generation 2
    val v1 = e.snapshotVersions("stk_day").min
    val at = e.exposeSqlAt("stk_day", v1, db = "graft_tt_restart")
    val before = spark.sql(
      s"SELECT subject, time, open, close, vol, __day FROM $at " +
        "ORDER BY time").collect().toSeq
    // the registration is session-scoped by documented design: drop it
    // so the assertion can only pass off a RE-derivation, then restart
    spark.sql(s"DROP VIEW $at")
    spark.sql(s"DROP TABLE graft_tt_restart.stk_day__v${v1}__files")
    val e2 = new Engine(spark, root)
    val at2 = e2.exposeSqlAt("stk_day", v1, db = "graft_tt_restart")
    assert(at2 == at)
    val after = spark.sql(
      s"SELECT subject, time, open, close, vol, __day FROM $at2 " +
        "ORDER BY time").collect().toSeq
    assert(after == before,
      "the rehydrated catalog did not reproduce the pinned view")
  }

  test("snapshotAll: one cut across two drifting tables survives vacuum; dropping it releases the pin") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.create(
      "{stk_wk:{fields:{time:[D,4],open:[P,4,1,2],close:[P,4,1,2],vol:[U,4]}}}")
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100}""")
    e.save("stk_day") // stk_day generation 1
    e.set("SH600600.stk_wk",
      """[{"time":"2021-01-08","open":10.10,"close":10.50,"vol":500},
          {"time":"2021-01-15","open":10.50,"close":10.40,"vol":600}]""")
    e.save("stk_wk") // stk_wk generation 1
    // hot rows staged but unflushed at cut time MUST be included — the
    // cut flushes first (a silent exclusion would not be "as of now")
    e.set("SH600600.stk_day",
      """{"time":"2021-01-05","open":10.50,"close":10.40,"vol":200}""")
    val cut = e.snapshotAll(Seq("stk_day", "stk_wk"))
    val rec = e.cutRecord(cut).get
    // post-cut drift in opposite directions
    e.set("SH600600.stk_day",
      """{"time":"2021-02-01","open":10.40,"close":11.00,"vol":300}""")
    e.save("stk_day")
    e.del("SH600600.stk_wk", """{range:{start:20210115,stop:20210131}}""")
    // retention that would retire the cut generations without the pin
    e.vacuum("stk_day", keepSuperseded = 0, keepHistory = 1)
    e.vacuum("stk_wk", keepSuperseded = 0, keepHistory = 1)
    val pair = e.openSnapshotAllAt(cut)
    assert(pair("stk_day").get.count() == 2, // flushed hot row included
      "cut lost stk_day's pinned generation (or excluded the hot tail)")
    assert(pair("stk_wk").get.count() == 2,
      "cut lost stk_wk's pinned generation")
    assert(e.get("SH600600.stk_day", "{}").count() == 3 &&
      e.get("SH600600.stk_wk", "{}").count() == 1,
      "live views did not move past the cut")
    // the whole cut as frozen SQL views
    val views = e.exposeSqlAllAt(cut, db = "graft_cut_spec")
    assert(spark.sql(s"SELECT count(*) FROM ${views("stk_day")}")
      .collect()(0).getLong(0) == 2)
    assert(spark.sql(s"SELECT sum(vol) FROM ${views("stk_wk")}")
      .collect()(0).getLong(0) == 1100)
    // dropping the cut releases the pin: the next vacuum retires the
    // generations and the cut becomes unavailable — never silently
    // different
    e.dropSnapshotCut(cut)
    e.vacuum("stk_day", keepSuperseded = 0, keepHistory = 1)
    assert(e.openSnapshotAt("stk_day", rec("stk_day")).isEmpty,
      "a dropped cut still pinned its generation")
    intercept[IllegalArgumentException] { e.openSnapshotAllAt(cut) }
  }

  test("listCuts audits age + pinned generations; cutMaxAgeMs flags forgotten cuts") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100}""")
    e.save("stk_day")
    val cut = e.snapshotAll(Seq("stk_day"))
    val infos = e.listCuts()
    assert(infos.map(_.id) == Seq(cut))
    val info = infos.head
    assert(info.at > 0L && info.ageMs >= 0L)
    assert(info.tables == Map("stk_day" -> 1L),
      "listCuts must surface exactly the pinned {table -> generation}")
    // within the horizon: no warning; disabled dial (default): none
    assert(e.vacuum("stk_day", cutMaxAgeMs = 3600000L).isEmpty)
    assert(e.vacuum("stk_day").isEmpty)
    // past the horizon the SAME vacuum flags it, naming the cut, its
    // pins, and the release action — warnings only, nothing dropped
    Thread.sleep(5)
    val warns = e.vacuum("stk_day", cutMaxAgeMs = 1L)
    assert(warns.size == 1 && warns.head.contains(s"cut $cut") &&
      warns.head.contains("stk_day@1") &&
      warns.head.contains("dropSnapshotCut"))
    assert(e.openSnapshotAllAt(cut)("stk_day").nonEmpty,
      "an age warning must never drop the cut itself")
    // deterministic age math via the supplied clock
    assert(e.staleCutWarnings(1000L, now = info.at + 5000L).size == 1)
    assert(e.staleCutWarnings(10000L, now = info.at + 5000L).isEmpty)
    // dropping releases: audit empties, warnings stop
    e.dropSnapshotCut(cut)
    assert(e.listCuts().isEmpty)
    assert(e.vacuum("stk_day", cutMaxAgeMs = 1L).isEmpty)
  }

  test("snapshotAll after a tombstone-only drop mints a generation: the cut never resurrects the dropped subject") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100}""")
    e.set("SH600601.stk_day",
      """{"time":"2021-01-04","open":20.10,"close":20.50,"vol":900}""")
    e.save("stk_day") // generation 1: both subjects on disk
    // a drop on a fully-flushed table is a META-ONLY mutation — no
    // hot rows, so save() alone would not commit; without the
    // tombstone-only commit the cut would record generation 1 and
    // resurrect SH600601 on every cut read (the e16 bug)
    e.drop("SH600601.stk_day")
    val cut = e.snapshotAll(Seq("stk_day"))
    assert(e.cutRecord(cut).get("stk_day") == 2L,
      "the cut did not mint a tombstone-only generation")
    val at = e.openSnapshotAllAt(cut)("stk_day").get
    assert(at.filter(org.apache.spark.sql.functions.col("subject") ===
      "SH600601").isEmpty,
      "the cut resurrected a subject dropped before it")
    assert(at.count() == 1)
    // idempotent: nothing drifted, so another cut reuses the state
    // without minting a third generation
    val cut2 = e.snapshotAll(Seq("stk_day"))
    assert(e.cutRecord(cut2).get("stk_day") == 2L,
      "an unchanged table minted a spurious generation on re-cut")
  }

  test("cut records are cached as immutable: repeat vacuums pay the listing, never re-reads") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100}""")
    e.save("stk_day")
    val cut1 = e.snapshotAll(Seq("stk_day"))
    e.set("SH600600.stk_day",
      """{"time":"2021-01-05","open":10.50,"close":10.40,"vol":200}""")
    e.save("stk_day")
    e.snapshotAll(Seq("stk_day"))
    // the recording engine seeded its own cache — vacuums (which
    // derive pins through cutPinsFor) must not re-read the records
    val before = e.cutRecordLoads
    e.vacuum("stk_day", keepSuperseded = 0, keepHistory = 1)
    e.vacuum("stk_day", keepSuperseded = 0, keepHistory = 1)
    assert(e.cutRecordLoads == before,
      s"repeat vacuums re-read immutable cut records " +
        s"(${e.cutRecordLoads - before} loads)")
    // a fresh engine loads each record exactly ONCE across any number
    // of vacuums
    val e2 = new Engine(spark, root)
    e2.vacuum("stk_day", keepSuperseded = 0, keepHistory = 1)
    val warm = e2.cutRecordLoads
    assert(warm == 2, s"expected one load per record, got $warm")
    e2.vacuum("stk_day", keepSuperseded = 0, keepHistory = 1)
    assert(e2.cutRecordLoads == warm,
      "a warmed cache still re-read cut records")
    // dropping a cut prunes the cache through the live listing: after
    // a third generation, the dropped cut's generation retires while
    // the retained cut's stays pinned
    e2.set("SH600600.stk_day",
      """{"time":"2021-02-01","open":10.40,"close":11.00,"vol":300}""")
    e2.save("stk_day") // generation 3
    e2.dropSnapshotCut(cut1)
    e2.vacuum("stk_day", keepSuperseded = 0, keepHistory = 1)
    val gen1 = e2.cutRecord(cut1) // dropped: record gone
    assert(gen1.isEmpty, "a dropped cut's record survived in the cache")
    assert(e2.openSnapshotAt("stk_day", 1L).isEmpty,
      "the dropped cut's generation was not retired")
    assert(e2.openSnapshotAt("stk_day",
      e2.cutRecord(cut1 + 1).get("stk_day")).isDefined,
      "the retained cut's generation lost its pin after a sibling drop")
  }

  test("cut pins survive an engine restart: a fresh engine's vacuum re-derives them from the on-disk cut records") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100}""")
    e.save("stk_day") // generation 1
    val cut = e.snapshotAll(Seq("stk_day"))
    e.set("SH600600.stk_day",
      """{"time":"2021-02-01","open":10.40,"close":11.00,"vol":300}""")
    e.save("stk_day") // generation 2
    // the pin must not live in the recording engine's memory: a FRESH
    // engine over the same root runs the aggressive vacuum
    val e2 = new Engine(spark, root)
    e2.vacuum("stk_day", keepSuperseded = 0, keepHistory = 1)
    val pair = e2.openSnapshotAllAt(cut)
    assert(pair("stk_day").exists(_.count() == 1),
      "a restarted engine's vacuum retired a cut-pinned generation")
  }

  test("restoreToCut: rolls every table back, skips never-committed tables, refuses unknown cuts") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create(stkDay)
    e.create("{stk_min:{fields:{time:[T,8],open:[F,8],close:[F,8],vol:[I,4]}}}")
    e.set("SH600600.stk_day",
      """{"time":"2021-01-04","open":10.10,"close":10.50,"vol":100}""")
    e.save("stk_day") // generation 1; stk_min never commits
    val cut = e.snapshotAll() // all declared tables → stk_min pinned at 0
    e.set("SH600600.stk_day",
      """{"time":"2021-02-01","open":10.40,"close":11.00,"vol":300}""")
    e.save("stk_day") // post-cut damage
    val gens = e.restoreToCut(cut)
    // the never-committed table is SKIPPED (restore cannot
    // reconstruct "nothing"), the committed one rolls forward
    assert(gens.keySet == Set("stk_day"), s"restored: $gens")
    assert(e.get("*.stk_day", "{}").count() == 1,
      "restore did not return the live read to the cut state")
    // history preserved: the damage generation still time-travels
    assert(e.openSnapshotAt("stk_day", 2L).exists(_.count() == 2))
    intercept[IllegalArgumentException](e.restoreToCut(99L))
  }

  test("restoreToCut is crash-recoverable: the marker rolls forward at open; the atomic view never mixes") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{a:{fields:{t:[T,8],value:[F,8]}}}")
    e.create("{b:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.a", """{"t":"2024-01-01T01:00:00Z","value":1.0}""")
    e.set("u1.b", """{"t":"2024-01-01T01:00:00Z","value":2.0}""")
    val cut = e.snapshotAll(Seq("a", "b"))
    // post-cut damage on both tables
    e.set("u1.a", """{"t":"2024-01-02T01:00:00Z","value":9.0}""")
    e.set("u1.b", """{"t":"2024-01-02T01:00:00Z","value":9.0}""")
    e.save("a"); e.save("b")
    // crash inside the SECOND table's restore commit ('b' sorts last)
    val stB = e.storeHandle("b")
    var thrown = false
    stB.onBeforeSnapshotClaim = () => if (!thrown) {
      thrown = true
      throw new RuntimeException("injected crash mid-restore")
    }
    assert(scala.util.Try(e.restoreToCut(cut)).isFailure && thrown)
    assert(e.restoreMarker().contains(cut),
      "the crashed restore must leave its marker")
    // the per-table views are provably MIXED (a restored, b not) —
    // the marker-aware atomic view still serves BOTH at the cut
    assert(e.openSnapshot("a").get.count() == 1 &&
      e.openSnapshot("b").get.count() == 2,
      "the crash point did not produce the mixed middle")
    val atomic = e.openAtomicSnapshot(Seq("a", "b"))
      .map { case (t, df) => t -> df.get.count() }
    assert(atomic == Map("a" -> 1L, "b" -> 1L),
      s"the atomic view leaked the half-restored middle: $atomic")
    stB.onBeforeSnapshotClaim = () => ()
    // a new engine over the root rolls the restore FORWARD at open
    val e2 = new Engine(spark, root)
    assert(e2.restoreMarker().isEmpty,
      "open-time recovery did not complete and release the restore")
    assert(e2.get("*.a", "{}").count() == 1 &&
      e2.get("*.b", "{}").count() == 1,
      "the rolled-forward restore did not land both tables at the cut")
    // history preserved: the damage generations still time-travel
    assert(e2.openSnapshotAt("b", 2L).exists(_.count() == 2))
  }

  test("saveAll holds store monitors: a concurrent set blocks for the span and is never lost") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{a:{fields:{t:[T,8],value:[F,8]}}}")
    e.create("{b:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.a", """{"t":"2024-01-01T00:00:00Z","value":1.0}""")
    e.set("u1.b", """{"t":"2024-01-01T00:00:00Z","value":2.0}""")
    val stA = e.storeHandle("a")
    // a set() racing the stage→marker→finalize window: pre-fix it
    // appended hot rows that finalize's clearHot() discarded without
    // committing (silent loss); now every listed store's monitor is
    // held across the span, so the set BLOCKS until the commit is
    // whole and lands in the post-commit hot tail
    val setter = new Thread(() =>
      e.set("u2.a", """{"t":"2024-01-02T00:00:00Z","value":3.0}"""))
    @volatile var sawBlocked = false
    stA.onBeforeSnapshotClaim = () => {
      if (!setter.isAlive && setter.getState == Thread.State.NEW)
        setter.start()
      val deadline = System.currentTimeMillis() + 30000
      while (setter.getState != Thread.State.BLOCKED &&
          setter.getState != Thread.State.TERMINATED &&
          System.currentTimeMillis() < deadline) Thread.sleep(2)
      sawBlocked = setter.getState == Thread.State.BLOCKED
    }
    e.saveAll(Seq("a", "b"))
    stA.onBeforeSnapshotClaim = () => ()
    setter.join(30000)
    assert(sawBlocked,
      "the racing set() did not block on the store monitor mid-commit")
    // the blocked set landed AFTER the atomic commit — in the hot
    // tail, visible to reads, and committable by the next save
    assert(e.get("u2.a", "{}").count() == 1,
      "the racing set()'s row was lost")
    e.save("a")
    assert(e.openSnapshot("a").exists(
      _.filter(org.apache.spark.sql.functions.col("subject") === "u2")
        .count() == 1),
      "the racing set()'s row did not survive to the next commit")
  }

  test("saveAll x evolve: unmarked stages roll back before an evolve; a marker rolls forward under the pre-evolve era") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{a:{fields:{t:[T,8],value:[F,8]}}}")
    e.create("{b:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.a", """{"t":"2024-01-01T01:00:00Z","value":1.0}""")
    e.set("u1.b", """{"t":"2024-01-01T01:00:00Z","value":2.0}""")
    e.saveAll(Seq("a", "b"))
    // CASE A — death BEFORE the commit point (staged tmp, no marker),
    // then an evolve on the reopened engine: the stage was never
    // acknowledged, so it must roll BACK at open (all-pre) and the
    // evolve proceeds on the committed state
    e.set("u2.a", """{"t":"2024-01-02T01:00:00Z","value":3.0}""")
    assert(e.storeHandle("a").stageSave())
    val e2 = new Engine(spark, root)
    e2.evolve("{a:{fields:{t:[T,8],value:[F,8],score:[F,8]}}}")
    val subjectsA = e2.get("*.a", "{}")
      .select("subject").collect().map(_.getString(0)).toSet
    assert(subjectsA == Set("u1"),
      s"a staged-but-unmarked save leaked across reopen+evolve: $subjectsA")
    assert(e2.get("u1.a", "{}").select("score").head.getDouble(0) == 0.0,
      "pre-evolve rows must read the aligned zero-fill")
    // CASE B — death AFTER the commit point mid-finalize, then an
    // evolve on the recovered engine: open-time recovery finalizes
    // the staged instruction under the PRE-evolve era first (the
    // marker records generations, not eras — recovery runs before
    // any command can touch the tables), and the post-evolve live
    // read aligns both eras
    e2.set("u3.a", """{"t":"2024-01-03T01:00:00Z","value":5.0,"score":7.0}""")
    e2.set("u3.b", """{"t":"2024-01-03T01:00:00Z","value":6.0}""")
    val stB = e2.storeHandle("b")
    var thrown = false
    stB.onBeforeSnapshotClaim = () => if (!thrown) {
      thrown = true
      throw new RuntimeException("injected crash mid-atomic-commit")
    }
    assert(scala.util.Try(e2.saveAll(Seq("a", "b"))).isFailure && thrown)
    assert(e2.atomicMarker().nonEmpty,
      "the crashed saveAll must leave its marker")
    stB.onBeforeSnapshotClaim = () => ()
    val e3 = new Engine(spark, root) // rolls forward
    assert(e3.atomicMarker().isEmpty,
      "open-time recovery did not release the marker")
    e3.evolve("{b:{fields:{t:[T,8],value:[F,8],score:[F,8]}}}")
    val a3 = e3.get("*.a", "{}").select("subject", "score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a3 == Map("u1" -> 0.0, "u3" -> 7.0),
      s"recovered-then-evolved 'a' serves the wrong rows: $a3")
    val b3 = e3.get("*.b", "{}").select("subject", "score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(b3 == Map("u1" -> 0.0, "u3" -> 0.0),
      s"the rolled-forward pre-evolve round must align to era 1: $b3")
  }

  test("maintainRollup: refuses without a bootstrap, no-ops when the store has not moved") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.ev", """[{"t":"2024-01-01T01:00:00Z","value":1.0},
      {"t":"2024-01-02T01:00:00Z","value":3.0}]""")
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    intercept[IllegalStateException] {
      e.maintainRollup("ev", barRoot, grp, okey, col("value"),
        col("value"))
    }
    val g = e.bootstrapRollup("ev", barRoot, grp, okey, col("value"),
      col("value"))
    assert(graft.ops.Rollup.readBarCursor(spark, barRoot).contains(g))
    // the store has not moved: the round is a no-op and the cursor holds
    assert(e.maintainRollup("ev", barRoot, grp, okey, col("value"),
      col("value")) == ((Seq.empty, Seq.empty)))
    assert(graft.ops.Rollup.readBarCursor(spark, barRoot).contains(g))
    // a write moves the store; the round propagates it and advances
    e.set("u1.ev", """{"t":"2024-01-03T01:00:00Z","value":5.0}""")
    e.save("ev")
    val (ins, rb) = e.maintainRollup("ev", barRoot, grp, okey,
      col("value"), col("value"))
    assert(ins == Seq("2024-01-03") && rb.isEmpty, s"($ins, $rb)")
    assert(graft.ops.Rollup.readBarCursor(spark, barRoot)
      .exists(_ > g))
    val bars = graft.ops.Rollup.finalizeBars(
      spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
    assert(bars.count() == 3 &&
      bars.agg(sum("volume")).head.getDouble(0) == 9.0)
    // re-bootstrapping a maintained root would double-count rows
    // already in later slots — refused
    intercept[IllegalArgumentException] {
      e.bootstrapRollup("ev", barRoot, grp, okey, col("value"),
        col("value"))
    }
  }

  test("writer fence at the engine seam: a second engine on one root supersedes the first, manifests stay whole") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e1 = new Engine(spark, root)
    e1.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e1.set("u1.ev", """{"t":"2024-01-01T01:00:00Z","value":1.0}""")
    e1.save("ev")
    // a second engine over the SAME root (the lease lives on the
    // shared filesystem, so the mechanism is identical for a second
    // process): opening and READING must not fence the active writer
    val e2 = new Engine(spark, root)
    assert(e2.get("*.ev", "{}").count() == 1)
    e1.set("u1.ev", """{"t":"2024-01-02T01:00:00Z","value":2.0}""")
    e1.save("ev") // still the sole writer — must not throw
    // e2's first WRITE takes the root over
    e2.set("u2.ev", """{"t":"2024-01-03T01:00:00Z","value":3.0}""")
    e2.save("ev")
    // the superseded engine fails LOUDLY at every mutating surface,
    // before anything of its touches disk
    e1.set("u1.ev", """{"t":"2024-01-04T01:00:00Z","value":9.0}""")
    val ex = intercept[IllegalStateException] { e1.save("ev") }
    assert(ex.getMessage.contains("FENCED"), ex.getMessage)
    intercept[IllegalStateException] { e1.saveAll(Seq("ev")) }
    intercept[IllegalStateException] {
      e1.del("u1.ev", """{range:{start:0,stop:9999999999999}}""")
    }
    // the store serves the takeover's consistent view: e2's write is
    // there, the fenced engine's rejected row never landed
    val live = e2.get("*.ev", "{}")
    assert(live.count() == 3 &&
      live.filter(col("value") === 9.0).count() == 0,
      "a fenced engine's write leaked into the store")
    // the manifest stayed whole: the winner keeps committing, cuts
    // and pinned reads work end to end
    e2.set("u2.ev", """{"t":"2024-01-05T01:00:00Z","value":4.0}""")
    val gens = e2.saveAll(Seq("ev"))
    assert(gens("ev") >= 1L)
    val cut = e2.snapshotAll(Seq("ev"))
    assert(e2.openSnapshotAllAt(cut)("ev").get.count() == 4)
    // a RESTART of the fenced engine (a fresh handle, the documented
    // recovery) takes the root back and can write again
    val e3 = new Engine(spark, root)
    e3.set("u3.ev", """{"t":"2024-01-06T01:00:00Z","value":5.0}""")
    e3.save("ev")
    assert(e3.get("*.ev", "{}").count() == 5)
  }

  test("catalog sidecar fence and merge: a superseded engine cannot shadow the winner's declarations") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e1 = new Engine(spark, root)
    e1.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e1.set("u1.ev", """{"t":"2024-01-01T01:00:00Z","value":1.0}""")
    e1.save("ev")
    // e2 takes the root over AND creates a new table the stale e1
    // cannot know about
    val e2 = new Engine(spark, root)
    e2.set("u2.ev", """{"t":"2024-01-02T01:00:00Z","value":2.0}""")
    e2.save("ev")
    e2.create("{won:{fields:{t:[T,8],score:[F,8]}}}")
    // the superseded engine's catalog mutations are REFUSED — its
    // persist would overwrite the winner's sidecar with a view that
    // lacks 'won' (create touches no store, so the store fences alone
    // never fire on it)
    val ex = intercept[IllegalStateException] {
      e1.create("{stale:{fields:{t:[T,8],x:[F,8]}}}")
    }
    assert(ex.getMessage.contains("FENCED"), ex.getMessage)
    intercept[IllegalStateException] { e1.exposeSql("ev", "graftdb") }
    // a fresh engine sees the winner's full catalog, nothing shadowed
    val e3 = new Engine(spark, root)
    assert(e3.catalog.tables.toSet == Set("ev", "won"),
      s"the winner's declarations were shadowed: ${e3.catalog.tables}")
    // catalog-only divergence between engines that never wrote a
    // store: the persist MERGES unknown on-disk declarations (tables
    // are never removed, so a name-union is always safe) — two admin
    // engines creating different tables no longer last-wins-erase
    // each other
    val a = new Engine(spark, root)
    val b = new Engine(spark, root) // opened pre-'ta'
    a.create("{ta:{fields:{t:[T,8],x:[F,8]}}}")
    b.create("{tb:{fields:{t:[T,8],y:[F,8]}}}") // must carry 'ta' through
    val e4 = new Engine(spark, root)
    assert(e4.catalog.tables.toSet == Set("ev", "won", "ta", "tb"),
      s"catalog-only divergence erased a declaration: ${e4.catalog.tables}")
  }

  test("catalog CAS: a persist that loses the claim race re-merges and retries — both concurrent creates survive") {
    val root = Files.createTempDirectory("graft_engine").toString
    val a = new Engine(spark, root)
    a.create("{ta:{fields:{t:[T,8],x:[F,8]}}}")
    // inject the exact lost-update interleaving the old read-merge-
    // write could never detect: BETWEEN a's merge-read and a's commit,
    // a concurrent engine commits the next generation with a table `a`
    // has never seen. Under rename-over, a's commit silently erased
    // it; under the exclusive claim, a LOSES the slot, re-reads the
    // winner's generation, re-merges, and wins the next slot.
    var fired = false
    a.onBeforeCatalogClaim = () => if (!fired) {
      fired = true
      val b = new Engine(spark, root)
      b.create("{tb:{fields:{t:[T,8],y:[F,8]}}}")
    }
    a.create("{tc:{fields:{t:[T,8],z:[F,8]}}}")
    a.onBeforeCatalogClaim = () => ()
    assert(fired, "the race injection never fired")
    val check = new Engine(spark, root)
    assert(check.catalog.tables.toSet == Set("ta", "tb", "tc"),
      s"the lost claim race erased a declaration: ${check.catalog.tables}")
    // committed generations stay bounded: the winner's GC keeps the
    // newest and one predecessor, and the newest carries everything
    val gens = new java.io.File(root).list()
      .filter(_.matches("__catalog\\.\\d+\\.json")).sorted
    assert(gens.length <= 2, s"generation GC left ${gens.toSeq}")
    val newest = new String(java.nio.file.Files.readAllBytes(
      newestCatalogPath(root)), "UTF-8")
    assert(Seq("ta", "tb", "tc").forall(newest.contains), newest)
  }

  test("bar-root maintenance lease: a second engine's round fences the first maintainer loudly, bars stay whole") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    val e1 = new Engine(spark, root)
    e1.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e1.set("u1.ev", """{"t":"2024-01-01T01:00:00Z","value":1.0}""")
    e1.bootstrapRollup("ev", barRoot, grp, okey, col("value"),
      col("value")) // e1 claims the maintenance lease
    e1.set("u1.ev", """{"t":"2024-01-02T01:00:00Z","value":2.0}""")
    e1.save("ev")
    e1.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    // a SECOND engine starts maintaining the same bar root: its first
    // round takes the lease over (takeover, not mutex — a crashed
    // maintainer must never brick the root)
    val e2 = new Engine(spark, root)
    e2.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    // the superseded maintainer's next round fails LOUDLY at round
    // start — before any marker or placement
    e1.set("u1.ev", """{"t":"2024-01-03T01:00:00Z","value":3.0}""")
    e1.save("ev")
    val ex = intercept[IllegalStateException] {
      e1.maintainRollup("ev", barRoot, grp, okey, col("value"),
        col("value"))
    }
    assert(ex.getMessage.contains("FENCED"), ex.getMessage)
    assert(graft.ops.Rollup.pendingMaintenance(spark, barRoot).isEmpty,
      "the fenced round left a marker despite failing at round start")
    // the winner carries on: its round propagates the day-3 write and
    // the bars converge
    e2.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    val days = graft.ops.Rollup.finalizeBars(
        spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
      .select(col("day").cast("string")).collect()
      .map(_.getString(0)).toSet
    assert(days == Set("2024-01-01", "2024-01-02", "2024-01-03"), days)
  }

  test("writer fence across a process boundary: a foreign lease token injected on disk fences this engine, manifests stay whole") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.ev", """{"t":"2024-01-01T01:00:00Z","value":1.0}""")
    e.save("ev") // first write: e takes the table's writer lease
    // simulate ANOTHER PROCESS taking the root over: no second Engine
    // object in this JVM — a foreign token lands in the lease sidecar
    // through the filesystem alone, exactly what a takeover from a
    // different process looks like to this one
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "ev__lease.json"),
      ("""{"epoch":99,"token":"foreign-process-token",""" +
        """"owner":"12345@other-host","acquiredAt":0}""").getBytes)
    val ex = intercept[IllegalStateException] {
      e.set("u1.ev", """{"t":"2024-01-02T01:00:00Z","value":2.0}""")
      e.save("ev")
    }
    assert(ex.getMessage.contains("FENCED"), ex.getMessage)
    // no manifest corruption: a fresh engine (the "other process")
    // serves exactly the pre-takeover committed corpus and can write
    val e2 = new Engine(spark, root)
    val rows = e2.get("u1.ev", "{}").select("value").collect()
      .map(_.getDouble(0)).toSeq
    assert(rows == Seq(1.0),
      s"the fenced engine's refused write leaked into the store: $rows")
    e2.set("u1.ev", """{"t":"2024-01-03T01:00:00Z","value":3.0}""")
    e2.save("ev")
    assert(e2.get("u1.ev", "{}").count() == 2)
  }

  test("maintainRollup: slots derive from the generation — interleaved rounds cannot collide") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.ev", """{"t":"2024-01-01T01:00:00Z","value":1.0}""")
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    e.bootstrapRollup("ev", barRoot, grp, okey, col("value"),
      col("value"))
    // two interleaved logical rounds — a "stream batch" and a
    // "command-side propagation" — with NO caller-chosen slots: each
    // places under its own committed generation, so the second can
    // never overwrite the first's partials (pre-r17, both callers
    // passing slot=1 silently erased round one's inserts)
    e.set("u1.ev", """{"t":"2024-01-03T01:00:00Z","value":5.0}""")
    e.save("ev")
    val gA = e.snapshotVersions("ev").last
    e.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    e.set("u1.ev", """{"t":"2024-01-03T02:00:00Z","value":7.0}""")
    e.save("ev")
    val gB = e.snapshotVersions("ev").last
    e.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    assert(gA != gB)
    val day3 = new java.io.File(s"$barRoot/day=2024-01-03")
    val slots = day3.listFiles().map(_.getName).toSet
    assert(slots == Set(s"batch=$gA", s"batch=$gB"),
      s"rounds must land under their own generations: $slots")
    val bars = graft.ops.Rollup.finalizeBars(
      spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
      .filter(col("day") === "2024-01-03")
      .select("cnt", "volume").collect()
    assert(bars.length == 1 && bars(0).getLong(0) == 2 &&
      bars(0).getDouble(1) == 12.0,
      "an interleaved round overwrote the other's placements")
  }

  test("maintainRollup recovery: a completed round's stale marker is released, never re-run over") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.ev", """{"t":"2024-01-01T01:00:00Z","value":1.0}""")
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    e.bootstrapRollup("ev", barRoot, grp, okey, col("value"),
      col("value"))
    // a round inserts TWO day-3 rows and completes through its cursor
    // advance; the crash lands between the advance and the marker
    // clear (reproduce the exact on-disk state by re-writing the
    // cleared marker)
    e.set("u1.ev", """[{"t":"2024-01-03T01:00:00Z","value":2.0},
      {"t":"2024-01-03T02:00:00Z","value":4.0}]""")
    e.save("ev")
    val g1 = e.snapshotVersions("ev").last
    e.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    assert(graft.ops.Rollup.readBarCursor(spark, barRoot).contains(g1))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$barRoot/_maint_round.json"),
      (s"""{"slot":$g1,"dirtyDays":[],"insertDays":["2024-01-03"],""" +
        """"scheme":"gen"}""").getBytes)
    // new data lands on the SAME day before the next round: the
    // recovery must RELEASE the completed round's marker and place
    // under the new generation — re-running under the marker's slot
    // would wholesale-delete day-3/batch=g1 and erase the completed
    // round's two rows (the feed behind the advanced cursor can never
    // re-derive them)
    e.set("u1.ev", """{"t":"2024-01-03T03:00:00Z","value":8.0}""")
    e.save("ev")
    val g2 = e.snapshotVersions("ev").last
    e.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    assert(graft.ops.Rollup.pendingMaintenance(spark, barRoot).isEmpty)
    assert(graft.ops.Rollup.readBarCursor(spark, barRoot).contains(g2))
    val bars = graft.ops.Rollup.finalizeBars(
      spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
      .filter(col("day") === "2024-01-03")
      .select("cnt", "volume", "close").collect()
    assert(bars.length == 1 && bars(0).getLong(0) == 3 &&
      bars(0).getDouble(1) == 14.0 && bars(0).getDouble(2) == 8.0,
      s"recovery erased the completed round's rows: ${bars.toSeq}")
  }

  test("maintainRollup recovery: an old-scheme marker is rebuilt, never released by a generation compare") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.ev", """[{"t":"2024-01-01T01:00:00Z","value":1.0},
      {"t":"2024-01-02T01:00:00Z","value":2.0}]""")
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    e.bootstrapRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    // a marker written under the OLD caller-chosen-slot scheme (no
    // scheme tag, slot = a small batch id) whose crashed round
    // half-swapped day 2: the day dir is gone, the cursor is PAST the
    // slot number — a generation compare would wrongly release it
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$barRoot/day=2024-01-02"), true)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$barRoot/_maint_round.json"),
      """{"slot":1,"dirtyDays":["2024-01-02"],"insertDays":[]}"""
        .getBytes)
    assert(graft.ops.Rollup.readBarCursor(spark, barRoot).exists(_ >= 1L))
    // new data lands; the round must REBUILD day 2 from the pin (the
    // old release branch would have cleared the marker and served
    // bars missing the whole day forever)
    e.set("u1.ev", """{"t":"2024-01-03T01:00:00Z","value":3.0}""")
    e.save("ev")
    e.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    assert(graft.ops.Rollup.pendingMaintenance(spark, barRoot).isEmpty)
    assert(new java.io.File(s"$barRoot/day=2024-01-02").exists(),
      "the old-scheme marker's half-swapped day was not rebuilt")
    val days = graft.ops.Rollup.finalizeBars(
      spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
      .select(col("day").cast("string")).collect()
      .map(_.getString(0)).toSet
    assert(days == Set("2024-01-01", "2024-01-02", "2024-01-03"), days)
  }

  test("maintainRollup recovery: an unschemed marker on an IDLE store is rebuilt and cleared, not pended forever") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.ev", """[{"t":"2024-01-01T01:00:00Z","value":1.0},
      {"t":"2024-01-02T01:00:00Z","value":2.0}]""")
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    e.bootstrapRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    // a pre-gen-scheme round crashed mid-swap of day 2, and the store
    // then went IDLE: no new write ever lands, so the cursor equals
    // the max committed generation. The release filter can't touch an
    // unschemed marker and the full round never runs — before the
    // fix, this marker pended forever: pendingMaintenance read
    // crashed and compactMaintainedBars threw, on a store nobody was
    // writing to
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$barRoot/day=2024-01-02"), true)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$barRoot/_maint_round.json"),
      """{"slot":1,"dirtyDays":["2024-01-02"],"insertDays":[]}"""
        .getBytes)
    intercept[IllegalStateException] {
      graft.ops.Rollup.compactMaintainedBars(spark, barRoot,
        Seq("g", "day"))
    }
    // one maintenance round on the idle store: no feed to derive, but
    // the marker's recorded days rebuild from the current pin and the
    // marker clears — the store is whole again without a new write
    e.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    assert(graft.ops.Rollup.pendingMaintenance(spark, barRoot).isEmpty,
      "the idle-store recovery did not clear the unschemed marker")
    assert(new java.io.File(s"$barRoot/day=2024-01-02").exists(),
      "the crashed round's half-swapped day was not rebuilt")
    val bars = graft.ops.Rollup.finalizeBars(
      spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
      .select(col("day").cast("string"), col("cnt"), col("volume"))
      .orderBy("day").collect()
    assert(bars.map(_.getString(0)).toSeq ==
      Seq("2024-01-01", "2024-01-02"), bars.toSeq)
    assert(bars.forall(r => r.getLong(1) == 1L), bars.toSeq)
    // idempotent: a second idle round is a true no-op
    val (ins, rb) = e.maintainRollup("ev", barRoot, grp, okey,
      col("value"), col("value"))
    assert(ins.isEmpty && rb.isEmpty)
  }

  test("maintainRollup recovery: a CRASHED recovery round's non-advancing marker rebuilds again — never released by the cursor compare") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.ev", """[{"t":"2024-01-01T01:00:00Z","value":1.0},
      {"t":"2024-01-02T01:00:00Z","value":2.0}]""")
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    e.bootstrapRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    val g = e.snapshotVersions("ev").max
    // the on-disk state of a rebuild-only RECOVERY round that died
    // mid-rebuild: day 2 deleted but not yet re-placed, and a
    // gen-scheme NON-advancing marker whose slot the cursor already
    // "reached" (slot = g = cursor — recovery runs UNDER the cursor
    // by design). The release proof ("cursor >= slot ⇒ placements
    // complete") is INVALID for such a round: releasing here would
    // clear the marker over a half-swapped day and serve bars missing
    // day 2 forever, with pendingMaintenance empty.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$barRoot/day=2024-01-02"), true)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$barRoot/_maint_round.json"),
      (s"""{"slot":$g,"dirtyDays":["2024-01-02"],"insertDays":[],""" +
        """"scheme":"gen","advances":false}""").getBytes)
    e.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    assert(graft.ops.Rollup.pendingMaintenance(spark, barRoot).isEmpty)
    assert(new java.io.File(s"$barRoot/day=2024-01-02").exists(),
      "the crashed recovery round was RELEASED instead of rebuilt — " +
        "day 2 is gone with no marker left to say so")
    val days = graft.ops.Rollup.finalizeBars(
      spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
      .select(col("day").cast("string")).collect()
      .map(_.getString(0)).toSet
    assert(days == Set("2024-01-01", "2024-01-02"), days)
  }

  test("catalog CAS: a claim of a GC-retired slot number is detected and retried (the ABA window)") {
    val root = Files.createTempDirectory("graft_engine").toString
    val a = new Engine(spark, root)
    a.create("{ta:{fields:{t:[T,8],x:[F,8]}}}")
    // a stalls between its merge-read and its claim while another
    // engine commits THREE more generations — the GC of the third
    // retires (deletes) the very slot `a` is about to claim, so a's
    // exclusive claim SUCCEEDS on a slot no reader will ever resolve
    // as newest. Without the post-claim max-verify, a's table would
    // be silently lost.
    var fired = false
    a.onBeforeCatalogClaim = () => if (!fired) {
      fired = true
      val b = new Engine(spark, root)
      b.create("{b1:{fields:{t:[T,8],x:[F,8]}}}")
      b.create("{b2:{fields:{t:[T,8],x:[F,8]}}}")
      b.create("{b3:{fields:{t:[T,8],x:[F,8]}}}")
    }
    a.create("{tx:{fields:{t:[T,8],z:[F,8]}}}")
    a.onBeforeCatalogClaim = () => ()
    assert(fired)
    val check = new Engine(spark, root)
    assert(check.catalog.tables.toSet ==
      Set("ta", "b1", "b2", "b3", "tx"),
      s"the ABA claim lost a declaration: ${check.catalog.tables}")
    // the stale mid-range claim was dropped and GC stayed bounded
    val gens = new java.io.File(root).list()
      .filter(_.matches("__catalog\\.\\d+\\.json")).sorted
    assert(gens.length <= 2, s"generation GC left ${gens.toSeq}")
  }

  test("maintainRollup recovery: a crashed round's recorded days rebuild even when the feed nets them out") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    e.set("u1.ev", """{"t":"2024-01-01T01:00:00Z","value":1.0}""")
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    val g0 = e.bootstrapRollup("ev", barRoot, grp, okey, col("value"),
      col("value"))
    // a round places a day-5 insert, then crashes BEFORE its cursor
    // advance (reproduce: run the round whole, then roll the cursor
    // back and restore its marker — placements present, cursor g0)
    e.set("u1.ev", """{"t":"2024-01-05T01:00:00Z","value":9.0}""")
    e.save("ev")
    val g1 = e.snapshotVersions("ev").last
    e.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    graft.ops.Rollup.writeBarCursor(spark, barRoot, g0)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$barRoot/_maint_round.json"),
      (s"""{"slot":$g1,"dirtyDays":[],"insertDays":["2024-01-05"],""" +
        """"scheme":"gen"}""").getBytes)
    // the insert is deleted again before recovery: the cursor→current
    // feed NETS OUT (no day-5 change at all), so only the marker's
    // recorded insertDays can tell the recovery that day-5 holds a
    // partial placement needing a rebuild from the pin — without the
    // union, the orphan under batch=g1 would serve a deleted row
    // forever
    val lo = java.time.Instant.parse("2024-01-05T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-05T23:59:59.999Z").toEpochMilli
    e.del("u1.ev", s"""{range:{start:$lo,stop:$hi}}""")
    e.maintainRollup("ev", barRoot, grp, okey, col("value"), col("value"))
    assert(graft.ops.Rollup.pendingMaintenance(spark, barRoot).isEmpty)
    assert(!new java.io.File(s"$barRoot/day=2024-01-05").exists(),
      "the netted-out orphan placement survived recovery")
    val days = graft.ops.Rollup.finalizeBars(
      spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
      .select(col("day").cast("string")).collect()
      .map(_.getString(0)).toSet
    assert(days == Set("2024-01-01"), s"wrong surviving days: $days")
  }

  test("restoreToCut × maintained bars: one round after the restore converges bars to the restored corpus") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    e.create("{ev:{fields:{t:[T,8],value:[F,8]}}}")
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    def round(): Unit =
      e.maintainRollup("ev", barRoot, grp, okey, col("value"),
        col("value"))
    def bars() = graft.ops.Rollup.finalizeBars(
        spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
      .withColumn("day", col("day").cast("string"))
      .orderBy("day").select("day", "close", "cnt", "volume").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // the good corpus: days 1-3, bars maintained up to date
    e.set("u1.ev", """[{"t":"2024-01-01T01:00:00Z","value":1.0},
      {"t":"2024-01-02T01:00:00Z","value":2.0}]""")
    e.bootstrapRollup("ev", barRoot, grp, okey, col("value"),
      col("value"))
    e.set("u1.ev", """{"t":"2024-01-03T01:00:00Z","value":3.0}""")
    e.save("ev")
    round()
    val cut = e.snapshotAll(Seq("ev"))
    val good = bars()
    assert(good.map(_._1) ==
      Seq("2024-01-01", "2024-01-02", "2024-01-03"), good)
    // the damage — every op class, each propagated to the bars so the
    // bar store genuinely FOLLOWS the bad corpus: day 2 deleted, day 1
    // re-valued, junk day 4 inserted
    val lo = java.time.Instant.parse("2024-01-02T00:00:00Z").toEpochMilli
    val hi = java.time.Instant.parse("2024-01-02T23:59:59.999Z").toEpochMilli
    e.del("u1.ev", s"""{range:{start:$lo,stop:$hi}}""")
    e.set("u1.ev", """[{"t":"2024-01-01T01:00:00Z","value":8.0},
      {"t":"2024-01-04T01:00:00Z","value":9.0}]""")
    e.save("ev")
    round()
    assert(bars() != good, "the damage drill is vacuous — bars unchanged")
    // ROLLBACK, then ONE ordinary maintenance round: the restore mints
    // a new generation re-pointing at the cut's dirs, so the round
    // diffs cursor→restored state — the delete comes back as an
    // insert, the junk day as a delete, the re-value as an update —
    // and the bar store must converge to the restored corpus's
    // from-scratch rollup with the cursor at the restore-minted
    // generation and no pending marker
    e.restoreToCut(cut)
    val gR = e.snapshotVersions("ev").max
    round()
    assert(bars() == good,
      s"bars did not converge to the restored corpus: ${bars()} vs $good")
    assert(graft.ops.Rollup.readBarCursor(spark, barRoot).contains(gR),
      "the cursor did not land at the restore-minted generation")
    assert(graft.ops.Rollup.pendingMaintenance(spark, barRoot).isEmpty)
    // and the next round is a clean no-op — the lifecycle continues
    val (ins, rb) = e.maintainRollup("ev", barRoot, grp, okey,
      col("value"), col("value"))
    assert(ins.isEmpty && rb.isEmpty)
  }

  test("factor tables ride CDC and restore like any sdb table") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    val t1 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val t2 = java.time.Instant.parse("2024-01-02T00:00:00Z").toEpochMilli
    e.fset("u1.macd", t1, 1.0)
    e.fset("u1.macd", t2, 2.0)
    e.save("macd")
    val g1 = e.snapshotVersions("macd").last
    val cut = e.snapshotAll(Seq("macd"))
    e.fset("u1.macd", t2, 5.0) // update (same slot, new value)
    e.fset("u2.macd", t1, 7.0) // insert (new subject)
    e.save("macd")
    val g2 = e.snapshotVersions("macd").last
    val ops = e.changesBetween("macd", g1, g2).groupBy("op").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops == Map("update" -> 1L, "insert" -> 1L),
      s"factor CDC misclassified: $ops")
    // restore returns the factor table to the cut exactly
    e.restoreToCut(cut)
    val back = e.fget("u1.macd", 0L, Long.MaxValue)
      .select("value").collect().map(_.getDouble(0)).toSeq.sorted
    assert(back == Seq(1.0, 2.0), s"restored factor series: $back")
    assert(e.get("*.macd", "{}").count() == 2,
      "the post-cut insert leaked through the restore")
  }

  test("changesBetween keys include solely fields: same-timestamp rows diff cleanly") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_engine").toString
    val e = new Engine(spark, root)
    // a solely field: two legitimate rows per (subject, t)
    e.create("{tr:{fields:{t:[T,8],side:[C,4,1,0,O],px:[F,8]}}}")
    e.set("u1.tr", """[{"t":"2024-01-01T01:00:00Z","side":"buy","px":1.0},
      {"t":"2024-01-01T01:00:00Z","side":"sell","px":2.0}]""")
    e.save("tr")
    val g1 = e.snapshotVersions("tr").last
    // re-value ONE of the two same-timestamp rows
    e.set("u1.tr", """{"t":"2024-01-01T01:00:00Z","side":"sell","px":3.0}""")
    e.save("tr")
    val g2 = e.snapshotVersions("tr").last
    val feed = e.changesBetween("tr", g1, g2).collect()
    // keyed on (subject, side, t) the feed is ONE update; keyed on
    // (subject, t) alone the legitimate duplicate would fan out 2x2
    // into phantom rows (or raise, with the guard on)
    assert(feed.length == 1, s"feed fanned out: ${feed.toSeq}")
    val r = feed.head
    assert(r.getAs[String]("op") == "update" &&
      r.getAs[String]("side") == "sell")
  }

  test("steady-state gets compile nothing: range, where and count values are params") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val e = mkEngine
    e.create("{tk:{fields:{t:[T,8],px:[F,8]}}}")
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
    def ms(h: Int) = t0 + h * 3600000L
    e.set("s1.tk", (0 until 48).map(h =>
      s"""{"t":"${java.time.Instant.ofEpochMilli(ms(h))}","px":$h.0}""")
      .mkString("[", ",", "]"))
    e.save("tk")
    val shapes: Seq[Int => String] = Seq(
      h => s"""{range:{start:${ms(h)},stop:${ms(h + 2)}},format:"j"}""",
      h => s"{range:{start:${ms(h)},stop:0}}",
      h => s"{range:{start:${ms(h)},stop:-1},count:${h + 1}}",
      h => s"{range:{start:${ms(h) + 1},stop:0,ifprev:1}}",
      h => s"{where:{start:${ms(h)}}}")
    shapes.foreach(s => assert(e.get("s1.tk", s(1)).collect().nonEmpty))
    val before = METRIC_COMPILATION_TIME.getCount
    for (h <- Seq(5, 20, 30); s <- shapes)
      assert(e.get("s1.tk", s(h)).collect().nonEmpty)
    assert(METRIC_COMPILATION_TIME.getCount == before,
      s"${METRIC_COMPILATION_TIME.getCount - before} compiles after warm-up")
    // a param renders its value, not a reference slot
    val plan = e.get("s1.tk", shapes(1)(7)).queryExecution.analyzed.toString
    assert(plan.contains(s"param(${ms(7)})"), plan)
  }

  test("day-pruned gets equal the unpruned read: stop=0, stop=-1, bounded, ifprev, count, hot tail, midnight off UTC") {
    import org.apache.spark.sql.functions._
    import graft.ops.Query
    val tzKey = "spark.sql.session.timeZone"
    val zone = java.time.ZoneId.of("Asia/Shanghai")
    // an instant given as a local time in `zone`: day d of March 2024
    def at(d: Int, h: Int, m: Int) = java.time.ZonedDateTime
      .of(2024, 3, d, h, m, 0, 0, zone).toInstant
    def rows(ts: Seq[java.time.Instant], px0: Int) = ts.zipWithIndex
      .map { case (t, i) => s"""{"t":"$t","px":${px0 + i}.0}""" }
      .mkString("[", ",", "]")
    val saved = spark.conf.get(tzKey)
    spark.conf.set(tzKey, zone.getId)
    try {
      val e = mkEngine
      e.create("{tk:{fields:{t:[T,8],px:[F,8]}}}")
      // local days 03-01..03-03, with rows 30 minutes either side of
      // each local midnight (the same UTC day: 16:30Z and 15:30Z)
      val ts = for (d <- 1 to 3; (h, m) <- Seq((0, 30), (4, 0), (12, 0), (23, 30)))
        yield at(d, h, m)
      e.set("s1.tk", rows(ts, 0))
      e.set("s2.tk", rows(ts, 100))
      e.save("tk")
      // hot tail: a day no save has written, and a re-set saved row
      e.set("s1.tk", rows(Seq(at(4, 0, 30), at(4, 9, 0)), 50))
      e.set("s1.tk", rows(Seq(at(2, 12, 0)), -1))
      val st = e.storeHandle("tk")
      def reference(start: Long, stop: Long, ifprev: Boolean = false,
          count: Int = 0) = {
        val r = Query.range(st.read().filter(col("subject") === "s1"),
          "subject", "t", start, stop, ifprev, toLong = unix_millis)
        val c = if (count == 0) r else Query.limitPerSubject(r, "subject", "t", count)
        c.select("subject", "t", "px").collect().map(_.toString).sorted.toSeq
      }
      def get(params: String) = e.get("s1.tk", params)
      def got(params: String) = get(params).select("subject", "t", "px")
        .collect().map(_.toString).sorted.toSeq
      def ms(i: java.time.Instant) = i.toEpochMilli
      val bounded = s"{range:{start:${ms(at(1, 23, 0))},stop:${ms(at(2, 1, 0))}}}"
      val boundedWant = reference(ms(at(1, 23, 0)), ms(at(2, 1, 0)))
      val ifprev = s"{range:{start:${ms(at(3, 0, 10))},stop:0,ifprev:1}}"
      val ifprevWant = reference(ms(at(3, 0, 10)), 0L, ifprev = true)
      // the windows reach the edges: two local days, and a fallback to
      // 23:30 on the previous local day
      assert(boundedWant.size == 2, boundedWant)
      assert(ifprevWant.size == 1 && ifprevWant.head.endsWith(",7.0]"), ifprevWant)
      val cases = Seq(
        s"{range:{start:${ms(at(2, 0, 30))},stop:0}}" ->
          reference(ms(at(2, 0, 30)), 0L),
        s"{range:{start:${ms(at(2, 12, 0))},stop:0}}" ->
          reference(ms(at(2, 12, 0)), 0L),
        s"{range:{start:${ms(at(3, 12, 0))},stop:-1}}" ->
          reference(ms(at(3, 12, 0)), -1L),
        bounded -> boundedWant,
        ifprev -> ifprevWant,
        s"{range:{start:${ms(at(1, 0, 0))},stop:${ms(at(4, 23, 0))}},count:-3}" ->
          reference(ms(at(1, 0, 0)), ms(at(4, 23, 0)), count = -3))
      cases.foreach { case (params, want) =>
        assert(want.nonEmpty, params)
        assert(got(params) == want, params)
      }
      def dayFilters(params: String) = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findAllMatchIn(get(params).queryExecution.executedPlan.toString)
        .map(_.group(1)).toSeq
      val boundedDays = dayFilters(bounded)
      assert(boundedDays.exists(f => f.contains("__day") &&
        f.contains(">=") && f.contains("<=")), boundedDays)
      val ifprevDays = dayFilters(ifprev)
      assert(ifprevDays.nonEmpty &&
        ifprevDays.forall(f => f.contains("<=") && !f.contains(">=")), ifprevDays)
      // del derives its days in the same zone: both rows of the
      // midnight-crossing window go
      e.del("s2.tk", bounded)
      assert(e.get("s2.tk", "{}").count() == ts.size - 2)
    } finally spark.conf.set(tzKey, saved)
  }
}

/** A local filesystem answering to another scheme — a stand-in default
  * filesystem that needs no service behind it. */
class OtherSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("otherscheme:///")
  override def getScheme: String = "otherscheme"
}
