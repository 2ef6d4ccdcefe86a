package graft

import graft.schema.SdbSchema
import graft.store.TsStore
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema evolution wired into the store — the reference's
  * version-tolerant convert (sis_dynamic.h:12-51) as a first-class
  * engine operation. The contract under test:
  *
  *  - live reads after `evolve` serve the union of all eras aligned
  *    to the NEW schema, with the reference's never-cross-type rule
  *    (sis_dynamic.h:110-117): same style carries (widening is a
  *    cast), different style → 0/"" — never a best-effort coercion;
  *  - time travel to a pre-evolve generation serves the OLD schema
  *    exactly as committed (no history rewrite);
  *  - the evolved declaration survives an engine restart (rehydrated
  *    from the catalog sidecar) AND a crash between the store-side
  *    commit and the catalog persist (healed from the store's own
  *    era records);
  *  - identity invariants (main index, solely set) are refused;
  *  - a drop issued before an evolve keeps ranking after it.
  */
class EvolveSpec extends SparkSpec {

  private val V0 =
    "{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8],qty:[I,4]," +
      "flag:[I,4],extra:[I,4]}}}"
  // qty widened I4→I8 (same style: cast), flag crossed I→C (→ ""),
  // score added (→ 0.0 on old rows), extra dropped
  private val V1 =
    "{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8],qty:[I,8]," +
      "flag:[C,8],score:[F,8]}}}"

  private def jrow(t: String, etype: String, value: Double, rest: String) =
    s"""{"t":"$t","etype":"$etype","value":$value,$rest}"""

  private def seedOldRows(eng: graft.api.Engine): Unit = {
    eng.set("u1.ev", jrow("2024-01-08T10:00:00Z", "view", 1.5,
      """"qty":7,"flag":3,"extra":9"""))
    eng.set("u1.ev", jrow("2024-01-09T10:00:00Z", "buy", 2.5,
      """"qty":8,"flag":4,"extra":9"""))
    eng.set("u2.ev", jrow("2024-01-08T11:00:00Z", "view", 3.5,
      """"qty":9,"flag":5,"extra":9"""))
  }

  private def seedNewRows(eng: graft.api.Engine): Unit = {
    eng.set("u1.ev", jrow("2024-02-01T10:00:00Z", "view", 10.0,
      """"qty":100,"flag":"fA","score":0.9"""))
    eng.set("u3.ev", jrow("2024-02-02T10:00:00Z", "sell", 20.0,
      """"qty":200,"flag":"fB","score":0.8"""))
  }

  private def fieldTypes(df: org.apache.spark.sql.DataFrame) =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  test("snapshot mode: evolve aligns live reads, time travel serves the old schema") {
    val root = Files.createTempDirectory("graft_evolve").toString + "/e"
    val eng = new graft.api.Engine(spark, root)
    eng.create(V0)
    seedOldRows(eng)
    eng.save("ev")
    val genOld = eng.snapshotVersions("ev").last
    eng.evolve(V1)
    seedNewRows(eng)
    eng.save("ev")

    // live read: new schema, all eras
    val live = eng.get("*.ev", "{}")
    val ft = fieldTypes(live)
    assert(ft("qty") == LongType, "qty must widen I4→I8")
    assert(ft("flag") == StringType, "flag must be the new C style")
    assert(ft("score") == DoubleType)
    assert(!ft.contains("extra"), "dropped source-only field must vanish")
    val rows = live.select("subject", "etype", "qty", "flag", "score")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSet
    // old-era rows: qty carried via cast, flag zeroed to "" (cross
    // type, never coerced to "3"), score zeroed to 0.0
    assert(rows.contains(("u1", "view", 7L, "", 0.0)))
    assert(rows.contains(("u1", "buy", 8L, "", 0.0)))
    assert(rows.contains(("u2", "view", 9L, "", 0.0)))
    // new-era rows intact
    assert(rows.contains(("u1", "view", 100L, "fA", 0.9)))
    assert(rows.contains(("u3", "sell", 200L, "fB", 0.8)))
    assert(rows.size == 5)

    // time travel to the pre-evolve generation: OLD schema, old values
    val at = eng.openSnapshotAt("ev", genOld).get
    val ftOld = fieldTypes(at)
    assert(ftOld("qty") == IntegerType, "gen-1 must serve the old I4 qty")
    assert(ftOld("flag") == IntegerType, "gen-1 must serve the old I4 flag")
    assert(ftOld.contains("extra") && !ftOld.contains("score"))
    val oldRows = at.select("subject", "qty", "flag", "extra")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getInt(3))).toSet
    assert(oldRows == Set(("u1", 7, 3, 9), ("u1", 8, 4, 9), ("u2", 9, 5, 9)))
  }

  test("changesBetween spans the evolve boundary: aligned, no phantom ops") {
    val root = Files.createTempDirectory("graft_evolve").toString + "/e"
    val eng = new graft.api.Engine(spark, root)
    eng.create(V0)
    seedOldRows(eng) // u1@01-08, u1@01-09, u2@01-08
    eng.save("ev")
    val g1 = eng.snapshotVersions("ev").last
    eng.evolve(V1)
    seedNewRows(eng) // u1@02-01 and u3@02-02: inserts
    // update u2's era-0 row in place: same (subject, t), new payload —
    // this rewrites day 01-08, which ALSO holds u1's untouched row
    eng.set("u2.ev", jrow("2024-01-08T11:00:00Z", "view", 4.5,
      """"qty":9,"flag":"fB","score":1.0"""))
    eng.save("ev")
    // delete u1's 01-09 row as a third generation
    val t9 = java.time.Instant.parse("2024-01-09T10:00:00Z").toEpochMilli
    eng.del("u1.ev", s"{range:{start:$t9,stop:$t9}}")
    val vs = eng.snapshotVersions("ev")
    val feed = eng.changesBetween("ev", g1, vs.max)
    val byKey = feed.collect().map { r =>
      (r.getAs[String]("subject"), r.getAs[String]("op")) -> r
    }.toMap
    assert(byKey.keySet == Set(("u1", "insert"), ("u3", "insert"),
      ("u2", "update"), ("u1", "delete")),
      s"wrong op set: ${byKey.keySet} — u1@01-08 is untouched across " +
        "the boundary and must NOT surface (its era-1 rewrite " +
        "zero-fills exactly like the aligned old pin)")
    // the update's old side is the ALIGNED era-0 payload: score reads
    // the 0.0 zero-fill (not null), flag the cross-type "", qty the
    // widened carry
    val o = byKey(("u2", "update")).getStruct(
      byKey(("u2", "update")).fieldIndex("old"))
    assert(o.getAs[Double]("score") == 0.0 && o.getAs[String]("flag") == ""
      && o.getAs[Long]("qty") == 9L,
      s"aligned old payload wrong: $o")
    // feed payloads carry the NEWER era's schema on both sides
    val oldT = feed.schema("old").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(oldT.fieldNames.contains("score") &&
      !oldT.fieldNames.contains("extra"))
  }

  test("evolved declaration survives restart and heals a torn catalog") {
    val root = Files.createTempDirectory("graft_evolve").toString + "/r"
    val eng = new graft.api.Engine(spark, root)
    eng.create(V0)
    seedOldRows(eng)
    eng.save("ev")
    eng.evolve(V1)
    // plain restart: catalog sidecar carries the evolved DSL
    val eng2 = new graft.api.Engine(spark, root)
    assert(eng2.catalog.get("ev").map(_.toDsl) ==
      Some(SdbSchema.parse(V1).toDsl))
    seedNewRows(eng2)
    eng2.save("ev")
    assert(eng2.get("*.ev", "{}").count() == 5)

    // torn catalog: simulate a crash between the store-side evolve
    // commit (the era record) and persistEngineCatalog by rewriting
    // the engine sidecar back to the OLD declaration
    val f = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val catFile = new org.apache.hadoop.fs.Path(
      newestCatalogPath(root).toString)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(TsStore.readJsonBytes(f, catFile))
    node.path("tables").asInstanceOf[
      com.fasterxml.jackson.databind.node.ObjectNode]
      .put("ev", SdbSchema.parse(V0, "ev").toDsl)
    val out = f.create(catFile, true)
    try out.write(m.writeValueAsBytes(node)) finally out.close()
    val eng3 = new graft.api.Engine(spark, root)
    assert(eng3.catalog.get("ev").map(_.toDsl) ==
      Some(SdbSchema.parse(V0).toDsl), "precondition: sidecar is stale")
    // a write heals the catalog from the store's era records BEFORE
    // typing the rows — it lands under the live (evolved) schema
    eng3.set("u4.ev", jrow("2024-02-03T10:00:00Z", "view", 30.0,
      """"qty":300,"flag":"fC","score":0.7"""))
    assert(eng3.catalog.get("ev").map(_.toDsl) ==
      Some(SdbSchema.parse(V1).toDsl), "store-side era record must win")
    eng3.save("ev")
    val healed = eng3.get("u4.ev", "{}")
      .select("qty", "flag", "score").collect()
    assert(healed.length == 1 && healed(0).getLong(0) == 300L &&
      healed(0).getString(1) == "fC" && healed(0).getDouble(2) == 0.7)
  }

  test("first retry of an interrupted evolve is an idempotent no-op") {
    val root = Files.createTempDirectory("graft_evolve").toString + "/rt"
    val eng = new graft.api.Engine(spark, root)
    eng.create(V0)
    seedOldRows(eng)
    eng.save("ev")
    eng.evolve(V1)
    // simulate the crash window: the store-side era record committed
    // but the engine sidecar still carries the OLD declaration
    val f = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val catFile = new org.apache.hadoop.fs.Path(
      newestCatalogPath(root).toString)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(TsStore.readJsonBytes(f, catFile))
    node.path("tables").asInstanceOf[
      com.fasterxml.jackson.databind.node.ObjectNode]
      .put("ev", SdbSchema.parse(V0, "ev").toDsl)
    val out = f.create(catFile, true)
    try out.write(m.writeValueAsBytes(node)) finally out.close()
    val eng2 = new graft.api.Engine(spark, root)
    assert(eng2.catalog.get("ev").map(_.toDsl) ==
      Some(SdbSchema.parse(V0).toDsl), "precondition: sidecar is stale")
    // the retry: evolve must heal the catalog from the store's era
    // records BEFORE reading prev, so this FIRST call lands on the
    // idempotent no-op path instead of TsStore's "evolve from the
    // live schema" require
    assert(eng2.evolve(V1).toDsl == SdbSchema.parse(V1).toDsl)
    assert(eng2.catalog.get("ev").map(_.toDsl) ==
      Some(SdbSchema.parse(V1).toDsl))
    assert(eng2.get("*.ev", "{}").count() == 3)
  }

  test("identity invariants and SQL exposure are refused; unexpose+pack unblocks") {
    val root = Files.createTempDirectory("graft_evolve").toString + "/g"
    val eng = new graft.api.Engine(spark, root)
    eng.create(V0)
    seedOldRows(eng)
    eng.save("ev")
    // main index change refused
    val reKey = intercept[IllegalArgumentException](eng.evolve(
      "{ev:{fields:{t2:[T,8],etype:[C,16],value:[F,8]}}}"))
    assert(reKey.getMessage.contains("main index"))
    // unknown table refused
    assert(intercept[IllegalArgumentException](eng.evolve(
      "{nope:{fields:{t:[T,8],v:[F,8]}}}")).getMessage.contains("unknown"))
    // exposed table refused until unexposed
    eng.exposeSql("ev", "evdb")
    val exposed = intercept[IllegalArgumentException](eng.evolve(V1))
    assert(exposed.getMessage.contains("exposed"))
    eng.unexposeSql("ev")
    assert(!spark.catalog.tableExists("evdb.ev"))
    eng.evolve(V1)
    // re-exposing with old-era dirs still on disk is refused with the
    // pack remedy; pack rewrites them into the live era and unblocks
    val mixed = intercept[IllegalArgumentException](
      eng.exposeSql("ev", "evdb"))
    assert(mixed.getMessage.contains("pack"))
    eng.pack("ev")
    val qn = eng.exposeSql("ev", "evdb")
    val viaSql = spark.sql(
      s"SELECT subject, qty, flag, score FROM $qn ORDER BY subject, qty")
    assert(fieldTypes(viaSql)("qty") == LongType)
    val got = viaSql.collect().map(r => (r.getString(0), r.getLong(1),
      r.getString(2), r.getDouble(3))).toSeq
    assert(got == Seq(("u1", 7L, "", 0.0), ("u1", 8L, "", 0.0),
      ("u2", 9L, "", 0.0)))
    eng.unexposeSql("ev")
  }

  test("a drop before an evolve keeps ranking across the era bump") {
    val root = Files.createTempDirectory("graft_evolve").toString + "/f"
    val eng = new graft.api.Engine(spark, root)
    eng.create(V0)
    seedOldRows(eng)
    eng.save("ev")
    eng.drop("u2.ev") // tombstone BEFORE the evolve
    eng.evolve(V1)
    seedNewRows(eng)
    eng.save("ev")
    val live = eng.get("*.ev", "{}")
    assert(fieldTypes(live)("qty") == LongType)
    val subjects = live.select("subject").distinct()
      .collect().map(_.getString(0)).toSet
    assert(subjects == Set("u1", "u3"),
      "the pre-evolve tombstone must keep ranking after the evolve")
    assert(live.count() == 4)
  }

  test("three eras: groups align DIRECTLY to the target era, not through intermediates") {
    val root = Files.createTempDirectory("graft_evolve").toString + "/c"
    val eng = new graft.api.Engine(spark, root)
    // qty: I in v0 -> C in vMid -> I back in vEnd. The reference's
    // converter bridges a stored record's schema and the LIVE schema
    // pairwise (sis_dynamic.h:12-51 — no chaining through versions a
    // reader never saw), so era-0 qty must CARRY into vEnd (I->I),
    // not zero through the I->C->I chain.
    val vMid =
      "{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8],qty:[C,8]," +
        "flag:[I,4],extra:[I,4]}}}"
    val vEnd =
      "{ev:{fields:{t:[T,8],etype:[C,16],value:[F,8],qty:[I,4]," +
        "flag:[I,4],extra:[I,4]}}}"
    eng.create(V0)
    seedOldRows(eng) // era 0: int qty 7/8/9
    eng.save("ev")
    val gen0 = eng.snapshotVersions("ev").last
    eng.evolve(vMid)
    eng.set("u4.ev", jrow("2024-03-01T10:00:00Z", "view", 5.0,
      """"qty":"q-mid","flag":6,"extra":9""")) // era 1: string qty
    eng.save("ev")
    val gen1 = eng.snapshotVersions("ev").last
    eng.evolve(vEnd)
    eng.set("u5.ev", jrow("2024-04-01T10:00:00Z", "buy", 6.0,
      """"qty":11,"flag":7,"extra":9""")) // era 2: int qty again
    eng.save("ev")
    val live = eng.get("*.ev", "{}")
    assert(fieldTypes(live)("qty") == IntegerType)
    val got = live.select("subject", "qty").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    // era-0 ints carry (direct I->I); era-1 strings zero (C->I)
    assert(got == Seq(("u1", 7), ("u1", 8), ("u2", 9), ("u4", 0),
      ("u5", 11)), s"got $got")
    // time travel to the MIDDLE era serves its own schema, with the
    // era-0 group aligned to IT (int qty -> "" under I->C)
    val mid = eng.openSnapshotAt("ev", gen1).get
    assert(fieldTypes(mid)("qty") == StringType)
    val midQ = mid.select("subject", "qty").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(midQ == Seq(("u1", ""), ("u1", ""), ("u2", ""),
      ("u4", "q-mid")), s"got $midQ")
    // and the first era still reads exactly as committed
    val first = eng.openSnapshotAt("ev", gen0).get
    assert(fieldTypes(first)("qty") == IntegerType &&
      first.count() == 3)
  }

  test("a cross-era cut stays readable via openSnapshotAllAt but refuses raw manifest export") {
    val root = Files.createTempDirectory("graft_evolve").toString + "/x"
    val eng = new graft.api.Engine(spark, root)
    eng.create(V0)
    seedOldRows(eng)
    eng.save("ev")
    eng.evolve(V1)
    seedNewRows(eng)
    eng.save("ev")
    val cut = eng.snapshotAll(Seq("ev"))
    // the engine-side read aligns eras — the cut serves normally
    assert(eng.openSnapshotAllAt(cut)("ev").get.count() == 5)
    // the raw-file export cannot: refused with the pack remedy
    val ex = intercept[IllegalArgumentException](
      eng.exportCutManifest(cut, s"$root/cut.json"))
    assert(ex.getMessage.contains("eras") && ex.getMessage.contains("pack"))
    // pack rewrites every day into the live era; a fresh cut exports
    eng.pack("ev")
    val cut2 = eng.snapshotAll(Seq("ev"))
    val man = eng.exportCutManifest(cut2, s"$root/cut2.json")
    assert(new java.io.File(man).exists())
  }

  test("evolve composes with the degenerate table classes: factor, ONE and MUL KV") {
    val root = Files.createTempDirectory("graft_evolve").toString + "/kv"
    val eng = new graft.api.Engine(spark, root)
    // factor table auto-created by fset; MUL list by kpush
    eng.fset("u1.macd", 1000L, 1.5)
    eng.kpush("watch", "a")
    eng.kpush("watch", "b")
    val gens = eng.saveAll()
    assert(Seq("macd", "__mul").forall(t => gens.get(t).exists(_ >= 1L)), gens)
    val cut = eng.snapshotAll()
    // era bump on both classes through the same evolve surface
    eng.evolve("{macd:{fields:{time:[T,8],value:[F,8],conf:[F,8]}}}")
    eng.evolve("{__mul:{fields:{t:[T,8],value:[C,256],tag:[C,8]}}}")
    // post-evolve writes land era-1 rows; old rows align on read
    eng.fset("u1.macd",
      """{"time":"1970-01-01T00:00:02Z","value":2.5,"conf":0.9}""")
    eng.kpush("watch", "c")
    eng.saveAll()
    val live = eng.openSnapshot("macd").get
    val rows = live.orderBy("time").select("value", "conf").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1.5, 0.0), (2.5, 0.9)),
      s"era-0 factor row must align with conf zero-filled: $rows")
    val mul = eng.krange("watch").select("value").collect()
      .map(_.getString(0)).toSeq
    assert(mul == Seq("a", "b", "c"),
      s"MUL list must stay ordered across the era bump: $mul")
    assert(eng.openSnapshot("__mul").get.columns.contains("tag"))
    // the pre-evolve cut still serves the old eras exactly
    val pin = eng.openSnapshotAllAt(cut)
    assert(!pin("macd").get.columns.contains("conf"),
      "cut must serve the factor table's pre-evolve era")
    assert(!pin("__mul").get.columns.contains("tag"),
      "cut must serve the MUL table's pre-evolve era")
    assert(pin("macd").get.count() == 1 && pin("__mul").get.count() == 2)
  }

  test("empty evolved store serves the new struct; evolve is idempotent") {
    val root = Files.createTempDirectory("graft_evolve").toString + "/m"
    val eng = new graft.api.Engine(spark, root)
    eng.create(V0)
    eng.evolve(V1)
    eng.evolve(V1) // no-op, not an error
    val empty = eng.get("*.ev", "{}")
    assert(empty.count() == 0)
    assert(fieldTypes(empty)("flag") == StringType &&
      fieldTypes(empty)("score") == DoubleType)
  }

  test("maintained rollup × evolve: bars converge across the era bump; era-0 zero-fill flows into rebuilt partials") {
    val root = Files.createTempDirectory("graft_evolve").toString
    val eng = new graft.api.Engine(spark, root)
    eng.create("{ev:{fields:{t:[T,8],value:[F,8],qty:[I,4]}}}")
    val barRoot = s"$root/bars"
    val grp = Seq(lit("all").as("g"))
    val okey = unix_millis(col("t"))
    val volA = col("qty").cast("double")
    // era 0: days 1-2 bootstrap, then one maintained round
    eng.set("u1.ev", """[{"t":"2024-01-01T01:00:00Z","value":1.0,"qty":2},
      {"t":"2024-01-02T01:00:00Z","value":3.0,"qty":4}]""")
    eng.bootstrapRollup("ev", barRoot, grp, okey, col("value"), volA)
    eng.set("u1.ev", """{"t":"2024-01-02T02:00:00Z","value":5.0,"qty":6}""")
    eng.save("ev")
    eng.maintainRollup("ev", barRoot, grp, okey, col("value"), volA)
    // the era bump: qty widens I4→I8, score lands. Post-evolve rounds
    // aggregate volume = qty + score — for era-0 rows the aligned
    // score is 0.0, so every PRE-evolve partial (volume = qty) is
    // still exactly correct under the new definition
    eng.evolve("{ev:{fields:{t:[T,8],value:[F,8],qty:[I,8],score:[F,8]}}}")
    val volB = col("qty") + col("score")
    // new-era insert on day 3 + an UPDATE of the era-0 day-1 row:
    // day 1 rebuilds from the era-ALIGNED pin
    eng.set("u1.ev",
      """{"t":"2024-01-03T01:00:00Z","value":7.0,"qty":10,"score":1.5}""")
    eng.set("u1.ev",
      """{"t":"2024-01-01T01:00:00Z","value":2.0,"qty":2,"score":0.5}""")
    eng.save("ev")
    eng.maintainRollup("ev", barRoot, grp, okey, col("value"), volB)
    assert(graft.ops.Rollup.pendingMaintenance(spark, barRoot).isEmpty)
    assert(graft.ops.Rollup.readBarCursor(spark, barRoot)
      .contains(eng.snapshotVersions("ev").max))
    val bars = graft.ops.Rollup.finalizeBars(
        spark.read.parquet(barRoot).drop("batch"), Seq("g", "day"))
      .withColumn("day", col("day").cast("string"))
      .orderBy("day")
      .select("day", "open", "close", "cnt", "volume").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    assert(bars.toSeq == Seq(
      ("2024-01-01", 2.0, 2.0, 1L, 2.5),   // rebuilt: updated era-1 row
      ("2024-01-02", 3.0, 5.0, 2L, 10.0),  // UNTOUCHED era-0 partials
      ("2024-01-03", 7.0, 7.0, 1L, 11.5)), // new-era insert slot
      s"bars diverged across the era bump: ${bars.toSeq}")
    // day 2 was never touched post-evolve: its dir must still hold
    // only the era-0 placements (slot 0 + the era-0 round's slot) —
    // the era bump must NOT force a mass rebuild of untouched days
    val day2Slots = new java.io.File(s"$barRoot/day=2024-01-02")
      .listFiles().map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(day2Slots.size == 2 && day2Slots.contains("batch=0"),
      s"the era bump disturbed an untouched day's slots: $day2Slots")
    // and nothing null-poisoned: a failed zero-fill would null the
    // rebuilt day-1 volume (qty + NULL) instead of 2.5
    assert(!bars.exists(_._5.isNaN), s"NaN volume: ${bars.toSeq}")
  }
}
